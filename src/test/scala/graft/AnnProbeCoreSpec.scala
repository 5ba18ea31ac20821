package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ANN layout probes share one candidate join (`Ann.probeJoin`) and
  * the PQ probes one ADC rank tail (`Ann.rankAdc`): this pin keeps the
  * pruning, salting and ranking code in one place each.
  */
class AnnProbeCoreSpec extends AnyFunSuite {

  private val lines: Seq[String] = {
    val p = java.nio.file.Paths.get("src/main/scala/graft/operators/Ann.scala")
    assert(java.nio.file.Files.exists(p), s"no source at ${p.toAbsolutePath}")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8").split("\n").toSeq
  }

  private val TopDef = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r

  /** The top-level `def` enclosing each code occurrence of `needle`
    * (scaladoc and line comments skipped, the needle's own definition
    * excluded).
    */
  private def callers(needle: String): Seq[String] = {
    var current = ""
    lines.flatMap { line =>
      TopDef.findFirstMatchIn(line).foreach(m => current = m.group(1))
      val code = line.trim
      val isComment = code.startsWith("*") || code.startsWith("/**") || code.startsWith("//")
      val isDefinition = line.contains(s"def $needle")
      if (!isComment && !isDefinition && line.contains(needle)) Some(current) else None
    }
  }

  test("every layout probe runs through one candidate join and one ADC tail") {
    assert(callers("saltedKeyJoin(") == Seq("probeJoin"), callers("saltedKeyJoin("))
    assert(callers("prunedLayout(") == Seq("probeJoin"), callers("prunedLayout("))
    assert(callers("cosineProbeJoin(").toSet ==
      Set("lshJoin", "lshJoinAdaptive", "ivfJoin", "ivfJoinAdaptive"), callers("cosineProbeJoin("))
    assert(callers("probeJoin(spark").toSet == Set("cosineProbeJoin", "ivfPqJoin",
      "ivfPqJoinAdaptive", "ivfPqResidualTopK", "ivfPqLocalTopK", "ivfPqTopKVersioned"),
      callers("probeJoin(spark"))
    assert(callers("asc(\"adc_dist\")") == Seq("rankAdc"), callers("asc(\"adc_dist\")"))
    assert(callers("broadcast(probed)").toSet.subsetOf(Set("lshTopK", "lshTopKAdaptive", "ivfTopK")),
      callers("broadcast(probed)"))
    assert(!lines.exists(l => l.contains("pruneCells") || l.contains("pruneBits")),
      "the layout joins take no pruning knob: pruning follows the key space")
  }
}
