package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ANN layout probes share one candidate join (`Ann.probeJoin`) and
  * the PQ probes one ADC rank tail (`Ann.rankAdc`): this pin keeps the
  * pruning, salting and ranking code in one place each.
  */
class AnnProbeCoreSpec extends AnyFunSuite {

  private val ann = new SourcePin("src/main/scala/graft/operators/Ann.scala")
  import ann.{callers, lines}

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
