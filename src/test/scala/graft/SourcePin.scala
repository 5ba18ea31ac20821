package graft

/** Grep-pin reader over one source file (a path relative to the
  * repository root): its lines, and the top-level definition enclosing
  * each code occurrence of a string.
  */
final class SourcePin(path: String) {

  val lines: Seq[String] = {
    val p = java.nio.file.Paths.get(path)
    require(java.nio.file.Files.exists(p), s"no source at ${p.toAbsolutePath}")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8").split("\n").toSeq
  }

  private val TopDef = """^  (?:private(?:\[\w+\])? )?(?:def|val) (\w+)""".r

  /** The top-level `def`/`val` enclosing each code occurrence of
    * `needle` (scaladoc and line comments skipped, the needle's own
    * definition excluded).
    */
  def callers(needle: String): Seq[String] = {
    var current = ""
    lines.flatMap { line =>
      TopDef.findFirstMatchIn(line).foreach(m => current = m.group(1))
      val code = line.trim
      val isComment = code.startsWith("*") || code.startsWith("/**") || code.startsWith("//")
      val isDefinition = line.contains(s"def $needle")
      if (!isComment && !isDefinition && line.contains(needle)) Some(current) else None
    }
  }
}
