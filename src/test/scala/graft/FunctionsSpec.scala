package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HashEmbedder, TextAnalysis}

class HashEmbedderSpec extends AnyFunSuite {

  test("embedding has the configured dimension") {
    assert(HashEmbedder.embed("some text").length == HashEmbedder.Dim)
  }

  test("non-empty text embeds to a unit vector") {
    val v = HashEmbedder.embed("the quick brown fox")
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("embedding is deterministic") {
    assert(HashEmbedder.embed("abc def").toSeq == HashEmbedder.embed("abc def").toSeq)
  }

  test("different texts give different vectors") {
    assert(HashEmbedder.embed("alpha beta gamma").toSeq !=
      HashEmbedder.embed("delta epsilon zeta").toSeq)
  }

  test("empty text embeds to the zero vector") {
    assert(HashEmbedder.embed("").forall(_ == 0f))
  }

  test("similar texts are closer than dissimilar ones") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val base = HashEmbedder.embed("spark sql query engine with joins")
    val near = HashEmbedder.embed("spark sql query engine with windows")
    val far = HashEmbedder.embed("cooking pasta requires salted water")
    assert(cos(base, near) > cos(base, far))
  }

  test("src/main maps case only with an explicit locale") {
    // String.toLowerCase()/toUpperCase() read the JVM's default locale:
    // under tr/az/lt, "I" lowers to a dotless ı, and every embedding,
    // fingerprint and language ID of the text would move with the way
    // the JVM was started.
    val bare = """\.to(?:Lower|Upper)Case\b(?!\s*\(\s*(?:java\.util\.)?Locale\.)""".r
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root).iterator()
    val hits = scala.collection.mutable.ArrayBuffer.empty[String]
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        text.split("\n").zipWithIndex.foreach { case (line, i) =>
          val code = line.trim
          val isComment = code.startsWith("*") || code.startsWith("/**") || code.startsWith("//")
          if (!isComment && bare.findFirstIn(line).isDefined) hits += s"$f:${i + 1}: $code"
        }
      }
    }
    assert(hits.isEmpty, hits.mkString("case mapping without a locale:\n", "\n", ""))
  }

  test("scalar tokenizers lower the same under a Turkish default locale") {
    // A child JVM, so the shared test JVM's default locale never changes.
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-Xmx128m", "-Duser.language=tr", "-Duser.country=TR",
      "-cp", System.getProperty("java.class.path"), "graft.LocaleProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").mkString
    assert(proc.waitFor() == 0, out)
    val got = out.split("\n").map(_.trim).filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap
    assert(got.get("dotless").contains("true"), s"the child JVM is not Turkish:\n$out")
    assert(got.get("tokens").contains("title index"), out)
    assert(got.get("fingerprint").contains("true"), out)
    assert(got.get("fingerprintMod").contains("true"), out)
    assert(got.get("detectLanguage").contains("true"), out)
  }
}

/** Run by the Turkish-locale test in a child JVM: prints whether the
  * default locale lowers "TITLE" to a dotless ı, and what the scalar
  * tokenizers make of upper-case text. */
object LocaleProbe {
  def main(args: Array[String]): Unit = {
    val upper = "THE TITLE AND THE INDEX OF THE BOOK IS IN THE LIST"
    val lower = "the title and the index of the book is in the list"
    println(s"dotless=${"TITLE".toLowerCase == "t\u0131tle"}")
    println(s"tokens=${HashEmbedder.tokens("TITLE INDEX").mkString(" ")}")
    println(s"fingerprint=${TextAnalysis.fingerprint(upper) == TextAnalysis.fingerprint(lower)}")
    println(s"fingerprintMod=${TextAnalysis.fingerprintMod(upper) == TextAnalysis.fingerprintMod(lower)}")
    println(s"detectLanguage=${TextAnalysis.detectLanguage(upper) == TextAnalysis.detectLanguage(lower)}")
  }
}

class TextAnalysisScalaSpec extends AnyFunSuite {

  test("language ID identifies clear samples") {
    assert(TextAnalysis.detectLanguage("the cat and the dog are going to the park") == "en")
    assert(TextAnalysis.detectLanguage("la casa de la que hablamos es el lugar que queremos") == "es")
    assert(TextAnalysis.detectLanguage("le chien et le chat sont dans la maison de mon ami") == "fr")
    assert(TextAnalysis.detectLanguage("die Kinder spielen in einem schönen Garten und singen") == "de")
    assert(TextAnalysis.detectLanguage("今天天气很好我们去公园散步吧") == "zh")
    assert(TextAnalysis.detectLanguage("") == "und")
    assert(TextAnalysis.detectLanguage("12345 67890") == "und")
  }

  test("fingerprint is stable under whitespace normalization") {
    assert(TextAnalysis.fingerprint("hello   world") == TextAnalysis.fingerprint("hello world"))
    assert(TextAnalysis.fingerprint("Hello World") == TextAnalysis.fingerprint("hello  world"))
    assert(TextAnalysis.fingerprint("hello world") != TextAnalysis.fingerprint("hello worlds"))
  }

  test("simhash of identical texts is identical; near texts are close") {
    val a = TextAnalysis.simHash("the quick brown fox jumps over the lazy dog again and again")
    val b = TextAnalysis.simHash("the quick brown fox jumps over the lazy dog again and again")
    val c = TextAnalysis.simHash("the quick brown fox jumps over the lazy cat again and again")
    val d = TextAnalysis.simHash("completely unrelated content about database query optimization")
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, b) == 0)
    assert(ham(a, c) < ham(a, d))
  }

  test("minhash signature estimates jaccard") {
    val s1 = TextAnalysis.wordShingles("a b c d e f g h i j k l m n o p", 3)
    val s2 = TextAnalysis.wordShingles("a b c d e f g h i j k l m n o q", 3)
    val sig1 = TextAnalysis.minHashSignature(s1, 128)
    val sig2 = TextAnalysis.minHashSignature(s2, 128)
    val exact = s1.toSet.intersect(s2.toSet).size.toDouble / s1.toSet.union(s2.toSet).size
    val est = sig1.zip(sig2).count { case (x, y) => x == y }.toDouble / 128
    assert(math.abs(est - exact) < 0.2, s"est=$est exact=$exact")
  }

  test("minhash identical signatures for identical shingle sets") {
    val s = TextAnalysis.wordShingles("one two three four five six", 2)
    assert(TextAnalysis.minHashSignature(s, 64).toSeq ==
      TextAnalysis.minHashSignature(s.reverse, 64).toSeq)
  }

  test("band hashes collide for identical signatures") {
    val sig = TextAnalysis.minHashSignature(TextAnalysis.wordShingles("x y z w v u", 2), 64)
    assert(TextAnalysis.bandHashes(sig, 16).toSeq == TextAnalysis.bandHashes(sig, 16).toSeq)
  }
}
