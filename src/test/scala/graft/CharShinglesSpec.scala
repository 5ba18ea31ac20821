package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextAnalysis

/** The fused [[graft.expressions.CharShingles]] must equal the composed
  * HOF form it replaced bit for bit — same distinct set, same binary
  * sort order, same null/short-input behavior — on adversarial unicode
  * (multi-byte code points, emoji = one code point, combining marks,
  * repeats that exercise the distinct, boundary lengths around n).
  */
class CharShinglesSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val charGen: Gen[String] = Gen.frequency(
    8 -> Gen.alphaNumStr.map(_.take(6)),
    2 -> Gen.oneOf("é", "中", "Ω", "🙂", "ß", "é", "ас"),
    2 -> Gen.oneOf(" ", "\n", "\t", "aaaa", "ababab"))

  private val textGen: Gen[String] = for {
    k <- Gen.chooseNum(0, 30)
    parts <- Gen.listOfN(k, charGen)
  } yield parts.mkString

  private def samples(count: Int): Seq[String] =
    (1 to count).map(i => textGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: fused expression == HOF form on adversarial unicode") {
    for (n <- Seq(1, 2, 5, 13)) {
      val df = (samples(150) ++ Seq("", "ab", "🙂🙂🙂", "五五五五五", null))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val both = df.select(
          col("id"),
          TextAnalysis.charShingles(col("text"), n).as("fused"),
          TwinReference.charShinglesHof(col("text"), n).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.get(1) == r.get(2) ||
          (r.isNullAt(1) && r.isNullAt(2)) ||
          r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n id=${r.getLong(0)}: fused=${r.get(1)} hof=${r.get(2)}")
      }
    }
  }

  test("code-point windows: an emoji is ONE character, order is binary") {
    val df = Seq("a🙂b").toDF("text")
    val got = df.select(TextAnalysis.charShingles(col("text"), 2))
      .head().getSeq[String](0)
    assert(got == Seq("a🙂", "🙂b").sorted || got.toSet == Set("a🙂", "🙂b"))
    // exact binary order cross-check against the HOF twin
    val hof = df.select(TwinReference.charShinglesHof(col("text"), 2))
      .head().getSeq[String](0)
    assert(got == hof)
  }

  test("distinct: repeated windows collapse") {
    val got = Seq("aaaa").toDF("text")
      .select(TextAnalysis.charShingles(col("text"), 2))
      .head().getSeq[String](0)
    assert(got == Seq("aa"))
  }
}
