package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Scale

/** The fused [[graft.expressions.WordNgramTerms]] must equal the
  * composed HOF form bit for bit — same tokens (lowercasing and the
  * `[^\p{L}\p{N}]+` split included), same bigrams, same ORDER (all
  * unigrams then all bigrams), same null/empty/one-token behavior —
  * since the DSIR feature space and the quality classifier's trained
  * weights both hash off this stream.
  */
class WordNgramTermsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val charGen: Gen[String] = Gen.frequency(
    8 -> Gen.alphaNumStr.map(_.take(6)),
    2 -> Gen.oneOf("É", "Ünïcode", "ΣΩ", "ß", "中 文", "a-b_c.d"),
    3 -> Gen.oneOf(" ", "  ", "\n", "\t", ", ", "!!"))

  private val textGen: Gen[String] = for {
    k <- Gen.chooseNum(0, 25)
    parts <- Gen.listOfN(k, charGen)
  } yield parts.mkString

  private def samples(count: Int): Seq[String] =
    (1 to count).map(i => textGen.pureApply(Gen.Parameters.default, Seed(1000L + i)))

  /** Case-mapping edges: ICU (what `lower` runs) lowers U+2C2F, U+A7C0,
    * U+A7CB and U+A7DC, the JVM's tables do not; `İ` lowers to two code
    * points; a word-final capital sigma lowers to `ς`. Only U+A7CB and
    * U+A7DC lower to code points the JVM's `\p{L}` knows (ɤ, ƛ), so they
    * are the edges the `[^\p{L}\p{N}]+` split keeps.
    */
  private val caseEdges: Seq[String] = Seq(
    "\u2C2F \u2C5F \u2C2F", "\uA7C0 old \uA7C1", "İSTANBUL İ i", "ΟΔΟΣ ΣΑΣ", "ΣΑΣ.",
    "\uA7CB ram \uA7DC")

  test("property: fused terms == HOF form, order included") {
    val df = (samples(200) ++ Seq("", "one", "two words", "  ", null, "ΣΣ ΣΣ") ++ caseEdges)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select(
        col("id"),
        Scale.dsirTermsCol(col("text")).as("fused"),
        TwinReference.dsirTermsColHof(col("text")).as("hof"))
      .collect()
    both.foreach { r =>
      assert((r.isNullAt(1) && r.isNullAt(2)) ||
        r.getSeq[String](1) == r.getSeq[String](2),
        s"id=${r.getLong(0)}: fused=${r.get(1)} hof=${r.get(2)}")
    }
  }

  test("shape: unigrams first, then space-joined bigrams") {
    val got = Seq("The cat SAT").toDF("text")
      .select(Scale.dsirTermsCol(col("text"))).head().getSeq[String](0)
    assert(got == Seq("the", "cat", "sat", "the cat", "cat sat"))
  }
}
