package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Dedup

/** The fused [[graft.expressions.TokenGramHashes]] must hash every
  * window bit-identically to the HOF twin it replaced (same join, same
  * lowercase kernel, same xxhash64 seed) on size >= k inputs — the
  * guard every call site applies. Below k the fused form is pinned to
  * the EMPTY array (the HOF's sequence(0, n-k) would decrease).
  */
class TokenGramHashesSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val tokGen: Gen[String] = Gen.frequency(
    8 -> Gen.alphaNumStr.map(t => if (t.isEmpty) "x" else t.take(5)),
    2 -> Gen.oneOf("ÉTÉ", "Ünïcode", "中文", "MiXeD", "ß"))

  private val toksGen: Gen[Seq[String]] = for {
    n <- Gen.chooseNum(0, 20)
    toks <- Gen.listOfN(n, tokGen)
  } yield toks

  private def samples(count: Int): Seq[Seq[String]] =
    (1 to count).map(i => toksGen.pureApply(Gen.Parameters.default, Seed(2000L + i)))

  /** Case-mapping edges: ICU (what `lower` runs) lowers U+2C2F, U+A7C0
    * and U+A7CB, the JVM's tables do not; `İ` lowers to two code points;
    * a word-final capital sigma lowers to `ς`.
    */
  private val caseEdges: Seq[String] = Seq("\u2C2F", "\uA7C0", "İSTANBUL", "ΟΔΟΣ", "ΣΑΣ",
    "\u2C5F", "\uA7C1", "i", "Σ", "\uA7CB", "\u2C2F\uA7C0", "ΑΣ", "İ", "y")

  test("property: fused window hashes == HOF form for k in {2, 5, 13}") {
    for (k <- Seq(2, 5, 13)) {
      val df = (caseEdges +: samples(200)).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
        .filter(size(col("toks")) >= k)
      val both = df.select(
          col("id"),
          Dedup.gramHashes(col("toks"), k).as("fused"),
          TwinReference.gramHashesHof(col("toks"), k).as("hof"))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"k=$k id=${r.getLong(0)}: fused=${r.getSeq[Long](1)} hof=${r.getSeq[Long](2)}")
      }
    }
  }

  test("below k tokens the fused form is the empty array") {
    val got = Seq(Seq("a", "b")).toDF("toks")
      .select(Dedup.gramHashes(col("toks"), 5)).head().getSeq[Long](0)
    assert(got.isEmpty)
  }

  test("null token elements join as if absent (array_join semantics), no NPE") {
    // Call sites feed split() output (null-free), but the expression
    // accepts any array<string>; a null element must behave like the HOF
    // twin's array_join — skipped along with its separator — not kill
    // the task with an executor NPE (r13 ADVICE).
    val df = Seq(
        (1L, Seq("a", null, "b", "c")),
        (2L, Seq[String](null, null, "x", "y", "z")))
      .toDF("id", "toks")
    for (k <- Seq(2, 3)) {
      val both = df.select(
          Dedup.gramHashes(col("toks"), k).as("fused"),
          TwinReference.gramHashesHof(col("toks"), k).as("hof"))
        .collect()
      both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    }
  }

  test("hash value matches the xxhash64 builtin on the joined gram") {
    val direct = Seq("the QUICK fox").toDF("g")
      .select(xxhash64(lower(col("g")))).head().getLong(0)
    val fused = Seq(Seq("the", "QUICK", "fox")).toDF("toks")
      .select(Dedup.gramHashes(col("toks"), 3)).head().getSeq[Long](0)
    assert(fused == Seq(direct))
  }
}
