package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Ann

/** Query-adaptive multi-probe LSH: probe-order structure and the
  * recall-per-probe advantage over blind Hamming-ball probing on a
  * seeded corpus.
  */
class MultiProbeSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val dim = 16
  private def vec(rnd: scala.util.Random): Seq[Float] = {
    val v = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x).sum).toFloat
    v.map(_ / n)
  }

  test("probe 0 is the home bucket; probes are distinct and counted") {
    val rnd = new scala.util.Random(3)
    (1 to 20).foreach { _ =>
      val v = vec(rnd)
      val probes = Ann.adaptiveProbes(v, nBits = 8, nProbes = 16)
      assert(probes.length == 16)
      assert(probes.head == Ann.signature(v, 8))
      assert(probes.distinct.length == probes.length)
    }
  }

  test("probe 1 flips exactly one bit of the signature") {
    val rnd = new scala.util.Random(5)
    (1 to 20).foreach { _ =>
      val v = vec(rnd)
      val probes = Ann.adaptiveProbes(v, nBits = 8, nProbes = 2)
      assert(Integer.bitCount(probes(0) ^ probes(1)) == 1)
    }
  }

  test("partitioned adaptive probe equals the in-memory adaptive form exactly") {
    val rnd = new scala.util.Random(23)
    val corpus = Seq.tabulate(300)(i => (i.toLong, vec(rnd)))
      .toDF("vec_id", "embedding")
    val queries = Seq.tabulate(5)(i => (1000L + i, vec(rnd)))
      .toDF("query_id", "q_embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_mp_layout").toString
    Ann.writeSignaturePartitioned(corpus, s"$dir/sig", nBits = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val part = rows(Ann.lshJoinAdaptive(
      spark, s"$dir/sig", queries, k = 5, nBits = 8, nProbes = 16))
    val mem = rows(Ann.lshTopKAdaptive(queries, corpus, k = 5, nBits = 8, nProbes = 16))
    assert(part == mem)
    assert(part.nonEmpty)
  }

  test("adaptive 16 probes beat the 9-bucket Hamming-1 ball and chase Hamming-2 at half its probes") {
    val rnd = new scala.util.Random(11)
    val corpus = Seq.tabulate(400)(i => (i.toLong, vec(rnd)))
      .toDF("vec_id", "embedding")
    val queries = Seq.tabulate(12)(i => (1000L + i, vec(rnd)))
      .toDF("query_id", "q_embedding")
    val k = 5
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = asSet(graft.operators.Retrieval.knnJoin(queries, corpus, k))
    def recall(approx: Set[(Long, Long)]): Double =
      exact.count(approx.contains).toDouble / exact.size
    val rAdaptive = recall(asSet(Ann.lshTopKAdaptive(queries, corpus, k, nBits = 8, nProbes = 16)))
    val rHam1 = recall(asSet(Ann.lshTopK(queries, corpus, k, nBits = 8, probeBits = 1)))
    val rHam2 = recall(asSet(Ann.lshTopK(queries, corpus, k, nBits = 8, probeBits = 2)))
    info(f"recall@5: adaptive16=$rAdaptive%.3f hamming1(9 probes)=$rHam1%.3f hamming2(37 probes)=$rHam2%.3f")
    assert(rAdaptive >= rHam1,
      f"adaptive(16) $rAdaptive%.3f under hamming-1 $rHam1%.3f")
    assert(rAdaptive >= rHam2 - 0.1,
      f"adaptive(16) $rAdaptive%.3f far under hamming-2 $rHam2%.3f at 43%% of its probes")
  }
}
