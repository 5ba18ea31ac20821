package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Uncapped dedup runs over the FULL sf0.1 documents table (5000 docs).
  *
  * The registry dedup queries cap their input at `doc_id < 200` so the
  * DuckDB oracle SQL stays tractable; these specs close the gap the
  * round-3 verdict flagged — the operators also run at the full corpus
  * size, pinned to golden pair counts so a semantic drift (hash change,
  * band-boundary bug, df-cap regression) shows up as a count change even
  * where the oracle never looks. Goldens were recorded from the first
  * green run at this scale and are exact (all three generators are
  * deterministic).
  */
class DedupScaleSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.1"
  private lazy val docs = Tables.documents(spark, sfDir).cache()

  test("minhash LSH pairs: uncapped sf0.1 corpus matches golden count") {
    val n = Dedup.minHashLshPairsPortable(docs).count()
    assert(n == MinHashGolden, s"minhash pair count drifted: $n != $MinHashGolden")
  }

  test("banded simhash pairs: uncapped sf0.1 corpus matches golden count") {
    val n = Dedup.simHashPairsBanded(docs, maxHamming = 2).count()
    assert(n == SimHashGolden, s"simhash pair count drifted: $n != $SimHashGolden")
  }

  test("ngram jaccard: absolute df cap drops every ubiquitous shingle at corpus scale") {
    // With the registry's ABSOLUTE maxDf=150 on the full 5000-doc corpus,
    // every 3-char shingle of this shared-vocabulary synthetic corpus
    // exceeds the cap, so the capped similarity universe is empty — the
    // decontamination semantics the cap is for, asserted at 25x the
    // oracle's slice.
    val n = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 150).count()
    assert(n == 0L, s"absolute df cap should empty the capped universe: $n")
  }

  test("ngram jaccard pairs: 1000-doc slice with proportional cap matches golden count") {
    // Same 75% df-cap ratio as the registry query (150/200), at 5x its
    // corpus size — a discriminating nonzero golden for the inverted-index
    // join itself.
    val slice = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 1000)
    val n = Dedup.ngramJaccardPairs(slice, n = 3, threshold = 0.5, maxDf = 750).count()
    assert(n == NgramGolden, s"ngram-jaccard pair count drifted: $n != $NgramGolden")
  }

  test("hub-capped minhash: cold buckets byte-identical, hot bucket is a star") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Inactive cap == uncapped operator exactly (no bucket on the full
    // corpus exceeds a corpus-sized cap).
    val uncapped = Dedup.minHashLshPairsPortable(docs)
      .as[(Long, Long, Double)].collect().toSet
    val inactive = Dedup.minHashLshPairsPortable(docs, maxBandSize = 100000)
      .as[(Long, Long, Double)].collect().toSet
    assert(inactive == uncapped, "inactive cap must not change the pair set")
    // A planted hot mass (500 copies of doc 0's text, ids 90000+) over
    // cap 64: every copy links to the min-id hub (doc 0 itself, which
    // shares the text), NEVER pairwise — linear, not quadratic — and
    // pairs not involving the hot mass are untouched.
    val hot = docs.filter(col("doc_id") === 0).select("text")
      .crossJoin(spark.range(500).toDF("i"))
      .select((col("i") + lit(90000L)).as("doc_id"), col("text"))
    val capped = Dedup.minHashLshPairsPortable(
      docs.select("doc_id", "text").unionByName(hot), maxBandSize = 64)
      .as[(Long, Long, Double)].collect()
    val hotPairs = capped.filter(p => p._2 >= 90000L)
    assert(hotPairs.length == 500, s"expected 500 star pairs, got ${hotPairs.length}")
    assert(hotPairs.forall(p => p._1 == 0L && p._3 == 1.0),
      "every hot copy must link to hub doc 0 at agreement 1.0")
    val coldCapped = capped.filter(p => p._1 < 90000L && p._2 < 90000L).toSet
    val coldExpected = uncapped.filterNot(p => p._1 == 0L || p._2 == 0L)
    // doc 0's own non-hot pairs moved to hot buckets (its bands are all
    // hot now), so compare the pair set away from doc 0
    assert(coldCapped.filterNot(p => p._1 == 0L || p._2 == 0L) == coldExpected,
      "cold pairs away from the hot text must be unchanged")
  }

  test("hub-capped verified pairs: star verifies linearly, closure recovers leaf pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The 500-copy star fixture through the TWO-STAGE pipeline: only the
    // 500 star pairs (hub doc 0 ↔ each copy) pay a levenshtein — never
    // the 124,750 leaf↔leaf pairs the uncapped candidate set would feed
    // into verification.
    val hot = docs.filter(col("doc_id") === 0).select("text")
      .crossJoin(spark.range(500).toDF("i"))
      .select((col("i") + lit(90000L)).as("doc_id"), col("text"))
    val input = docs.select("doc_id", "text").unionByName(hot)
    val verified = Dedup.minHashVerifiedPairs(
      input, minAgreement = 0.25, minEditSim = 0.9, maxBandSize = 64)
      .as[(Long, Long, Double, Double, Boolean)].collect()
    val hotPairs = verified.filter(p => p._2 >= 90000L)
    assert(hotPairs.length == 500, s"expected 500 star pairs, got ${hotPairs.length}")
    assert(hotPairs.forall(p => p._1 == 0L && p._5 && p._4 == 1.0),
      "every exact copy must verify against hub doc 0 at edit_sim 1.0")
    assert(!verified.exists(p => p._1 >= 90000L && p._2 >= 90000L),
      "no leaf pair may be directly edit-checked inside the hot bucket")
    // Leaf↔leaf duplicate claims come from CLUSTER CLOSURE over the
    // verified edges (the operator's documented semantics): all 500
    // copies + the hub land in ONE cluster labeled by min id 0.
    val edges = verified.filter(_._5).map(p => (p._1, p._2))
      .toSeq.toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(edges)
      .as[(Long, Long)].collect().toMap // (doc_id -> cluster)
    val hotCluster = (Seq(0L) ++ (90000L until 90500L)).map(clusters)
    assert(hotCluster.forall(_ == 0L),
      s"closure must join hub + all 500 leaves under label 0: ${hotCluster.distinct}")
  }

  private val MinHashGolden = 1439L
  private val SimHashGolden = 116335L
  private val NgramGolden = 7L
}
