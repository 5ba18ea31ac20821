package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[DedupOracle]] assembly contract: the nine near-dup mirrors
  * reach `SparkEntry.oracleSql`, every placeholder is interpolated, the
  * optimizer-rule SimHash shares the exact-form mirror, and the operating
  * points the registry queries run at are the ones the generated SQL
  * replays. The SQL SEMANTICS are pinned by the DuckDB compare
  * (`tools/check_oracle.py`), an engine this spec cannot reach.
  */
class DedupOracleSpec extends AnyFunSuite {
  import DedupOracle._

  private val names = Seq(
    "dedup_minhash_lsh", "dedup_minhash_full", "dedup_minhash_hubcap",
    "dedup_minhash_verified", "dedup_minhash_verified_hubcap",
    "dedup_incremental", "dedup_simhash", "dedup_simhash_auto",
    "dedup_simhash_hubcap")

  test("all nine near-dup mirrors are registered") {
    assert(sqlEntries.keySet == names.toSet)
    val oracle = SparkEntry.oracleSql
    names.foreach(n => assert(oracle.get(n).contains(sqlEntries(n)), n))
    names.foreach(n => assert(SparkEntry.queries.contains(n), n))
  }

  test("no generated mirror keeps a placeholder") {
    sqlEntries.foreach { case (n, sql) =>
      assert(!sql.contains("$"), s"$n keeps an uninterpolated placeholder")
    }
  }

  test("the optimizer-rule SimHash shares the exact-form mirror") {
    assert(sqlEntries("dedup_simhash_auto") == sqlEntries("dedup_simhash"))
  }

  test("the shared operating points and fixture shapes reach the SQL") {
    val hubbed = Seq("dedup_minhash_hubcap", "dedup_minhash_verified_hubcap",
      "dedup_simhash_hubcap")
    hubbed.foreach { n =>
      val sql = sqlEntries(n)
      assert(sql.contains(s"WHERE n > $HubCap"), n)
      assert(sql.contains(s"$HotCopyOffset + i AS doc_id"), n)
      assert(sql.contains(s"FROM range($HotCopies)"), n)
    }
    (names.toSet -- hubbed).foreach(n => assert(!sqlEntries(n).contains("bsz AS ("), n))
    Seq("dedup_minhash_verified", "dedup_minhash_verified_hubcap").foreach { n =>
      val sql = sqlEntries(n)
      assert(sql.contains(s"est_jaccard >= $LooseFloor"), n)
      assert(sql.contains(s"edit_sim >= $EditFloor"), n)
      assert(sql.contains(s"doc_id + $NearCopyOffset, text || '$NearCopySuffix'"), n)
      assert(sql.contains(s"doc_id + $RotationOffset, substr(text, ${RotationChars + 1})"), n)
      assert(sql.contains(s"WHERE doc_id < $SaltedEnd"), n)
    }
    Seq("dedup_minhash_lsh", "dedup_minhash_full", "dedup_minhash_hubcap").foreach { n =>
      assert(sqlEntries(n).contains(s"est_jaccard >= $PairFloor"), n)
    }
    Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_hubcap").foreach { n =>
      assert(sqlEntries(n).contains(s"WHERE doc_id < $SliceEnd"), n)
    }
    assert(!sqlEntries("dedup_minhash_full").contains("WHERE doc_id <"))
    val inc = sqlEntries("dedup_incremental")
    assert(inc.contains(s"doc_id < $BatchEnd") && inc.contains(s"doc_id >= $CorpusEnd"))
    assert(inc.contains(s">= $PairFloor"))
    Seq("dedup_simhash", "dedup_simhash_hubcap").foreach { n =>
      assert(sqlEntries(n).contains(s"<= $SimHashMaxHamming"), n)
    }
  }

  private val dedup = new SourcePin("src/main/scala/graft/operators/Dedup.scala")
  import dedup.callers

  test("Dedup has the oracle's shape: one band-candidate join, one agreement form") {
    // The band self-join: the core, plus the two operators that keep
    // their own join (incremental admission's two-sided union, the
    // embedding family's first-shared-band rule).
    val selfJoin = "col(\"a.band\") === col(\"b.band\")"
    assert(callers(selfJoin).toSet ==
      Set("bandCandidates", "incrementalAdmit", "embeddingNearDupBucketed"), callers(selfJoin))
    val distinctPairs = "dropDuplicates(\"doc_a\", \"doc_b\")"
    assert(callers(distinctPairs) == Seq("bandCandidates"), callers(distinctPairs))
    assert(callers("bandCandidates(").toSet ==
      Set("minHashLshPairs", "minHashLshPairsPortable", "simHashBandPairs"),
      callers("bandCandidates("))
    assert(callers("withColumn(\"est_jaccard\"") == Seq("agreed"),
      callers("withColumn(\"est_jaccard\""))
    assert(callers("sigAgreement(").toSet == Set("agreed", "incrementalAdmit"),
      callers("sigAgreement("))
    assert(callers("zip_with").isEmpty && callers("udf { (x: Seq[Long], y: Seq[Long])") ==
      Seq("sigAgreement"), "the signature agreement has one form")
    assert(!dedup.lines.exists(_.contains("HubCapped")),
      "the hub cap is the maxBandSize parameter, not a twin operator")
  }

  test("the SimHash band cut is the operators' cut") {
    // 31 bits at maxHamming 2: widths 10/10/11, like simHashPairsBanded.
    val sql = simHashBandsSql(2)
    assert(sql.contains("WHEN 0 THEN (simhash >> 0) & 1023"))
    assert(sql.contains("WHEN 1 THEN (simhash >> 10) & 1023"))
    assert(sql.contains("WHEN 2 THEN (simhash >> 20) & 2047"))
    assert(sql.contains("unnest(range(3))"))
  }
}
