package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests (SURVEY.md §4): the physical-plan
  * properties the engine depends on at 100 TB — predicate pushdown to the
  * parquet scan, column pruning, broadcast joins for small dims, map-side
  * partial top-k for the history window, and whole-stage codegen around
  * the cosine kernel — asserted on the executed plans so a refactor that
  * silently loses one fails here, not at cluster scale.
  */
class PlanQualitySpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  private val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** The final executed plan (AQE stages resolved by running it). */
  private def executed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  /** Every expression node of every plan node, subqueries included. */
  private def exprs(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    helper.collectWithSubqueries(p) { case n => n.expressions.flatMap(_.collect { case e => e }) }.flatten

  test("q1: shipdate predicate reaches PushedFilters and columns are pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema") && !p.contains("l_comment"))
    // only the 6 needed columns of lineitem are read
    assert(!p.contains("l_orderkey") || p.indexOf("ReadSchema") > 0)
  }

  test("o13: events time cutoff reaches PushedFilters in the column's native space") {
    // Encoding-agnostic: whether the fixture stores ts as a legacy nanos
    // long or as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ), the cutoff
    // must be pushed against the RAW column — the parquet scan prunes row
    // groups via min/max stats — never applied after a conversion wraps it.
    val p = plan("o13_retention")
    val pushed = p.indexOf("PushedFilters")
    assert(pushed >= 0, s"no PushedFilters in plan:\n${p.take(800)}")
    val seg = p.substring(pushed, math.min(p.length, pushed + 400))
    assert(seg.contains("GreaterThanOrEqual(ts,"),
      s"ts cutoff not pushed to the scan:\n${p.take(800)}")
  }

  test("j3 dedup gate and j1 brand join use broadcast joins") {
    assert(plan("j3_dedup_gate").contains("BroadcastHashJoin"))
    assert(plan("j1_broadcast_brand_revenue").contains("BroadcastHashJoin"))
  }

  test("s1 history window applies the rank limit map-side (WindowGroupLimit)") {
    val p = plan("s1_history_last10")
    assert(p.contains("WindowGroupLimit"))
  }

  test("s4/q3 top-k plans use TakeOrderedAndProject, not a full sort") {
    assert(plan("s4_topk_by_score").contains("TakeOrderedAndProject"))
    assert(plan("q3_top_revenue_orders").contains("TakeOrderedAndProject"))
  }

  test("embedding near-dup is a banded equi-join: no nested-loop/cartesian anywhere") {
    val p = plan("dedup_embedding_cosine")
    assert(p.contains("cosine_sim"), "exact codegen cosine recheck expected")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join crept back into the bucketed path:\n${p.take(800)}")
  }

  test("multimodal near-dup shares the bucketed plan: no nested-loop/cartesian") {
    val p = plan("multimodal_near_dup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs join crept back into the bucketed path:\n${p.take(800)}")
  }

  test("simhash is the banded form: equi-join on band keys, no theta self-join") {
    val p = plan("dedup_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"quadratic theta self-join crept back:\n${p.take(800)}")
  }

  test("naively-written hamming join is rewritten by the optimizer rule") {
    val p = plan("dedup_simhash_auto")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"HammingJoinRewrite did not fire:\n${p.take(800)}")
  }

  test("quantized rerank: candidate re-attach joins broadcast, no corpus-sized shuffle join") {
    val p = plan("ann_quantized_rerank")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast re-attach:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin"), "tiny candidate set must not shuffle-sort the corpus")
  }

  test("LSH ANN candidate join is a broadcast equi-join on the signature") {
    val p = plan("ann_lsh_topk")
    assert(p.contains("BroadcastHashJoin"), s"expected bucket equi-join:\n${p.take(600)}")
  }

  test("naively-written range window join is rewritten by RangeJoinRewrite") {
    val p = plan("j9_range_window_auto")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"RangeJoinRewrite did not fire:\n${p.take(800)}")
  }

  test("j8 interval enrich is a (user, bucket) equi-join, never a nested loop") {
    val p = plan("j8_interval_enrich")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"theta interval join crept back:\n${p.take(800)}")
  }

  test("pretrain pipeline: no nested-loop/cartesian anywhere in the five-stage lineage") {
    val p = plan("pretrain_corpus_pipeline")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"quadratic join crept into the corpus pipeline:\n${p.take(800)}")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"),
      "dedup keep-min windows expected")
  }

  test("q1 aggregate is partial (map-side combine) before the shuffle") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
  }

  test("bm25: vocabulary-side joins broadcast, top-k rank prunes map-side") {
    val p = plan("bm25_topk")
    assert(p.contains("BroadcastHashJoin"), "df/dl joins must broadcast")
    assert(p.contains("WindowGroupLimit"), "rank<=k must prune before the final window")
    assert(!p.contains("SortMergeJoin"), "no corpus-sized shuffle join expected")
  }

  test("bm25 large-vocab path: no corpus-vocabulary df table, query-bounded broadcasts only") {
    // bm25TopK must never aggregate df over the FULL corpus vocabulary
    // (billions of terms at 100 TB): df is computed from postings already
    // semi-joined to the query vocabulary. Structurally: every broadcast
    // exchange descends from the queries table, and the only term-keyed
    // exchange aggregates the query-filtered postings — so disabling the
    // auto-broadcast thresholds (the planner's "everything is huge"
    // regime) must leave the explicit query-side broadcasts in place and
    // produce identical results.
    import spark.implicits._
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    def restore(key: String, v: Option[String]): Unit =
      v.fold(conf.unset(key))(conf.set(key, _))
    val queries = Seq((0L, "fast sort merge")).toDF("query_id", "qtext")
    val reference = graft.operators.TextRetrieval.bm25TopK(
      Tables.documents(spark, sfDir), queries, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = graft.operators.TextRetrieval.bm25TopK(
        Tables.documents(spark, sfDir), queries, k = 5)
      val p = df.queryExecution.executedPlan.toString
      // The query-bounded semi-join/df broadcasts are explicit hints and
      // survive the disabled threshold — the corpus itself never
      // broadcasts and never shuffles by term.
      assert(p.contains("BroadcastHashJoin"),
        s"query-vocabulary semi-join must stay a broadcast:\n${p.take(800)}")
      // The only non-equi join allowed is the 1-row corpus-scalar
      // (n_docs, avgdl) crossJoin — BNLJ over IdentityBroadcastMode.
      assert(!p.contains("CartesianProduct"))
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
        s"unexpected extra nested-loop join:\n${p.take(800)}")
      val out = df.orderBy("query_id", "rank").collect().toSeq
      assert(out == reference, "large-vocab regime changed bm25 results")
    } finally {
      restore("spark.sql.autoBroadcastJoinThreshold", prev)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  test("weighted sample is a map-side key + TakeOrderedAndProject, no full sort") {
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps, not a global sort:\n${p.take(600)}")
    assert(!p.contains("Exchange rangepartitioning"),
      "global range-sort crept into the weighted sample")
  }

  test("perplexity plan: native expressions, LM joins are equi-joins") {
    val p = plan("text_perplexity")
    assert(!p.contains("ScalaUDF"), "perplexity must stay codegen-friendly")
    assert(!p.contains("CartesianProduct"))
    // only the 1-row vocabulary scalar may nested-loop (broadcast cross)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"unexpected non-equi join:\n${p.take(600)}")
  }

  test("incremental admission: band equi-joins only, no quadratic join") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic join crept into incremental admission:\n${p.take(600)}")
  }

  test("runtime bloom-filter pruning engages for the selective fact-to-fact join") {
    // At 100 TB the lineitem⋈orders joins can't broadcast either side; the
    // plan we rely on is SMJ + a runtime Bloom filter built from the
    // selective orders side and pushed into the lineitem scan, so most of
    // the fact table drops before the shuffle. Assert Catalyst injects it
    // for exactly that shape (selective dim-side filter, broadcast off).
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prev = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // tiny fixtures: creationSideThreshold is a MAX (build side must be
      // small enough — keep it roomy), applicationSideScanSizeThreshold a
      // MIN (probe side must be big enough — drop it to zero) so the
      // rewrite fires at sf0.001
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      import org.apache.spark.sql.functions.col
      val li = Tables.lineitem(spark, sfDir)
      val ord = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"runtime bloom filter not injected:\n${p.take(1200)}")
    } finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("tfidf/langid/strided-chunker plans are UDF-free native expressions") {
    assert(!plan("tfidf_top_terms").contains("ScalaUDF"))
    assert(!plan("text_langid").contains("ScalaUDF"))
    assert(!plan("t1c_chunk_strided").contains("ScalaUDF"))
    assert(!plan("ngram_top_bigrams").contains("ScalaUDF"))
  }

  test("curate taggers: tag is one projection + the exact-dup join; Gopher is per-row") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform, ScalaUDF}
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.expressions.{LangId, WordStats}
    def generates(p: SparkPlan) = helper.collectWithSubqueries(p) { case g: GenerateExec => g }
    def joins(p: SparkPlan) = helper.collectWithSubqueries(p) { case j: BaseJoinExec => j }

    val tag = executed(operators.Attributes.tag(
      Tables.documents(spark, sfDir).select("doc_id", "text", "lang")))
    val interpreted = exprs(tag).collect {
      case e @ (_: ScalaUDF | _: ArrayTransform | _: ArrayFilter | _: ArrayAggregate) => e.prettyName
    }
    assert(interpreted.isEmpty, s"interpreted per-row work in Attributes.tag: $interpreted\n$tag")
    assert(generates(tag).isEmpty, s"Attributes.tag explodes words:\n$tag")
    assert(joins(tag).size == 1, s"Attributes.tag joins more than the exact-dup hash:\n$tag")
    // each kernel runs once per row: the word counts are bound, not inlined per use
    assert(exprs(tag).count(_.isInstanceOf[WordStats]) == 1, tag)
    assert(exprs(tag).count(_.isInstanceOf[LangId]) == 1, tag)

    val gopher = executed(SparkEntry.queries("text_gopher_rules")(spark, sfDir))
    assert(generates(gopher).isEmpty && joins(gopher).isEmpty, s"text_gopher_rules:\n$gopher")
  }

  test("text_repetition runs the WordStats kernel once per row") {
    // a filter on a projected struct of the counts is pushed below the
    // projection and evaluates the kernel a second time
    val rep = executed(SparkEntry.queries("text_repetition")(spark, sfDir))
    assert(exprs(rep).count(_.isInstanceOf[graft.expressions.WordStats]) == 1, rep)
  }

  test("r18 shared-subtree materialization: one corpus pass feeds the multi-branch consumers") {
    // tfidf: the tf stream is materialized once (LoopCheckpoint inside
    // tfidfTopTerms) and BOTH branches (df build + scored stream) read
    // the LogicalRDD — no tokenize explode may remain in the final plan.
    val tfidf = plan("tfidf_top_terms")
    assert(tfidf.contains("ExistingRDD"),
      "tfidf must read the materialized tf stream")
    assert(!tfidf.contains("Generate"),
      "tfidf re-grew a per-branch tokenize explode — the tf checkpoint regressed")
    // ngram-jaccard dedup: the shingle stream is materialized once
    // (dfCappedShingles) for the hot-set, sizes and self-join branches.
    val nj = plan("dedup_ngram_jaccard")
    assert(nj.contains("ExistingRDD"),
      "ngram-jaccard must read the materialized shingle stream")
    assert(!nj.contains("Generate"),
      "ngram-jaccard re-grew a per-branch shingling explode — the checkpoint regressed")
    // dsir: the raw feature stream is materialized once (dsirWeights);
    // the target stream (single consumer) legitimately stays inline.
    assert(plan("dsir_weights").contains("ExistingRDD"),
      "dsir_weights must read the materialized raw feature stream")
    // retrieval_eval (r19): the melted single-pass shape replaced the
    // per-retriever label materialization entirely — the r19 probe
    // measured the labels checkpoint SLOWER at every probed scale once
    // the melt cut its consumers to 3, and the interleaved-bench
    // worktree A/B retired the bm25 dl checkpoint too — so this query
    // deliberately has NO ExistingRDD; its single-pass shape is pinned
    // by the dedicated r19 test below (Expand + bounded exchanges).
  }

  test("r19 pretrain narrow-proxy: text never crosses an exchange") {
    // The five-stage pipeline decides everything (dedup keys, quality,
    // mix stratum, packed token count) from a narrow proxy computed in
    // one map pass; the text column must never appear above the proxy
    // materialization — a refactor that re-widens the dedup/mix
    // shuffles with document text fails here (r18 verdict #3).
    val p = plan("pretrain_corpus_pipeline")
    assert(p.contains("ExistingRDD"),
      "pipeline must read the materialized narrow proxy")
    assert("""\btext#\d""".r.findFirstIn(p).isEmpty,
      "document text leaked above the narrow-proxy materialization")
  }

  test("r19 melted retrieval_eval: single-pass plan, bounded exchange count") {
    // The melted evaluation unions the three retriever lists and
    // computes every metric plus the macro rows in one grouped
    // aggregation over GROUPING SETS (the Expand operator). The r18
    // per-retriever shape duplicated the label subtree into a
    // 196-Exchange plan at sf0.001 (plans/r19/retrieval_eval_before.txt)
    // - a regression back to per-branch duplication fails the bound.
    val p = plan("retrieval_eval")
    assert(p.contains("Expand"), "macro rows must come from grouping sets")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 60,
      s"retrieval_eval re-grew branch duplication: $exchanges exchanges")
  }

  test("ngram top-k is TakeOrderedAndProject over a partial-agg shuffle") {
    val p = plan("ngram_top_bigrams")
    assert(p.contains("TakeOrderedAndProject"), "global top-k must not full-sort")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("strided chunker reads only the columns it emits") {
    val p = plan("t1c_chunk_strided")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("lang"), "unused documents columns must be pruned")
  }

  test("source quality gate broadcasts its verdict table back onto the corpus") {
    val p = plan("quality_source_gate")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source verdicts must broadcast, never reshuffle the corpus:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("deterministic shuffle columns are map-only: no exchange below the rollup") {
    // shard_deterministic adds hash+shard then aggregates 8 groups; the
    // ONLY exchange allowed is the rollup's own aggregation shuffle.
    val p = plan("shard_deterministic")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"shard assignment itself must not shuffle:\n${p.take(800)}")
  }

  test("hybrid RRF fusion joins two top-N lists without any cartesian") {
    val p = plan("retrieval_hybrid_rrf")
    assert(!p.contains("CartesianProduct"),
      s"fusion must be an equi-join of rank lists:\n${p.take(800)}")
  }

  test("line/span dedup plans are native expressions, no UDF in the hot path") {
    Seq("dedup_lines_cross", "dedup_spans_cross",
      "dedup_lines_incremental", "dedup_spans_incremental").foreach { q =>
      val p = plan(q)
      assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
        s"$q must stay codegen-friendly:\n${p.take(400)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must never compare pairwise:\n${p.take(400)}")
    }
  }

  test("line/span dedup: first-occurrence via map-side min pre-aggregate, no window on content keys") {
    // The r5-verdict skew hazard: row_number() over a window partitioned
    // by the raw line/gram serializes a Zipfian boilerplate key into one
    // task. The shipped plan must have NO window exec at all — first
    // occurrences come from a partial-combinable min(struct) aggregate
    // whose join-back is AQE-skew-splittable.
    Seq("dedup_lines_cross", "dedup_spans_cross",
      "dedup_lines_incremental", "dedup_spans_incremental").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must not rank occurrences with a window over the content key:\n${p.take(600)}")
      assert(p.contains("partial_min"),
        s"$q must pre-aggregate first occurrences map-side:\n${p.take(600)}")
    }
  }

  test("warm hybrid chat turn over a file-backed store: segment postings, two chunk-store scans") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.operators.{Rag, Store}
    val dir = java.nio.file.Files.createTempDirectory("chat_plan").toString + "/chunks"
    (0 until 3).foreach { f =>
      Store.append((0 until 20).map(i => (s"f${f}_$i", s"spark plans shuffle joins file $f chunk $i"))
        .toDF("vec_id", "text").withColumn("embedding", graft.functions.HashEmbedder.embedCol(col("text"))), dir)
    }
    val logs = Seq((1L, "2024-01-01 10:00:00", 1L, "prior question", "{}"))
      .toDF("user_id", "ts", "event_id", "event_type", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val questions = Seq((1L, 1L, "how do spark plans shuffle")).toDF("query_id", "user_id", "question")
    def executed(chunks: org.apache.spark.sql.DataFrame): SparkPlan = {
      val out = Rag.chatPipelineHybrid(questions, logs, chunks)
      out.collect()
      out.queryExecution.executedPlan
    }
    val helper = new AdaptiveSparkPlanHelper {}
    def storeScans(p: SparkPlan) = helper.collectWithSubqueries(p) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(dir)) => s
    }
    executed(spark.read.parquet(dir)) // cold: builds the segments
    val warm = executed(spark.read.parquet(dir))
    assert(helper.collectWithSubqueries(warm) {
      case g: GenerateExec if g.generator.toString.contains("split(lower(") => g
    }.isEmpty, s"the turn re-tokenizes the chunk texts:\n$warm")
    assert(storeScans(warm).size <= 2, s"kNN embeddings and the final text lookup only:\n$warm")
    // the on-the-fly path over the same files (any non-bare frame) scans the store 5 times
    assert(storeScans(executed(spark.read.parquet(dir).filter(lit(true)))).size == 5)
  }
}
