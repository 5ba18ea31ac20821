package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HashEmbedder, TextAnalysis}
import graft.operators.{Dedup, Ingest, Joins, Retrieval, Scale, Sessions}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query names carry the SURVEY.md §2 operator ids they cover so the
  * inventory can be line-checked. Every oracle-checked query:
  *   - orders its output by a unique key (deterministic hash compare),
  *   - rounds floating-point aggregates identically on both sides,
  *   - passes time cutoffs as literals (never wall-clock),
  *   - aligns Spark and DuckDB output column names AND types
  *     (DuckDB `count` is BIGINT like Spark; `SUM(BIGINT)` must be cast
  *     down from HUGEINT; `length`/`row_number` cast down to INT).
  */
object SparkEntry {

  // Literal time cutoffs (events span 2024-01-01 .. 2024-01-30 at all SFs).
  /** Fixed PQ codebooks for `ann_pq_adc_topk`: 2 subspaces × 4 dims ×
    * 4 centroids over the embedding's first 8 dimensions. Every value is
    * exactly binary-representable so Spark (float→double widening) and
    * DuckDB evaluate identical doubles; the oracle SQL's VALUES table is
    * the hand-mirrored copy of this constant.
    */
  private val PqCodebooks: Seq[Seq[Seq[Double]]] = Seq(
    Seq(
      Seq(0.5, 0.5, 0.5, 0.5), Seq(-0.5, -0.5, -0.5, -0.5),
      Seq(0.5, -0.5, 0.5, -0.5), Seq(-0.5, 0.5, -0.5, 0.5)),
    Seq(
      Seq(0.25, 0.25, 0.25, 0.25), Seq(-0.25, -0.25, -0.25, -0.25),
      Seq(0.75, -0.25, 0.75, -0.25), Seq(-0.75, 0.25, -0.75, 0.25)))

  private val RetentionCutoff = "2024-01-15 00:00:00" // O-13 (30-day retention analog)
  private val ExpiryCutoff    = "2024-01-30 12:00:00" // J-4/A-5 (24h session timeout analog)
  private val ActiveCutoff    = "2024-01-25 00:00:00" // A-3 (last-24h activity analog)

  /** Flagship query (§3.1 chat read path, batch analog) on sf0.001:
    * per-session last-10 history window → chronological →
    * unnest to (role, content) message rows. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val logs = Tables.events(spark, "/root/testdata/sf0.001")
    Sessions.toMessages(Sessions.lastNPerSession(logs, 10))
      .orderBy(col("user_id"), col("ts"), col("event_id"), desc("role"))
  }

  // ------------------------------------------------------------------ //
  //  Query registry                                                    //
  // ------------------------------------------------------------------ //

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core: aggregates over lineitem (A-1..A-10 analogs)
    "q1_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q3_top_revenue_orders" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    }),

    "q5_revenue_by_nation" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),

    // J-1: small-dimension broadcast equi-join (chunk↔file association analog)
    "j1_broadcast_brand_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_extendedprice"), 4).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    // ---- session/log analytics over events (S-1, T-12, A-2..A-6, J-4, O-13)
    "s1_history_last10" -> ((s, dir) => {
      Sessions.lastNPerSession(Tables.events(s, dir), 10)
        .select("user_id", "event_id", "ts", "event_type")
        .orderBy("user_id", "ts", "event_id")
    }),

    "t12_unnest_messages" -> ((s, dir) => {
      Sessions.toMessages(Tables.events(s, dir))
        .select("user_id", "event_id", "role", "content")
        .orderBy(col("event_id"), desc("role"))
    }),

    "a4_session_stats" -> ((s, dir) => {
      Sessions.sessionStats(Tables.events(s, dir)).orderBy("user_id")
    }),

    "a10_activity_stats" -> ((s, dir) => {
      Sessions.activityStats(Tables.events(s, dir), ActiveCutoff)
    }),

    "a5_expired_sessions" -> ((s, dir) => {
      Sessions.expiredSessions(Tables.events(s, dir), ExpiryCutoff).orderBy("user_id")
    }),

    "j4_purge_expired" -> ((s, dir) => {
      Sessions.purgeExpired(Tables.events(s, dir), ExpiryCutoff)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    }),

    "o13_retention" -> ((s, dir) => {
      // Cutoff applied in raw nanos space so it reaches PushedFilters
      // (see Tables.eventsSince) — at scale this is row-group pruning
      // instead of a full scan.
      Tables.eventsSince(s, dir, RetentionCutoff)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // ---- ingest / dedup identity (T-5, T-6, J-3/O-8)
    "t5_content_hash" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), Ingest.contentHash(col("text")).as("file_hash"))
        .orderBy("doc_id")
    }),

    "t6_exact_dedup" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir)).orderBy("keep_doc_id")
    }),

    "j3_dedup_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("file_hash", Ingest.contentHash(col("text")))
      val catalog = docs.filter(col("doc_id") < 250)
      Ingest.dedupGate(docs, catalog, "file_hash")
        .select("doc_id", "file_hash")
        .orderBy("doc_id")
    }),

    // ---- validation predicates & projections (P-1..P-16)
    "p1_file_validation" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("raw_name",
          concat(lit("up/"), col("source"), lit(" doc("), col("doc_id"), lit(").PDF")))
      d.select(
        col("doc_id"),
        col("raw_name"),
        Ingest.validExtension(col("raw_name")).as("ok_ext"),
        Ingest.validSize(col("n_chars")).as("ok_size"),
        Ingest.sanitizeFilename(col("raw_name")).as("sanitized"))
        .orderBy("doc_id")
    }),

    "p5_query_validation" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        Ingest.validQuery(col("text")).as("ok_query"),
        Ingest.validSessionId(col("source")).as("ok_session"))
        .orderBy("doc_id")
    }),

    "p13_derived_cost" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("total_messages"))
        .select(
          col("total_messages"),
          (col("total_messages") * 4).as("old_api_calls"),
          (col("total_messages") * 3).as("new_api_calls"),
          col("total_messages").as("calls_saved"))
    }),

    "p14_preview" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 50), lit("...")).as("preview"))
        .orderBy("doc_id")
    }),

    "p16_time_format" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("secs", floor(col("value")).cast("long"))
        .select(
          col("event_id"),
          format_string("%02dh %02dm %02ds",
            expr("secs div 3600"),
            expr("(secs % 3600) div 60"),
            expr("secs % 60")).as("elapsed"))
        .orderBy("event_id")
    }),

    // ---- scalar surface: JSON + emotion domain (T-10 analog, P-10)
    "t10_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    }),

    "p10_emotion_normalize" -> ((s, dir) => {
      val valid = Seq("happy", "explaining", "thinking", "encouraging", "neutral")
      Tables.events(s, dir)
        .select(col("event_id"),
          when(lower(col("event_type")).isin(valid: _*), lower(col("event_type")))
            .otherwise("neutral").as("emotion"))
        .orderBy("event_id")
    }),

    // ---- sorts / top-k (S-3, S-4)
    "s3_recency_sort" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select("doc_id", "source", "n_chars")
        .orderBy(desc("n_chars"), col("doc_id"))
        .limit(20)
    }),

    "s4_topk_by_score" -> ((s, dir) => {
      Tables.events(s, dir)
        .select("event_id", "user_id", "value")
        .orderBy(desc("value"), col("event_id"))
        .limit(5)
    }),

    // ---- counters (A-6)
    "a6_event_counters" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_requests"),
          count(when(col("value") > 500.0, 1)).as("n_big"))
        .orderBy("event_type")
    }),

    // ---- document transforms (T-1, T-2, T-3, A-7)
    "t1_split_chunks" -> ((s, dir) => {
      Ingest.splitIntoChunks(Tables.documents(s, dir), chunkSize = 100, overlap = 20)
        .select("file_id", "chunk_index", "total_chunks", "chunk_id", "chunk_text")
        .orderBy("file_id", "chunk_index")
    }),

    "t1b_chunk_fixed" -> ((s, dir) => {
      // Fixed-width non-overlapping chunker (ANSI-SQL-expressible variant).
      // Empty text must yield an empty array — sequence(0, -1) would
      // DESCEND and emit two bogus rows.
      val nChunks = (length(col("text")) + 99).divide(100).cast("int")
      val chunks = when(nChunks <= 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), nChunks - 1),
          i => col("text").substr(i * 100 + 1, lit(100))))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(chunks).as(Seq("chunk_index", "chunk_text")))
        .orderBy("doc_id", "chunk_index")
    }),

    "t1c_chunk_strided" -> ((s, dir) => {
      // Strided overlap chunker (SQL-expressible; size 100, overlap 20):
      // the oracle-checkable sibling of the recursive splitter above.
      Ingest.chunkStrided(Tables.documents(s, dir), chunkSize = 100, overlap = 20)
        .select("file_id", "chunk_index", "total_chunks", "chunk_id", "chunk_text")
        .orderBy("file_id", "chunk_index")
    }),

    "a7_chunks_per_file" -> ((s, dir) => {
      Ingest.chunkStrided(Tables.documents(s, dir), chunkSize = 100, overlap = 20)
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_chunks"))
        .orderBy("file_id")
    }),

    "t3_embed_documents" -> ((s, dir) => {
      // Scalar projections of the embedding (dim, norm, a component
      // checksum) rather than the raw array: the driver's compare
      // row-sorts in pandas and array cells are unsortable there.
      // Oracle-checked: the oracle replicates scala.util.hashing
      // .MurmurHash3.stringHash in SQL (32-bit wrap mults via HUGEINT),
      // so the feature-hash embedding itself is verified cross-engine.
      val emb = HashEmbedder.embedCol(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), emb.as("embedding"))
        .select(
          col("doc_id"),
          size(col("embedding")).as("emb_dim"),
          TextAnalysis.floorScale(graft.functions.VectorOps.l2Norm(col("embedding")), 4)
            .as("emb_norm"),
          size(filter(col("embedding"), x => x =!= 0f)).as("emb_nonzero"),
          aggregate(col("embedding"), lit(0L),
            (acc, x) => acc + floor(x.cast("double") * 1000).cast("long"))
            .as("emb_checksum"))
        .orderBy("doc_id")
    }),

    // ---- vector retrieval (T-4/J-2/S-4, T-7)
    "t4_knn_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Retrieval.knnJoin(queries, emb, k = 2)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // P-9: metadata prefilter BELOW the kNN (chroma_utils.py:250-257's
    // where={...} filter) — pruning happens before any scoring.
    "p9_filtered_knn" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Retrieval.knnJoinFiltered(queries, emb, k = 2, col("label") === 1)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "t7_stuff_context" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val docs = Tables.documents(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val topk = Retrieval.knnJoin(queries, emb, k = 2)
        .join(docs.select(col("doc_id").as("vec_id"), col("text")), "vec_id")
      Retrieval.stuffContext(topk).orderBy("query_id")
    }),

    // ---- dedup family (training-data ops)
    "dedup_ngram_jaccard" -> ((s, dir) => {
      // maxDf=150 (75% of the 200-doc slice): 3-gram shingles live in a
      // tiny shared vocabulary here, so ubiquitous shingles both blow up
      // the inverted-index join and drown the signal; Jaccard over the
      // df-capped shingle universe is the production decontaminated form.
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 200), n = 3, threshold = 0.5,
        maxDf = 150)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_containment" -> ((s, dir) => {
      // Broder containment over the df-capped shingle universe — the
      // quote-inclusion case Jaccard misses. Salted with container docs
      // (+30000: original text plus a doc-unique suffix), so every base
      // doc < 30 is verbatim-CONTAINED in its container: the pair must
      // surface with cont_a_in_b = 1.0 even though its Jaccard is
      // diluted by the suffix.
      val base = Tables.documents(s, dir).filter(col("doc_id") < 150)
        .select("doc_id", "text")
      val containers = base.filter(col("doc_id") < 30)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" qq"), col("doc_id"), lit(" zz")).as("text"))
      Dedup.containmentPairs(
        base.unionByName(containers), n = 3, threshold = 0.8, maxDf = 120)
        .withColumn("cont_a_in_b", round(col("cont_a_in_b"), 6))
        .withColumn("cont_b_in_a", round(col("cont_b_in_a"), 6))
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashLshPairsPortable(DedupOracle.slice(s, dir))
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_simhash_hubcap" -> ((s, dir) => {
      // The SimHash twin of dedup_minhash_hubcap: same Zipf-head
      // fixture (all three portable-fingerprint bands go hot), same star
      // semantics.
      Dedup.simHashPairsHubCapped(
        DedupOracle.withHotCopies(DedupOracle.slice(s, dir)),
        maxHamming = DedupOracle.SimHashMaxHamming, maxBandSize = DedupOracle.HubCap)
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_minhash_hubcap" -> ((s, dir) => {
      // Zipf-head guard: every band bucket of doc 0's text holds 31 docs
      // over the cap, so it emits a STAR to hub doc 0 instead of 465
      // quadratic pairs; cold buckets stay byte-identical to
      // dedup_minhash_lsh.
      Dedup.minHashLshPairsHubCapped(
        DedupOracle.withHotCopies(DedupOracle.slice(s, dir)),
        maxBandSize = DedupOracle.HubCap)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_minhash_verified" -> ((s, dir) => {
      // Two-stage near-dup: LOOSE LSH candidates -> exact edit-distance
      // verification on the candidate set only. The rotations are the
      // false-positive class a set-based estimate cannot see, visible in
      // the output as verified=false rows.
      Dedup.minHashVerifiedPairs(
        DedupOracle.salted(DedupOracle.slice(s, dir)),
        minAgreement = DedupOracle.LooseFloor, minEditSim = DedupOracle.EditFloor)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_minhash_verified_hubcap" -> ((s, dir) => {
      // Two-stage near-dup under the Zipf-head guard: only star pairs
      // pay the levenshtein (linear, not 465 quadratic verifications),
      // cold candidates verify byte-identically to
      // dedup_minhash_verified, and leaf↔leaf verdicts inside the hot
      // bucket come from cluster closure over verified hub edges.
      Dedup.minHashVerifiedPairsHubCapped(
        DedupOracle.withHotCopies(DedupOracle.salted(DedupOracle.slice(s, dir))),
        minAgreement = DedupOracle.LooseFloor, minEditSim = DedupOracle.EditFloor,
        maxBandSize = DedupOracle.HubCap)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_minhash_full" -> ((s, dir) => {
      // UNCAPPED: the whole documents table (5,000 docs at sf0.1, 25× the
      // slice), so the oracle gate exercises the banded candidate join at
      // corpus scale; the output (near-dup pairs) stays small.
      Dedup.minHashLshPairsPortable(Tables.documents(s, dir))
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_lines_cross" -> ((s, dir) => {
      // C4-style cross-document line dedup over synthetic multi-line
      // docs: a corpus-wide boilerplate header (survives only in the
      // first doc), a per-language footer (survives once per language),
      // and each doc's own content line. Dedup.crossDocLineDedup strips
      // every later copy and reassembles documents in original order.
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat_ws("\n",
            lit("ALL RIGHTS RESERVED - STANDARD HEADER"),
            substring(col("text"), 1, 60),
            concat(lit("footer-"), col("lang"))).as("text"))
      Dedup.crossDocLineDedup(docs)
        .select("doc_id", "n_lines", "n_kept", "cleaned_text")
        .orderBy("doc_id")
    }),

    "dedup_lines_incremental" -> ((s, dir) => {
      // Daily-crawl line dedup: docs < 100 are the standing corpus
      // (same boilerplate construction as dedup_lines_cross), docs
      // 100-199 the new batch with an extra batch-wide banner line. The
      // corpus header/footers strip via the index; the banner survives
      // only in the first batch doc; per-doc content survives.
      val base = Tables.documents(s, dir)
      val corpus = base.filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat_ws("\n",
            lit("ALL RIGHTS RESERVED - STANDARD HEADER"),
            substring(col("text"), 1, 60),
            concat(lit("footer-"), col("lang"))).as("text"))
      val batch = base.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .select(col("doc_id"),
          concat_ws("\n",
            lit("ALL RIGHTS RESERVED - STANDARD HEADER"),
            lit("DAILY BATCH BANNER"),
            substring(col("text"), 1, 60),
            concat(lit("footer-"), col("lang"))).as("text"))
      Dedup.incrementalLineDedup(batch, Dedup.lineIndex(corpus))
        .select("doc_id", "n_lines", "n_kept", "cleaned_text")
        .orderBy("doc_id")
    }),

    "dedup_spans_cross" -> ((s, dir) => {
      // Span-level repeated-substring dedup: every doc gets a shared
      // 8-token preamble plus its own (truncated) text; any 4-token
      // window seen earlier in the corpus is stripped, so the preamble
      // survives only in doc 0 and duplicated real-text passages (the
      // fixture generator reuses sentences) collapse to first
      // occurrences. Windows spanning preamble→content differ per doc,
      // so removals taper at the boundary — the standard span-dedup
      // edge behavior, exercised deliberately.
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat(
            lit("shared licensed preamble common to every document here "),
            substring(col("text"), 1, 120)).as("text"))
      Dedup.repeatedSpanDedup(docs, k = 4)
        .select("doc_id", "n_toks", "n_kept", "cleaned_text")
        .orderBy("doc_id")
    }),

    "dedup_spans_incremental" -> ((s, dir) => {
      // Daily-crawl span dedup: docs < 100 are the standing corpus,
      // 100-199 the batch, both with the shared 8-token preamble of
      // dedup_spans_cross. The corpus gram index strips batch preamble
      // windows (taper at content boundaries); duplicated real-text
      // passages strip against corpus AND earlier batch docs.
      val base = Tables.documents(s, dir)
      def shaped(lo: Long, hi: Long) = base
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"),
          concat(
            lit("shared licensed preamble common to every document here "),
            substring(col("text"), 1, 120)).as("text"))
      Dedup.incrementalSpanDedup(
          shaped(100, 200), Dedup.gramIndex(shaped(0, 100), k = 4), k = 4)
        .select("doc_id", "n_toks", "n_kept", "cleaned_text")
        .orderBy("doc_id")
    }),

    "dedup_incremental" -> ((s, dir) => {
      // Daily-crawl shape: a standing corpus and a new batch; each batch
      // doc is admitted unless it near-dups the corpus or a lower-id
      // batch sibling.
      val docs = Tables.documents(s, dir)
      Dedup.incrementalAdmit(
        docs.filter(col("doc_id") < DedupOracle.CorpusEnd),
        docs.filter(col("doc_id") >= DedupOracle.CorpusEnd &&
          col("doc_id") < DedupOracle.BatchEnd))
        .orderBy("doc_id")
    }),

    "dedup_bloom_gate" -> ((s, dir) => {
      // Incremental-ingestion novelty gate: lineitems of 1997H1 are the
      // batch, everything shipped before 1997 the standing corpus; a row
      // is admitted iff its (l_partkey, l_suppkey) pairing was never seen
      // — EXACT anti-join semantics (the DuckDB NOT EXISTS is the
      // oracle), but the history side is summarized into a broadcast
      // Bloom filter so it is scanned, never shuffled. The requires pin
      // the mechanism: the no-join fast path must carry >=50% of the
      // batch (measured ~90% bloom-negative), and the fixture must
      // actually exercise the false-positive verify path (dups > 0) so a
      // degenerate always-negative bloom can't pass.
      val li = Tables.lineitem(s, dir)
      val history = li.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      val batch = li.filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      val (out, st) = Dedup.bloomGateWithStats(
        history, batch, Seq("l_partkey", "l_suppkey"), fpp = 0.01)
      // Scale-free pruning invariant: candidates beyond the TRUE dups
      // must stay inside the fpp regime (3x margin + a small-sample
      // floor) — at every sf the verify join sees only the dup sliver,
      // never the batch. (A fixed "fast path >= 50%" bound is NOT
      // scale-free: at sf0.001 the tiny part/supplier key space makes
      // the genuine dup fraction itself ~60%.)
      val novel = st.batchRows - st.confirmedDups
      require(st.falsePositives <= math.max(50L, (3 * 0.01 * novel).toLong),
        s"dedup_bloom_gate: ${st.falsePositives} false positives over " +
          s"$novel novel rows — far above the fpp=0.01 regime")
      require(st.confirmedDups > 0,
        "dedup_bloom_gate: fixture exercised no true duplicates — the " +
          "verify path went untested")
      out.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // maxHamming 2 of 31 bits (random synthetic pairs center at ~7).
      // The 3-band pigeonhole makes it provably equal to the exact
      // all-pairs result (the oracle SQL), with an equi-join plan instead
      // of the O(n²) theta self-join.
      Dedup.simHashPairsBanded(DedupOracle.slice(s, dir),
        maxHamming = DedupOracle.SimHashMaxHamming)
        .orderBy("doc_a", "doc_b")
    }),

    "sample_split_leakage_safe" -> ((s, dir) => {
      // Split at duplicate-cluster granularity so near-dup twins never
      // straddle train/test (Lee et al. 2021's leakage failure mode);
      // singletons split by their own id. The require pins the
      // by-construction invariant as a regression gate, plus
      // non-degeneracy of both splits.
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select("doc_id", "text")
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 150)
      // One materialization feeds the two require-audits AND the
      // result: without it each action re-runs the components lineage.
      // LoopCheckpoint so reliable mode covers the multi-action reuse.
      val out = operators.LoopCheckpoint.transient(operators.Scale.leakageSafeSplit(
        docs.select("doc_id"), pairs, Seq("train" -> 0.8, "test" -> 0.2)))
      val straddle = out.groupBy("cluster_id")
        .agg(countDistinct(col("split")).as("ns")).filter(col("ns") > 1).count()
      require(straddle == 0,
        s"sample_split_leakage_safe: $straddle clusters straddle splits")
      val sizes = out.groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(sizes.getOrElse("train", 0L) > 0 && sizes.getOrElse("test", 0L) > 0,
        s"sample_split_leakage_safe: degenerate split $sizes")
      out.select("doc_id", "cluster_id", "split").orderBy("doc_id")
    }),

    "dedup_clusters" -> ((s, dir) => {
      // Pair generation -> connected components -> canonical survivor per
      // duplicate group (what a retention pass actually consumes).
      val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 200), n = 3, threshold = 0.5,
        maxDf = 150)
      Dedup.duplicateClusters(pairs)
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")
    }),

    // ---- classic analytics depth (TPC-H-shaped; semi-join, multiway
    // join + topk, distinct rollup — the OLAP muscle a migrating user
    // expects alongside the app-derived operators)
    "q4_order_priority" -> ((s, dir) => {
      // Q4 shape: orders in a quarter having at least one returned line
      // — LEFT SEMI join (no row explosion, no dedup), then a
      // partial-agg count per priority.
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val returned = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    "q10_returned_topk" -> ((s, dir) => {
      // Q10 shape: revenue lost to returns per customer, two broadcast
      // dims (customer, nation), TakeOrderedAndProject for the top 20.
      val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    }),

    "w4_cohort_retention" -> ((s, dir) => {
      // Cohort retention: users bucketed by first-activity week, distinct
      // actives per (cohort, week offset). Two shuffles on user_id (the
      // cohort derivation and the enrich join share partitioning) + one
      // on the cohort grain — the standard product-analytics rollup.
      // Weekly grain: both engines truncate to Monday-start weeks, and
      // the day-difference of truncated weeks is an exact multiple of 7.
      val e = Tables.events(s, dir)
      val cohorts = e.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      e.join(cohorts, "user_id")
        .withColumn("week_offset",
          (datediff(date_trunc("week", col("ts")), col("cohort_week")) / 7).cast("int"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    "q16_brand_suppliers" -> ((s, dir) => {
      // Q16 shape (no partsupp table in this dataset): distinct suppliers
      // observed shipping each brand, via the lineitem fact — a
      // count-distinct that map-side partials can't fully pre-aggregate,
      // exactly the shape HLL replaces at scale (scale_salted_count /
      // approxDistinct cover that path).
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("p_brand")
    }),

    "dedup_simhash_auto" -> ((s, dir) => {
      // The OPTIMIZER-rule path: the join is written in the naive theta
      // form (bit_count(xor) <= 2 straight in the condition) and
      // HammingJoinRewrite — installed by GraftExtensions.register,
      // idempotent — turns the plan into the banded equi-join. Same
      // result as dedup_simhash by the pigeonhole argument, checked
      // against the same exact-form oracle; PlanQualitySpec asserts the
      // nested-loop join is gone.
      GraftExtensions.register(s)
      val hashed = DedupOracle.slice(s, dir)
        .select(col("doc_id"), TextAnalysis.simHashModUdf(col("text")).as("simhash"))
      val a = hashed.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
      val b = hashed.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
      a.join(b, col("doc_a") < col("doc_b") &&
          TextAnalysis.hamming(col("sim_a"), col("sim_b")) <= DedupOracle.SimHashMaxHamming)
        .withColumn("hamming", TextAnalysis.hamming(col("sim_a"), col("sim_b")))
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_clusters_star" -> ((s, dir) => {
      // Same pair generation and same oracle as dedup_clusters, clustered
      // by the O(log n)-round large-star/small-star algorithm instead of
      // O(diameter) min-label propagation — the adversarial-chain-safe
      // form for 100 TB corpora.
      val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 200), n = 3, threshold = 0.5,
        maxDf = 150)
      Dedup.duplicateClustersStar(pairs)
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")
    }),

    "health_probe" -> ((s, dir) => {
      // Reference /health (backend/main.py:125-168) probes each backing
      // service cheaply and rolls statuses up into one document;
      // check_database_health (db_utils.py:386-394) is a trivial liveness
      // select. Engine analog: count-probe every source table, map to
      // operational/degraded, roll up an overall row.
      val per = Seq(
        "documents" -> Tables.documents(s, dir),
        "embeddings" -> Tables.embeddings(s, dir),
        "events" -> Tables.events(s, dir))
        .map { case (name, df) =>
          df.agg(count(lit(1)).as("n_rows")).select(lit(name).as("service"), col("n_rows"))
        }
        .reduce(_ unionByName _)
        .withColumn("status",
          when(col("n_rows") > 0, "operational").otherwise("degraded"))
      per.unionByName(
        per.agg(sum(col("n_rows")).as("n_rows"),
            min(col("n_rows")).as("mn"))
          .select(lit("overall").as("service"), col("n_rows"),
            when(col("mn") > 0, "healthy").otherwise("degraded").as("status")))
        .orderBy("service")
    }),

    "dedup_embedding_cosine" -> ((s, dir) => {
      // Near-dup detection over a corpus that actually CONTAINS near-dups:
      // each vector gets a deterministically jittered twin (±0.01
      // alternating per component — exactly replicable in the oracle), so
      // the 0.95 threshold has ground truth instead of fishing the random
      // tail at 0.4, where no LSH scheme can prune (measured: banding at
      // 0.4 keeps ~89% of all pairs as candidates). At 0.95 with 4 wide
      // 7-bit bands the band join discards ~97% of random pairs before
      // any cosine is computed; candidate generation is hash-checked via
      // the signature-replicating oracle.
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      Dedup.embeddingNearDupBucketed(DedupOracle.withTwins(emb), threshold = 0.95,
        nBits = 28, bands = 4)
        .withColumn("cos_sim", round(col("cos_sim"), 6))
        .orderBy("id_a", "id_b")
    }),

    "dedup_semantic" -> ((s, dir) => {
      // SemDeDup over the same twin-planted corpus as
      // dedup_embedding_cosine: every vector gets a ±0.01-jittered twin
      // (cos ≈ 0.9998), so each cell provably contains true semantic
      // dups and the greedy smaller-id rule must drop exactly the twins
      // that land in their original's cell. Seeded centroids
      // (lloydIter = 0) keep the cell assignment oracle-replicable; the
      // Lloyd-refined path is spec-checked (SemanticDedupSpec).
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      Dedup.semanticDedup(DedupOracle.withTwins(emb), nCells = 32, threshold = 0.95)
        .orderBy("vec_id")
    }),

    // ---- text analysis (training-data ops)
    "text_quality" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.floorScale(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
        TextAnalysis.floorScale(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    "quality_source_gate" -> ((s, dir) => {
      // Source-level (domain) quality gate: docs judged by their SOURCE's
      // aggregate mean quality, doc count and exact-dup rate. Duplicates
      // are injected into src0/src1 ONLY (two extra copies of their
      // doc_id<200 docs) so those two sources fail on the dup axis while
      // the 0.59 mean-quality threshold splits the remaining 18 — mixed
      // verdicts at every scale, all three signals live. keep_source is
      // a FLAG — retention stays a separate policy step.
      val base = Tables.documents(s, dir).select("doc_id", "source", "text")
      val seed = base.filter(col("doc_id") < 200 &&
        col("source").isin("src0", "src1"))
      val dups = seed.withColumn("doc_id", col("doc_id") + 100000L)
        .unionByName(seed.withColumn("doc_id", col("doc_id") + 200000L))
      Scale.sourceQualityGate(base.unionByName(dups),
          minDocs = 3L, minMeanQuality = 0.59, maxDupRate = 0.02)
        .select("doc_id", "source", "src_docs", "src_mean_q_micros",
          "src_dup_micros", "keep_source")
        .orderBy("doc_id")
    }),

    "text_length_quantiles" -> ((s, dir) => {
      // Corpus length-distribution rollup (the stats that size packing
      // budgets and truncation limits): EXACT interpolated percentiles
      // via Spark's `percentile` (not approx_percentile — the oracle
      // must match bit-for-bit; both engines use the (n-1)·p linear
      // interpolation definition).
      val toks = Tables.documents(s, dir)
        .select(TextAnalysis.tokenCount(col("text")).cast("double").as("n_tokens"))
      toks.agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_tokens"), 6).as("mean_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_tokens, 0.9)"), 6).as("p90"),
        round(expr("percentile(n_tokens, 0.99)"), 6).as("p99"),
        max("n_tokens").cast("long").as("max_tokens"))
    }),

    "text_tokens" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    "text_langid" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.detectLanguageCol(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "corpus_datacard" -> ((s, dir) => {
      // The per-snapshot DATA CARD a corpus pipeline publishes: size,
      // token totals, mean quality, language mix, exact-dup count — one
      // long-format (section, key, value) frame. Every value is an
      // exact integer (counts, sums of longs, or floor-micros means à la
      // quality_source_gate), so the whole card hashes bit-identically
      // with NO floating-point aggregation anywhere. Plan shape: one
      // map-side-combinable global aggregate over the corpus + one
      // groupBy on the (tiny-cardinality) language key; output is a
      // dozen rows regardless of corpus size.
      // The per-doc pass below is CPU-bound (regex-heavy quality/token
      // legs + the interpreted higher-order langid), not IO-bound: a tiny
      // compressed parquet file arrives as ONE scan split, serializing all
      // expression work on one core (the r7 bench showed the whole card
      // riding a single task). Scale.parallelismFloor fans out only when
      // the scan yields fewer splits than the session's parallelism — at
      // real scale it inserts nothing.
      val docs = operators.Scale.parallelismFloor(
        Tables.documents(s, dir).select(col("text"), col("source")))
      val t = docs.select(
        TextAnalysis.tokenCount(col("text")).cast("long").as("ws"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("bp"),
        length(col("text")).cast("long").as("chars"),
        round(TextAnalysis.qualityScore(col("text")) * 1e6).cast("long").as("q_micros"),
        sha2(col("text"), 256).as("h"),
        col("source"))
      val overall = t.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum("ws").as("ws_total"),
        sum("bp").as("bp_total"),
        sum("chars").as("chars_total"),
        floor(sum("ws") * lit(1000000L) / count(lit(1))).cast("long").as("ws_mean_micros"),
        floor(sum("q_micros") / count(lit(1))).cast("long").as("q_mean_micros"),
        (count(lit(1)) - countDistinct(col("h"))).as("exact_dup_docs"))
      val cards = overall.selectExpr(
        """stack(8,
          |  'corpus', 'n_docs', n_docs,
          |  'corpus', 'n_sources', n_sources,
          |  'dup', 'exact_dup_docs', exact_dup_docs,
          |  'length', 'chars_total', chars_total,
          |  'quality', 'quality_mean_micros', q_mean_micros,
          |  'tokens', 'bpeish_tokens_total', bp_total,
          |  'tokens', 'ws_tokens_mean_micros', ws_mean_micros,
          |  'tokens', 'ws_tokens_total', ws_total
          |) as (section, key, value)""".stripMargin)
      val langs = docs
        .select(TextAnalysis.detectLanguageCol(col("text")).as("key"))
        .groupBy("key").agg(count(lit(1)).as("value"))
        .select(lit("lang").as("section"), col("key"), col("value"))
      cards.unionByName(langs).orderBy("section", "key")
    }),

    "text_fingerprint" -> ((s, dir) => {
      // 64-bit wrap-around rolling fingerprint; oracle reproduces the Long
      // overflow via 128-bit ints reduced mod 2^64.
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprintUdf(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    "text_fingerprint_mod" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprintModUdf(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- lexical retrieval + corpus term statistics
    "bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "fast sort merge"), (1L, "spark data query"), (2L, "join filter stream"))
        .toDF("query_id", "qtext")
      operators.TextRetrieval.bm25TopK(Tables.documents(s, dir), queries, k = 5)
        .orderBy("query_id", "rank")
    }),

    "retrieval_hybrid_rrf" -> ((s, dir) => {
      // Hybrid search: BM25 lexical top-20 fused with cosine semantic
      // top-20 by Reciprocal Rank Fusion. Query ids align across
      // channels (each query has a text form and an embedding form);
      // doc ids live in different spaces (documents vs embeddings), so
      // the fusion exercises one-channel-only docs too — exactly the
      // full-outer semantics RRF must handle.
      import s.implicits._
      val textQueries = Seq(
        (0L, "fast sort merge"), (1L, "spark data query"), (2L, "join filter stream"))
        .toDF("query_id", "qtext")
      val lex = operators.TextRetrieval
        .bm25TopK(Tables.documents(s, dir), textQueries, k = 20)
        .select("query_id", "doc_id", "rank")
      val emb = Tables.embeddings(s, dir)
      val vecQueries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val sem = Retrieval.knnJoin(vecQueries, emb, k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      operators.TextRetrieval.hybridTopK(lex, sem, k = 10)
        .withColumn("rrf", TextAnalysis.floorScale(col("rrf"), 6))
        .orderBy("query_id", "rank")
    }),

    "retrieval_eval" -> ((s, dir) => {
      // Retrieval EVALUATION: one graded label set (query-term overlap)
      // scores three systems — BM25@5, hybrid RRF@10, and a static
      // first-5-docs null baseline. The baseline anchors the scale: an
      // eval harness that can't separate a real retriever from "always
      // return the first five docs" measures nothing. Hybrid's semantic
      // channel retrieves from the embeddings id space (same fixture
      // quirk as retrieval_hybrid_rrf), so its semantic-only picks are
      // unlabeled and count as misses — pricing that mismatch is
      // exactly what the harness is for.
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
      val textQueries = Seq(
        (0L, "fast sort merge"), (1L, "spark data query"), (2L, "join filter stream"))
        .toDF("query_id", "qtext")
      val docs = Tables.documents(s, dir)
      // MELTED single-pass evaluation (r19, guide §2.4; r18 verdict #1):
      // the r18 shape ran evaluateWithMacro once per retriever, so the
      // label subtree fed 6 branches per system and each macro row
      // re-executed its per-query lineage — 352 Exchanges, 1.6-1.7 s
      // steady-state. Now the three top-k lists union into ONE
      // (retriever, query_id, doc_id, rank) long table, labels join
      // once, every metric computes in one grouped aggregation, and the
      // macro rows come from GROUPING SETS — one pass over every input
      // (~1.1-1.4 s steady-state). BOTH the label table and the lex list
      // are deliberately INLINE: a checkpoint — even a lazy one —
      // materializes its AQE shuffle stages at construction time,
      // serializing what one adaptive execution overlaps. Measured r19:
      // lex checkpointed 2.08 s vs 1.23-1.41 s inline at sf0.1, and the
      // labels checkpoint loses at EVERY probed scale now that the melt
      // cut its consumers from 18 to 3 (SCALE.md: inline/checkpoint
      // 0.93 at 80k docs, 0.80 at 320k docs — the three overlapped label
      // passes beat one serialized pass until raw tokenize CPU, not
      // stage latency, dominates).
      val labels =
        operators.RetrievalEval.gradedTermOverlapLabels(docs, textQueries)
      // ONE corpus tokenize per pass: the k=5 list is a rank filter of
      // the k=20 list (row_number ranks are prefix-stable), not a second
      // bm25TopK run — the r7 verdict flagged the double tokenize.
      val lex = operators.TextRetrieval.bm25TopK(docs, textQueries, k = 20)
        .select("query_id", "doc_id", "rank")
      val bm25 = lex.filter(col("rank") <= 5)
      val emb = Tables.embeddings(s, dir)
      val vecQueries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val sem = Retrieval.knnJoin(vecQueries, emb, k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val hybrid = operators.TextRetrieval.hybridTopK(lex, sem, k = 10)
        .select("query_id", "doc_id", "rank")
      // Null baseline: the first five docs, same list for every query.
      // The window runs AFTER the limit — five rows, one partition.
      val firstDocs = docs.select("doc_id").orderBy("doc_id").limit(5)
        .withColumn("rank", row_number().over(w.orderBy("doc_id")))
      val static5 = textQueries.select("query_id").crossJoin(broadcast(firstDocs))
      val melted = Seq(
        ("bm25_k5", bm25), ("hybrid_rrf_k10", hybrid), ("static_k5", static5))
        .map { case (nm, df) =>
          df.select(lit(nm).as("retriever"), col("query_id"), col("doc_id"),
            col("rank"))
        }
        .reduce(_ unionByName _)
      operators.RetrievalEval.evaluateMeltedWithMacro(melted, labels,
        Seq("bm25_k5" -> 5, "hybrid_rrf_k10" -> 10, "static_k5" -> 5))
        .orderBy("retriever", "query_id")
    }),

    "tfidf_top_terms" -> ((s, dir) => {
      operators.TextRetrieval.tfidfTopTerms(Tables.documents(s, dir), k = 3,
        broadcastDf = Some(true)) // tiny vocabulary here, same as bm25_topk
        .orderBy("doc_id", "rank")
    }),

    "ngram_top_bigrams" -> ((s, dir) => {
      operators.TextRetrieval.topNgrams(Tables.documents(s, dir), n = 2, k = 20)
    }),

    "text_perplexity" -> ((s, dir) => {
      // Self-scored: the corpus is its own reference LM — the relative
      // ordering (boilerplate low, gibberish high) is what filters use.
      val docs = Tables.documents(s, dir)
      operators.TextRetrieval.lmPerplexity(docs, docs).orderBy("doc_id")
    }),

    "text_perplexity_sb" -> ((s, dir) => {
      // Trigram Stupid Backoff, self-scored like text_perplexity — the
      // sharper LM signal for boilerplate (trigram hits) with smooth
      // backoff for novel text.
      val docs = Tables.documents(s, dir)
      operators.TextRetrieval.stupidBackoffPerplexity(docs, docs).orderBy("doc_id")
    }),

    "pack_sequences" -> ((s, dir) => {
      operators.Scale.packSequences(Tables.documents(s, dir), budgetTokens = 512)
        .orderBy("shard", "bin_id")
    }),

    "pack_manifest" -> ((s, dir) => {
      // The loader-facing twin of pack_sequences: per-document placement
      // (shard, bin, starting token offset) instead of per-bin stats —
      // what a training data loader reads to find each document inside
      // its packed sequence file.
      operators.Scale.packManifest(Tables.documents(s, dir), budgetTokens = 512)
        .orderBy("doc_id")
    }),

    // ---- additional relational coverage (conditional agg, having,
    //      rollup, analytic windows, sliding windows)
    "q6_revenue_forecast" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"))
    }),

    "q17_small_qty_revenue" -> ((s, dir) => {
      // TPC-H Q17 shape (correlated scalar subquery, decorrelated):
      // revenue lost if sub-20%-of-average-quantity orders stopped.
      // The per-part average is a partial-agg over the brand-filtered
      // lineitems (broadcast part-key filter rides the scan), rejoined
      // on l_partkey — the decorrelation Catalyst itself would emit.
      // avg of integer quantities is exact in double (sums < 2^53), so
      // the 0.2×avg threshold cuts identically in any engine.
      val pt = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#11").select("p_partkey")
      val li = Tables.lineitem(s, dir)
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      val avgq = li.groupBy("l_partkey").agg(avg(col("l_quantity")).as("avg_qty"))
      li.join(avgq, "l_partkey")
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(TextAnalysis.floorScale(sum(col("l_extendedprice")) / 7.0, 4)
          .as("avg_yearly"))
    }),

    "q12_conditional_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("high_count"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("low_count"))
        .orderBy("l_returnflag")
    }),

    "q14_promo_ratio" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"),
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("promo_revenue_pct"))
        .select(round(col("promo_revenue_pct"), 6).as("promo_revenue_pct"))
    }),

    "q18_large_orders" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val big = l.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("total_qty"))
        .filter(col("total_qty") > 300)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          round(col("total_qty"), 4).as("total_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(20)
    }),

    "graph_pagerank" -> ((s, dir) => {
      // Weighted PageRank over the click-stream item-transition graph —
      // the fixed-point-ranking class (crawl-frontier importance prior,
      // the Common Crawl host-rank family). HASH-GREEN since r13: ranks
      // live on a 1e-12 integer grid (pageRankPicos) whose truncating-
      // division power iteration is pure 64-bit integer arithmetic, so
      // the DuckDB oracle replays all 15 iterations move for move
      // (unrolled SQL) and the values hash exactly. pr is the derived
      // double pr_picos/1e12 (one correctly-rounded IEEE op — identical
      // on both engines); the Verify gate additionally pins the
      // distributed result EXACTLY to the sequential integer reference
      // and within 1e-4 of the dense FLOAT power iteration
      // (quantization bound ~6e-6).
      operators.Graphs.pageRankPicos(
          operators.Graphs.itemTransitions(Tables.events(s, dir)))
        .select(col("node"),
          (col("pr_picos").cast("double") / 1e12).as("pr"), col("pr_picos"))
        .orderBy(desc("pr_picos"), col("node"))
    }),

    "w7_funnel" -> ((s, dir) => {
      // Strict-order conversion funnel with a 7-day completion window —
      // the drop-off table (classic product analytics; exact
      // epoch-micros integers end to end, so it hashes).
      operators.Sessions.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase"), maxSpanSeconds = 7L * 86400)
        .orderBy("step_idx")
    }),

    "w8_pivot_daily" -> ((s, dir) => {
      // Long-to-wide pivot: daily event-type count matrix. The value
      // list is EXPLICIT, so Spark skips the value-discovery job and the
      // output schema is static — the pivot is then one partial-agg
      // shuffle on the day key, same cost as the long-format rollup.
      Tables.events(s, dir)
        .withColumn("day", col("ts").cast("date").cast("string"))
        .groupBy("day")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .orderBy("day")
    }),

    "w6_sessionize" -> ((s, dir) => {
      // Full gap-based sessionization (w1 is the building block): a
      // > 1-day silence starts a new session; cumulative session index
      // per user, then per-session rollup — the batch analog of
      // Structured Streaming's session_window, one user-keyed shuffle.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_s", lag(col("ts").cast("long"), 1).over(w))
        .withColumn("is_start",
          when(col("prev_s").isNull ||
            (col("ts").cast("long") - col("prev_s")) > 86400L, 1L).otherwise(0L))
        .withColumn("session_idx", sum("is_start").over(w))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("started_at"), max("ts").as("ended_at"))
        .orderBy("user_id", "session_idx")
    }),

    "w1_event_gaps" -> ((s, dir) => {
      // lag window: inter-event gap per session (sessionization building
      // block for training-data pipelines)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("gap_seconds",
          when(col("prev_ts").isNull, lit(null).cast("long"))
            .otherwise(col("ts").cast("long") - col("prev_ts").cast("long")))
        .select("user_id", "event_id", "gap_seconds")
        .orderBy("user_id", "event_id")
    }),

    "w5_moving_avg" -> ((s, dir) => {
      // ROWS-frame sliding aggregate (trailing 6-event moving average per
      // user) — the running-metric window the reference's live dashboard
      // implies. Values quantized to integer millis BEFORE the frame sum:
      // integer sliding sums are order-exact in any engine, where a float
      // frame sum would diverge between Spark's add/remove incremental
      // evaluation and the oracle's.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-5, 0)
      Tables.events(s, dir)
        .withColumn("v_mil", floor(col("value") * 1000).cast("long"))
        .withColumn("avg_v_mil", round(avg("v_mil").over(w), 6))
        .select("user_id", "event_id", "avg_v_mil")
        .orderBy("user_id", "event_id")
    }),

    "w2_rollup_daily" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")).cast("string"))
        .rollup("day", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("day").asc_nulls_first, col("event_type").asc_nulls_first)
    }),

    "w3_sliding_rate" -> ((s, dir) => {
      // The §2.9 rate limiter as a batch query: 1h windows sliding by
      // 10 min (epoch-aligned exactly like Spark's streaming window());
      // (window, user) pairs above the threshold are throttle candidates.
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "3600 seconds", "600 seconds"), col("user_id"))
        .agg(count(lit(1)).as("n_requests"))
        .filter(col("n_requests") > 1)
        .select(col("window.start").as("window_start"), col("user_id"), col("n_requests"))
        .orderBy("window_start", "user_id")
    }),

    "t10b_props_struct" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("parsed", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .select(col("event_id"), col("parsed.k").as("k"),
          (col("parsed.k") >= 50).as("k_high"))
        .orderBy("event_id")
    }),

    // ---- point lookup (db_utils.py:264 get_document_by_id), full sort
    //      (S-2), and salted aggregation (correctness of the skew path)
    "j5_point_lookup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(col("doc_id") === 42L)
        .select("doc_id", "source", "lang", "n_chars")
    }),

    "s2_full_sort" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("user_id") === 7L)
        .select("event_id", "ts", "event_type")
        .orderBy("ts", "event_id")
    }),

    // ---- time-correlation joins Spark lacks natively, rewritten into
    //      shuffle-friendly shapes (Joins.scala scaladoc has the plans)
    "j6_asof_attribution" -> ((s, dir) => {
      // Purchase → latest view at-or-before it, per user (attribution):
      // union + per-user ordered window — ONE shuffle, no row explosion,
      // where the naive `p.ts >= v.ts` theta join plans as a nested loop.
      // The view side is pre-reduced to one row per (user_id, ts) so the
      // match is deterministic on both engines.
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("event_id").as("view_id"))
      Joins.asofJoin(purchases, views, "user_id", "ts")
        .select(
          col("purchase_id"), col("user_id"),
          coalesce(col("_match.view_id"), lit(-1L)).as("view_id"),
          coalesce(unix_micros(col("ts")) - unix_micros(col("_match.ts")), lit(-1L))
            .as("gap_us"))
        .orderBy("purchase_id")
    }),

    "j7_range_band_join" -> ((s, dir) => {
      import s.implicits._
      // Overlapping price bands × parts — the bucketed theta→equi rewrite
      // (Joins.rangeJoinBucketed): ranges explode into the fixed-width
      // buckets they overlap, points equi-join on bucket id, exact
      // [lo, hi) predicate re-checked after. Deci-dollar integer sums
      // keep the aggregate order-independent across engines.
      val bands = Seq(
        (0L, 880.0, 910.0), (1L, 900.0, 950.0), (2L, 920.0, 940.0),
        (3L, 925.0, 975.0), (4L, 950.0, 1000.0), (5L, 990.0, 1000.0)
      ).toDF("band_id", "lo", "hi")
      Joins.rangeJoinBucketed(Tables.part(s, dir), "p_retailprice", bands, "lo", "hi", 25.0)
        .groupBy("band_id")
        .agg(
          count(lit(1)).as("n_parts"),
          sum(round(col("p_retailprice") * 10).cast("long")).as("sum_deci"))
        .orderBy("band_id")
    }),

    "j9_range_window_auto" -> ((s, dir) => {
      // The OPTIMIZER-rule path for interval joins (RangeJoinRewrite,
      // sibling of dedup_simhash_auto's Hamming rule): the join is
      // written in the naive theta form — ts inside literal maintenance
      // windows, some overlapping — and the rule turns the plan into the
      // bucketed equi-join. The oracle stays the naive theta SQL;
      // PlanQualitySpec asserts the nested-loop join is gone.
      GraftExtensions.register(s)
      import s.implicits._
      val windows = Seq(
        (0L, "2024-01-02 00:00:00", "2024-01-02 12:00:00"),
        (1L, "2024-01-02 06:00:00", "2024-01-03 00:00:00"), // overlaps 0
        (2L, "2024-01-10 00:00:00", "2024-01-11 00:00:00"),
        (3L, "2024-01-20 18:00:00", "2024-01-21 06:00:00"),
        (4L, "2024-01-29 00:00:00", "2024-02-01 00:00:00"))
        .toDF("window_id", "ws", "we")
        .select($"window_id", $"ws".cast("timestamp").as("w_start"),
          $"we".cast("timestamp").as("w_end"))
      Tables.events(s, dir)
        .join(windows, col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("window_id")
    }),

    "j8_interval_enrich" -> ((s, dir) => {
      // Batch analog of the stream–stream interval join
      // (Streams.enrichWithRecentEvents, spec-only until now): sampled
      // "query" events enriched with the same user's events from the
      // preceding 6 h. Joins.recentEventsJoin is the (user, time-bucket)
      // equi-join rewrite — the oracle is the naive theta join, so the
      // hash match proves the rewrite's semantics.
      val ev = Tables.events(s, dir)
      val queries = ev.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("query_id"), col("user_id"), col("ts").as("q_ts"))
      Joins.recentEventsJoin(
        queries, ev.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
        lookbackSec = 6L * 3600, bucketSec = 6L * 3600)
        .select(col("query_id"), col("user_id"), col("event_id"), col("event_type"))
        .orderBy("query_id", "event_id")
    }),

    "sketch_heavy_hitters" -> ((s, dir) => {
      // Misra–Gries heavy hitters via a typed Aggregator (custom UDAF,
      // functions/Sketches.scala): k bounded counters per partition,
      // mergeable — frequent items over 100 TB without a full
      // groupBy-count shuffle. k=8 >= the 5-value event_type domain, so
      // the sketch is exact here and the oracle is a plain GROUP BY.
      val mg = udaf(new graft.functions.MisraGries(8),
        org.apache.spark.sql.Encoders.STRING)
      Tables.events(s, dir)
        .agg(mg(col("event_type")).as("sk"))
        .select(col("sk.items").as("items"), col("sk.counts").as("counts"))
        .select(explode(arrays_zip(col("items"), col("counts"))).as("e"))
        .select(col("e.items").as("event_type"), col("e.counts").as("n"))
        .orderBy("event_type")
    }),

    "text_rarity_score" -> ((s, dir) => {
      // Unigram-LM quality filter (surprisal proxy): token rarity =
      // corpus_tokens / freq(token). IEEE division is correctly rounded
      // (unlike ln), and the per-doc sum runs over the SORTED rarity
      // list (aggregate ∘ sort_array), so accumulation order — and the
      // resulting double — is bit-identical across engines. The vocab
      // join is broadcast here (synthetic vocab is tiny); at 100 TB it
      // becomes a plain shuffle join on `tok` and only `total` stays
      // broadcast.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      val total = freq.agg(sum("freq").cast("double").as("total"))
      toks.join(broadcast(freq), "tok")
        .crossJoin(broadcast(total))
        .withColumn("rarity", col("total") / col("freq").cast("double"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_toks"),
          aggregate(sort_array(collect_list(col("rarity"))), lit(0.0),
            (acc, x) => acc + x).as("rarity_sum"))
        .withColumn("mean_rarity", col("rarity_sum") / col("n_toks"))
        .orderBy("doc_id")
    }),

    "mix_temperature_sample" -> ((s, dir) => {
      // Two-phase hash-threshold selection (Scale.temperatureMixSample):
      // the oracle SQL deliberately stays the NAIVE single-phase rank, so
      // the hash match proves the phase-1 pre-filter is semantically
      // transparent — same selected rows, same ranks — while the rank
      // window's input shrinks from n to O(√n) rows per language.
      operators.Scale.temperatureMixSample(Tables.documents(s, dir), "lang")
        .select("lang", "mix_rank", "doc_id", "quota")
        .orderBy("lang", "mix_rank")
    }),

    "scale_salted_count" -> ((s, dir) => {
      operators.Scale.saltedCount(Tables.events(s, dir), "user_id")
        .withColumn("n", col("n").cast("long"))
        .orderBy("user_id")
    }),

    "shard_deterministic" -> ((s, dir) => {
      // Reproducible epoch shuffle + sharding: per-shard rollup proves
      // the assignment is balanced and the hash order is deterministic
      // (min/max hash and an order-free id checksum per shard hash-match
      // the oracle's independent computation). Map-only — the rollup is
      // the only shuffle, and it aggregates 8 rows.
      val docs = Tables.documents(s, dir).select("doc_id")
      Scale.deterministicShuffle(docs, "doc_id", seed = 42L, shards = 8)
        .groupBy("shard").agg(
          count(lit(1)).cast("long").as("n_docs"),
          min("shuffle_hash").as("min_hash"),
          max("shuffle_hash").as("max_hash"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("shard")
    }),

    // ---- write-path analogs (O-10; other sinks exercised in StoreSpec)
    "o10_delete_by_key" -> ((s, dir) => {
      import s.implicits._
      val victims = Seq(1L, 2L, 3L).toDF("user_id")
      operators.Store.deleteByKey(Tables.events(s, dir), "user_id", victims)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    }),

    "o9_upsert_replace" -> ((s, dir) => {
      // O-9: the re-index path — re-ingested documents REPLACE their old
      // chunk set entirely (the "v2 " prefix lengthens the text, so the
      // new chunk count differs and any lingering old row would break the
      // hash). Store.upsertByKey = anti-join on file_id + union.
      val docs = Tables.documents(s, dir)
      val catalog = Ingest
        .chunkStrided(docs.filter(col("doc_id") < 30), chunkSize = 100, overlap = 20)
        .withColumn("version", lit(1))
      val updates = Ingest.chunkStrided(
        docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
          .withColumn("text", concat(lit("v2 "), col("text"))),
        chunkSize = 100, overlap = 20)
        .withColumn("version", lit(2))
      operators.Store.upsertByKey(catalog, updates, "file_id")
        .select(col("chunk_id"), col("file_id"), col("chunk_index"),
          col("version"), sha2(col("chunk_text"), 256).as("chunk_hash"))
        .orderBy("file_id", "chunk_index")
    }),

    "o6_json_roundtrip" -> ((s, dir) => {
      // O-6/O-14 semantic core without filesystem I/O: session records
      // serialized to the localStorage JSON shape and parsed back must
      // reproduce every field (micros-precision timestampFormat on BOTH
      // directions — the default format would silently truncate).
      val jsonOpts = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, message_count BIGINT, first_at TIMESTAMP, last_at TIMESTAMP")
      Sessions.sessionStats(Tables.events(s, dir))
        .select(to_json(
          struct(col("user_id"), col("message_count"), col("first_at"), col("last_at")),
          jsonOpts).as("js"))
        .select(from_json(col("js"), schema, jsonOpts).as("r"))
        .select("r.user_id", "r.message_count", "r.first_at", "r.last_at")
        .orderBy("user_id")
    }),

    "o11_delete_where" -> ((s, dir) => {
      // O-11 as a registry query (previously spec-only): delete-by-
      // predicate keeps the complement, same shape as the reference's
      // chroma where={...} delete (chroma_utils.py:146-184).
      operators.Store.deleteWhere(Tables.events(s, dir),
        col("event_type") === "error" || col("value") < 0.2)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    }),

    "o7_append_roundtrip" -> ((s, dir) => {
      // O-7 as an oracle-checked ROUND TRIP (previously spec-only: the
      // oracle harness can't watch a sink directly, but it can check
      // what the sink accumulated): two appends to a fresh scratch table
      // (parquet append = new files only, no rewrite), read back — must
      // equal the union of both batches.
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_append").toString + "/t"
      // Shared scan for the two appends (r19 §2.4).
      val docs = operators.LoopCheckpoint.transient(
        Tables.documents(s, dir).select("doc_id", "text", "source"),
        eager = false)
      operators.Store.append(docs.filter(col("doc_id") < 30), scratch)
      operators.Store.append(
        docs.filter(col("doc_id") >= 30 && col("doc_id") < 50), scratch)
      s.read.parquet(scratch)
        .select(col("doc_id"), sha2(col("text"), 256).as("text_hash"), col("source"))
        .orderBy("doc_id")
    }),

    "o12_clear_reindex" -> ((s, dir) => {
      // O-12 as an oracle-checked lineage — the reference's
      // reset-then-reindex path (chroma_utils.py:265-291 clear + re-add):
      // ingest an old corpus, truncate via clear + atomic staged
      // overwrite, re-ingest a new batch. Read-back must contain ONLY
      // the new rows; any old-row leak (a failed truncate) breaks the
      // hash.
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_clear").toString + "/t"
      val docs = Tables.documents(s, dir).select("doc_id", "text", "source")
      operators.Store.append(docs.filter(col("doc_id") < 40), scratch)
      operators.Store.overwriteWith(
        s, operators.Store.clear(s.read.parquet(scratch)), scratch)
      operators.Store.append(
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 60), scratch)
      s.read.parquet(scratch)
        .select(col("doc_id"), sha2(col("text"), 256).as("text_hash"), col("source"))
        .orderBy("doc_id")
    }),

    "store_compact" -> ((s, dir) => {
      // Compaction as an oracle-checked round trip: five single-file
      // micro-appends (the append-heavy accretion pattern), then
      // Store.compact rewrites the table through the crash-consistent
      // swap. Read-back must equal the full original slice — the oracle
      // proves compaction moves bytes without losing or duplicating a
      // row; the file-count collapse itself is spec-asserted
      // (PipelineSpec).
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_compact").toString + "/t"
      // ONE parquet scan for the five micro-append filters (r19, guide
      // §2.4): the map-only lazy checkpoint costs nothing at
      // construction; append #1 fills the blocks, appends #2-5 read them.
      val docs = operators.LoopCheckpoint.transient(
        Tables.documents(s, dir).select("doc_id", "text", "source"),
        eager = false)
      (0 until 5).foreach { i =>
        operators.Store.append(
          docs.filter(pmod(col("doc_id"), lit(5)) === i).repartition(1), scratch)
      }
      operators.Store.compact(s, scratch, rowsPerFile = 1000000L)
      s.read.parquet(scratch)
        .select(col("doc_id"), sha2(col("text"), 256).as("text_hash"), col("source"))
        .orderBy("doc_id")
    }),

    "store_snapshot" -> ((s, dir) => {
      // Manifest-committed versions as an oracle-checked lineage:
      // commit v1, upsert a batch (replace 30–39, add 40–49), commit
      // v2, then read BOTH the current table and the time-traveled v1.
      // The oracle derives each version's expected contents from the
      // documents table directly — a reader seeing a partial commit,
      // a leaked orphan, or v2 rows in v1 breaks the hash.
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_snap").toString + "/t"
      // Shared scan for the v1 commit and the upsert batch (r19 §2.4).
      val docs = operators.LoopCheckpoint.transient(
        Tables.documents(s, dir).select("doc_id", "text", "source"),
        eager = false)
      operators.Store.commitSnapshot(s, docs.filter(col("doc_id") < 40), scratch)
      val updated = operators.Store.upsertByKey(
        operators.Store.readSnapshot(s, scratch),
        docs.filter(col("doc_id") >= 30 && col("doc_id") < 50), "doc_id")
      operators.Store.commitSnapshot(s, updated, scratch)
      operators.Store.readSnapshot(s, scratch)
        .withColumn("version_tag", lit("current"))
        .unionByName(operators.Store.readSnapshot(s, scratch, Some(1L))
          .withColumn("version_tag", lit("v1")))
        .select(col("version_tag"), col("doc_id"),
          sha2(col("text"), 256).as("text_hash"), col("source"))
        .orderBy("version_tag", "doc_id")
    }),

    "o_delete_doc_both_stores" -> ((s, dir) => {
      // §3.3: the reference deletes a document by hand-ordering its two
      // stores — Chroma first, then the SQLite catalog, with manual
      // re-index compensation when the second step fails
      // (main.py:443-486). Here ONE victim frame drives anti-joins on
      // BOTH stores inside a single declarative lineage: there is no
      // window where one store reflects the delete and the other does
      // not — the consistency win this engine claims over the
      // reference. Both surviving stores come back tagged in one frame
      // so the oracle hash-checks both outputs at once.
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 40)
      val catalog = docs.select(
        col("doc_id").as("file_id"),
        operators.Ingest.contentHash(col("text")).as("payload"))
      val chunks = operators.Ingest.chunkStrided(docs, chunkSize = 100, overlap = 20)
      val victims = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("file_id"))
      val keptCatalog = operators.Store.deleteByKey(catalog, "file_id", victims)
        .select(lit("catalog").as("store"), col("file_id"),
          lit("-").as("chunk_id"), col("payload"))
      val keptChunks = operators.Store.deleteByKey(chunks, "file_id", victims)
        .select(lit("chunks").as("store"), col("file_id"),
          col("chunk_id"), sha2(col("chunk_text"), 256).as("payload"))
      keptCatalog.unionByName(keptChunks)
        .orderBy("store", "file_id", "chunk_id")
    }),

    "o_meta_open_schema" -> ((s, dir) => {
      // Open-schema chunk metadata: a MapType dict with loader-specific
      // keys (here a synthetic per-loader "pdf_producer"), filtered by
      // element_at on a key that does NOT exist in the fixed chunk
      // struct — the Chroma where={arbitrary key} shape
      // (chroma_utils.py:161,253). Rows whose loader never wrote the
      // key have it absent from the map, so the filter fails closed.
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 60)
      val chunks = operators.Ingest.chunkStrided(docs, chunkSize = 100, overlap = 20)
      val loader = element_at(
        array(lit("pdf"), lit("docx"), lit("html")),
        (col("file_id") % 3 + 1).cast("int"))
      val enriched = operators.Ingest.openMetadata(chunks,
        "loader" -> loader,
        "pdf_producer" -> when(col("file_id") % 3 === 0,
          concat(lit("lib-"), col("file_id") % 5)))
      enriched
        .filter(element_at(col("metadata"), "pdf_producer") === "lib-2")
        .select(col("chunk_id"), col("file_id"),
          element_at(col("metadata"), "source").as("source_file"),
          element_at(col("metadata"), "loader").as("loader"),
          element_at(col("metadata"), "pdf_producer").as("pdf_producer"),
          sha2(col("chunk_text"), 256).as("chunk_hash"))
        .orderBy("file_id", "chunk_id")
    }),

    // ---- remaining scalar projections (P-15, P-17)
    "p15_humanize_size" -> ((s, dir) => {
      val bytes = floor(col("value") * 12345).cast("long")
      Tables.events(s, dir)
        .select(col("event_id"), bytes.as("n_bytes"),
          when(bytes < 1024L, concat(bytes.cast("string"), lit(" B")))
            .when(bytes < 1024L * 1024,
              concat(round(bytes.cast("double") / 1024.0, 1).cast("string"), lit(" KB")))
            .otherwise(
              concat(round(bytes.cast("double") / (1024.0 * 1024.0), 1).cast("string"), lit(" MB")))
            .as("human_size"))
        .orderBy("event_id")
    }),

    "p17_quota_countdown" -> ((s, dir) => {
      // Seconds until the next US/Pacific midnight after each event
      // (main.py:180-188's quota-reset arithmetic with ts as the "now").
      val ptWall = from_utc_timestamp(col("ts"), "US/Pacific")
      val nextMidnightUtc =
        to_utc_timestamp(date_add(ptWall.cast("date"), 1).cast("timestamp"), "US/Pacific")
      Tables.events(s, dir)
        .select(col("event_id"),
          (nextMidnightUtc.cast("long") - col("ts").cast("long")).as("seconds_to_reset"))
        .orderBy("event_id")
    }),

    // ---- P-3: magic-number MIME sniff, fail-open (file_utils.py:115-121)
    "p3_mime_sniff" -> ((s, dir) => {
      // Synthesize binary headers cycling through pdf/zip/html/junk with
      // an independently-cycling claimed extension, so match, mismatch
      // and unknown-header (fail-open accept) rows all occur.
      // "PK" is the real ZIP local-file-header magic the
      // sniffer requires — bare "PK" text must fail open, not match.
      val header = element_at(
        array(lit("%PDF-1.7"), lit("PKzip0"), lit("<html>x "), lit("JUNKJUNK")),
        (col("doc_id") % 4 + 1).cast("int"))
      val ext = element_at(
        array(lit(".pdf"), lit(".docx"), lit(".html")),
        (col("doc_id") % 3 + 1).cast("int"))
      Tables.documents(s, dir)
        .select(col("doc_id"), ext.as("ext"),
          concat(header, substring(col("text"), 1, 40)).cast("binary").as("content"))
        .select(col("doc_id"), col("ext"),
          Ingest.mimeMatches(col("content"), col("ext")).as("accepted"))
        .orderBy("doc_id")
    }),

    // ---- full ingest path (§3.2: validate → hash → dedup-gate → split →
    //      enrich → embed, one lineage)
    "ingest_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // Catalog overlaps the incoming range (100-149) so the dedup gate
      // actually drops rows; chunkSize=100 so these short docs actually
      // split; the embedding column is kept (as a checksum) so the embed
      // stage survives column pruning in Verify/Bench.
      val catalog = docs.filter(col("doc_id") < 150)
        .withColumn("file_hash", Ingest.contentHash(col("text")))
      Ingest.ingest(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), catalog,
        chunkSize = 100, overlap = 20)
        .select(col("chunk_id"), col("file_id"), col("page"), col("chunk_index"),
          col("total_chunks"), col("source_file"),
          // floorScale (not round): the norm clusters at ~1.0 where
          // Spark's decimal-string rounding and DuckDB's binary rounding
          // can split; floor is a pure function of the double.
          TextAnalysis.floorScale(
            graft.functions.VectorOps.l2Norm(col("embedding")), 4).as("emb_norm"))
        .orderBy("file_id", "chunk_index")
    }),

    "ingest_pipeline_sql" -> ((s, dir) => {
      // The §3.2 lineage with every stage ANSI-expressible (strided
      // chunker + content hashes instead of embeddings), so the WHOLE
      // pipeline — validate → hash → dedup-gate → split → enrich — is
      // hash-checked end-to-end. The embed-stage variant above stays the
      // production shape.
      val docs = Tables.documents(s, dir)
      val catalog = docs.filter(col("doc_id") < 150)
        .withColumn("file_hash", Ingest.contentHash(col("text")))
      val incoming = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .withColumn("file_hash", Ingest.contentHash(col("text")))
        .filter(Ingest.validSize(col("n_chars")))
      val fresh = Ingest.dedupGate(incoming, catalog, "file_hash")
      Ingest.chunkStrided(fresh, chunkSize = 100, overlap = 20)
        .select(col("chunk_id"), col("file_id"), col("page"), col("chunk_index"),
          col("total_chunks"), col("source_file"),
          sha2(col("chunk_text"), 256).as("chunk_hash"))
        .orderBy("file_id", "chunk_index")
    }),

    // ---- O-1/O-2: real binary extraction, oracle-checked as an exact
    //      encode→decode round trip: each document's text is wrapped in a
    //      REAL container (zip/OOXML for DOCX, object-tree + FlateDecode
    //      content streams for PDF) and must come back byte-identical
    //      through the real extractor. The oracle hashes the original
    //      text, so any parsing defect breaks the hash match.
    "o3_html_extract" -> ((s, dir) => {
      // O-3 round trip: text wrapped in real HTML (entities escaped, a
      // script block and comment injected as decoys) must come back
      // byte-identical through the real tag/script/entity strip.
      val roundTrip = udf { (t: String) =>
        val escaped = t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        val html = "<html><head><style>p{color:red}</style>" +
          "<script>var x = '<p>not text</p>';</script></head>" +
          s"<body><!-- decoy --><p>$escaped</p></body></html>"
        graft.sources.DocLoader.extractHtml(html.getBytes("UTF-8"))
      }
      Tables.documents(s, dir)
        .select(col("doc_id"), sha2(roundTrip(col("text")), 256).as("text_hash"))
        .orderBy("doc_id")
    }),

    "o4_format_dispatch" -> ((s, dir) => {
      // O-4: extension → format tag incl. case-insensitivity and the
      // filterable "unsupported" tag (reference raises,
      // chroma_utils.py:70-71).
      val ext = element_at(
        array(lit(".pdf"), lit(".DOCX"), lit(".html"), lit(".txt"), lit(".Pdf")),
        (col("doc_id") % 5 + 1).cast("int"))
      Tables.documents(s, dir)
        .select(col("doc_id"), concat(col("source"), ext).as("path"))
        .select(col("doc_id"), col("path"),
          graft.sources.DocLoader.formatOf(col("path")).as("format"))
        .orderBy("doc_id")
    }),

    "o2_docx_extract" -> ((s, dir) => {
      val roundTrip = udf((t: String) =>
        graft.sources.DocLoader.extractDocx(graft.sources.DocLoader.buildDocx(t)))
      Tables.documents(s, dir)
        .select(col("doc_id"), sha2(roundTrip(col("text")), 256).as("text_hash"))
        .orderBy("doc_id")
    }),

    "o1_pdf_extract" -> ((s, dir) => {
      // 200-char page windows (docs are single-line) → multi-page PDFs →
      // per-page extraction with 1-based page numbers (PyPDFLoader parity).
      val pagesUdf = udf { (t: String) =>
        val pages = if (t == null || t.isEmpty) Seq("") else t.grouped(200).toSeq
        graft.sources.DocLoader.extractPdfPages(graft.sources.DocLoader.buildPdf(pages))
      }
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(pagesUdf(col("text"))).as("pg"))
        .select(col("doc_id"), col("pg._1").as("page"),
          sha2(col("pg._2"), 256).as("page_hash"))
        .orderBy("doc_id", "page")
    }),

    "ingest_pipeline_paged" -> ((s, dir) => {
      // O-1 → §1.3 page metadata → strided chunking, end to end: real PDF
      // containers built per document (200-char pages), parsed back page
      // by page through the real extractor, then chunked per page with
      // page-qualified chunk ids.
      val pagesUdf = udf { (t: String) =>
        val pages = if (t == null || t.isEmpty) Seq("") else t.grouped(200).toSeq
        graft.sources.DocLoader.extractPdfPages(graft.sources.DocLoader.buildPdf(pages))
      }
      val paged = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("source"), explode(pagesUdf(col("text"))).as("pg"))
        .select(col("doc_id"), col("source"), col("pg._1").as("page"), col("pg._2").as("text"))
      Ingest.chunkStrided(paged, chunkSize = 120, overlap = 20)
        .select(col("chunk_id"), col("file_id"), col("page"), col("chunk_index"),
          col("total_chunks"), col("source_file"), sha2(col("chunk_text"), 256).as("chunk_hash"))
        .orderBy("file_id", "page", "chunk_index")
    }),

    // ---- O-1 extraction-status routing, three container classes (r11
    //      shrank the r10 quarantine): every 8th doc is a BARE Type0
    //      (no ToUnicode CMap — genuinely undecodable glyph indexes →
    //      'unsupported_font', quarantined); every other 4th doc is a
    //      Type0 WITH a ToUnicode CMap, which since r11 EXTRACTS through
    //      the CMapFont path (hex CID strings inverted by the bfchar
    //      map — hash-checked against the original text, proving the
    //      decode is exact, not just non-null); the rest are plain PDFs.
    //      Quarantined rows keep their row with null text so ingest can
    //      route them, not silently drop content (reference raises and
    //      compensates, chroma_utils.py:134-144).
    "ingest_quarantine" -> ((s, dir) => {
      val statusUdf = udf { (t: String, cls: Int) =>
        val bytes = cls match {
          case 4 => graft.sources.DocLoader.buildPdfType0EmbeddedCff(Seq(t))
          case 3 => graft.sources.DocLoader.buildPdfType0Embedded(Seq(t))
          case 2 => graft.sources.DocLoader.buildPdfType0Bare(Seq(t))
          case 1 => graft.sources.DocLoader.buildPdfType0(Seq(t))
          case _ => graft.sources.DocLoader.buildPdf(Seq(t))
        }
        graft.sources.DocLoader.extractPdfStatus(bytes)
      }
      // r13: the doc_id%16 slice of the old bare-Type0 class ships its
      // Unicode mapping ONLY in the embedded TrueType program's cmap
      // (FontFile2 fallback); r14: the %32==8 slice carries it only in
      // an embedded CFF's charset names (FontFile3 fallback, r13
      // verdict #6) — both extract, shrinking the unsupported_font
      // bucket to the genuinely mapping-less class (%32==24).
      val cls = when(col("doc_id") % 16 === 0, 3)
        .when(col("doc_id") % 32 === 8, 4)
        .when(col("doc_id") % 8 === 0, 2)
        .when(col("doc_id") % 4 === 0, 1).otherwise(0)
      Tables.documents(s, dir)
        .select(col("doc_id"), statusUdf(col("text"), cls).as("r"))
        .select(col("doc_id"),
          col("r._2").as("extraction_status"),
          (col("r._2") =!= "ok").as("quarantined"),
          sha2(col("r._1"), 256).as("text_hash")) // null on quarantined rows
        .orderBy("doc_id")
    }),

    "ingest_quarantine_stats" -> ((s, dir) => {
      // the quarantine COUNTS an ingest run reports per status — the
      // unsupported_font bucket holds ONLY the bare-Type0 class without
      // a usable embedded mapping (r13: the %16 slice carries a TrueType
      // cmap; r14: the %32==8 slice a CFF charset — both extract)
      val statusUdf = udf { (t: String, cls: Int) =>
        val bytes = cls match {
          case 4 => graft.sources.DocLoader.buildPdfType0EmbeddedCff(Seq(t))
          case 3 => graft.sources.DocLoader.buildPdfType0Embedded(Seq(t))
          case 2 => graft.sources.DocLoader.buildPdfType0Bare(Seq(t))
          case 1 => graft.sources.DocLoader.buildPdfType0(Seq(t))
          case _ => graft.sources.DocLoader.buildPdf(Seq(t))
        }
        graft.sources.DocLoader.extractPdfStatus(bytes)._2
      }
      val cls = when(col("doc_id") % 16 === 0, 3)
        .when(col("doc_id") % 32 === 8, 4)
        .when(col("doc_id") % 8 === 0, 2)
        .when(col("doc_id") % 4 === 0, 1).otherwise(0)
      Tables.documents(s, dir)
        .select(statusUdf(col("text"), cls).as("extraction_status"))
        .groupBy("extraction_status")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("extraction_status")
    }),

    // ---- flagship LLM-data pipeline: the full pretraining-corpus prep
    //      as ONE lineage — exact dedup → normalized-fingerprint near-dup
    //      → quality gate → temperature mixing → sequence packing. The
    //      input is salted with synthetic exact copies (+10000) and
    //      case-variant copies (+20000) so both dedup stages measurably
    //      remove rows; min-doc_id keeps the originals.
    "pipeline_attributes" -> ((s, dir) => {
      // Dolma-style attribute sidecar + declarative policy: every tagger
      // family (Gopher rules, quality, language-ID, exact-dup) runs once
      // and lands as per-doc attribute columns; the keep decision and
      // its first-failed attribution are pure projections over the
      // sidecar — re-filtering under a new policy never re-runs a
      // tagger. doc_id < 40 re-enters as an exact copy so the dedup
      // attribute actually fires in the fixture.
      val base = Tables.documents(s, dir).select("doc_id", "text", "lang")
      val corpus = base.unionByName(
        base.filter(col("doc_id") < 40).withColumn("doc_id", col("doc_id") + 10000))
      val attrs = operators.Attributes.tag(corpus)
      operators.Attributes.decide(attrs, Seq(
        "exact_dup" -> !col("is_exact_dup"),
        "gopher" -> col("gopher_keep"),
        "quality" -> (col("quality") >= 0.5),
        "lang_mismatch" -> col("lang_match")))
        .select("doc_id", "n_tokens", "gopher_keep", "quality", "lang_pred",
          "lang_match", "is_exact_dup", "first_failed", "keep")
        .orderBy("doc_id")
    }),

    "pretrain_corpus_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val exactCopies = base.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000)
      val caseCopies = base.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 20000)
        .withColumn("text", upper(col("text")))
      val corpus = base.unionByName(exactCopies).unionByName(caseCopies)
      // NARROW-PROXY pipeline (r18, guide §8/§2.3): every decision this
      // pipeline makes — exact-dup key, fingerprint key, quality verdict,
      // mix stratum, packed token count — is a deterministic function of
      // the text computed ONCE in a single map pass; the text itself
      // never crosses an exchange (before: both dedup windows and the
      // mix window shuffled the full text column, and the mix-quota
      // branch re-executed the dedup lineage). The proxy is materialized
      // once and every downstream shuffle carries only
      // (doc_id, lang, h, fp, q, n_tokens). Values are expression-
      // identical to the previous inline forms, so the packed-bin output
      // (which never needed text) is row-identical — same oracle.
      // The checkpoint wins 1.04x at 16x rows and 1.35x at 64x (SCALE.md).
      val proxy = operators.LoopCheckpoint.transient(corpus.select(
        col("doc_id"), col("lang"),
        sha2(col("text"), 256).as("h"),
        TextAnalysis.fingerprintModUdf(col("text")).as("fp"),
        (TextAnalysis.qualityScore(col("text")) >= 0.5).as("q"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")), eager = false)
      // exact dedup: min doc_id per content hash (T-6 semantics)
      val exactKept = proxy
        .withColumn("keep", min("doc_id").over(Window.partitionBy("h")))
        .filter(col("doc_id") === col("keep")).drop("keep")
      // near-dup: min doc_id per normalized rolling fingerprint — catches
      // the case/whitespace twins the exact hash misses
      val fpKept = exactKept
        .withColumn("keep", min("doc_id").over(Window.partitionBy("fp")))
        .filter(col("doc_id") === col("keep")).drop("keep")
      // quality gate (floored score, identical rounding both engines)
      val quality = fpKept.filter(col("q"))
      // temperature-flattened mixing over survivors (two-phase, §Scale)
      val selected = operators.Scale.temperatureMixSample(quality, "lang")
        .select("doc_id", "n_tokens")
      // pack into ~512-token bins, 8 hash shards
      operators.Scale.packSequencesBy(selected, col("n_tokens"), budgetTokens = 512)
        .orderBy("shard", "bin_id")
    }),

    // ---- full RAG pipeline (§3.1; T-8/T-9 deterministic LLM stub)
    "rag_chat_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val chunks = Tables.embeddings(s, dir)
        .join(docs.select(col("doc_id").as("vec_id"), col("text")), "vec_id")
        .select("vec_id", "embedding", "text")
      val questions = docs.filter(col("doc_id") < 3)
        .select(
          (col("doc_id") + 1000).as("query_id"),
          (col("doc_id") % 5).as("user_id"),
          substring(col("text"), 1, 80).as("question"))
      operators.Rag.chatPipeline(questions, Tables.events(s, dir), chunks)
        .orderBy("query_id")
    }),

    "rag_chat_hybrid" -> ((s, dir) => {
      // §3.1 flagship with the round-5 retrieval stack in the retrieve
      // slot: BM25 lexical top-20 and cosine kNN top-20 over the same
      // chunk store, fused by RRF, fused top-2 stuffed into the context.
      // Same question/chunk fixtures as rag_chat_pipeline, so the two
      // flagships differ ONLY in retrieval — and the end-to-end hash
      // gate covers admission, history, reformulation, both retrieval
      // channels, fusion, stuffing, the answer envelope and the parse
      // ladder in one lineage.
      val docs = Tables.documents(s, dir)
      val chunks = Tables.embeddings(s, dir)
        .join(docs.select(col("doc_id").as("vec_id"), col("text")), "vec_id")
        .select("vec_id", "embedding", "text")
      val questions = docs.filter(col("doc_id") < 3)
        .select(
          (col("doc_id") + 1000).as("query_id"),
          (col("doc_id") % 5).as("user_id"),
          substring(col("text"), 1, 80).as("question"))
      operators.Rag.chatPipelineHybrid(questions, Tables.events(s, dir), chunks)
        .orderBy("query_id")
    }),

    // ---- ANN scale paths (T-4 approximations; exact form is the oracle)
    // ---- in-engine quality classifier. HASH-GREEN since r13: features
    // use the PORTABLE rolling mod-p hash (the MinHash/SimHash dual),
    // the output is the exact integer pre-sigmoid MARGIN (monotone in
    // quality, so the top-20 is unchanged), and the oracle SQL replays
    // the scoring path under the trained weights embedded as literals —
    // while the Verify gate keeps hard-pinning those weights BIT-EXACT
    // against the sequential reference (micro-quantized integer
    // aggregation makes the distributed trainer partition-order-free).
    "quality_model_score" -> ((s, dir) => {
      // Train target (lang='es') vs a hash-balanced sample of the rest
      // (curated-vs-sample is the standard classifier-filter setup —
      // balance keeps the bias from swamping the feature signal), score
      // EVERY doc, top-20 by margin with lang attached. The head is
      // es-ENRICHED, not pure: the driver's synthetic languages all
      // draw from one 31-word pool (only frequency/bigram profiles
      // differ), which caps separation — the Verify gate checks
      // balanced training accuracy, the honest signal on an
      // iso-vocabulary fixture.
      val docs = Tables.documents(s, dir)
      val w = operators.QualityModel.trainCached(
        docs.filter(col("lang") === "es").select("doc_id", "text"),
        docs.filter(col("lang") =!= "es" && pmod(hash(col("doc_id")), lit(5)) === 0)
          .select("doc_id", "text"),
        dir, nBuckets = 4096, iters = 300, lr = 300.0, portable = true)
      operators.QualityModel.scoreMargin(
          docs.select("doc_id", "text"), w, 4096, portable = true)
        .orderBy(col("margin_microsq").desc, col("doc_id"))
        .limit(20)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "margin_microsq", "lang")
        .orderBy(col("margin_microsq").desc, col("doc_id"))
    }),

    // ---- BPE tokenizer training. Two independent checks: the Verify
    // gate pins the distributed learner merge-for-merge against the
    // sequential in-driver reference, AND the generated DuckDB unroll
    // ([[BpeOracle.learnMergesSql]]) replays the argmax sequence step
    // for step — the pageRank discipline applied to a tokenizer.
    "bpe_learn_merges" -> ((s, dir) => {
      import s.implicits._
      operators.Bpe.learnMergesCached(
        Tables.documents(s, dir).select("doc_id", "text"), dir, nMerges = 20)
        .zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "left", "right", "pair_count")
    }),

    "bpe_learn_merges_inc" -> ((s, dir) => {
      // The INCREMENTAL pair-count trainer under the driver's hard
      // signal (r10 next #7): the sf corpora sit below the size
      // dispatch's recountBelow, so without this entry the maintained-
      // pair-table path (Bpe.learnMergesIncremental) would only ever run
      // in specs and evidence legs. Forced here and equality-gated
      // IN-QUERY against the recount result (which Verify separately
      // pins merge-for-merge to the sequential reference) — a divergence
      // fails the row rather than returning wrong merges. AQE off for
      // the loop only, the Verify 200-merge gate's measured discipline:
      // at toy frame sizes each AQE stage materialization is its own
      // job and the loop's joins are broadcast/tiny, so adaptivity buys
      // nothing; restored right after.
      import s.implicits._
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val aqeWas = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val inc =
        try operators.Bpe.learnMergesIncrementalCached(docs, dir, nMerges = 20)
        finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
      val rec = operators.Bpe.learnMergesCached(docs, dir, nMerges = 20)
      require(inc == rec,
        "bpe_learn_merges_inc: incremental learner diverged from the recount result")
      inc.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "left", "right", "pair_count")
    }),

    "bpe_encode_stats" -> ((s, dir) => {
      // Per-document subword counts under the learned table: the greedy
      // merge loop runs once per DISTINCT word; the corpus gets its
      // counts back through a word equi-join.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = operators.Bpe.learnMergesCached(docs, dir, nMerges = 20)
      operators.Bpe.encodeStats(docs, merges.map(m => (m._1, m._2)))
        .orderBy("doc_id")
    }),

    "bpe_encode_corpus" -> ((s, dir) => {
      // Token-id corpus emit — the artifact a pretraining pipeline
      // ships: per-doc id arrays under the learned table (ids: sorted
      // alphabet first, merge products in learn order), encoded map-only
      // with a per-executor word memo. Oracle-checked: the generated
      // DuckDB unroll replays the greedy encode (lowest-rank-present
      // recursion, [[BpeOracle.encodeCorpusSql]]); Verify additionally
      // hard-gates the id streams token-for-token against a sequential
      // encode replay.
      // The raw array column stays the OPERATOR's product
      // ([[operators.Bpe.encodeCorpus]]); the registry projection is
      // driver-comparable SCALARS — the r10 driver comparator cannot
      // sort/factorize an array column (pandas lexsort on ndarray cells),
      // so the id stream rides along as its exact CSV rendering, which
      // the Verify gate parses back and checks token for token.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = operators.Bpe.learnMergesCached(docs, dir, nMerges = 20)
        .map(m => (m._1, m._2))
      val ids = operators.Bpe.vocabIdsCached(docs, dir, merges)
      operators.Bpe.encodeCorpus(docs, merges, ids)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), ",")
            .as("ids_csv"))
        .orderBy("doc_id")
    }),

    "bpe_pack_pipeline" -> ((s, dir) => {
      // The closed tokenizer→packing loop: train BPE, encode the corpus
      // to token ids, pack training bins by the REAL token counts the
      // tokenizer produced — not the whitespace proxy. Oracle-checked
      // via the generated unroll ([[BpeOracle.packPipelineSql]]);
      // Verify additionally hard-gates the bins against a sequential
      // pack replay over sequentially-encoded counts.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = operators.Bpe.learnMergesCached(docs, dir, nMerges = 20)
        .map(m => (m._1, m._2))
      val ids = operators.Bpe.vocabIdsCached(docs, dir, merges)
      val encoded = operators.Bpe.encodeCorpus(docs, merges, ids)
      operators.Scale.packSequencesBy(encoded, col("n_tokens"), budgetTokens = 256)
        .orderBy("shard", "bin_id")
    }),

    "bpe_pack_manifest" -> ((s, dir) => {
      // the loader-facing twin of bpe_pack_pipeline: per-document
      // (shard, bin, starting token offset) placement under REAL BPE
      // token counts — what a training data loader consumes to slice
      // fixed-budget sequences out of the packed corpus. Oracle-checked
      // via the generated unroll ([[BpeOracle.packManifestSql]]);
      // Verify additionally replays the placement sequentially.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = operators.Bpe.learnMergesCached(docs, dir, nMerges = 20)
        .map(m => (m._1, m._2))
      val ids = operators.Bpe.vocabIdsCached(docs, dir, merges)
      val encoded = operators.Bpe.encodeCorpus(docs, merges, ids)
      operators.Scale.packManifestBy(encoded, col("n_tokens"), budgetTokens = 256)
        .orderBy("shard", "bin_id", "doc_id")
    }),

    // ---- Unigram-LM tokenizer training (SentencePiece-style, Kudo
    // 2018) — the second tokenizer family next to BPE. The EM + lattice
    // prune TRAINING has no SQL form (data-dependent floating-point
    // iteration); Verify hard-gates the distributed trainer piece-for-
    // piece / micro-for-micro against the sequential in-driver
    // reference, including the log-likelihood trace. Every
    // data-dependent float crossing a shuffle is micro-quantized per
    // word so the aggregation is an exact integer sum — that is what
    // makes the equality gate possible. The trained PIECE TABLE and the
    // micro-score Viterbi ENCODE are then DuckDB-oracled via generated
    // SQL ([[graft.UnigramOracle]] — the BpeOracle/quality-model
    // discipline): the piece table rides as literals, the encode DP is
    // a recursive BIGINT CTE, so both rows hash-match cross-engine.
    "unigram_train" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val (model, _) = operators.Unigram.trainCached(
        docs, dir, targetVocab = 150, seedSize = 400, maxPieceLen = 4)
      model.scoreMicros.sortBy { case (p, m) => (-m, p) }
        .zipWithIndex
        .map { case ((p, m), i) => (i + 1, p, m) }
        .toDF("rank", "piece", "score_micros")
    }),

    "unigram_encode_corpus" -> ((s, dir) => {
      // Viterbi token-id corpus under the trained unigram model —
      // map-only with a per-executor segmentation memo, the
      // bpe_encode_corpus twin (same driver-comparable CSV projection
      // of the id stream; Verify parses it back and replays
      // sequentially).
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val (model, _) = operators.Unigram.trainCached(
        docs, dir, targetVocab = 150, seedSize = 400, maxPieceLen = 4)
      operators.Unigram.encodeCorpus(docs, model)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), ",")
            .as("ids_csv"))
        .orderBy("doc_id")
    }),

    // ---- §4 Z-order data-skipping layout: lineitem re-clustered on the
    // Morton key of (l_shipdate, l_extendedprice), then scanned with a
    // conjunctive 2-D range — the query shape a single-column date sort
    // cannot prune on both sides of. The require asserts the footer
    // stats actually skipped (rows materialized from parquet stay well
    // under the table), so a silently non-pruning layout fails the
    // round instead of passing as a slow full scan. Fully
    // oracle-checked: the layout is a row-identical re-clustering, so
    // DuckDB over the ORIGINAL lineitem parquet is the exact mirror.
    "layout_zorder_scan" -> ((s, dir) => {
      // The timestamp z-dimension is cast to TimestampType before the
      // layout write: TIMESTAMP_NTZ (which the fixture ships) is not in
      // ParquetFilters' conversion table, so its predicates never reach
      // the parquet reader and can skip nothing. Session tz is pinned
      // UTC at every entry point, so the cast is value-lossless; Layout
      // itself pins TIMESTAMP_MICROS output (INT96, the Spark default,
      // carries no usable stats).
      val li = Tables.lineitem(s, dir)
        .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      val path = operators.Layout.zOrderedLayout(s, li,
        Seq("l_shipdate", "l_extendedprice"),
        new java.io.File(sys.props("java.io.tmpdir"), "graft_zorder_layouts").getAbsolutePath,
        nFiles = 64,
        fingerprintCols = Seq("l_orderkey", "l_linenumber", "l_extendedprice"))
      def q = s.read.parquet(path)
        .filter(col("l_shipdate").between(
          lit("1997-01-01").cast("timestamp"), lit("1998-06-30").cast("timestamp")) &&
          col("l_extendedprice").between(20000.0, 40000.0))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      val total = li.count()
      val made = operators.Layout.scanRowsMaterialized(q)
      // ~21% x ~19% box over a 64-file z-layout touches ~15% of rows;
      // a full scan (no skipping) would put this at 100%.
      require(made * 100 <= total * 35,
        s"layout_zorder_scan: z-layout materialized $made of $total rows — footer-stats " +
          "skipping did not fire")
      q.orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.lshTopK(qs, emb, k = 2, nBits = 8, probeBits = 2)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_multiprobe" -> ((s, dir) => {
      // Query-adaptive multi-probe (Lv et al. 2007): 16 margin-ordered
      // probes instead of the 37-bucket Hamming-2 ball — recall floor
      // HIGHER than the blind tier at under half the bucket reads
      // (Verify gates both tiers side by side).
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.lshTopKAdaptive(qs, emb, k = 2, nBits = 8, nProbes = 16)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_probe1" -> ((s, dir) => {
      // ann_lsh_topk's narrow probe: the home bucket plus every
      // single-bit flip (9 buckets at nBits=8 instead of the Hamming-2
      // ball's 37), hash-checked by the same static murmur replay.
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.lshTopK(qs, emb, k = 2, nBits = 8, probeBits = 1)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_partitioned_adaptive" -> ((s, dir) => {
      // Adaptive probing where it actually pays: on the
      // signature-partitioned layout the probe count IS the partition-
      // directory read count, so 16 margin-ordered probes read 16 of
      // 256 directories where the Hamming-2 ball reads 37. Results are
      // spec-pinned identical to the in-memory adaptive form; the
      // require asserts genuine PartitionFilters pruning (probed
      // directory count == union of per-query probe sets).
      val emb = Tables.embeddings(s, dir)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.signaturePartitionedLayout(s, emb, base, nBits = 8)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val out = operators.Ann.lshTopKPartitionedAdaptive(
        s, layout, qs, k = 2, nBits = 8, nProbes = 16)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
      val expectedDirs = qs.select("q_embedding").collect()
        .flatMap(r => operators.Ann.adaptiveProbes(r.getSeq[Float](0), 8, 16))
        .distinct.length
      val scanned = out.queryExecution.executedPlan.toString
      require(scanned.contains("PartitionFilters"),
        "ann_lsh_partitioned_adaptive: no PartitionFilters in the scan")
      require(expectedDirs <= 5 * 16,
        s"ann_lsh_partitioned_adaptive: probe union $expectedDirs exceeds budget")
      out
    }),

    "ann_lsh_partitioned" -> ((s, dir) => {
      // The 100 TB ANN layout as an oracle-checked query: the corpus is
      // written PARTITIONED BY its murmur LSH signature to a scratch
      // dir, then the probe set becomes a STATIC isin filter on the
      // partition column — genuine PartitionFilters pruning (the scan
      // touches only probed signature directories; spec-asserted in
      // AnnSpec) — followed by the exact cosine rerank. Pruning is
      // physical, not semantic, so the result hash-matches the same
      // SQL mirror as ann_lsh_probe1.
      // Build-once index: the layout write happens on the first call per
      // corpus content (fingerprint-keyed path) and is reused after —
      // probes pay probe cost, not the one-time 256-directory write.
      val emb = Tables.embeddings(s, dir)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.signaturePartitionedLayout(s, emb, base, nBits = 8)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.lshTopKPartitioned(s, layout, qs, k = 2, nBits = 8, probeBits = 1)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_join" -> ((s, dir) => {
      // ANN as a JOIN at the LSH tier (r16): the distributed-queries
      // form over the murmur signature-partitioned layout — queries
      // never collect OR broadcast; Hamming-2 probe signatures explode
      // per row and candidates come from the sig equi-join (both sides
      // shuffle by sig — the right plan when the query side is itself
      // corpus-sized). Hash-checked via the static murmur mirror
      // (planes are pure hash constants — no captures needed); Verify
      // equality-gates it against the in-memory lshTopK row for row.
      val emb = Tables.embeddings(s, dir)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.signaturePartitionedLayout(s, emb, base, nBits = 8)
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.lshJoin(s, layout, qs, k = 5, nBits = 8, probeBits = 2)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_join_adaptive" -> ((s, dir) => {
      // QUERY-ADAPTIVE multi-probe in the JOIN tier (r17 verdict next
      // #3): each of the 50 distributed query rows probes its 16 best
      // buckets by hyperplane-margin flip distance (Lv et al., VLDB
      // 2007) instead of the 37-bucket Hamming-2 ball — the same
      // salting + pruning guards as `ann_lsh_join`, an EXPLICIT probe
      // budget per query (recall-per-probe control for corpus-vs-corpus
      // retrieval), and hash-checked end-to-end via the static murmur
      // multiprobe replay (the probe set and rank tail are shared code
      // with `ann_lsh_multiprobe`). Verify additionally measures recall
      // vs the exact brute force and asserts the adaptive join beats
      // the fixed Hamming-1 ball at under twice its probes.
      val emb = Tables.embeddings(s, dir)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.signaturePartitionedLayout(s, emb, base, nBits = 8)
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.lshJoinAdaptive(s, layout, qs, k = 5, nBits = 8, nProbes = 16)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // Hash-checked recall@10 at the Hamming-1 and Hamming-2 probe balls.
    "ann_recall" -> ((s, dir) => annRecall(s, dir, probeBits = 1)),
    "ann_recall_murmur" -> ((s, dir) => annRecall(s, dir, probeBits = 2)),

    "ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      // Cached build: the index is constructed once per corpus and probed
      // by every subsequent invocation (the production IVF lifecycle).
      val (centroids, assigned) =
        operators.Ann.buildIvfCached(s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      operators.Ann.ivfTopK(qs, assigned, centroids, k = 2, nProbe = 3)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_join" -> ((s, dir) => {
      // ANN as a JOIN on the EXACT-scoring IVF tier (r15 verdict #2):
      // the distributed-queries form of the cell probe — queries never
      // collect to the driver; probe cells explode per row and
      // candidates come from the cell equi-join over the build-once
      // cell-partitioned layout, exact codegen cosine within the probe.
      // This is the corpus-vs-corpus shape (near-dup sweeps, batch
      // retrieval) at the tier users reach first; Verify hard-gates
      // EXACT row equality vs the driver-side ivfTopKPartitioned at the
      // same parameters, and the AnnOracle mirror replays the probe.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) =
        operators.Ann.buildIvfCached(s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val layout = operators.Ann.cellLayout(s, emb,
        new java.io.File(sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath,
        centroids)
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfJoin(s, layout, qs, centroids, k = 5, nProbe = 3)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_join_salted" -> ((s, dir) => {
      // `ann_ivf_join` with the hot-bucket salting guard GENUINELY
      // FIRING (r17; the r16 verdict noted no registry query exercised
      // a skewed bucket): hotCellCap = 32 sits below every cell's
      // occupancy at these SFs (≥ ~60 rows/cell at sf0.001+), so every
      // probed cell splits into salt sub-buckets and the (cell, salt)
      // exchange is the plan that produced these rows. Salting is
      // row-identical by construction — the guard redistributes, never
      // caps — so the DuckDB mirror is the SAME IVF probe replay as
      // `ann_ivf_join`, and the hash match is the end-to-end proof of
      // that identity (stronger than the spec's equality pin: the
      // oracle never saw a salt). The require asserts the hot set is
      // genuinely non-empty at the running SF (scale-free: cells hold
      // ≥ corpus/nCells ≫ 32 rows at every shipped SF).
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) =
        operators.Ann.buildIvfCached(s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val layout = operators.Ann.cellLayout(s, emb,
        new java.io.File(sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath,
        centroids)
      require(
        operators.Ann.hotKeys(s.read.parquet(layout), "cell",
          hotKeyCap = 32, maxSalt = 8).limit(1).count() > 0,
        "ann_ivf_join_salted: no cell exceeds the cap - the guard would not fire")
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfJoin(s, layout, qs, centroids, k = 5, nProbe = 3,
        hotCellCap = 32, maxSalt = 8)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_join_adaptive" -> ((s, dir) => {
      // QUERY-ADAPTIVE probe budget in the IVF join tier (r18 — the
      // IVF twin of `ann_lsh_join_adaptive`): each of the 50
      // distributed query rows probes its best-first cells only while
      // the cell's cosine distance stays within ratio × the best
      // cell's, capped at nProbeMax — dynamic nProbe, cut inside the
      // codegen kernel, so an easy query pays one probe and a boundary
      // query spends the cap where recall is at risk. Constants live in
      // Ann.IvfJoinAdaptive* (shared with the AnnOracle mirror's
      // rank+predicate replay and the Verify budget/recall gate — the
      // AnnRulePoints discipline). Same sidecar salting + probed-cell
      // pruning guards as `ann_ivf_join`; hash-checked end to end via
      // the captured-centroid replay.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) =
        operators.Ann.buildIvfCached(s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val layout = operators.Ann.cellLayout(s, emb,
        new java.io.File(sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath,
        centroids)
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfJoinAdaptive(s, layout, qs, centroids, k = 5)
        .withColumn("sim", TextAnalysis.floorScale(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    "ann_rule_topk" -> ((s, dir) => {
      // §4 ANN-aware top-k OPTIMIZER RULE (r9 next #3): the query below
      // is the NAIVE brute-force spelling — scan the corpus parquet,
      // sort by cosine, limit — with no operator-tier call anywhere.
      // The registered AnnTopKRewrite rule rewrites its PLAN into the
      // IVF cell-partitioned layout probe; the require below asserts the
      // scan actually became PartitionFilters-pruned, so a silently
      // non-firing rule fails the round rather than passing as a slow
      // full scan. Since r15 the probe RESULT is also hash-checked (the
      // AnnOracle replay of the same 5-cell probe); Verify additionally
      // floors recall vs the exact brute force.
      GraftExtensions.register(s)
      val embPath = s"$dir/embeddings.parquet"
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) =
        operators.Ann.buildIvfCached(s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val layout = operators.Ann.cellLayout(s, emb,
        new java.io.File(sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath,
        centroids)
      // Probe budget: probe coverage — not PQ quantization, absent
      // here — is the only recall loss of this exact-cosine probe. On
      // the isotropic synthetic corpus expected recall ≈ coverage
      // (5/8 = 0.625; no cluster structure for cells to exploit):
      // honest-probe measurements 1.000 @sf0.01 / 0.727 @sf0.1 at k=11,
      // Verify floor 0.55 (between measured and half of measured).
      plans.AnnTopKRewrite.register(embPath,
        plans.AnnTopKRewrite.RegisteredLayout(layout, centroids, nProbe = 5))
      // Registration is scoped to THIS query: the probe result is
      // materialized while registered, then the layout is unregistered in
      // a finally — a leaked registration would silently rewrite any
      // later naive cosine top-k over the same path to an approximate
      // probe (the r10 advice's global-state leak).
      try {
        val q = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val df = s.read.parquet(embPath)
          .select(col("vec_id"),
            expressions.VectorExpressions.cosineSim(typedLit(q), col("embedding")).as("sim"))
          .orderBy(desc("sim"), asc("vec_id"))
          .limit(plans.AnnRulePoints.K)
        val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
        require(leaves.contains("PartitionFilters") && leaves.contains("cell"),
          "ann_rule_topk: AnnTopKRewrite did not rewrite the scan into the layout probe")
        import s.implicits._
        // Collect from THIS df — the plan the require just audited — and
        // floor driver-side (same IEEE ops as TextAnalysis.floorScale).
        // Wrapping df in another .select re-plans, and the collapsed
        // Project lands between LocalLimit and Sort, so the rule's
        // Limit(Sort(...)) pattern no longer matches and the collected
        // rows silently came from the UNREWRITTEN full scan — invisible
        // at sf0.01 where probe recall is 1.0; the r15 ANN oracle's
        // sf0.1 hash mismatch caught it (the honest probe there
        // measures 0.727, the calibration figure above — the full scan
        // hashed as if recall were 1.0).
        df.collect()
          .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1000000) / 1000000))
          .toSeq.toDF("vec_id", "sim")
      } finally plans.AnnTopKRewrite.unregister(embPath)
    }),

    "ann_rule_ivfpq" -> ((s, dir) => {
      // The optimizer rule's QUANTIZED tier (r15 verdict #6): the same
      // naive brute-force cosine top-k spelling, rewritten into a
      // two-stage probe of the registered IVF-PQ layout — ADC over-fetch
      // of k*overfetch candidate ids from the probed cells' m-byte codes
      // (PartitionFilters-pruned scan), then the ORIGINAL projection/
      // sort/limit exact-rerank those candidates through a broadcast
      // semi join on vec_id. At 100 TB this is the layout users keep
      // hot: the probe streams a few MB of codes; the float corpus is
      // touched only for the candidate rows. The require asserts the
      // pruned PQ-layout scan is genuinely in the executed plan (the
      // ann_rule_topk discipline — a silently non-firing rule fails the
      // round); the AnnOracle mirror replays ADC coarse + cosine rerank
      // move for move, and Verify floors recall vs the exact brute
      // force.
      GraftExtensions.register(s)
      val embPath = s"$dir/embeddings.parquet"
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) =
        operators.Ann.buildIvfCached(s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLayout(s, emb, base, centroids, books)
      plans.AnnTopKRewrite.registerPq(embPath,
        plans.AnnTopKRewrite.RegisteredPqLayout(
          // Operating point from the r17 sweep (the AnnRuleSweep main,
          // now kept only in git history; @sf0.1, k=11): ADC ordering on the isotropic fixture is weakly
          // informative (m=8/kStar=16 on 64-dim near-random data), so
          // the over-fetch — the CHEAP stage: candidates only widen the
          // broadcast semi join — does the quality work. Measured
          // recall: (5,4) 0.273 / (5,32) 0.636 / (5,64) 0.727 = the
          // nProbe=5 coverage bound / (7,32) 0.636 / (7,64) 0.818,
          // with (7,64) also the fastest point (0.24 s vs 0.44 s at
          // the old (5,4)). nProbe=7 of 8 reads 87.5% of the m-byte
          // CODE partitions ≈ 2.7% of the float corpus's bytes at
          // m=8/dim=64 — the PQ tier's probe budget is cheap precisely
          // because codes are small, which is why it can out-probe the
          // exact tier's nProbe=5. The (nProbe, overfetch, k, gate)
          // constants are SHARED with the AnnOracle mirror and the
          // Verify gate via plans.AnnRulePoints (r17 ADVICE #4).
          layout, centroids, books,
          nProbe = plans.AnnRulePoints.PqNProbe,
          overfetch = plans.AnnRulePoints.PqOverfetch))
      try {
        val q = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val df = s.read.parquet(embPath)
          .select(col("vec_id"),
            expressions.VectorExpressions.cosineSim(typedLit(q), col("embedding")).as("sim"))
          .orderBy(desc("sim"), asc("vec_id"))
          .limit(plans.AnnRulePoints.K)
        val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
        require(leaves.contains("PartitionFilters") && leaves.contains("ivfpq_"),
          "ann_rule_ivfpq: AnnTopKRewrite did not rewrite the scan into the PQ-layout probe")
        import s.implicits._
        // Collect from THIS df — the plan the require audited (the r15
        // re-plan lesson) — and floor driver-side.
        df.collect()
          .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1000000) / 1000000))
          .toSeq.toDF("vec_id", "sim")
      } finally plans.AnnTopKRewrite.unregisterPq(embPath)
    }),

    "ann_rule_ivfpq_residual" -> ((s, dir) => {
      // The optimizer rule's RESIDUAL (IVFADC) tier (r17 verdict next
      // #4): same naive brute-force spelling, rewritten into a
      // two-stage probe of the registered RESIDUAL-encoded layout —
      // codes quantize x − centroid(cell), so the ADC coarse stage
      // orders candidates by distance to the full reconstruction
      // centroid + residual-decode, the strictly better ordering
      // ann_ivfpq_residual_topk measures — then the preserved
      // projection/sort/limit exact-rerank through the broadcast semi
      // join. The per-probed-cell LUTs ride the candidate plan as a
      // codegen'd CASE over the cell partition column. Constants
      // (nProbe, overfetch, k, gate) shared with the AnnOracle mirror
      // and the Verify gate via plans.AnnRulePoints; the operating
      // point is the r18 measurement @sf0.1 from the AnnRuleSweep main,
      // now kept only in git history (see AnnRulePoints' comment for
      // the frontier).
      GraftExtensions.register(s)
      val embPath = s"$dir/embeddings.parquet"
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) =
        operators.Ann.buildIvfCached(s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksResidualCached(
        emb, cacheKey = dir, centroids, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqResidualLayout(s, emb, base, centroids, books)
      plans.AnnTopKRewrite.registerPq(embPath,
        plans.AnnTopKRewrite.RegisteredPqLayout(
          layout, centroids, books,
          nProbe = plans.AnnRulePoints.PqResNProbe,
          overfetch = plans.AnnRulePoints.PqResOverfetch,
          residual = true))
      try {
        val q = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val df = s.read.parquet(embPath)
          .select(col("vec_id"),
            expressions.VectorExpressions.cosineSim(typedLit(q), col("embedding")).as("sim"))
          .orderBy(desc("sim"), asc("vec_id"))
          .limit(plans.AnnRulePoints.K)
        val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
        require(leaves.contains("PartitionFilters") && leaves.contains("ivfpqr_"),
          "ann_rule_ivfpq_residual: AnnTopKRewrite did not rewrite the scan into the residual-layout probe")
        import s.implicits._
        df.collect()
          .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1000000) / 1000000))
          .toSeq.toDF("vec_id", "sim")
      } finally plans.AnnTopKRewrite.unregisterPq(embPath)
    }),

    "ann_quantized_topk" -> ((s, dir) => {
      // int8-quantized cosine scan: the 4×-smaller code table is what
      // streams at scale; integer dots are exact, so fully oracle-checked.
      val quantized = operators.Ann.quantizeInt8(Tables.embeddings(s, dir))
      operators.Ann.quantizedTopK(quantized, nQueries = 5, k = 2)
        .orderBy("query_id", "rank")
    }),

    "ann_pq_adc_topk" -> ((s, dir) => {
      // Product quantization + asymmetric-distance scan: corpus streams
      // as m-byte codes (16-32x smaller than float at production m/k*),
      // queries stay full precision. Fixed literal codebooks keep encode
      // AND scoring bit-exact against the SQL oracle; PqCodebooks is the
      // single source of truth both sides mirror.
      operators.Ann.pqAdcTopK(
        Tables.embeddings(s, dir), PqCodebooks, nQueries = 3, k = 10)
        .orderBy("query_id", "rank")
    }),

    "ann_pq_trained_topk" -> ((s, dir) => {
      // TRAINED-codebook PQ: per-subspace euclidean Lloyd on the
      // deterministic hash sample, then the flat ADC scan. m=8 × dsub=8
      // covers the full 64-dim embedding, so ADC approximates the true
      // euclidean distance (not a prefix's) and the trained books are
      // shared with ann_ivfpq_topk via the fingerprint memo. The scan
      // runs through the persisted IVF-PQ layout at FULL probe — spec-
      // pinned row-identical to the flat in-memory ADC scan (AnnSpec) —
      // so the corpus is ENCODED ONCE per snapshot instead of per call;
      // only the m-byte codes stream. k-means is not SQL-mirrorable, so
      // like ann_ivf_topk this records rows-only; recall vs the exact
      // euclidean top-k is hard-gated in Verify, and the training
      // properties (determinism, monotone quantization error, recall on
      // clustered data) are spec-gated in AnnSpec.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqTopK(s, layout, qs, centroids, books, k = 10, nProbe = 8)
        .orderBy("query_id", "rank")
    }),

    "ann_opq_adc_topk" -> ((s, dir) => {
      // OPQ (r10 next #3): a learned ORTHOGONAL rotation before the
      // subspace split (Ge et al. 2013), trained by alternating
      // sample-local Lloyd with the Procrustes polar update — the
      // standard lever on the ADC recall/cost frontier at overfetch=1,
      // where plain PQ bottomed at 0.68–0.76 in the recorded sweep.
      // The scan is the SAME flat ADC machinery over the rotated corpus
      // (rotation is one map-only pass; euclidean geometry is
      // rotation-invariant, so recall is graded against the
      // original-space exact top-k). Rows-only like every trained tier;
      // Verify hard-gates recall at the trained-PQ floor and prints the
      // side-by-side with plain PQ.
      val emb = Tables.embeddings(s, dir)
      val (rot, books) = operators.Ann.trainOpqCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16)
      operators.Ann.pqAdcTopK(
        operators.Ann.rotated(emb, rot), books, nQueries = 3, k = 10)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_opq_topk" -> ((s, dir) => {
      // OPQ composed with the IVF-PQ layout — the production shape of
      // the rotation tier: rotate (one map-only pass) → IVF cells built
      // on the ROTATED corpus → PQ codes partitioned by cell → probe
      // with rotated queries. Euclidean (and cosine) geometry is
      // rotation-invariant, so recall grades against the SAME
      // original-space exact top-k as the un-rotated tiers; the 10⁶
      // evidence (`ann_opq` in SCALE_EVIDENCE.json) records the
      // frontier shift — 0.84–0.88 vs plain 0.68–0.76 at overfetch=1,
      // equal probe cost. Rows-only (trained); Verify floors recall at
      // the IVF-PQ tier's threshold with the plain side-by-side.
      val emb = Tables.embeddings(s, dir)
      val (rot, books) = operators.Ann.trainOpqCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16)
      val embRot = operators.Ann.rotated(emb, rot)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, embRot, cacheKey = s"$dir|opq", nCells = 8, maxIter = 3)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLayout(s, embRot, base, centroids, books)
      val qs = embRot.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqTopK(s, layout, qs, centroids, books, k = 10, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_topk" -> ((s, dir) => {
      // IVF-PQ: the composed 100 TB ANN shape — PQ codes persisted
      // PARTITIONED BY IVF cell (build-once, fingerprint-keyed layout),
      // probe cells computed driver-side from the tiny centroid set
      // (static isin → genuine PartitionFilters pruning), ADC scan over
      // ONLY the probed cells' m-byte codes. Full-probe == flat-ADC is
      // spec-pinned (AnnSpec); recall vs the exact euclidean top-k is
      // hard-gated in Verify alongside the other approximate queries.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqTopK(s, layout, qs, centroids, books, k = 10, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_rerank" -> ((s, dir) => {
      // Two-stage IVF-PQ (the production refinement): ADC over-fetches
      // k*overfetch candidates from the probed cells of the SAME
      // fingerprint-keyed layout ann_ivfpq_topk reads, then an exact
      // float euclidean rerank of only those candidates picks the final
      // top-k. ADC ordering errors inside the probe are fully corrected,
      // so recall is bounded only by probe coverage — hard-gated in
      // Verify ABOVE the plain IVF-PQ gate; full-probe + full-over-fetch
      // == exact euclidean top-k is spec-pinned (AnnSpec).
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqTopKReranked(
        s, layout, qs, emb, centroids, books, k = 10, nProbe = 3, overfetch = 4)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_local_topk" -> ((s, dir) => {
      // LOPQ-style per-cell residual books (Kalantidis & Avrithis 2014):
      // every IVF cell trains its own m x k* books via mapGroups (cells
      // train in parallel), so the code budget adapts to each cell's
      // local residual distribution — the standard low-overfetch recall
      // lever after OPQ. Query-side LUTs are built per (query, probed
      // cell) with that cell's books; recall hard-gated in Verify
      // side-by-side with the global-residual tier.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainLocalPqCodebooksCached(
        emb, cacheKey = dir, centroids, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLocalLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqLocalTopK(
        s, layout, qs, centroids, books, k = 10, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_local_rerank" -> ((s, dir) => {
      // The locally-optimized IVFADC+refine pipeline: per-cell codes
      // order candidates, exact euclidean refinement inside the probe.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainLocalPqCodebooksCached(
        emb, cacheKey = dir, centroids, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLocalLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqLocalTopKReranked(
        s, layout, qs, emb, centroids, books, k = 10, nProbe = 3, overfetch = 4)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_residual_topk" -> ((s, dir) => {
      // Residual-encoded IVF-PQ (IVFADC proper, Jégou et al. TPAMI
      // 2011): codes quantize x − centroid(cell) under books trained on
      // the residual distribution, and the query-side ADC tables are
      // built from q − centroid(cell) per probed cell — the scored
      // distance is exactly ‖q − full reconstruction‖². Residuals
      // concentrate the code budget on the variance the coarse cells
      // left behind; spec-pinned against a reconstruction brute force
      // and a residual-beats-raw quantization-error check (AnnSpec);
      // recall hard-gated in Verify with its siblings.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksResidualCached(
        emb, cacheKey = dir, centroids, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqResidualLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqResidualTopK(
        s, layout, qs, centroids, books, k = 10, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_join" -> ((s, dir) => {
      // ANN as a JOIN: the distributed-queries form of the IVF-PQ probe
      // for corpus-vs-corpus shapes (near-dup sweeps, nightly batch
      // retrieval) — queries never collect to the driver; probe cells
      // explode per row, the per-query ADC lookup table is built once
      // per query row, and candidates come from the cell equi-join.
      // Verify hard-gates EXACT row equality vs the driver-side
      // ivfPqTopK at the same parameters.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqJoin(s, layout, qs, centroids, books, k = 5, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_join_adaptive" -> ((s, dir) => {
      // The PQ tier of the adaptive join family (r18): same dynamic-
      // nProbe kernel cut and operating point as `ann_ivf_join_adaptive`
      // (Ann.IvfJoinAdaptive*), scoring by probed ADC — at 100 TB this
      // is the tier that streams (codes are m bytes/vector), so
      // concentrating the probe budget on boundary queries cuts the
      // dominant LUT-scan cost directly. Mirror shares the adaptive
      // probe CTE with the exact tier; hash-checked end to end.
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqJoinAdaptive(s, layout, qs, centroids, books, k = 5)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_residual_rerank" -> ((s, dir) => {
      // The complete IVFADC-with-refinement pipeline: coarse cells →
      // residual codes → per-cell ADC over-fetch → exact euclidean
      // rerank. Residual codes order candidates better at the same byte
      // budget; the rerank removes the quantization error that remains
      // inside the probe. Hard-gated in Verify at the rerank tier's
      // floor (recall ceiling is probe coverage, like its raw-code
      // sibling).
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksResidualCached(
        emb, cacheKey = dir, centroids, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val layout = operators.Ann.ivfPqResidualLayout(s, emb, base, centroids, books)
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqResidualTopKReranked(
        s, layout, qs, emb, centroids, books, k = 10, nProbe = 3, overfetch = 4)
        .orderBy("query_id", "rank")
    }),

    "ann_ivfpq_incremental" -> ((s, dir) => {
      // The index MAINTENANCE lifecycle as a query: a versioned IVF-PQ
      // root built as base write + batch append (marker-gated, so
      // re-runs converge on the same tree with every write skipped) +
      // tombstone delete, probed through the same partition-pruned ADC
      // scan. Verify hard-gates EXACT row equality against a one-shot
      // rebuild over (corpus − victims) with the same index — the
      // append/delete path may never drift from the rebuild semantics
      // (also spec-pinned incl. compaction, AnnSpec).
      val emb = Tables.embeddings(s, dir)
      val (centroids, _) = operators.Ann.buildIvfCached(
        s, emb, cacheKey = dir, nCells = 8, maxIter = 3)
      val books = operators.Ann.trainPqCodebooksCached(
        emb, cacheKey = dir, m = 8, dsub = 8, kStar = 16, maxIter = 5)
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath
      val root = operators.Ann.ivfPqVersionedRoot(emb, base, centroids, books)
      // standing corpus vs a later ingest batch: deterministic hash split
      operators.Ann.ivfPqAppendBatch(s, root,
        emb.filter(pmod(hash(col("vec_id")), lit(5)) =!= 0), centroids, books, "base")
      operators.Ann.ivfPqAppendBatch(s, root,
        emb.filter(pmod(hash(col("vec_id")), lit(5)) === 0), centroids, books, "b1")
      operators.Ann.ivfPqDeleteByKey(s, root,
        emb.filter(col("vec_id").isin(7L, 11L)).select("vec_id"))
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.Ann.ivfPqTopKVersioned(
        s, root, qs, centroids, books, k = 10, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    "ann_quantized_rerank" -> ((s, dir) => {
      // Two-stage production path: int8 coarse scan over-fetches 4k
      // candidates, float cosine reranks only those — both stages
      // deterministic, so the full pipeline is oracle-checked.
      val emb = Tables.embeddings(s, dir)
      operators.Ann.quantizedTopKReranked(
        operators.Ann.quantizeInt8(emb), emb, nQueries = 5, k = 2, overfetch = 4)
        .orderBy("query_id", "rank")
    }),

    // ---- T-11 markdown strip + corpus length distribution stats
    "t11_markdown_strip" -> ((s, dir) => {
      // Synthesize markdown from document columns, then strip it — the
      // regex chain is lookaround-free so Java regex (Spark) and RE2
      // (DuckDB) agree and the query stays oracle-checkable.
      val md = concat(
        lit("# "), col("source"), lit("\n**"), substring(col("text"), 1, 30),
        lit("** and `"), col("lang"), lit("` [link](http://example.com/"),
        col("doc_id"), lit(")\n- item\n> quote"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.stripMarkdown(md).as("plain"))
        .orderBy("doc_id")
    }),

    "text_length_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg("n_chars"), 4).as("mean_chars"),
          round(stddev_samp(col("n_chars")), 4).as("sd_chars"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
          round(expr("percentile(n_chars, 0.99)"), 4).as("p99"))
    }),

    // ---- set operations, cube, min-per-group (§2.7 + grouping-set
    //      coverage from Catalyst built-ins)
    "set_ops_users" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      def usersOf(t: String, minValue: Double) =
        e.filter(col("event_type") === t && col("value") > minValue)
          .select("user_id").distinct()
      usersOf("click", 100.0).intersect(usersOf("purchase", 100.0))
        .except(usersOf("error", 300.0))
        .orderBy("user_id")
    }),

    "cube_counts" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")).cast("string"))
        .filter(col("day") <= "2024-01-03")
        .cube("day", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("day").asc_nulls_first, col("event_type").asc_nulls_first)
    }),

    "q2_min_per_group" -> ((s, dir) => {
      // cheapest part per brand: window rewrite of the correlated-subquery
      // min-per-group pattern, canonical row chosen deterministically
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("p_brand").orderBy(col("p_retailprice"), col("p_partkey"))
      Tables.part(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("p_brand", "p_partkey", "p_retailprice")
        .orderBy("p_brand")
    }),

    // ---- referential-integrity audit (pipeline data-quality op)
    "audit_orphans" -> ((s, dir) => {
      // One union-of-aggregates plan: both FK edges audited in a single
      // job (previously two driver-side .count() actions plus a local
      // DataFrame — two jobs and a driver round-trip for scalar counts,
      // the registry's only non-plan-shaped query).
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val orphanLi = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit("lineitem->orders").as("fk_edge"), col("n_orphans"))
      val orphanO = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit("orders->customer").as("fk_edge"), col("n_orphans"))
      orphanLi.unionByName(orphanO).orderBy("fk_edge")
    }),

    "sample_stratified" -> ((s, dir) => {
      // Deterministic stratified sampling: fixed N per stratum (source),
      // selected by hash rank — reproducible under recomputation and
      // balanced across strata, unlike a global random sample that
      // starves small strata. One rank window per stratum; at scale the
      // window partitions by the stratum key (no global sort).
      // overflow-safe Knuth hash (see Scale.knuthHash32) — same values
      // as the naive product for every id the naive form can represent
      val h = operators.Scale.knuthHash32(col("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(h.asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .withColumn("sample_rank", row_number().over(w))
        .filter(col("sample_rank") <= 10)
        .select("source", "sample_rank", "doc_id", "lang")
        .orderBy("source", "sample_rank")
    }),

    "sample_weighted" -> ((s, dir) => {
      // Quality-weighted subsample: the composite quality score is the
      // A-Res weight, so better documents are proportionally likelier
      // to survive while the draw stays deterministic (hashed doc_id in
      // place of randomness).
      operators.Scale.weightedSample(Tables.documents(s, dir), "doc_id",
        TextAnalysis.qualityScore(col("text")), k = 25)
        .select("doc_id", "skey", "weight", "lang", "source")
        .orderBy(col("skey").desc, col("doc_id"))
    }),

    // ---- DSIR importance resampling (hashed-n-gram target matching)
    "dsir_weights" -> ((s, dir) => {
      // Target = the Spanish slice of the corpus; every raw doc scored
      // by how target-like its hashed unigram+bigram distribution is.
      // Portable bucket hash so the estimator is replicated bucket-for-
      // bucket in the oracle. Top-20 carries lang to make the semantics
      // visible: Spanish docs should dominate the head.
      val docs = Tables.documents(s, dir)
      operators.Scale.dsirWeights(
        docs.select("doc_id", "text"),
        docs.filter(col("lang") === "es").select("doc_id", "text"),
        nBuckets = 1024, alpha = 1.0, portable = true)
        .orderBy(col("logw").desc, col("doc_id"))
        .limit(20)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "logw", "lang")
        .orderBy(col("logw").desc, col("doc_id"))
    }),

    "dsir_select" -> ((s, dir) => {
      // The resampling step: Gumbel top-30 over the same weights —
      // selection probability ∝ exp(logw), deterministic via the
      // knuthHash32 draw (seed 7).
      val docs = Tables.documents(s, dir)
      operators.Scale.dsirSelect(
        docs.select("doc_id", "text"),
        docs.filter(col("lang") === "es").select("doc_id", "text"),
        k = 30, nBuckets = 1024, alpha = 1.0, seed = 7L, portable = true)
        .select("doc_id", "logw", "skey")
    }),

    // ---- train/val/test sharding + repetition quality rule
    "sample_split" -> ((s, dir) => {
      // Deterministic hash-bucket split (80/10/10) — pure integer
      // arithmetic so any engine reproduces the assignment exactly;
      // stable under reshuffling/recomputation, unlike randomSplit.
      // (id·C) mod 1000 with mod-1000 discipline: ((id mod 1000)·(C mod
      // 1000)) mod 1000 — identical values, no Long overflow at any id.
      val bucket = pmod(pmod(col("doc_id"), lit(1000L)) * 761L, lit(1000L))
      Tables.documents(s, dir)
        .withColumn("split",
          when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .withColumn("total_chars", col("total_chars").cast("long"))
        .orderBy("split")
    }),

    "text_gopher_rules" -> ((s, dir) => {
      // Thresholds fitted to this corpus (tokens 10-99, mean word length
      // 3.7-5.3, repetition 0.05-0.30) so every rule discriminates
      // rather than passing or failing wholesale.
      TextAnalysis.gopherRules(Tables.documents(s, dir),
        minTokens = 30, maxTokens = 100000,
        minMeanLen = 4.0, maxMeanLen = 10.0,
        maxRepetition = 0.125, minDistinctStopwords = 2)
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, dir) => {
      // Max single-word frequency ratio per document (Gopher-style
      // repetition filter signal).
      val words = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val counts = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      counts.groupBy("doc_id")
        .agg(max("c").as("max_word_count"), sum("c").as("n_words"))
        .select(col("doc_id"), col("max_word_count"),
          col("n_words").cast("long").as("n_words"),
          TextAnalysis.floorScale(
            col("max_word_count").cast("double") / col("n_words").cast("double"), 6)
            .as("repetition_ratio"))
        .orderBy("doc_id")
    }),

    // ---- PII scrub, contamination check, chunk-level dedup
    "text_redact_pii" -> ((s, dir) => {
      // Synthesize PII into the corpus, then scrub it.
      val dirty = concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id"), lit("@example.com or "),
        lit("555-123-4567, ssn 123-45-6789, host 10.0.0."), col("doc_id") % 256)
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.redactPii(dirty).as("scrubbed"))
        .orderBy("doc_id")
    }),

    "text_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // maxDf=25 drops the handful of corpus-ubiquitous 13-grams (df tops
      // out ~42 here) that fan the shingle equi-join out without carrying
      // any contamination signal.
      operators.Dedup.contaminationCheck(
        docs.filter(col("doc_id") < 450),
        docs.filter(col("doc_id") >= 450 && col("doc_id") < 500), n = 13,
        maxDf = 25)
        .filter(col("n_shared_shingles") >= 3)
        .orderBy("doc_id", "bench_id")
    }),

    "dedup_chunk_level" -> ((s, dir) => {
      // Paragraph/chunk-granularity exact dedup: split, hash each chunk,
      // keep hashes seen in more than one place (cross- or intra-doc).
      // Strided chunker so the whole operator is oracle-checkable.
      Ingest.chunkStrided(Tables.documents(s, dir), chunkSize = 100, overlap = 20)
        .groupBy(sha2(col("chunk_text"), 256).as("chunk_hash"))
        .agg(count(lit(1)).as("occurrences"),
          countDistinct(col("file_id")).as("n_docs"),
          min(col("chunk_id")).as("first_chunk_id"))
        .filter(col("occurrences") > 1)
        .orderBy("chunk_hash")
    }),

    // ---- multimodal plumbing (binary columns, batched feature extraction)
    "multimodal_near_dup" -> ((s, dir) => {
      // Composition: binary assets → batched feature extraction → the
      // same embedding-cosine near-dup operator used for text vectors.
      val assets = Tables.documents(s, dir).filter(col("doc_id") < 200).select(
        col("doc_id").as("asset_id"),
        lit("image").as("modality"),
        col("text").cast("binary").as("content"),
        col("source").as("source_uri"))
      val feats = multimodal.Multimodal.extractFeatures(assets).toDF()
        .select(col("asset_id").as("vec_id"), col("embedding"))
      // 4 wide bands (4 bits each): the 0.98 near-dup threshold sits deep
      // in LSH's high-recall regime, so wide bands prune hard at ~99.7%
      // per-pair recall. Same bucketed operator as dedup_embedding_cosine.
      operators.Dedup.embeddingNearDupBucketed(feats, threshold = 0.98,
        nBits = 16, bands = 4)
        .withColumn("cos_sim", round(col("cos_sim"), 6))
        .orderBy("id_a", "id_b")
    }),

    "multimodal_features" -> ((s, dir) => {
      // Decode-stub plumbing, fully oracle-checked: the stub derives
      // dimensions from Arrays.hashCode(bytes) and a byte-histogram
      // embedding, both re-computable in ANSI SQL over the UTF-8 bytes.
      // Scalar embedding components (not the raw array) keep the output
      // sortable by the driver's pandas compare.
      val assets = Tables.documents(s, dir).select(
        col("doc_id").as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"),
        col("text").cast("binary").as("content"),
        col("source").as("source_uri"))
      multimodal.Multimodal.extractFeatures(assets).toDF()
        .select(
          col("asset_id"), col("modality"), col("width"), col("height"),
          col("durationMs").as("duration_ms"), col("nBytes").as("n_bytes"),
          TextAnalysis.floorScale(element_at(col("embedding"), 1).cast("double"), 6).as("emb_0"),
          TextAnalysis.floorScale(element_at(col("embedding"), 8).cast("double"), 6).as("emb_7"))
        .orderBy("asset_id")
    }),

    "multimodal_real_decode" -> ((s, dir) => {
      // REAL image decode: synthesized PNGs (executor-side, deterministic
      // bytes) plus one corrupt asset run through javax.imageio pixel
      // decode. Dimensions come from the decoder, not metadata, so the
      // oracle asserts them as the known constants (32×32; corrupt row
      // surfaces with decoded=false rather than dropping) without
      // needing a PNG reader in SQL.
      import s.implicits._
      val pngs = s.range(60).as[Long]
        .map(id => (id, multimodal.Multimodal.syntheticPng((id / 3).toInt, (id % 3).toInt)))
        .toDF("asset_id", "content")
      val corrupt = Seq((60L, "definitely not an image".getBytes("UTF-8")))
        .toDF("asset_id", "content")
      multimodal.Multimodal.extractRealImageFeatures(pngs.unionByName(corrupt)).toDF()
        .select(col("asset_id"), col("decoded"), col("width"), col("height"))
        .orderBy("asset_id")
    }),

    "multimodal_real_near_dup" -> ((s, dir) => {
      // Genuine image dedup: 20 patterns × 3 noised variants of real
      // PNGs, decoded to centered pixel-grid embeddings, through the
      // same bucketed near-dup operator as text vectors. Margins are
      // structural (variant cosine ≈ 1, cross-pattern ≈ 0 after
      // centering, threshold 0.9 between), so the surviving pairs are
      // exactly the within-pattern pairs — which the oracle generates
      // arithmetically, and MultimodalSpec asserts as set equality.
      import s.implicits._
      val pngs = s.range(60).as[Long]
        .map(id => (id, multimodal.Multimodal.syntheticPng((id / 3).toInt, (id % 3).toInt)))
        .toDF("asset_id", "content")
      val feats = multimodal.Multimodal.extractRealImageFeatures(pngs).toDF()
      operators.Dedup.embeddingNearDupBucketed(
          feats.select(col("asset_id").as("vec_id"), col("embedding")),
          threshold = 0.9, nBits = 16, bands = 8)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    "multimodal_real_audio" -> ((s, dir) => {
      // REAL audio decode (r17 verdict next #5): synthesized 16-bit PCM
      // WAVs (pure integer sample formulas — executor-side, byte
      // deterministic) plus one corrupt asset, decoded through
      // javax.sound.sampled into per-block RMS energy features. Unlike
      // the image twin — whose oracle pins decoder CONSTANTS — the
      // features here are fully value-mirrored: the oracle recomputes
      // the block RMS from the same integer sample formula (int16 /
      // 32768 is exact in double; square-sum left folds in ascending
      // order on both engines), so the decode → feature path is
      // hash-checked end to end. The corrupt row surfaces with
      // decoded=false and zero features rather than dropping.
      import s.implicits._
      val wavs = s.range(60).as[Long]
        .map(id => (id, multimodal.Multimodal.syntheticWav((id / 3).toInt, (id % 3).toInt)))
        .toDF("asset_id", "content")
      val corrupt = Seq((60L, "definitely not audio".getBytes("UTF-8")))
        .toDF("asset_id", "content")
      multimodal.Multimodal.extractRealAudioFeatures(wavs.unionByName(corrupt)).toDF()
        .select(col("asset_id"), col("decoded"), col("sample_rate"),
          col("channels"), col("n_frames"), col("duration_ms"),
          TextAnalysis.floorScale(element_at(col("rms"), 1), 6).as("e0"),
          TextAnalysis.floorScale(element_at(col("rms"), 8), 6).as("e7"))
        .orderBy("asset_id")
    }),

    "multimodal_real_audio_near_dup" -> ((s, dir) => {
      // Genuine audio dedup: 20 envelope patterns × 3 noised variants of
      // real WAVs, decoded to centered block-RMS embeddings, through the
      // same bucketed near-dup operator as text/image vectors. Margins
      // are structural (variant noise is ~1e-3 relative → cosine ≈ 1;
      // distinct envelope profiles decorrelate after centering → ≈ 0;
      // threshold 0.9 between), so the surviving pairs are exactly the
      // within-pattern pairs, which the oracle generates arithmetically.
      import s.implicits._
      val wavs = s.range(60).as[Long]
        .map(id => (id, multimodal.Multimodal.syntheticWav((id / 3).toInt, (id % 3).toInt)))
        .toDF("asset_id", "content")
      val feats = multimodal.Multimodal.extractRealAudioFeatures(wavs).toDF()
      operators.Dedup.embeddingNearDupBucketed(
          feats.select(col("asset_id").as("vec_id"), col("embedding")),
          threshold = 0.9, nBits = 16, bands = 8)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    "multimodal_real_video" -> ((s, dir) => {
      // REAL video decode — the third modality twin: synthesized
      // uncompressed 24-bit BI_RGB AVIs (pure integer pixel formulas —
      // byte deterministic, no encoder in the loop) plus one corrupt
      // asset, decoded through the JDK-only RIFF/DIB parser
      // (decodeVideoReal — the JDK ships no video codec, but an
      // uncompressed AVI is container parsing, the PDF/DOCX loader
      // discipline) into per-cell mean luminance over sampled frames
      // (stride 2 of 8). The fixture's channels differ per frame
      // (B=L, G=L+f, R=L+2f) so a BGR/RGB or bottom-up row-order bug
      // shifts the luminance and fails the value mirror; the oracle
      // replays the cell means from the same integer formula with
      // ordered left folds (int pixels are exact in double, both
      // engines fold in scan order). The corrupt row surfaces
      // decoded=false with zero features rather than dropping.
      import s.implicits._
      val avis = s.range(60).as[Long]
        .map(id => (id, multimodal.Multimodal.syntheticAvi((id / 3).toInt, (id % 3).toInt)))
        .toDF("asset_id", "content")
      val corrupt = Seq((60L, "definitely not video".getBytes("UTF-8")))
        .toDF("asset_id", "content")
      multimodal.Multimodal.extractRealVideoFeatures(avis.unionByName(corrupt)).toDF()
        .select(col("asset_id"), col("decoded"), col("width"), col("height"),
          col("n_frames"), col("n_sampled"), col("duration_ms"),
          TextAnalysis.floorScale(element_at(col("cells"), 1), 6).as("c0"),
          TextAnalysis.floorScale(element_at(col("cells"), 10), 6).as("c9"))
        .orderBy("asset_id")
    }),

    "multimodal_real_video_near_dup" -> ((s, dir) => {
      // Genuine video dedup: 20 cell-profile patterns × 3 noised
      // variants of real AVIs, decoded to centered mean-frame grid
      // embeddings, through the same bucketed near-dup operator as
      // text/image/audio vectors. Margins are structural (variant
      // noise ~1% relative → cosine ≈ 1; distinct cell profiles
      // decorrelate after centering — measured max cross-pattern
      // |cos| 0.64 vs min within-pattern 0.97; threshold 0.9 between),
      // so the surviving pairs are exactly the within-pattern pairs,
      // which the oracle generates arithmetically.
      import s.implicits._
      val avis = s.range(60).as[Long]
        .map(id => (id, multimodal.Multimodal.syntheticAvi((id / 3).toInt, (id % 3).toInt)))
        .toDF("asset_id", "content")
      val feats = multimodal.Multimodal.extractRealVideoFeatures(avis).toDF()
      operators.Dedup.embeddingNearDupBucketed(
          feats.select(col("asset_id").as("vec_id"), col("embedding")),
          threshold = 0.9, nBits = 16, bands = 8)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    })
  )

  /** `ann_recall` / `ann_recall_murmur`: recall@10 of [[operators.Ann.lshTopK]]
    * at `probeBits` against exact brute force, per query plus a macro mean
    * (query_id = -1). Both top-k sets are deterministic oracle-mirrored
    * paths, so their intersection size — the recall numerator — hashes
    * exactly; this is the number an ANN operator's quality contract is
    * written in.
    */
  private def annRecall(s: SparkSession, dir: String, probeBits: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val k = 10
    val approx = operators.Ann
      .lshTopK(qs, emb, k = k, nBits = 8, probeBits = probeBits)
      .select("query_id", "vec_id")
    val exact = Retrieval.knnJoin(qs, emb, k = k).select("query_id", "vec_id")
    val inter = exact.join(approx, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    val per = qs.select("query_id").join(inter, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        TextAnalysis.floorScale(
          coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble), 6).as("recall_at_k"))
    per.unionByName(per.agg(
        sum(col("n_hit")).as("n_hit"),
        // +1e-9 pre-floor: averages of exact 1e-6 multiples sit ON a
        // floor boundary whenever divisible by the query count (see
        // RetrievalEval.evaluateWithMacro)
        TextAnalysis.floorScale(avg(col("recall_at_k")) + lit(1e-9), 6)
          .as("recall_at_k"))
      .select(lit(-1L).as("query_id"), col("n_hit"), col("recall_at_k")))
      .orderBy("query_id")
  }

  // ------------------------------------------------------------------ //
  //  DuckDB oracle SQL (ANSI), one per SQL-expressible query above.    //
  // ------------------------------------------------------------------ //

  /** SQL generator for scala.util.hashing.MurmurHash3.stringHash:
    * 32-bit wrap-around multiplies via HUGEINT `% 2^32`, rotations as
    * shift-add, the avalanche as repeated xor/shift — one generator so
    * the constants cannot drift between oracles.
    *
    * BMP-only: Scala hashes UTF-16 code units while the SQL iterates
    * codepoints, so the two agree exactly iff the input has no
    * supplementary-plane characters (asserted true for the current
    * fixtures — max codepoint 121; re-check before pointing these
    * oracles at a regenerated corpus).
    */
  private object MurmurSql {
    def mul32(a: String, c: Long) =
      s"CAST((CAST($a AS HUGEINT) * $c) % 4294967296 AS BIGINT)"
    def rotl(x: String, r: Int) =
      s"((($x) * ${1L << r}) % 4294967296 + ($x) // ${1L << (32 - r)})"
    def xr(a: String, b: String) = s"xor($a, $b)"
    def mix(h: String, k: String): String = {
      val k3 = mul32(rotl(mul32(k, 0xcc9e2d51L), 15), 0x1b873593L)
      s"((${rotl(xr(h, k3), 13)}) * 5 + 3864292196) % 4294967296"
    }
    def mixLast(h: String, k: String): String =
      xr(h, mul32(rotl(mul32(k, 0xcc9e2d51L), 15), 0x1b873593L))
    def fin(h: String, len: String): String = {
      val f1 = s"xor(xor($h, $len), xor($h, $len) // 65536)"
      val f2 = mul32(f1, 0x85ebca6bL)
      val f3 = s"xor($f2, ($f2) // 8192)"
      val f4 = mul32(f3, 0xc2b2ae35L)
      s"xor($f4, ($f4) // 65536)"
    }
    /** A staged sub-select computing the unsigned 32-bit murmur of string
      * column `strCol` from relation `src`, emitted as column `u`
      * alongside the `keep` columns. The expensive pairwise list_reduce
      * is evaluated ONCE as a column; the odd-tail and avalanche stages
      * are cheap scalar expressions layered over it (splicing the reduce
      * into the avalanche textually would re-evaluate it ~16×).
      */
    def murmurSelect(src: String, keep: Seq[String], strCol: String, seed: Long): String = {
      val ks = keep.map(_ + ", ").mkString
      s"""SELECT $ks${fin("ht", s"length($strCol)")} AS u FROM (
         |  SELECT $ks$strCol, CASE WHEN length($strCol) % 2 = 1
         |      THEN ${mixLast("hb", s"cp[CAST(length($strCol) AS INT)]")}
         |      ELSE hb END AS ht FROM (
         |    SELECT $ks$strCol, cp,
         |      list_reduce(list_prepend(CAST($seed AS BIGINT),
         |        list_transform(range(length($strCol) // 2), p ->
         |          cp[CAST(2*p+1 AS INT)] * 65536 + cp[CAST(2*p+2 AS INT)])),
         |        (mh, mk) -> ${mix("mh", "mk")}) AS hb FROM (
         |      SELECT $ks$strCol,
         |        list_transform(range(length($strCol)), ci -> CAST(unicode($strCol[CAST(ci + 1 AS INT)]) AS BIGINT)) AS cp
         |      FROM $src)))""".stripMargin
    }
  }

  /** Shared CTE chain deriving the murmur feature-hash embedding
    * ([[graft.functions.HashEmbedder]]) for each row of `baseRel`
    * (exposing `idCol` and string `txtCol`): tokenize → uni+bigram
    * features → murmur → signed-histogram scatter onto a dense (id, j)
    * grid (plain joins — DuckDB's list_reduce rejects transform-derived
    * lists). Ends with CTEs `cell` (idCol, j, v) and `n2` (idCol,
    * norm2); callers append their tail. One generator feeds both the
    * t3 and rag oracles so the embedding semantics cannot drift.
    */
  private def embedChainSql(baseRel: String, idCol: String, txtCol: String): String =
    s"""tk AS (
       |  SELECT $idCol, list_filter(regexp_split_to_array(lower($txtCol), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks
       |  FROM $baseRel),
       |ft AS (
       |  SELECT $idCol, unnest(list_concat(toks,
       |    CASE WHEN len(toks) > 1 THEN list_transform(range(len(toks) - 1),
       |      i -> toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]) ELSE CAST([] AS VARCHAR[]) END)) AS f
       |  FROM tk),
       |hu AS (${MurmurSql.murmurSelect("ft", Seq(idCol), "f", 0x5eed42L)}),
       |sg AS (
       |  SELECT $idCol, CAST(u % 64 AS INT) AS idx,
       |    CASE WHEN u < 2147483648 THEN 1 ELSE -1 END AS sign
       |  FROM hu),
       |vv AS (SELECT $idCol, idx, CAST(sum(sign) AS BIGINT) AS v FROM sg GROUP BY 1, 2),
       |grid AS (SELECT b.$idCol, CAST(t.j AS INT) AS j FROM $baseRel b, range(64) t(j)),
       |cell AS (
       |  SELECT g.$idCol, g.j, coalesce(vv.v, 0) AS v
       |  FROM grid g LEFT JOIN vv ON vv.$idCol = g.$idCol AND vv.idx = g.j),
       |n2 AS (SELECT $idCol, CAST(sum(v * v) AS BIGINT) AS norm2 FROM cell GROUP BY 1)""".stripMargin

  /** Oracle for t3_embed_documents: the murmur feature-hash embedding
    * re-derived in SQL. The 64-dim signed-histogram embedding is
    * scattered onto a dense (doc, j) grid (plain joins — DuckDB's
    * list_reduce rejects transform-derived lists); the norm folds the
    * squares in j order (exactly [[graft.functions.VectorOps.l2Norm]]'s
    * fold), the checksum and nonzero counts are order-free integer
    * aggregates.
    */
  private def t3EmbedOracleSql: String = {
    s"""WITH ${embedChainSql("documents", "doc_id", "text")},
       |x AS (
       |  SELECT c.doc_id, c.j,
       |    CASE WHEN n2.norm2 > 0 THEN CAST(c.v / sqrt(CAST(n2.norm2 AS DOUBLE)) AS REAL)
       |         ELSE CAST(0 AS REAL) END AS xf
       |  FROM cell c JOIN n2 USING (doc_id)),
       |f2 AS (
       |  SELECT doc_id,
       |    list(CAST(xf AS DOUBLE) * CAST(xf AS DOUBLE) ORDER BY j) AS sq,
       |    CAST(sum(CAST(floor(CAST(xf AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS emb_checksum,
       |    CAST(count(*) FILTER (WHERE xf <> 0) AS INT) AS emb_nonzero
       |  FROM x GROUP BY doc_id)
       |SELECT doc_id, 64 AS emb_dim,
       |  floor(sqrt(list_reduce(sq, (sa, sb) -> sa + sb)) * 10000) / 10000 AS emb_norm,
       |  emb_nonzero, emb_checksum
       |FROM f2 ORDER BY doc_id""".stripMargin
  }

  /** Oracle for rag_chat_pipeline — the §3.1 flagship, end-to-end: the
    * deterministic-stub pipeline is pure arithmetic all the way down, so
    * the oracle recomputes every stage: admission guards, murmur-embed of
    * the question, cosine top-2 retrieval (same fold as t4), rank-ordered
    * context stuffing, and the stub answer's murmur digest of the context
    * (`Integer.toHexString` == printf('%x', u)). The reformulation stage
    * is the identity stub, and the parse ladder over the stub's
    * well-formed JSON reduces to its fields.
    */
  private def ragChatOracleSql: String = {
    s"""WITH q0 AS (
       |  SELECT doc_id + 1000 AS query_id, doc_id % 5 AS user_id, substr(text, 1, 80) AS question
       |  FROM documents WHERE doc_id < 3),
       |adm AS (SELECT * FROM q0 WHERE length(question) <= 2000 AND trim(question) <> ''),
       |${embedChainSql("adm", "query_id", "question")},
       |qemb AS (
       |  SELECT c.query_id,
       |    list(CASE WHEN n2.norm2 > 0 THEN CAST(c.v / sqrt(CAST(n2.norm2 AS DOUBLE)) AS REAL)
       |              ELSE CAST(0 AS REAL) END ORDER BY c.j) AS qe
       |  FROM cell c JOIN n2 USING (query_id) GROUP BY c.query_id),
       |chunks AS (
       |  SELECT e.vec_id, e.embedding, d.text FROM embeddings e
       |  JOIN documents d ON d.doc_id = e.vec_id),
       |scored AS (
       |  SELECT query_id, vec_id, text,
       |    CASE WHEN den = 0 THEN 0.0 ELSE dot / den END AS sim
       |  FROM (
       |    SELECT q.query_id, ch.vec_id, ch.text,
       |      ${DedupOracle.dotSql("qe", "ch.embedding", 64)} AS dot,
       |      ${DedupOracle.normSql("qe")} * ${DedupOracle.normSql("ch.embedding")} AS den
       |    FROM qemb q CROSS JOIN chunks ch)),
       |ranked AS (
       |  SELECT query_id, vec_id, text, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM scored),
       |ctx AS (
       |  SELECT query_id, array_to_string(list(text ORDER BY rank), chr(10) || chr(10)) AS context
       |  FROM ranked WHERE rank <= 2 GROUP BY query_id),
       |withctx AS (
       |  SELECT a.query_id, a.user_id, a.question, coalesce(c.context, '') AS context
       |  FROM adm a LEFT JOIN ctx c USING (query_id)),
       |ans AS (${MurmurSql.murmurSelect(
                  "withctx", Seq("query_id", "user_id", "question", "context"), "context", 7L)})
       |SELECT query_id, user_id, question, question AS standalone_question, context,
       |  'Re: ' || question || ' [ctx:' || printf('%x', u) || ']' AS answer,
       |  'explaining' AS emotion
       |FROM ans ORDER BY query_id""".stripMargin
  }

  /** Oracle for rag_chat_hybrid — [[ragChatOracleSql]] with the retrieve
    * slot replaced by the hybrid stack: the bm25_topk CTE chain over the
    * chunk texts (floored score, doc_id tie-break), the same cosine
    * chain as rag_chat_pipeline, RRF fusion at k=2, and the identical
    * context/answer/parse tail. Every sub-chain is the one already
    * hash-proven by its standalone query; this composes them end to end.
    */
  private def ragChatHybridOracleSql: String = {
    s"""WITH q0 AS (
       |  SELECT doc_id + 1000 AS query_id, doc_id % 5 AS user_id, substr(text, 1, 80) AS question
       |  FROM documents WHERE doc_id < 3),
       |adm AS (SELECT * FROM q0 WHERE length(question) <= 2000 AND trim(question) <> ''),
       |${embedChainSql("adm", "query_id", "question")},
       |qemb AS (
       |  SELECT c.query_id,
       |    list(CASE WHEN n2.norm2 > 0 THEN CAST(c.v / sqrt(CAST(n2.norm2 AS DOUBLE)) AS REAL)
       |              ELSE CAST(0 AS REAL) END ORDER BY c.j) AS qe
       |  FROM cell c JOIN n2 USING (query_id) GROUP BY c.query_id),
       |chunks AS (
       |  SELECT e.vec_id, e.embedding, d.text FROM embeddings e
       |  JOIN documents d ON d.doc_id = e.vec_id),
       |btk AS (
       |  SELECT vec_id AS doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks
       |  FROM chunks),
       |bt AS (SELECT doc_id, unnest(toks) AS term FROM btk),
       |btf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM bt GROUP BY 1, 2),
       |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1),
       |bcorp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM bdl),
       |bdfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
       |bqt AS (SELECT DISTINCT query_id, term FROM
       |  (SELECT query_id, unnest(list_filter(regexp_split_to_array(lower(question), '[^\\p{L}\\p{N}]+'), x -> x <> '')) AS term FROM adm)),
       |bc AS (
       |  SELECT bqt.query_id, btf.doc_id,
       |    ln(1.0 + (bcorp.n_docs - bdfr.df + 0.5) / (bdfr.df + 0.5))
       |      * (btf.tf * (1.25 + 1)) / (btf.tf + 1.25 * (1 - 0.75 + 0.75 * bdl.dl / bcorp.avgdl)) AS contrib
       |  FROM bqt JOIN btf USING (term) JOIN bdfr USING (term)
       |  JOIN bdl ON btf.doc_id = bdl.doc_id, bcorp),
       |bs AS (
       |  SELECT query_id, doc_id, floor(sum(contrib) * 1000000) / 1000000 AS score
       |  FROM bc GROUP BY 1, 2),
       |lr AS (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM bs QUALIFY rank <= 20),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    CASE WHEN den = 0 THEN 0.0 ELSE dot / den END AS sim
       |  FROM (
       |    SELECT q.query_id, ch.vec_id,
       |      ${DedupOracle.dotSql("qe", "ch.embedding", 64)} AS dot,
       |      ${DedupOracle.normSql("qe")} * ${DedupOracle.normSql("ch.embedding")} AS den
       |    FROM qemb q CROSS JOIN chunks ch)),
       |sr AS (
       |  SELECT query_id, vec_id AS doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM scored QUALIFY rank <= 20),
       |f AS (
       |  SELECT coalesce(l.query_id, s2.query_id) AS query_id,
       |    coalesce(l.doc_id, s2.doc_id) AS doc_id,
       |    coalesce(1.0 / (60.0 + l.rank), 0.0) + coalesce(1.0 / (60.0 + s2.rank), 0.0) AS rrf
       |  FROM lr l FULL OUTER JOIN sr s2
       |    ON l.query_id = s2.query_id AND l.doc_id = s2.doc_id),
       |fr AS (
       |  SELECT query_id, doc_id, rrf,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
       |  FROM f),
       |ctx AS (
       |  SELECT fr.query_id,
       |    array_to_string(list(ch.text ORDER BY fr.rank), chr(10) || chr(10)) AS context
       |  FROM fr JOIN chunks ch ON ch.vec_id = fr.doc_id
       |  WHERE fr.rank <= 2 GROUP BY fr.query_id),
       |withctx AS (
       |  SELECT a.query_id, a.user_id, a.question, coalesce(cx.context, '') AS context
       |  FROM adm a LEFT JOIN ctx cx USING (query_id)),
       |ans AS (${MurmurSql.murmurSelect(
                  "withctx", Seq("query_id", "user_id", "question", "context"), "context", 7L)})
       |SELECT query_id, user_id, question, question AS standalone_question, context,
       |  'Re: ' || question || ' [ctx:' || printf('%x', u) || ']' AS answer,
       |  'explaining' AS emotion
       |FROM ans ORDER BY query_id""".stripMargin
  }

  /** Oracle for t1_split_chunks — the recursive character splitter.
    *
    * On this corpus no "\n\n"/"\n" separator occurs and every
    * space-delimited word is far below chunkSize, so
    * [[graft.functions.TextSplit.splitText]] reduces exactly to its
    * greedy merge loop over space-split words (the hard part: the
    * overlap carry-back). The merge scan is sequential state, expressed
    * here as a recursive CTE: the window of live words is contiguous
    * [s..j), so the state is just (j, s); window totals come from
    * prefix sums, and the pop-from-front loop collapses to a closed-form
    * "first s2 where the pop condition fails" via list_min/list_filter
    * (the condition is monotone in s2). The separator-recursion path that
    * cannot fire here stays covered by TextSplitSpec's property tests;
    * if regenerated fixtures ever contain newlines or >=chunkSize words,
    * this oracle diverges loudly (Verify FAIL), not silently.
    */
  /** Reusable CTE chain for the recursive-splitter oracle: the greedy
    * merge scan over `baseRel` (doc_id, text, source) as a recursive CTE
    * (see [[t1SplitOracleSql]] for why the reduction is exact on this
    * corpus), ending in `chunks0` (file_id, chunk_index, total_chunks,
    * chunk_id, chunk_text, source_file).
    */
  private def splitChainSql(baseRel: String): String = {
    // total chars of window [s2..j): prefix-sum diff + inner separators
    def tot(s2: String) =
      s"(p.cum[r.j+1] - p.cum[CAST($s2 AS INT)+1] + " +
        s"CASE WHEN r.j - $s2 > 1 THEN r.j - $s2 - 1 ELSE 0 END)"
    val nextLen = "p.cum[r.j+2] - p.cum[r.j+1]" // length of word j
    val overflow = s"r.j > r.s AND ${tot("r.s")} + $nextLen + 1 > 100"
    val popStop = // NOT (pop-while condition) at candidate start s2
      s"NOT (${tot("s2")} > 20 OR (${tot("s2")} + $nextLen + 1 > 100 AND ${tot("s2")} > 0))"
    s"""wl AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws,
       |    len(string_split(text, ' ')) AS n,
       |    list_transform(string_split(text, ' '), w -> CAST(length(w) AS BIGINT)) AS lens
       |  FROM $baseRel),
       |pre AS (
       |  SELECT doc_id, source, ws, n,
       |    list_transform(range(n + 1),
       |      i -> CAST(coalesce(list_sum(lens[1:CAST(i AS INT)]), 0) AS BIGINT)) AS cum
       |  FROM wl),
       |rec(doc_id, j, s, emit_s, emit_e) AS (
       |  SELECT doc_id, 0, 0, CAST(NULL AS INT), CAST(NULL AS INT) FROM pre WHERE n > 0
       |  UNION ALL
       |  SELECT r.doc_id, r.j + 1,
       |    CASE WHEN NOT ($overflow) THEN r.s
       |         ELSE CAST(list_min(list_filter(range(r.s, r.j + 1), s2 -> $popStop)) AS INT) END,
       |    CASE WHEN $overflow THEN r.s END,
       |    CASE WHEN $overflow THEN r.j END
       |  FROM rec r JOIN pre p USING (doc_id)
       |  WHERE r.j < p.n),
       |em AS (
       |  SELECT doc_id, emit_e AS ord, emit_s AS cs, emit_e AS ce FROM rec WHERE emit_s IS NOT NULL
       |  UNION ALL
       |  SELECT r.doc_id, p.n + 1, r.s, p.n FROM rec r JOIN pre p USING (doc_id) WHERE r.j = p.n),
       |numbered AS (
       |  SELECT doc_id, cs, ce,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS INT) AS chunk_index,
       |    CAST(count(*) OVER (PARTITION BY doc_id) AS INT) AS total_chunks
       |  FROM em),
       |chunks0 AS (
       |  SELECT nb.doc_id AS file_id, nb.chunk_index, nb.total_chunks,
       |    CAST(nb.doc_id AS VARCHAR) || '_' || CAST(nb.chunk_index AS VARCHAR) AS chunk_id,
       |    trim(array_to_string(p.ws[nb.cs+1:nb.ce], ' ')) AS chunk_text,
       |    p.source AS source_file
       |  FROM numbered nb JOIN pre p ON p.doc_id = nb.doc_id)""".stripMargin
  }

  private def t1SplitOracleSql: String =
    s"""WITH RECURSIVE ${splitChainSql("documents")}
       |SELECT file_id, chunk_index, total_chunks, chunk_id, chunk_text
       |FROM chunks0 ORDER BY file_id, chunk_index""".stripMargin

  /** Oracle for ingest_pipeline — the §3.2 embed-stage variant, now fully
    * composed from the verified generators: dedup gate (sha256 anti-join)
    * → recursive-splitter chain → murmur-embed chain per chunk → floored
    * L2 norm. With this, every pipeline in the registry is hash-checked;
    * only the two honestly-approximate ANN paths remain rows-only.
    */
  private def ingestPipelineOracleSql: String =
    s"""WITH RECURSIVE cat AS (
       |  SELECT sha256(text) AS file_hash FROM documents WHERE doc_id < 150),
       |fresh AS (
       |  SELECT d.doc_id, d.text, d.source FROM documents d
       |  WHERE d.doc_id >= 100 AND d.doc_id < 200
       |    AND d.n_chars <= 10485760
       |    AND NOT EXISTS (SELECT 1 FROM cat c WHERE c.file_hash = sha256(d.text))),
       |${splitChainSql("fresh")},
       |${embedChainSql("chunks0", "chunk_id", "chunk_text")},
       |xn AS (
       |  SELECT c.chunk_id, c.j,
       |    CASE WHEN n2.norm2 > 0 THEN CAST(c.v / sqrt(CAST(n2.norm2 AS DOUBLE)) AS REAL)
       |         ELSE CAST(0 AS REAL) END AS xf
       |  FROM cell c JOIN n2 USING (chunk_id)),
       |nrm AS (
       |  SELECT chunk_id,
       |    floor(sqrt(list_reduce(list(CAST(xf AS DOUBLE) * CAST(xf AS DOUBLE) ORDER BY j), (sa, sb) -> sa + sb)) * 10000) / 10000 AS emb_norm
       |  FROM xn GROUP BY chunk_id)
       |SELECT c.chunk_id, c.file_id, CAST(1 AS INT) AS page, c.chunk_index,
       |  c.total_chunks, c.source_file, n.emb_norm
       |FROM chunks0 c JOIN nrm n USING (chunk_id)
       |ORDER BY c.file_id, c.chunk_index""".stripMargin

  def oracleSql: Map[String, String] =
    oracleMap +
      ("graph_pagerank" -> pageRankOracleSql) ++
      qualityModelOracleSql ++
      Map(
        // Generated unrolled-trainer mirrors (see [[graft.BpeOracle]]):
        // the whole BPE family — training argmax sequence, greedy
        // encode, packing — replayed move-for-move by DuckDB. The
        // sequential-reference equality gates in graft.Verify stay as
        // the second, independent signal.
        "bpe_learn_merges" -> BpeOracle.learnMergesSql(),
        "bpe_learn_merges_inc" -> BpeOracle.learnMergesSql(),
        "bpe_encode_stats" -> BpeOracle.encodeStatsSql(),
        "bpe_encode_corpus" -> BpeOracle.encodeCorpusSql(),
        "bpe_pack_manifest" -> BpeOracle.packManifestSql(),
        "bpe_pack_pipeline" -> BpeOracle.packPipelineSql()) ++
      unigramOracleSql ++
      // Generated ANN-probe mirrors (see [[graft.AnnOracle]]): the murmur
      // LSH tier statically, the trained tiers under structures captured
      // from the registry queries' own memoized training runs. The Verify
      // recall/equality gates stay as the second, independent signal.
      AnnOracle.sqlEntries ++
      // Generated near-dup mirrors (see [[graft.DedupOracle]]).
      DedupOracle.sqlEntries

  /** DuckDB mirrors of the unigram-tokenizer family under the trained
    * model ([[graft.UnigramOracle]]): the piece table as literals
    * captured from the registry query's own (memoized) training run in
    * this JVM, the encode as a recursive integer-DP Viterbi replay.
    * Training is verified by the Verify gate's piece-for-piece equality
    * against the sequential reference, so oracle + gate together cover
    * the whole operator. Before the queries have run (cold cache) the
    * entries are omitted and the rows degrade to rows-only checks.
    */
  private def unigramOracleSql: Map[String, String] =
    operators.Unigram.lastModel.map { m =>
      Map(
        "unigram_train" -> UnigramOracle.trainSql(m),
        "unigram_encode_corpus" -> UnigramOracle.encodeCorpusSql(m))
    }.getOrElse(Map.empty)

  /** DuckDB replay of [[graft.operators.Graphs.pageRankPicos]]: the
    * 15-iteration integer power iteration UNROLLED (it0..it15 CTEs) —
    * recursive-CTE aggregate semantics vary by engine, a generated
    * unroll does not. Every step is 64-bit integer arithmetic with
    * truncating division (`//` floors, but all quantities are
    * non-negative, so it equals Spark's `div`), which is why the two
    * engines agree BIT FOR BIT and the row hashes.
    */
  private def pageRankOracleSql: String = {
    val steps = (1 to 15).map { i =>
      s"""it$i AS MATERIALIZED (
         |  SELECT m.node, m.has_out,
         |    CAST((150000000000 // nn.n)
         |      + (85 * (COALESCE(c.in_c, 0) + (dg.d // nn.n))) // 100 AS BIGINT) AS pr
         |  FROM marked m
         |  LEFT JOIN (SELECT s.dst AS node,
         |               CAST(sum((p.pr * s.sm) // 1000000) AS BIGINT) AS in_c
         |             FROM shares s JOIN it${i - 1} p ON s.src = p.node
         |             GROUP BY 1) c ON m.node = c.node
         |  CROSS JOIN (SELECT CAST(COALESCE(sum(CASE WHEN NOT has_out THEN pr END), 0)
         |                AS BIGINT) AS d FROM it${i - 1}) dg
         |  CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS MATERIALIZED (
       |  SELECT CAST(props->>'$$.k' AS BIGINT) AS item,
       |    LEAD(CAST(props->>'$$.k' AS BIGINT))
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_item
       |  FROM events),
       |edges AS MATERIALIZED (
       |  SELECT item AS src, next_item AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM tr WHERE next_item IS NOT NULL AND next_item <> item
       |  GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
       |shares AS MATERIALIZED (SELECT e.src, e.dst, (e.w * 1000000) // o.ow AS sm
       |           FROM edges e JOIN outw o USING (src)),
       |marked AS MATERIALIZED (SELECT n.node, o.src IS NOT NULL AS has_out
       |           FROM nodes n LEFT JOIN outw o ON n.node = o.src),
       |it0 AS MATERIALIZED (SELECT m.node, m.has_out,
       |          CAST(1000000000000 // nn.n AS BIGINT) AS pr
       |        FROM marked m CROSS JOIN nn),
       |$steps
       |SELECT node, CAST(pr AS DOUBLE) / 1000000000000.0 AS pr, pr AS pr_picos
       |FROM it15 ORDER BY pr_picos DESC, node""".stripMargin
  }

  /** DuckDB mirror of the `quality_model_score` SCORING path under the
    * trained weights: portable rolling-hash features, integer frequency
    * normalization, exact Long margin, top-20. The WEIGHTS are embedded
    * as literals captured from the registry query's own (memoized)
    * training run in this JVM — training itself is verified by the
    * Verify gate's bit-exact equality against the sequential reference,
    * so oracle + gate together cover the whole operator. Before the
    * query has run (cold cache) the entry is omitted and the row
    * degrades to the rows-only check.
    */
  private def qualityModelOracleSql: Map[String, String] =
    operators.QualityModel.lastPortableWeights
      .filter(_.exists(_ != 0L)).map { w =>
      val nBuckets = w.length - 1
      val nonzero = w.zipWithIndex.collect { case (wt, b) if wt != 0L => (b, wt) }
      val wvals = nonzero.map { case (b, wt) => s"($b,$wt)" }.mkString(", ")
      val bias = w(nBuckets)
      "quality_model_score" ->
        s"""WITH tk AS (
           |  SELECT doc_id, ${DedupOracle.tokensSql("text")} AS toks
           |  FROM documents),
           |f0 AS (
           |  SELECT doc_id, unnest(list_concat(toks,
           |    [toks[i+1] || ' ' || toks[i+2] FOR i IN range(greatest(len(toks)-1, 0))])) AS term
           |  FROM tk),
           |fb AS (
           |  SELECT doc_id, ${DedupOracle.hashModSql("term")} % $nBuckets AS bucket
           |  FROM f0),
           |cnt AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c FROM fb GROUP BY 1, 2),
           |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
           |wt(bucket, w) AS (SELECT * FROM (VALUES $wvals) v(bucket, w)),
           |marg AS (
           |  SELECT cnt.doc_id,
           |    CAST(sum(((cnt.c * 1000000) // tot.t) * COALESCE(wt.w, 0)) AS BIGINT)
           |      + (100000 * CAST($bias AS BIGINT)) AS margin_microsq
           |  FROM cnt JOIN tot USING (doc_id)
           |  LEFT JOIN wt ON cnt.bucket = wt.bucket
           |  GROUP BY 1),
           |top AS (SELECT doc_id, margin_microsq FROM marg
           |        ORDER BY margin_microsq DESC, doc_id LIMIT 20)
           |SELECT top.doc_id, top.margin_microsq, d.lang
           |FROM top JOIN documents d ON top.doc_id = d.doc_id
           |ORDER BY top.margin_microsq DESC, top.doc_id""".stripMargin
    }.toMap

  /** Shared DuckDB mirror of [[TextAnalysis.detectLanguageCol]]: CTE
    * chain `ln → lg → ls → lpred` ending in (doc_id, lang_pred) over
    * `documents`. Used by both `text_langid` and `corpus_datacard` so
    * the heuristic has exactly one mirror to drift from.
    */
  private def langidChainSql: String = {
    def lst(gs: Seq[String]) = gs.map(g => s"'${g.replace("'", "''")}'").mkString("[", ",", "]")
    def score(gs: Seq[String]) =
      s"len(list_filter(tris, g -> list_contains(${lst(gs)}, g)))"
    val structs = TextAnalysis.langProfiles.toSeq.sortBy(_._1)
      .collect { case (l, gs) if gs.nonEmpty => s"struct_pack(s := ${score(gs)}, l := '$l')" }
      .mkString(",\n      ")
    s"""ln AS (
       |  SELECT doc_id, text, ' ' || regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g') || ' ' AS t
       |  FROM documents),
       |lg AS (
       |  SELECT doc_id, text,
       |    CASE WHEN length(t) < 3 THEN CAST([] AS VARCHAR[])
       |         ELSE list_transform(range(length(t) - 2), i -> substr(t, CAST(i + 1 AS INT), 3)) END AS tris
       |  FROM ln),
       |ls AS (
       |  SELECT doc_id, text,
       |    list_max([
       |      $structs]) AS best
       |  FROM lg),
       |lpred AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 'und'
       |         WHEN 2 * length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}]', '', 'g')) >= length(text) THEN 'zh'
       |         WHEN best.s = 0 THEN 'und'
       |         ELSE best.l END AS lang_pred
       |  FROM ls)""".stripMargin
  }

  private val oracleMap: Map[String, String] = Map(
    "layout_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1998-06-30'
        |  AND l_extendedprice BETWEEN 20000 AND 40000
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_shipdate""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q10_returned_topk" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "w4_cohort_retention" ->
      """WITH c AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT e.user_id, c.cohort_week, date_trunc('week', e.ts) AS activity_week
        |  FROM events e JOIN c USING (user_id))
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, activity_week) / 7 AS INT) AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
        |FROM a GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q16_brand_suppliers" ->
      """SELECT p_brand,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |  CAST(count(*) AS BIGINT) AS n_lineitems
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "o11_delete_where" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE NOT (event_type = 'error' OR value < 0.2)
        |ORDER BY event_id""".stripMargin,

    // The sink round trips: the oracle sees what the sink accumulated.
    "o7_append_roundtrip" ->
      """SELECT doc_id, sha256(text) AS text_hash, source FROM documents
        |WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    // v1 = docs < 40; v2 = v1 upserted with 30..49 (same content for the
    // overlap, since the upsert batch comes from the same table) = docs
    // < 50. 'current' < 'v1' lexically, matching the Spark orderBy.
    "store_snapshot" ->
      """SELECT 'current' AS version_tag, doc_id, sha256(text) AS text_hash, source
        |FROM documents WHERE doc_id < 50
        |UNION ALL
        |SELECT 'v1', doc_id, sha256(text), source
        |FROM documents WHERE doc_id < 40
        |ORDER BY version_tag, doc_id""".stripMargin,

    // Compaction must move bytes without losing or duplicating a row:
    // the five modulo slices partition the table, so read-back after
    // compact equals the full original slice.
    "store_compact" ->
      """SELECT doc_id, sha256(text) AS text_hash, source FROM documents
        |ORDER BY doc_id""".stripMargin,

    // After clear + re-ingest, ONLY the new batch may remain.
    "o12_clear_reindex" ->
      """SELECT doc_id, sha256(text) AS text_hash, source FROM documents
        |WHERE doc_id >= 40 AND doc_id < 60 ORDER BY doc_id""".stripMargin,

    // Both stores filtered by the same victim set; chunk expansion is the
    // established strided formula (chunkSize=100, overlap=20 → stride 80).
    "o_delete_doc_both_stores" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 40),
        |kept AS (
        |  SELECT doc_id, text FROM d WHERE NOT (doc_id % 7 = 0)),
        |cat AS (
        |  SELECT 'catalog' AS store, doc_id AS file_id, '-' AS chunk_id,
        |    sha256(text) AS payload
        |  FROM kept),
        |n AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) <= 0 THEN 0
        |         WHEN length(text) <= 100 THEN 1
        |         ELSE CAST(floor((length(text) - 21) / 80.0) AS INT) + 1 END AS total_chunks
        |  FROM kept),
        |c AS (
        |  SELECT doc_id AS file_id,
        |    unnest(list_transform(range(total_chunks),
        |      i -> struct_pack(ci := CAST(i AS INT), ct := substr(text, CAST(i * 80 + 1 AS INT), 100)))) AS u
        |  FROM n WHERE total_chunks > 0),
        |ch AS (
        |  SELECT 'chunks' AS store, file_id,
        |    CAST(file_id AS VARCHAR) || '_' || CAST(u.ci AS VARCHAR) AS chunk_id,
        |    sha256(u.ct) AS payload
        |  FROM c)
        |SELECT store, file_id, chunk_id, payload FROM cat
        |UNION ALL
        |SELECT store, file_id, chunk_id, payload FROM ch
        |ORDER BY store, file_id, chunk_id""".stripMargin,

    // The element_at(metadata, 'pdf_producer') = 'lib-2' filter resolves
    // to: the key exists (loader wrote it: doc_id % 3 = 0) AND its value
    // matches (doc_id % 5 = 2) — free-form dict semantics flattened to
    // the equivalent predicate the fixed relational schema would need.
    "o_meta_open_schema" ->
      """WITH d AS (
        |  SELECT doc_id, text, source FROM documents
        |  WHERE doc_id < 60 AND doc_id % 3 = 0 AND doc_id % 5 = 2),
        |n AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN length(text) <= 0 THEN 0
        |         WHEN length(text) <= 100 THEN 1
        |         ELSE CAST(floor((length(text) - 21) / 80.0) AS INT) + 1 END AS total_chunks
        |  FROM d),
        |c AS (
        |  SELECT doc_id AS file_id, source,
        |    unnest(list_transform(range(total_chunks),
        |      i -> struct_pack(ci := CAST(i AS INT), ct := substr(text, CAST(i * 80 + 1 AS INT), 100)))) AS u
        |  FROM n WHERE total_chunks > 0)
        |SELECT CAST(file_id AS VARCHAR) || '_' || CAST(u.ci AS VARCHAR) AS chunk_id,
        |  file_id, source AS source_file, 'pdf' AS loader,
        |  'lib-' || CAST(file_id % 5 AS VARCHAR) AS pdf_producer,
        |  sha256(u.ct) AS chunk_hash
        |FROM c ORDER BY file_id, chunk_id""".stripMargin,

    "o9_upsert_replace" ->
      """WITH cat0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 30),
        |up0 AS (
        |  SELECT doc_id, 'v2 ' || text AS text FROM documents
        |  WHERE doc_id >= 10 AND doc_id < 20),
        |catn AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) <= 0 THEN 0
        |         WHEN length(text) <= 100 THEN 1
        |         ELSE CAST(floor((length(text) - 21) / 80.0) AS INT) + 1 END AS total_chunks
        |  FROM cat0),
        |upn AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) <= 0 THEN 0
        |         WHEN length(text) <= 100 THEN 1
        |         ELSE CAST(floor((length(text) - 21) / 80.0) AS INT) + 1 END AS total_chunks
        |  FROM up0),
        |catc AS (
        |  SELECT doc_id AS file_id, CAST(1 AS INT) AS version,
        |    unnest(list_transform(range(total_chunks),
        |      i -> struct_pack(ci := CAST(i AS INT), ct := substr(text, CAST(i * 80 + 1 AS INT), 100)))) AS u
        |  FROM catn WHERE total_chunks > 0),
        |upc AS (
        |  SELECT doc_id AS file_id, CAST(2 AS INT) AS version,
        |    unnest(list_transform(range(total_chunks),
        |      i -> struct_pack(ci := CAST(i AS INT), ct := substr(text, CAST(i * 80 + 1 AS INT), 100)))) AS u
        |  FROM upn WHERE total_chunks > 0),
        |merged AS (
        |  SELECT * FROM catc WHERE file_id NOT IN (SELECT DISTINCT file_id FROM upc)
        |  UNION ALL SELECT * FROM upc)
        |SELECT CAST(file_id AS VARCHAR) || '_' || CAST(u.ci AS VARCHAR) AS chunk_id,
        |  file_id, u.ci AS chunk_index, version, sha256(u.ct) AS chunk_hash
        |FROM merged ORDER BY file_id, chunk_index""".stripMargin,

    "o6_json_roundtrip" ->
      """SELECT user_id, count(*) AS message_count,
        |  min(ts) AS first_at, max(ts) AS last_at
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // The five stages reuse the exact SQL shapes already proven green by
    // t6_exact_dedup / text_fingerprint_mod / text_quality /
    // mix_temperature_sample / pack_sequences.
    "pretrain_corpus_pipeline" ->
      raw"""WITH d0 AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 10000, text, lang FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, upper(text), lang FROM documents WHERE doc_id < 30),
        |ex AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      min(doc_id) OVER (PARTITION BY sha256(text)) AS keep FROM d0)
        |  WHERE doc_id = keep),
        |nf0 AS (
        |  SELECT doc_id, text, lang,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM ex),
        |nf AS (
        |  SELECT doc_id, text, lang,
        |    ${DedupOracle.hashModSql("t")} AS fp
        |  FROM nf0),
        |nd AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang, min(doc_id) OVER (PARTITION BY fp) AS keep FROM nf)
        |  WHERE doc_id = keep),
        |qm AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |    CASE WHEN length(trim(text)) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x))) AS DOUBLE)
        |              / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END AS stopword_ratio
        |  FROM nd),
        |q AS (
        |  SELECT doc_id, text, lang FROM qm
        |  WHERE floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.3
        |      + least(stopword_ratio * 2.5, 1.0) * 0.3) * 1000000.0) / 1000000.0 >= 0.5),
        |quo AS (
        |  SELECT lang, CAST(floor(8.0 * sqrt(count(*))) AS INT) AS quota
        |  FROM q GROUP BY lang),
        |r AS (
        |  SELECT doc_id, text, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS INT) AS mix_rank
        |  FROM q),
        |sel AS (
        |  SELECT r.doc_id, r.text FROM r JOIN quo USING (lang) WHERE r.mix_rank <= quo.quota),
        |t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM sel),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT shard, CAST(floor(cum_before / 512) AS BIGINT) AS bin_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY shard, bin_id
        |ORDER BY shard, bin_id""".stripMargin,

    "ingest_pipeline_paged" ->
      """WITH pages AS (
        |  SELECT doc_id, source, text,
        |    unnest(range(0, greatest(CAST(ceil(len(text)/200.0) AS BIGINT), 1))) AS pg
        |  FROM documents WHERE doc_id < 100),
        |p AS (
        |  SELECT doc_id, source, CAST(pg + 1 AS INT) AS page,
        |    substr(text, CAST(pg AS INT)*200 + 1, 200) AS ptext
        |  FROM pages),
        |n AS (
        |  SELECT doc_id, source, page, ptext,
        |    CASE WHEN length(ptext) <= 0 THEN 0
        |         WHEN length(ptext) <= 120 THEN 1
        |         ELSE CAST(floor((length(ptext) - 21) / 100.0) AS INT) + 1 END AS total_chunks
        |  FROM p),
        |c AS (
        |  SELECT doc_id AS file_id, source AS source_file, page, total_chunks,
        |    unnest(list_transform(range(total_chunks),
        |      i -> struct_pack(ci := CAST(i AS INT), ct := substr(ptext, CAST(i * 100 + 1 AS INT), 120)))) AS u
        |  FROM n WHERE total_chunks > 0)
        |SELECT CAST(file_id AS VARCHAR) || '_p' || CAST(page AS VARCHAR) || '_' || CAST(u.ci AS VARCHAR) AS chunk_id,
        |  file_id, page, u.ci AS chunk_index, total_chunks, source_file,
        |  sha256(u.ct) AS chunk_hash
        |FROM c ORDER BY file_id, page, chunk_index""".stripMargin,

    "o3_html_extract" ->
      """SELECT doc_id, sha256(text) AS text_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "o4_format_dispatch" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    source || ['.pdf', '.DOCX', '.html', '.txt', '.Pdf'][CAST(doc_id % 5 + 1 AS INT)] AS path
        |  FROM documents)
        |SELECT doc_id, path,
        |  CASE WHEN ends_with(lower(path), '.pdf') THEN 'pdf'
        |       WHEN ends_with(lower(path), '.docx') THEN 'docx'
        |       WHEN ends_with(lower(path), '.html') THEN 'html'
        |       ELSE 'unsupported' END AS format
        |FROM p ORDER BY doc_id""".stripMargin,

    // O-2/O-1 round trips: the oracle hashes the ORIGINAL text — equality
    // holds iff the Spark-side build→extract is the identity.
    "o2_docx_extract" ->
      """SELECT doc_id, sha256(text) AS text_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    // extraction-status routing: only the truly bare Type0 slice
    // (doc_id % 32 == 24 — no ToUnicode, no embedded TrueType cmap, no
    // embedded CFF charset) quarantines with null text; every decodable
    // class round-trips, so its hash is the original's — which is what
    // hash-checks that each decode path is EXACT, not merely non-null
    "ingest_quarantine" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 32 = 24 THEN 'unsupported_font' ELSE 'ok' END AS extraction_status,
        |  (doc_id % 32 = 24) AS quarantined,
        |  CASE WHEN doc_id % 32 = 24 THEN NULL ELSE sha256(text) END AS text_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ingest_quarantine_stats" ->
      """SELECT CASE WHEN doc_id % 32 = 24 THEN 'unsupported_font' ELSE 'ok' END AS extraction_status,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY extraction_status""".stripMargin,

    "o1_pdf_extract" ->
      """WITH pages AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(len(text)/200.0) AS BIGINT), 1))) AS pg
        |  FROM documents)
        |SELECT doc_id, CAST(pg + 1 AS INT) AS page,
        |  sha256(substr(text, CAST(pg AS INT)*200 + 1, 200)) AS page_hash
        |FROM pages ORDER BY doc_id, page""".stripMargin,

    "t3_embed_documents" -> t3EmbedOracleSql,
    "rag_chat_pipeline" -> ragChatOracleSql,
    "rag_chat_hybrid" -> ragChatHybridOracleSql,
    "t1_split_chunks" -> t1SplitOracleSql,
    "ingest_pipeline" -> ingestPipelineOracleSql,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_revenue_orders" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_revenue_by_nation" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "j1_broadcast_brand_revenue" ->
      """SELECT p_brand, round(sum(l_extendedprice), 4) AS revenue, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "s1_history_last10" ->
      """SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn <= 10
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "t12_unnest_messages" ->
      """SELECT user_id, event_id, role, content FROM (
        |  SELECT user_id, event_id, 'human' AS role, event_type AS content FROM events
        |  UNION ALL
        |  SELECT user_id, event_id, 'ai' AS role, props AS content FROM events) t
        |ORDER BY event_id, role DESC""".stripMargin,

    "a4_session_stats" ->
      """SELECT user_id, count(*) AS message_count,
        |  min(ts) AS first_at, max(ts) AS last_at
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a10_activity_stats" ->
      """SELECT count(*) AS total_messages,
        |  count(DISTINCT user_id) AS total_sessions,
        |  count(DISTINCT CASE WHEN ts > TIMESTAMP '2024-01-25 00:00:00' THEN user_id END) AS active_sessions
        |FROM events""".stripMargin,

    "a5_expired_sessions" ->
      """SELECT user_id FROM events GROUP BY user_id
        |HAVING max(ts) < TIMESTAMP '2024-01-30 12:00:00'
        |ORDER BY user_id""".stripMargin,

    "j4_purge_expired" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE user_id NOT IN (
        |  SELECT user_id FROM events GROUP BY user_id
        |  HAVING max(ts) < TIMESTAMP '2024-01-30 12:00:00')
        |ORDER BY event_id""".stripMargin,

    "o13_retention" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY event_id""".stripMargin,

    "t5_content_hash" ->
      """SELECT doc_id, sha256(text) AS file_hash FROM documents ORDER BY doc_id""".stripMargin,

    "t6_exact_dedup" ->
      """SELECT sha256(text) AS file_hash, min(doc_id) AS keep_doc_id, count(*) AS copies
        |FROM documents GROUP BY sha256(text) ORDER BY keep_doc_id""".stripMargin,

    "j3_dedup_gate" ->
      """SELECT doc_id, sha256(text) AS file_hash FROM documents i
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c WHERE c.doc_id < 250
        |    AND sha256(c.text) = sha256(i.text))
        |ORDER BY doc_id""".stripMargin,

    "p1_file_validation" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'up/' || source || ' doc(' || CAST(doc_id AS VARCHAR) || ').PDF' AS raw_name,
        |    n_chars
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, raw_name, n_chars,
        |    regexp_extract(raw_name, '([^/]*)$', 1) AS base,
        |    regexp_replace(regexp_extract(raw_name, '([^/]*)$', 1), '[^A-Za-z0-9._-]', '_', 'g') AS cleaned
        |  FROM d)
        |SELECT doc_id, raw_name,
        |  lower(regexp_extract(raw_name, '(\.[^.]+)$', 1)) IN ('.pdf', '.docx', '.html') AS ok_ext,
        |  n_chars <= 10485760 AS ok_size,
        |  CASE
        |    WHEN length(trim(cleaned)) = 0 OR trim(cleaned) = '.' THEN 'unnamed_file'
        |    WHEN cleaned LIKE '.%' THEN 'file_' || substr(cleaned, 2)
        |    ELSE cleaned
        |  END AS sanitized
        |FROM s ORDER BY doc_id""".stripMargin,

    "p5_query_validation" ->
      """SELECT doc_id,
        |  (length(text) <= 2000 AND trim(text) <> '') AS ok_query,
        |  regexp_full_match(source, '[A-Za-z0-9-]+') AS ok_session
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p13_derived_cost" ->
      """SELECT count(*) AS total_messages,
        |  count(*) * 4 AS old_api_calls,
        |  count(*) * 3 AS new_api_calls,
        |  count(*) AS calls_saved
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "p14_preview" ->
      """SELECT doc_id, substr(text, 1, 50) || '...' AS preview
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p16_time_format" ->
      """SELECT event_id,
        |  printf('%02dh %02dm %02ds',
        |    CAST(floor(value) AS BIGINT) // 3600,
        |    (CAST(floor(value) AS BIGINT) % 3600) // 60,
        |    CAST(floor(value) AS BIGINT) % 60) AS elapsed
        |FROM events ORDER BY event_id""".stripMargin,

    "t10_json_extract" ->
      """SELECT event_id, CAST(props->>'$.k' AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "p10_emotion_normalize" ->
      """SELECT event_id,
        |  CASE WHEN lower(event_type) IN ('happy','explaining','thinking','encouraging','neutral')
        |       THEN lower(event_type) ELSE 'neutral' END AS emotion
        |FROM events ORDER BY event_id""".stripMargin,

    "s3_recency_sort" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id LIMIT 20""".stripMargin,

    "s4_topk_by_score" ->
      """SELECT event_id, user_id, value FROM events
        |ORDER BY value DESC, event_id LIMIT 5""".stripMargin,

    "a6_event_counters" ->
      """SELECT event_type, count(*) AS n_requests,
        |  count(CASE WHEN value > 500.0 THEN 1 END) AS n_big
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "t1b_chunk_fixed" ->
      """SELECT doc_id, CAST(i AS INT) AS chunk_index,
        |  substr(text, CAST(i AS INT) * 100 + 1, 100) AS chunk_text
        |FROM documents, UNNEST(range((length(text) + 99) // 100)) AS t(i)
        |ORDER BY doc_id, chunk_index""".stripMargin,

    "t4_knn_cosine" ->
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    ${DedupOracle.cosineSql("q.qe", "e.embedding", 64)} AS sim
        |  FROM q CROSS JOIN embeddings e),
        |ranked AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(sim, 6) AS sim
        |FROM ranked WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,

    "p9_filtered_knn" ->
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    ${DedupOracle.cosineSql("q.qe", "e.embedding", 64)} AS sim
        |  FROM q CROSS JOIN (SELECT * FROM embeddings WHERE label = 1) e),
        |ranked AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(sim, 6) AS sim
        |FROM ranked WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,

    "t7_stuff_context" ->
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    ${DedupOracle.cosineSql("q.qe", "e.embedding", 64)} AS sim
        |  FROM q CROSS JOIN embeddings e),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored),
        |topk AS (
        |  SELECT r.query_id, r.rank, d.text
        |  FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
        |  WHERE r.rank <= 2)
        |SELECT query_id,
        |  string_agg(text, chr(10) || chr(10) ORDER BY rank) AS context
        |FROM topk GROUP BY query_id ORDER BY query_id""".stripMargin,

    // df <= 150 cap mirrors ngramJaccardPairs(maxDf = 150): Jaccard over
    // the capped shingle universe (sizes counted after the cap too).
    "dedup_ngram_jaccard" ->
      """WITH sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i + 1, 3) FOR i IN range(length(text) - 2)])) AS shingle
        |  FROM documents WHERE doc_id < 200 AND length(text) >= 3),
        |dfx AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
        |sh AS (SELECT sh0.* FROM sh0 JOIN dfx USING (shingle) WHERE df <= 150),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b,
        |  round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_containment" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 30000, text || ' qq' || CAST(doc_id AS VARCHAR) || ' zz'
        |  FROM documents WHERE doc_id < 30),
        |sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i + 1, 3) FOR i IN range(length(text) - 2)])) AS shingle
        |  FROM docs2 WHERE length(text) >= 3),
        |dfx AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
        |sh AS (SELECT sh0.* FROM sh0 JOIN dfx USING (shingle) WHERE df <= 120),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b,
        |  round(CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE), 6) AS cont_a_in_b,
        |  round(CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE), 6) AS cont_b_in_a
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE greatest(CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE),
        |               CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Step-for-step mirror of the registered query: the jittered-twin
    // union, then embeddingNearDupBucketed(nBits=28, bands=4) with its
    // candidate generation oracle-checked.
    "dedup_embedding_cosine" ->
      s"""WITH u AS (
        |  ${DedupOracle.twinsSql}),
        |${DedupOracle.embeddingNearDupSql("u", dim = 64, nBits = 28, bands = 4, threshold = 0.95)}""".stripMargin,

    // SemDeDup mirror: same jittered-twin union as dedup_embedding_cosine,
    // centroids = embeddings of the 32 smallest vec_ids (cell = seed
    // position), assignment = argmax cosine (tie -> lowest cell; the
    // row_number sort mirrors assignCells' strict `>` update), dropped =
    // has a >=0.95 neighbor with smaller id in the same cell.
    "dedup_semantic" ->
      s"""WITH u AS (
        |  ${DedupOracle.twinsSql}),
        |sd AS (
        |  SELECT embedding AS cent, CAST(rn - 1 AS INT) AS cell FROM (
        |    SELECT embedding, row_number() OVER (ORDER BY vec_id) AS rn FROM u) t
        |  WHERE rn <= 32),
        |asg AS (
        |  SELECT u.vec_id, u.embedding, sd.cell,
        |    ${DedupOracle.cosineSql("u.embedding", "sd.cent", 64)} AS sim
        |  FROM u CROSS JOIN sd),
        |best AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT vec_id, embedding, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        |    FROM asg) t WHERE rn = 1),
        |dup AS (
        |  SELECT DISTINCT b.vec_id FROM best a JOIN best b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE ${DedupOracle.cosineSql("a.embedding", "b.embedding", 64)} >= 0.95)
        |SELECT best.vec_id, best.cell, (dup.vec_id IS NULL) AS kept
        |FROM best LEFT JOIN dup ON best.vec_id = dup.vec_id
        |ORDER BY best.vec_id""".stripMargin,

    // Attribute sidecar mirror: the gopher CTEs (text_gopher_rules), the
    // floored quality formula (text_quality), the shared langid chain,
    // and a min-doc_id-per-text dup window, all rebased onto docs2 (the
    // corpus plus the doc_id<40 exact copies); first_failed is the same
    // ordered CASE the Scala policy declares.
    "pipeline_attributes" ->
      s"""WITH docs2 AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text, lang FROM documents WHERE doc_id < 40),
         |${langidChainSql.replace("FROM documents", "FROM docs2")},
         |w AS (
         |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')) AS w
         |  FROM docs2),
         |c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
         |rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS rep_ratio FROM c GROUP BY 1),
         |gbase AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) END AS n_tokens,
         |    CASE WHEN length(trim(text)) = 0 THEN 0.0
         |         ELSE CAST(len(array_to_string(regexp_split_to_array(trim(text), '\\s+'), '')) AS DOUBLE)
         |              / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) END AS mean_len,
         |    len(list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))) AS n_stop
         |  FROM docs2),
         |g AS (
         |  SELECT gbase.doc_id, n_tokens,
         |    (n_tokens >= 30 AND n_tokens <= 100000) AND (mean_len >= 4.0 AND mean_len <= 10.0)
         |      AND (coalesce(rep_ratio, 0.0) <= 0.125) AND (n_stop >= 2) AS gopher_keep
         |  FROM gbase LEFT JOIN rep ON gbase.doc_id = rep.doc_id),
         |q AS (
         |  SELECT doc_id,
         |    floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
         |      + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
         |          ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
         |               / CAST(length(text) AS DOUBLE) END) * 5.0) * 0.3
         |      + least((CASE WHEN length(trim(text)) = 0 THEN 0.0
         |          ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                 x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x))) AS DOUBLE)
         |               / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) END) * 2.5, 1.0) * 0.3
         |      ) * 1000000.0) / 1000000.0 AS quality
         |  FROM docs2),
         |dup AS (
         |  SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_exact_dup FROM docs2),
         |j AS (
         |  SELECT d2.doc_id, g.n_tokens, g.gopher_keep, q.quality, lpred.lang_pred,
         |    lpred.lang_pred = d2.lang AS lang_match, dup.is_exact_dup
         |  FROM docs2 d2
         |  JOIN g ON g.doc_id = d2.doc_id
         |  JOIN q ON q.doc_id = d2.doc_id
         |  JOIN lpred ON lpred.doc_id = d2.doc_id
         |  JOIN dup ON dup.doc_id = d2.doc_id)
         |SELECT doc_id, n_tokens, gopher_keep, quality, lang_pred, lang_match, is_exact_dup,
         |  CASE WHEN is_exact_dup THEN 'exact_dup'
         |       WHEN NOT gopher_keep THEN 'gopher'
         |       WHEN quality < 0.5 THEN 'quality'
         |       WHEN NOT lang_match THEN 'lang_mismatch'
         |       ELSE 'none' END AS first_failed,
         |  NOT is_exact_dup AND gopher_keep AND quality >= 0.5 AND lang_match AS keep
         |FROM j ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |    CASE WHEN length(trim(text)) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x))) AS DOUBLE)
        |              / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  floor(punct_ratio * 1000000.0) / 1000000.0 AS punct_ratio,
        |  floor(stopword_ratio * 1000000.0) / 1000000.0 AS stopword_ratio,
        |  floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.3
        |      + least(stopword_ratio * 2.5, 1.0) * 0.3) * 1000000.0) / 1000000.0 AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    // Mean quality in integer micro-units: floor(score*1e6) summed as
    // BIGINT then floor-divided — no floating-point aggregation order to
    // disagree on. Same quality expression as text_quality.
    "quality_source_gate" ->
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents
        |  WHERE doc_id < 200 AND source IN ('src0', 'src1')
        |  UNION ALL
        |  SELECT doc_id + 200000, source, text FROM documents
        |  WHERE doc_id < 200 AND source IN ('src0', 'src1')),
        |q AS (
        |  SELECT doc_id, source,
        |    CAST(floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
        |          ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |               / CAST(length(text) AS DOUBLE) END) * 5.0) * 0.3
        |      + least((CASE WHEN length(trim(text)) = 0 THEN 0.0
        |          ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                 x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x))) AS DOUBLE)
        |               / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END) * 2.5, 1.0) * 0.3
        |      ) * 1000000.0) AS BIGINT) AS q_micros,
        |    sha256(text) AS h
        |  FROM d),
        |s AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS src_docs,
        |    CAST(floor(sum(q_micros) / count(*)) AS BIGINT) AS src_mean_q_micros,
        |    CAST(floor((count(*) - count(DISTINCT h)) * 1000000.0 / count(*)) AS BIGINT) AS src_dup_micros
        |  FROM q GROUP BY source)
        |SELECT q.doc_id, q.source, s.src_docs, s.src_mean_q_micros, s.src_dup_micros,
        |  (s.src_docs >= 3 AND s.src_mean_q_micros >= 590000 AND s.src_dup_micros <= 20000) AS keep_source
        |FROM q JOIN s ON q.source = s.source
        |ORDER BY q.doc_id""".stripMargin,

    "q6_revenue_forecast" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    // Written in the ORIGINAL correlated form here — DuckDB decorrelates
    // it the same way the Spark side does by hand, so this doubles as a
    // semantics check of the rewrite.
    "q17_small_qty_revenue" ->
      """SELECT floor(sum(l.l_extendedprice) / 7.0 * 10000.0) / 10000.0 AS avg_yearly
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand = 'Brand#11'
        |  AND l.l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin,

    "q12_conditional_agg" ->
      """SELECT l_returnflag,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q14_promo_ratio" ->
      """SELECT round(100.0 *
        |  sum(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) /
        |  sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, round(total_qty, 4) AS total_qty
        |FROM (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) big
        |JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    "w5_moving_avg" ->
      """SELECT user_id, event_id,
        |  round(avg(CAST(floor(value * 1000) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS avg_v_mil
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    // Same floored-epoch-seconds discipline as w1 so the 86400 s gap
    // threshold cuts identically in both engines.
    "w6_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |  FROM events),
        |st AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_s IS NULL OR s - prev_s > 86400 THEN 1 ELSE 0 END AS is_start
        |  FROM g),
        |sx AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_idx
        |  FROM st)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts) AS started_at, max(ts) AS ended_at
        |FROM sx GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,

    "w1_event_gaps" ->
      """SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT)
        |    - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
        |    AS gap_seconds
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    // Funnel mirror: the same frontier-join chain — each step's first
    // occurrence strictly after the previous step, within 7 days of the
    // anchor; all arithmetic in epoch-micros BIGINTs.
    "w7_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, s1.t1, min(e.us) AS tp FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.us > s1.t1
        |    AND e.us <= s1.t1 + 604800000000 GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, s2.t1, min(e.us) AS tp FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us > s2.tp
        |    AND e.us <= s2.t1 + 604800000000 GROUP BY 1, 2)
        |SELECT 1 AS step_idx, 'view' AS event_type,
        |  CAST(count(*) AS BIGINT) AS n_users, CAST(0 AS BIGINT) AS sum_latency_us FROM s1
        |UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(tp - t1), 0) AS BIGINT) FROM s2
        |UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(tp - t1), 0) AS BIGINT) FROM s3
        |ORDER BY step_idx""".stripMargin,

    "w8_pivot_daily" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "w2_rollup_daily" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type, count(*) AS n
        |FROM events
        |GROUP BY ROLLUP(CAST(CAST(ts AS DATE) AS VARCHAR), event_type)
        |ORDER BY day ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin,

    "w3_sliding_rate" ->
      """WITH w AS (
        |  SELECT user_id,
        |    ((CAST(floor(epoch(ts)) AS BIGINT) // 600) - k) * 600 AS ws
        |  FROM events, UNNEST(range(6)) AS t(k)),
        |c AS (SELECT ws, user_id, count(*) AS n_requests FROM w GROUP BY ws, user_id)
        |SELECT TIMESTAMP '1970-01-01 00:00:00' + ws * INTERVAL 1 SECOND AS window_start,
        |  user_id, n_requests
        |FROM c WHERE n_requests > 1
        |ORDER BY window_start, user_id""".stripMargin,

    "t10b_props_struct" ->
      """SELECT event_id, CAST(props->>'$.k' AS INT) AS k,
        |  CAST(props->>'$.k' AS INT) >= 50 AS k_high
        |FROM events ORDER BY event_id""".stripMargin,

    "j5_point_lookup" ->
      """SELECT doc_id, source, lang, n_chars FROM documents WHERE doc_id = 42""".stripMargin,

    "s2_full_sort" ->
      """SELECT event_id, ts, event_type FROM events
        |WHERE user_id = 7 ORDER BY ts, event_id""".stripMargin,

    "j6_asof_attribution" ->
      """WITH v AS (
        |  SELECT user_id, ts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id,
        |  coalesce(v.view_id, -1) AS view_id,
        |  coalesce(epoch_us(p.ts) - epoch_us(v.ts), -1) AS gap_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.purchase_id""".stripMargin,

    "j7_range_band_join" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |  (0, 880.0, 910.0), (1, 900.0, 950.0), (2, 920.0, 940.0),
        |  (3, 925.0, 975.0), (4, 950.0, 1000.0), (5, 990.0, 1000.0))
        |SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS n_parts,
        |  CAST(sum(CAST(round(p_retailprice * 10) AS BIGINT)) AS BIGINT) AS sum_deci
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,

    "j9_range_window_auto" ->
      """WITH w(window_id, w_start, w_end) AS (VALUES
        |  (0, TIMESTAMP '2024-01-02 00:00:00', TIMESTAMP '2024-01-02 12:00:00'),
        |  (1, TIMESTAMP '2024-01-02 06:00:00', TIMESTAMP '2024-01-03 00:00:00'),
        |  (2, TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-11 00:00:00'),
        |  (3, TIMESTAMP '2024-01-20 18:00:00', TIMESTAMP '2024-01-21 06:00:00'),
        |  (4, TIMESTAMP '2024-01-29 00:00:00', TIMESTAMP '2024-02-01 00:00:00'))
        |SELECT CAST(window_id AS BIGINT) AS window_id,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
        |GROUP BY window_id ORDER BY window_id""".stripMargin,

    "j8_interval_enrich" ->
      """SELECT q.event_id AS query_id, q.user_id, e.event_id, e.event_type
        |FROM events q JOIN events e ON q.user_id = e.user_id
        |  AND e.ts >= q.ts - INTERVAL 6 HOUR AND e.ts <= q.ts
        |WHERE q.event_id % 97 = 0
        |ORDER BY query_id, e.event_id""".stripMargin,

    "sketch_heavy_hitters" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "text_rarity_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM freq),
        |r AS (
        |  SELECT t.doc_id, tot.total / CAST(f.freq AS DOUBLE) AS rarity
        |  FROM toks t JOIN freq f USING (tok) CROSS JOIN tot),
        |d AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    list_reduce(list_prepend(0.0, list_sort(list(rarity))),
        |                (a, b) -> a + b) AS rarity_sum
        |  FROM r GROUP BY doc_id)
        |SELECT doc_id, n_toks, rarity_sum, rarity_sum / n_toks AS mean_rarity
        |FROM d ORDER BY doc_id""".stripMargin,

    "mix_temperature_sample" ->
      """WITH q AS (
        |  SELECT lang, CAST(floor(8.0 * sqrt(count(*))) AS INT) AS quota
        |  FROM documents GROUP BY lang),
        |r AS (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS INT) AS mix_rank
        |  FROM documents)
        |SELECT r.lang, r.mix_rank, r.doc_id, q.quota
        |FROM r JOIN q USING (lang)
        |WHERE r.mix_rank <= q.quota
        |ORDER BY r.lang, r.mix_rank""".stripMargin,

    "scale_salted_count" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Naive product form of the Knuth hash: equal to the Spark side's
    // overflow-safe split-multiply wherever the product fits (it does at
    // fixture id ranges; the split form exists for ids above ~3.4e9).
    "shard_deterministic" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ((doc_id + 42) * 2654435761) % 4294967296 AS shuffle_hash
        |  FROM documents)
        |SELECT shuffle_hash % 8 AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(shuffle_hash) AS min_hash,
        |  max(shuffle_hash) AS max_hash,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    "o10_delete_by_key" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE user_id NOT IN (1, 2, 3)
        |ORDER BY event_id""".stripMargin,

    "p15_humanize_size" ->
      """WITH b AS (
        |  SELECT event_id, CAST(floor(value * 12345) AS BIGINT) AS n_bytes FROM events)
        |SELECT event_id, n_bytes,
        |  CASE
        |    WHEN n_bytes < 1024 THEN CAST(n_bytes AS VARCHAR) || ' B'
        |    WHEN n_bytes < 1048576 THEN
        |      CAST(round(CAST(n_bytes AS DOUBLE) / 1024.0, 1) AS VARCHAR) || ' KB'
        |    ELSE CAST(round(CAST(n_bytes AS DOUBLE) / 1048576.0, 1) AS VARCHAR) || ' MB'
        |  END AS human_size
        |FROM b ORDER BY event_id""".stripMargin,

    "p17_quota_countdown" ->
      """WITH x AS (
        |  SELECT event_id, ts,
        |    timezone('US/Pacific', timezone('UTC', ts)) AS pt_wall
        |  FROM events)
        |SELECT event_id,
        |  CAST(floor(epoch(timezone('US/Pacific',
        |      date_trunc('day', pt_wall) + INTERVAL 1 DAY))) AS BIGINT)
        |  - CAST(floor(epoch(timezone('UTC', ts))) AS BIGINT) AS seconds_to_reset
        |FROM x ORDER BY event_id""".stripMargin,

    "t11_markdown_strip" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    '# ' || source || chr(10) || '**' || substr(text, 1, 30) ||
        |    '** and `' || lang || '` [link](http://example.com/' ||
        |    CAST(doc_id AS VARCHAR) || ')' || chr(10) || '- item' || chr(10) || '> quote' AS md
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(
        |                  regexp_replace(md, '!\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |                  '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |                '```[a-zA-Z]*', '', 'g'),
        |              '`', '', 'g'),
        |            '(?m)^#{1,6}[ \t]*', '', 'g'),
        |          '(?m)^>[ \t]*', '', 'g'),
        |        '(?m)^[ \t]*[-*+][ \t]+', '', 'g'),
        |      '(\*\*|__|\*|_)', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS plain
        |FROM m ORDER BY doc_id""".stripMargin,

    "text_length_stats" ->
      """SELECT count(*) AS n_docs,
        |  round(avg(n_chars), 4) AS mean_chars,
        |  round(stddev_samp(n_chars), 4) AS sd_chars,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents""".stripMargin,

    "set_ops_users" ->
      """(SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 100.0
        | INTERSECT
        | SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 100.0)
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 300.0
        |ORDER BY user_id""".stripMargin,

    "cube_counts" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type, count(*) AS n
        |FROM events
        |WHERE CAST(CAST(ts AS DATE) AS VARCHAR) <= '2024-01-03'
        |GROUP BY CUBE(CAST(CAST(ts AS DATE) AS VARCHAR), event_type)
        |ORDER BY day ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin,

    "q2_min_per_group" ->
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS rn
        |  FROM part) t
        |WHERE rn = 1 ORDER BY p_brand""".stripMargin,

    "audit_orphans" ->
      """SELECT 'lineitem->orders' AS fk_edge,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |ORDER BY fk_edge""".stripMargin,

    "sample_stratified" ->
      """SELECT source, sample_rank, doc_id, lang FROM (
        |  SELECT source, doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS INT) AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 10
        |ORDER BY source, sample_rank""".stripMargin,

    // A-Res weighted sampling: weight = the text_quality composite score
    // (replicated below), u = the same fixed doc_id hash as
    // sample_stratified mapped into (0,1), key = ln(u)/weight floored at
    // 6 decimals, top-25 by key with doc_id tiebreak.
    "sample_weighted" ->
      """WITH q AS (
        |  SELECT doc_id, lang, source,
        |    floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
        |          ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |               / CAST(length(text) AS DOUBLE) END) * 5.0) * 0.3
        |      + least((CASE WHEN length(trim(text)) = 0 THEN 0.0
        |          ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                 x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x))) AS DOUBLE)
        |               / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END) * 2.5, 1.0) * 0.3)
        |      * 1000000.0) / 1000000.0 AS weight
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, source, weight,
        |    floor(ln(((doc_id * 2654435761) % 4294967296 + 1) / 4294967297.0) / weight
        |      * 1000000.0) / 1000000.0 AS skey
        |  FROM q WHERE weight > 0)
        |SELECT doc_id, skey, weight, lang, source FROM s
        |ORDER BY skey DESC, doc_id LIMIT 25""".stripMargin,

    // DSIR: unigram+bigram features bucketed by the rolling mod-p hash
    // (the fingerprint/minhash list_reduce form) % 1024; target model =
    // the lang='es' slice, raw model = the whole corpus; per-bucket
    // log-ratio with add-1 smoothing over (total + 1024); per-doc weight
    // = sum of its occurrences' log-ratios, floored at 6 dp. doc_id <
    // 65536 at every test SF, so knuthHash32(doc_id+seed) reduces to
    // ((doc_id+seed)*2654435761) % 2^32 exactly as in sample_weighted.
    "dsir_weights" ->
      s"""WITH tk AS (
        |  SELECT doc_id, ${DedupOracle.tokensSql("text")} AS toks
        |  FROM documents),
        |f0 AS (
        |  SELECT doc_id, unnest(list_concat(toks,
        |    [toks[i+1] || ' ' || toks[i+2] FOR i IN range(greatest(len(toks)-1, 0))])) AS term
        |  FROM tk),
        |fb AS (
        |  SELECT doc_id, ${DedupOracle.hashModSql("term")} % 1024 AS bucket
        |  FROM f0),
        |tcnt AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS ct
        |  FROM fb JOIN documents USING (doc_id) WHERE lang = 'es' GROUP BY 1),
        |rcnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM rcnt) AS r_total,
        |               (SELECT CAST(sum(ct) AS DOUBLE) FROM tcnt) AS t_total),
        |lam AS (
        |  SELECT coalesce(rcnt.bucket, tcnt.bucket) AS bucket,
        |    ln((coalesce(ct, 0) + 1.0) / (t_total + 1024.0))
        |      - ln((coalesce(cr, 0) + 1.0) / (r_total + 1024.0)) AS lam
        |  FROM rcnt FULL OUTER JOIN tcnt ON rcnt.bucket = tcnt.bucket, tot),
        |w AS (
        |  SELECT doc_id, floor(sum(lam) * 1000000) / 1000000 AS logw
        |  FROM fb JOIN lam USING (bucket) GROUP BY 1),
        |top AS (SELECT doc_id, logw FROM w ORDER BY logw DESC, doc_id LIMIT 20)
        |SELECT top.doc_id, top.logw, d.lang
        |FROM top JOIN documents d ON top.doc_id = d.doc_id
        |ORDER BY top.logw DESC, top.doc_id""".stripMargin,

    "dsir_select" ->
      s"""WITH tk AS (
        |  SELECT doc_id, ${DedupOracle.tokensSql("text")} AS toks
        |  FROM documents),
        |f0 AS (
        |  SELECT doc_id, unnest(list_concat(toks,
        |    [toks[i+1] || ' ' || toks[i+2] FOR i IN range(greatest(len(toks)-1, 0))])) AS term
        |  FROM tk),
        |fb AS (
        |  SELECT doc_id, ${DedupOracle.hashModSql("term")} % 1024 AS bucket
        |  FROM f0),
        |tcnt AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS ct
        |  FROM fb JOIN documents USING (doc_id) WHERE lang = 'es' GROUP BY 1),
        |rcnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM rcnt) AS r_total,
        |               (SELECT CAST(sum(ct) AS DOUBLE) FROM tcnt) AS t_total),
        |lam AS (
        |  SELECT coalesce(rcnt.bucket, tcnt.bucket) AS bucket,
        |    ln((coalesce(ct, 0) + 1.0) / (t_total + 1024.0))
        |      - ln((coalesce(cr, 0) + 1.0) / (r_total + 1024.0)) AS lam
        |  FROM rcnt FULL OUTER JOIN tcnt ON rcnt.bucket = tcnt.bucket, tot),
        |w AS (
        |  SELECT doc_id, floor(sum(lam) * 1000000) / 1000000 AS logw
        |  FROM fb JOIN lam USING (bucket) GROUP BY 1),
        |g AS (
        |  SELECT doc_id, logw,
        |    floor((logw - ln(-ln((((doc_id + 7) * 2654435761) % 4294967296 + 1) / 4294967297.0)))
        |      * 1000000) / 1000000 AS skey
        |  FROM w)
        |SELECT doc_id, logw, skey FROM g
        |ORDER BY skey DESC, doc_id LIMIT 30""".stripMargin,

    "sample_split" ->
      """WITH b AS (
        |  SELECT *, (doc_id * 2654435761) % 1000 AS bucket FROM documents)
        |SELECT CASE WHEN bucket < 800 THEN 'train'
        |            WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    // Gopher-style named rule booleans; thresholds as in the registry
    // query. Pure integer-derived ratios, so both engines agree exactly.
    "text_gopher_rules" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS rep_ratio FROM c GROUP BY 1),
        |base AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens,
        |    CASE WHEN length(trim(text)) = 0 THEN 0.0
        |         ELSE CAST(len(array_to_string(regexp_split_to_array(trim(text), '\s+'), '')) AS DOUBLE)
        |              / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END AS mean_len,
        |    len(list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))) AS n_stop
        |  FROM documents)
        |SELECT base.doc_id, n_tokens,
        |  n_tokens >= 30 AND n_tokens <= 100000 AS rule_word_count,
        |  mean_len >= 4.0 AND mean_len <= 10.0 AS rule_mean_word_len,
        |  coalesce(rep_ratio, 0.0) <= 0.125 AS rule_repetition,
        |  n_stop >= 2 AS rule_stopwords,
        |  (n_tokens >= 30 AND n_tokens <= 100000) AND (mean_len >= 4.0 AND mean_len <= 10.0)
        |    AND (coalesce(rep_ratio, 0.0) <= 0.125) AND (n_stop >= 2) AS keep
        |FROM base LEFT JOIN rep ON base.doc_id = rep.doc_id
        |ORDER BY base.doc_id""".stripMargin,

    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, count(*) AS c FROM w WHERE w <> '' GROUP BY doc_id, w)
        |SELECT doc_id, max(c) AS max_word_count,
        |  CAST(sum(c) AS BIGINT) AS n_words,
        |  floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) * 1000000.0) / 1000000.0
        |    AS repetition_ratio
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_fingerprint_mod" ->
      raw"""WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents)
        |SELECT doc_id, ${DedupOracle.hashModSql("t")} AS fp
        |FROM n ORDER BY doc_id""".stripMargin,

    "text_redact_pii" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or 555-123-4567, ssn 123-45-6789, host 10.0.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(dirty,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |    '(\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g')
        |    AS scrubbed
        |FROM d ORDER BY doc_id""".stripMargin,

    // df <= 25 cap on the corpus-side shingle index mirrors
    // contaminationCheck(maxDf = 25).
    "text_contamination" ->
      """WITH c0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i + 1, 13) FOR i IN range(length(text) - 12)])) AS shingle
        |  FROM documents WHERE doc_id < 450 AND length(text) >= 13),
        |dfx AS (SELECT shingle, count(*) AS df FROM c0 GROUP BY shingle),
        |c AS (SELECT c0.* FROM c0 JOIN dfx USING (shingle) WHERE df <= 25),
        |b AS (
        |  SELECT doc_id AS bench_id, unnest(list_distinct(
        |    [substr(text, i + 1, 13) FOR i IN range(length(text) - 12)])) AS shingle
        |  FROM documents WHERE doc_id >= 450 AND doc_id < 500 AND length(text) >= 13)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_shared_shingles
        |FROM c JOIN b ON c.shingle = b.shingle
        |GROUP BY c.doc_id, b.bench_id
        |HAVING count(*) >= 3
        |ORDER BY c.doc_id, b.bench_id""".stripMargin,

    "text_length_quantiles" ->
      """WITH t AS (
        |  SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS n_tokens
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(n_tokens), 6) AS mean_tokens,
        |  round(quantile_cont(n_tokens, 0.5), 6) AS p50,
        |  round(quantile_cont(n_tokens, 0.9), 6) AS p90,
        |  round(quantile_cont(n_tokens, 0.99), 6) AS p99,
        |  CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |FROM t""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS INT) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // BM25 with the exact float-literal discipline of the Spark side:
    // k1=1.25, b=0.75 (binary-exact), idf = ln(1 + (N-df+0.5)/(df+0.5)),
    // ranking on the 6-decimal floored score + doc_id tiebreak.
    "bm25_topk" ->
      """WITH q(query_id, qtext) AS (VALUES
        |    (CAST(0 AS BIGINT), 'fast sort merge'),
        |    (CAST(1 AS BIGINT), 'spark data query'),
        |    (CAST(2 AS BIGINT), 'join filter stream')),
        |tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |qt AS (SELECT DISTINCT query_id, term FROM
        |  (SELECT query_id, unnest(list_filter(regexp_split_to_array(lower(qtext), '[^\p{L}\p{N}]+'), x -> x <> '')) AS term FROM q)),
        |c AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ln(1.0 + (corp.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
        |      * (tf.tf * (1.25 + 1)) / (tf.tf + 1.25 * (1 - 0.75 + 0.75 * dl.dl / corp.avgdl)) AS contrib
        |  FROM qt JOIN tf USING (term) JOIN dfr USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id, corp),
        |s AS (
        |  SELECT query_id, doc_id, floor(sum(contrib) * 1000000) / 1000000 AS score
        |  FROM c GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM s)
        |SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // Lexical chain = bm25_topk's CTEs at k=20; semantic chain =
    // t4_knn_cosine's at k=20 over vec_id<3; fusion = full outer join on
    // (query_id, doc_id), rrf = sum of 1/(60+rank) contributions.
    "retrieval_hybrid_rrf" ->
      raw"""WITH q(query_id, qtext) AS (VALUES
        |    (CAST(0 AS BIGINT), 'fast sort merge'),
        |    (CAST(1 AS BIGINT), 'spark data query'),
        |    (CAST(2 AS BIGINT), 'join filter stream')),
        |tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |qt AS (SELECT DISTINCT query_id, term FROM
        |  (SELECT query_id, unnest(list_filter(regexp_split_to_array(lower(qtext), '[^\p{L}\p{N}]+'), x -> x <> '')) AS term FROM q)),
        |c AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ln(1.0 + (corp.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
        |      * (tf.tf * (1.25 + 1)) / (tf.tf + 1.25 * (1 - 0.75 + 0.75 * dl.dl / corp.avgdl)) AS contrib
        |  FROM qt JOIN tf USING (term) JOIN dfr USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id, corp),
        |bs AS (
        |  SELECT query_id, doc_id, floor(sum(contrib) * 1000000) / 1000000 AS score
        |  FROM c GROUP BY 1, 2),
        |lr AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM bs QUALIFY rank <= 20),
        |vq AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT vq.query_id, e.vec_id,
        |    ${DedupOracle.cosineSql("vq.qe", "e.embedding", 64)} AS sim
        |  FROM vq CROSS JOIN embeddings e),
        |sr AS (
        |  SELECT query_id, vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored QUALIFY rank <= 20),
        |f AS (
        |  SELECT coalesce(l.query_id, s2.query_id) AS query_id,
        |    coalesce(l.doc_id, s2.doc_id) AS doc_id,
        |    l.rank AS lex_rank, s2.rank AS sem_rank,
        |    coalesce(1.0 / (60.0 + l.rank), 0.0) + coalesce(1.0 / (60.0 + s2.rank), 0.0) AS rrf
        |  FROM lr l FULL OUTER JOIN sr s2
        |    ON l.query_id = s2.query_id AND l.doc_id = s2.doc_id),
        |fr AS (
        |  SELECT query_id, doc_id, lex_rank, sem_rank, rrf,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rank
        |  FROM f)
        |SELECT query_id, rank, doc_id,
        |  floor(rrf * 1000000) / 1000000 AS rrf,
        |  CAST(lex_rank AS INT) AS lex_rank, CAST(sem_rank AS INT) AS sem_rank
        |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // Same lexical/semantic/fusion CTEs as bm25_topk + retrieval_hybrid_rrf,
    // then graded term-overlap labels and the metric block: recall@k,
    // precision@k, MRR@k, nDCG@k (natural-log discounts — the base cancels
    // in DCG/IDCG) per (retriever, query) plus a macro row per retriever.
    "retrieval_eval" ->
      raw"""WITH q(query_id, qtext) AS (VALUES
        |    (CAST(0 AS BIGINT), 'fast sort merge'),
        |    (CAST(1 AS BIGINT), 'spark data query'),
        |    (CAST(2 AS BIGINT), 'join filter stream')),
        |tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |qt AS (SELECT DISTINCT query_id, term FROM
        |  (SELECT query_id, unnest(list_filter(regexp_split_to_array(lower(qtext), '[^\p{L}\p{N}]+'), x -> x <> '')) AS term FROM q)),
        |c AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ln(1.0 + (corp.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
        |      * (tf.tf * (1.25 + 1)) / (tf.tf + 1.25 * (1 - 0.75 + 0.75 * dl.dl / corp.avgdl)) AS contrib
        |  FROM qt JOIN tf USING (term) JOIN dfr USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id, corp),
        |bs AS (
        |  SELECT query_id, doc_id, floor(sum(contrib) * 1000000) / 1000000 AS score
        |  FROM c GROUP BY 1, 2),
        |b5 AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM bs QUALIFY rank <= 5),
        |lr AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM bs QUALIFY rank <= 20),
        |vq AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT vq.query_id, e.vec_id,
        |    ${DedupOracle.cosineSql("vq.qe", "e.embedding", 64)} AS sim
        |  FROM vq CROSS JOIN embeddings e),
        |sr AS (
        |  SELECT query_id, vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored QUALIFY rank <= 20),
        |f AS (
        |  SELECT coalesce(l.query_id, s2.query_id) AS query_id,
        |    coalesce(l.doc_id, s2.doc_id) AS doc_id,
        |    coalesce(1.0 / (60.0 + l.rank), 0.0) + coalesce(1.0 / (60.0 + s2.rank), 0.0) AS rrf
        |  FROM lr l FULL OUTER JOIN sr s2
        |    ON l.query_id = s2.query_id AND l.doc_id = s2.doc_id),
        |h10 AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
        |  FROM f QUALIFY rank <= 10),
        |dt AS (SELECT DISTINCT doc_id, term FROM t),
        |lbl AS (
        |  SELECT qt.query_id, dt.doc_id, CAST(count(*) AS INT) AS rel
        |  FROM dt JOIN qt USING (term) GROUP BY 1, 2),
        |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM lbl GROUP BY 1),
        |lp AS (
        |  SELECT query_id, doc_id, rel,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS pos
        |  FROM lbl),
        |idcg AS (
        |  SELECT query_id, kk.k, sum((power(2.0, rel) - 1.0) / ln(pos + 1.0)) AS idcg
        |  FROM lp CROSS JOIN (VALUES (5), (10)) kk(k)
        |  WHERE pos <= kk.k GROUP BY 1, 2),
        |sd AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rank
        |  FROM documents QUALIFY rank <= 5),
        |ret AS (
        |  SELECT 'bm25_k5' AS retriever, 5 AS k, query_id, doc_id, rank FROM b5
        |  UNION ALL
        |  SELECT 'hybrid_rrf_k10', 10, query_id, doc_id, rank FROM h10
        |  UNION ALL
        |  SELECT 'static_k5', 5, q.query_id, sd.doc_id, sd.rank FROM q CROSS JOIN sd),
        |hit AS (
        |  SELECT r.retriever, r.k, r.query_id,
        |    CAST(count(*) AS BIGINT) AS n_hits, min(r.rank) AS first_hit,
        |    sum((power(2.0, l.rel) - 1.0) / ln(r.rank + 1.0)) AS dcg
        |  FROM ret r JOIN lbl l ON r.query_id = l.query_id AND r.doc_id = l.doc_id
        |  GROUP BY 1, 2, 3),
        |base AS (
        |  SELECT rk.retriever, rk.k, nrel.query_id, nrel.n_rel
        |  FROM (SELECT DISTINCT retriever, k FROM ret) rk CROSS JOIN nrel),
        |per AS (
        |  SELECT b.retriever, b.query_id, b.n_rel,
        |    coalesce(h.n_hits, 0) AS n_hits,
        |    floor(coalesce(h.n_hits, 0) / b.n_rel * 1000000) / 1000000 AS recall_at_k,
        |    floor(coalesce(h.n_hits, 0) / b.k * 1000000) / 1000000 AS precision_at_k,
        |    floor(coalesce(1.0 / h.first_hit, 0.0) * 1000000) / 1000000 AS mrr,
        |    floor((coalesce(h.dcg, 0.0) / i.idcg + 1e-9) * 1000000) / 1000000 AS ndcg_at_k
        |  FROM base b JOIN idcg i ON b.query_id = i.query_id AND b.k = i.k
        |  LEFT JOIN hit h ON b.retriever = h.retriever AND b.query_id = h.query_id)
        |SELECT retriever, query_id, n_rel, n_hits,
        |  recall_at_k, precision_at_k, mrr, ndcg_at_k FROM per
        |UNION ALL
        |SELECT retriever, CAST(-1 AS BIGINT) AS query_id,
        |  CAST(sum(n_rel) AS BIGINT) AS n_rel, CAST(sum(n_hits) AS BIGINT) AS n_hits,
        |  floor((avg(recall_at_k) + 1e-9) * 1000000) / 1000000 AS recall_at_k,
        |  floor((avg(precision_at_k) + 1e-9) * 1000000) / 1000000 AS precision_at_k,
        |  floor((avg(mrr) + 1e-9) * 1000000) / 1000000 AS mrr,
        |  floor((avg(ndcg_at_k) + 1e-9) * 1000000) / 1000000 AS ndcg_at_k
        |FROM per GROUP BY retriever
        |ORDER BY retriever, query_id""".stripMargin,

    "tfidf_top_terms" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (
        |  SELECT doc_id, term,
        |    floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000) / 1000000 AS score
        |  FROM tf JOIN dfr USING (term), n),
        |r AS (
        |  SELECT doc_id, term, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
        |  FROM s)
        |SELECT doc_id, rank, term, score FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // Add-0.5-smoothed bigram LM trained on the corpus itself, then each
    // document scored exp(-avg ln P(w2|w1)); 4-decimal floor for the
    // engine-stable hash. Tokens never contain spaces (the tokenizer
    // splits on non-alphanumerics), so the gram string round-trips
    // through split_part losslessly.
    "text_perplexity" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |uc AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc FROM
        |  (SELECT unnest(toks) AS w1 FROM tk) GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
        |g AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(toks) - 1),
        |        i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]) END) AS gram
        |  FROM tk),
        |bg AS (SELECT doc_id, split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2 FROM g),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS bc FROM bg GROUP BY 1, 2),
        |sc AS (
        |  SELECT bg.doc_id,
        |    ln((COALESCE(bc.bc, 0) + 0.5) / (COALESCE(uc.uc, 0) + 0.5 * v.v)) AS logp
        |  FROM bg LEFT JOIN bc USING (w1, w2) LEFT JOIN uc ON bg.w1 = uc.w1, v)
        |SELECT doc_id, floor(exp(-avg(logp)) * 10000) / 10000 AS perplexity,
        |  CAST(count(*) AS BIGINT) AS n_bigrams
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Stupid-backoff mirror: the token/uni/bi CTEs of text_perplexity's
    // oracle plus trigram counts; the CASE ladder is the same
    // seen-trigram / backoff-bigram / floored-unigram order as the
    // Scala `when` chain, with literally matching float shapes
    // (0.4 * 0.4 * x, doubles divided after CAST).
    "text_perplexity_sb" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS uc FROM
        |  (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
        |nt AS (SELECT CAST(sum(uc) AS BIGINT) AS n FROM uc),
        |bgl AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(toks) - 1),
        |        i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]) END) AS gram
        |  FROM tk),
        |bc AS (SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
        |  CAST(count(*) AS BIGINT) AS bc FROM bgl GROUP BY 1, 2),
        |tgl AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(toks) - 2),
        |        i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)] || ' ' || toks[CAST(i+3 AS INT)]) END) AS gram
        |  FROM tk),
        |tg AS (SELECT doc_id, split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
        |  split_part(gram, ' ', 3) AS w3 FROM tgl),
        |tc AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS tc FROM tg GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT tg.doc_id,
        |    ln(CASE WHEN tc.tc IS NOT NULL THEN CAST(tc.tc AS DOUBLE) / CAST(b12.bc AS DOUBLE)
        |            WHEN b23.bc IS NOT NULL THEN 0.4 * CAST(b23.bc AS DOUBLE) / CAST(u2.uc AS DOUBLE)
        |            ELSE 0.4 * 0.4 * CAST(COALESCE(u3.uc, 1) AS DOUBLE) / CAST(nt.n AS DOUBLE) END) AS logp
        |  FROM tg
        |  LEFT JOIN tc USING (w1, w2, w3)
        |  LEFT JOIN bc b12 ON tg.w1 = b12.w1 AND tg.w2 = b12.w2
        |  LEFT JOIN bc b23 ON tg.w2 = b23.w1 AND tg.w3 = b23.w2
        |  LEFT JOIN uc u2 ON tg.w2 = u2.w
        |  LEFT JOIN uc u3 ON tg.w3 = u3.w, nt)
        |SELECT doc_id, floor(exp(-avg(logp)) * 10000) / 10000 AS perplexity,
        |  CAST(count(*) AS BIGINT) AS n_trigrams
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ngram_top_bigrams" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(toks) - 1),
        |        i -> toks[CAST(i+1 AS INT)] || ' ' || toks[CAST(i+2 AS INT)]) END) AS gram
        |  FROM tk)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM g GROUP BY gram
        |ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin,

    // Same pair generation as dedup_ngram_jaccard, then transitive
    // closure via recursive CTE; min reachable id = cluster id (Spark
    // converges min-label propagation to the same fixpoint).
    // Leakage-safe split mirror: the dedup_clusters transitive-closure
    // chain for cluster labels, singletons defaulting to their own id,
    // then the shard_deterministic Knuth hash of (cluster_id + seed 42)
    // against floor(0.8 * 2^32) = 3435973836.
    "sample_split_leakage_safe" ->
      """WITH RECURSIVE sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i + 1, 3) FOR i IN range(length(text) - 2)])) AS shingle
        |  FROM documents WHERE doc_id < 200 AND length(text) >= 3),
        |dfx AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
        |sh AS (SELECT sh0.* FROM sh0 JOIN dfx USING (shingle) WHERE df <= 150),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node),
        |cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
        |lab AS (
        |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
        |  LEFT JOIN cl USING (doc_id)),
        |hx AS (SELECT doc_id, cluster_id,
        |  ((cluster_id + 42) * 2654435761) % 4294967296 AS sh FROM lab)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN sh < 3435973836 THEN 'train' ELSE 'test' END AS split
        |FROM hx ORDER BY doc_id""".stripMargin,

    "dedup_clusters" ->
      """WITH RECURSIVE sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i + 1, 3) FOR i IN range(length(text) - 2)])) AS shingle
        |  FROM documents WHERE doc_id < 200 AND length(text) >= 3),
        |dfx AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
        |sh AS (SELECT sh0.* FROM sh0 JOIN dfx USING (shingle) WHERE df <= 150),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node)
        |SELECT node AS doc_id, min(r) AS cluster_id,
        |  CAST(node = min(r) AS BOOLEAN) AS is_canonical
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    // Identical fixpoint to dedup_clusters (component-min labels), so the
    // star algorithm shares the transitive-closure oracle verbatim.
    "dedup_clusters_star" ->
      """WITH RECURSIVE sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i + 1, 3) FOR i IN range(length(text) - 2)])) AS shingle
        |  FROM documents WHERE doc_id < 200 AND length(text) >= 3),
        |dfx AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
        |sh AS (SELECT sh0.* FROM sh0 JOIN dfx USING (shingle) WHERE df <= 150),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node)
        |SELECT node AS doc_id, min(r) AS cluster_id,
        |  CAST(node = min(r) AS BOOLEAN) AS is_canonical
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    "health_probe" ->
      """WITH per AS (
        |  SELECT 'documents' AS service, CAST(count(*) AS BIGINT) AS n_rows FROM documents
        |  UNION ALL SELECT 'embeddings', CAST(count(*) AS BIGINT) FROM embeddings
        |  UNION ALL SELECT 'events', CAST(count(*) AS BIGINT) FROM events)
        |SELECT service, n_rows,
        |  CASE WHEN n_rows > 0 THEN 'operational' ELSE 'degraded' END AS status
        |FROM per
        |UNION ALL
        |SELECT 'overall', CAST(sum(n_rows) AS BIGINT),
        |  CASE WHEN min(n_rows) > 0 THEN 'healthy' ELSE 'degraded' END
        |FROM per
        |ORDER BY service""".stripMargin,

    // Strided chunker: n = 1 + ceil((len-100)/80) for len > 100, i.e.
    // 1 + floor((len-21)/80); chunk i = substr(text, 80i+1, 100).
    "t1c_chunk_strided" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) <= 0 THEN 0
        |         WHEN length(text) <= 100 THEN 1
        |         ELSE CAST(floor((length(text) - 21) / 80.0) AS INT) + 1 END AS total_chunks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id AS file_id, total_chunks,
        |    unnest(list_transform(range(total_chunks),
        |      i -> struct_pack(ci := CAST(i AS INT), ct := substr(text, CAST(i * 80 + 1 AS INT), 100)))) AS u
        |  FROM n WHERE total_chunks > 0)
        |SELECT file_id, u.ci AS chunk_index, total_chunks,
        |  CAST(file_id AS VARCHAR) || '_' || CAST(u.ci AS VARCHAR) AS chunk_id, u.ct AS chunk_text
        |FROM c ORDER BY file_id, chunk_index""".stripMargin,

    "a7_chunks_per_file" ->
      """SELECT doc_id AS file_id,
        |  CAST(CASE WHEN length(text) <= 100 THEN 1
        |       ELSE CAST(floor((length(text) - 21) / 80.0) AS INT) + 1 END AS BIGINT) AS n_chunks
        |FROM documents WHERE length(text) > 0 ORDER BY file_id""".stripMargin,

    "dedup_chunk_level" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) <= 0 THEN 0
        |         WHEN length(text) <= 100 THEN 1
        |         ELSE CAST(floor((length(text) - 21) / 80.0) AS INT) + 1 END AS nc
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(nc),
        |      i -> struct_pack(ci := CAST(i AS INT), ct := substr(text, CAST(i * 80 + 1 AS INT), 100)))) AS u
        |  FROM n WHERE nc > 0)
        |SELECT sha256(u.ct) AS chunk_hash,
        |  CAST(count(*) AS BIGINT) AS occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(CAST(doc_id AS VARCHAR) || '_' || CAST(u.ci AS VARCHAR)) AS first_chunk_id
        |FROM c GROUP BY 1 HAVING count(*) > 1 ORDER BY chunk_hash""".stripMargin,

    // Generated from TextAnalysis.langProfiles — single source of truth
    // for the gram lists on both engines.
    "text_langid" ->
      s"""WITH $langidChainSql
         |SELECT doc_id, lang_pred FROM lpred ORDER BY doc_id""".stripMargin,

    // All-integer data card: counts, long sums, and floor-micros means
    // (quality_source_gate's exactness trick) — no float aggregation,
    // so every row hashes. The langid chain is the shared text_langid
    // mirror; the card unions the global aggregate with the per-language
    // histogram.
    "corpus_datacard" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, sha256(text) AS h,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) END AS ws,
         |    CAST(len(regexp_extract_all(text, ' ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+')) AS BIGINT) AS bp,
         |    CAST(length(text) AS BIGINT) AS chars,
         |    CAST(floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
         |      + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
         |          ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
         |               / CAST(length(text) AS DOUBLE) END) * 5.0) * 0.3
         |      + least((CASE WHEN length(trim(text)) = 0 THEN 0.0
         |          ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                 x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x))) AS DOUBLE)
         |               / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) END) * 2.5, 1.0) * 0.3
         |      ) * 1000000.0) AS BIGINT) AS q_micros
         |  FROM documents),
         |overall AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(sum(ws) AS BIGINT) AS ws_total,
         |    CAST(sum(bp) AS BIGINT) AS bp_total,
         |    CAST(sum(chars) AS BIGINT) AS chars_total,
         |    CAST(floor(sum(ws) * 1000000 / count(*)) AS BIGINT) AS ws_mean_micros,
         |    CAST(floor(sum(q_micros) / count(*)) AS BIGINT) AS q_mean_micros,
         |    CAST(count(*) - count(DISTINCT h) AS BIGINT) AS exact_dup_docs
         |  FROM t),
         |$langidChainSql,
         |cards AS (
         |  SELECT 'corpus' AS section, 'n_docs' AS key, n_docs AS value FROM overall
         |  UNION ALL SELECT 'corpus', 'n_sources', n_sources FROM overall
         |  UNION ALL SELECT 'dup', 'exact_dup_docs', exact_dup_docs FROM overall
         |  UNION ALL SELECT 'length', 'chars_total', chars_total FROM overall
         |  UNION ALL SELECT 'quality', 'quality_mean_micros', q_mean_micros FROM overall
         |  UNION ALL SELECT 'tokens', 'bpeish_tokens_total', bp_total FROM overall
         |  UNION ALL SELECT 'tokens', 'ws_tokens_mean_micros', ws_mean_micros FROM overall
         |  UNION ALL SELECT 'tokens', 'ws_tokens_total', ws_total FROM overall
         |  UNION ALL SELECT 'lang', lang_pred, CAST(count(*) AS BIGINT) FROM lpred GROUP BY lang_pred)
         |SELECT section, key, CAST(value AS BIGINT) AS value FROM cards
         |ORDER BY section, key""".stripMargin,

    // Long wrap-around arithmetic reproduced via HUGEINT mod 2^64, then
    // re-signed into BIGINT range.
    "text_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        list_transform(range(length(t)), i -> CAST(unicode(t[CAST(i + 1 AS INT)]) AS HUGEINT))),
        |      (a, b) -> (31 * a + b) % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM n)
        |SELECT doc_id,
        |  CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END AS BIGINT) AS fingerprint
        |FROM u ORDER BY doc_id""".stripMargin,

    // Line ranks mirror the Spark window exactly (partition by line,
    // order by doc_id then position); reassembly via ORDER BY inside
    // string_agg; an all-boilerplate doc yields '' on both engines.
    "dedup_lines_cross" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'ALL RIGHTS RESERVED - STANDARD HEADER' || chr(10) ||
        |    substr(text, 1, 60) || chr(10) || 'footer-' || lang AS text
        |  FROM documents WHERE doc_id < 100),
        |l AS (
        |  SELECT doc_id, u.idx AS line_idx, u.line AS line FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(ls)), i ->
        |      struct_pack(idx := CAST(i AS INT), line := ls[CAST(i+1 AS INT)]))) AS u
        |    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d))),
        |r AS (
        |  SELECT doc_id, line_idx, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |  FROM l)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY line_idx), '') AS cleaned_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Batch lines rank within the batch only; corpus membership via a
    // distinct-line index left join — keep = first-in-batch AND absent
    // from the index, mirroring Dedup.incrementalLineDedup exactly.
    "dedup_lines_incremental" ->
      """WITH corpus AS (
        |  SELECT 'ALL RIGHTS RESERVED - STANDARD HEADER' || chr(10) ||
        |    substr(text, 1, 60) || chr(10) || 'footer-' || lang AS text
        |  FROM documents WHERE doc_id < 100),
        |idx AS (SELECT DISTINCT unnest(string_split(text, chr(10))) AS line FROM corpus),
        |b AS (
        |  SELECT doc_id, 'ALL RIGHTS RESERVED - STANDARD HEADER' || chr(10) ||
        |    'DAILY BATCH BANNER' || chr(10) ||
        |    substr(text, 1, 60) || chr(10) || 'footer-' || lang AS text
        |  FROM documents WHERE doc_id >= 100 AND doc_id < 200),
        |l AS (
        |  SELECT doc_id, u.idx AS line_idx, u.line AS line FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(ls)), i ->
        |      struct_pack(idx := CAST(i AS INT), line := ls[CAST(i+1 AS INT)]))) AS u
        |    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM b))),
        |r AS (
        |  SELECT l.doc_id, l.line_idx, l.line,
        |    row_number() OVER (PARTITION BY l.line ORDER BY l.doc_id, l.line_idx) AS rn,
        |    CASE WHEN idx.line IS NULL THEN 0 ELSE 1 END AS in_corpus
        |  FROM l LEFT JOIN idx ON l.line = idx.line)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(CASE WHEN in_corpus = 0 AND rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN in_corpus = 0 AND rn = 1 THEN line END, chr(10) ORDER BY line_idx), '') AS cleaned_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Span dedup: k=4 token windows ranked per gram exactly as the Spark
    // window (partition by gram, order by doc_id then start); duplicated
    // windows explode into covered token positions; reassembly via
    // ORDER BY inside string_agg. An entirely-covered doc yields ''.
    "dedup_spans_cross" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'shared licensed preamble common to every document here ' ||
        |    substr(text, 1, 120) AS text
        |  FROM documents WHERE doc_id < 100),
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM d),
        |w AS (
        |  SELECT doc_id, u.s AS start, u.g AS gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(greatest(len(toks) - 3, 0)), i ->
        |      struct_pack(s := CAST(i AS INT),
        |        g := lower(array_to_string(toks[CAST(i+1 AS INT):CAST(i+4 AS INT)], ' '))))) AS u
        |    FROM t)),
        |r AS (
        |  SELECT doc_id, start,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn
        |  FROM w),
        |cov AS (
        |  SELECT DISTINCT doc_id, start + x AS tok_idx
        |  FROM (SELECT doc_id, start FROM r WHERE rn > 1) rr, unnest(range(4)) AS ux(x)),
        |tk AS (
        |  SELECT doc_id, u.i AS tok_idx, u.tok AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(toks)), i ->
        |      struct_pack(i := CAST(i AS INT), tok := toks[CAST(i+1 AS INT)]))) AS u
        |    FROM t))
        |SELECT tk.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(count(CASE WHEN cov.tok_idx IS NULL THEN 1 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN cov.tok_idx IS NULL THEN tk.tok END, ' ' ORDER BY tk.tok_idx), '') AS cleaned_text
        |FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tok_idx = cov.tok_idx
        |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin,

    // Batch windows rank within the batch; corpus membership via a
    // distinct-gram index left join — a window is duplicated iff its
    // gram is in the index OR rn > 1, mirroring incrementalSpanDedup.
    "dedup_spans_incremental" ->
      """WITH cd AS (
        |  SELECT 'shared licensed preamble common to every document here ' ||
        |    substr(text, 1, 120) AS text
        |  FROM documents WHERE doc_id < 100),
        |ct AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM cd),
        |idx AS (
        |  SELECT DISTINCT lower(array_to_string(toks[CAST(i+1 AS INT):CAST(i+4 AS INT)], ' ')) AS gram
        |  FROM ct, unnest(range(greatest(len(toks) - 3, 0))) AS ui(i)
        |  WHERE len(toks) >= 4),
        |bd AS (
        |  SELECT doc_id, 'shared licensed preamble common to every document here ' ||
        |    substr(text, 1, 120) AS text
        |  FROM documents WHERE doc_id >= 100 AND doc_id < 200),
        |bt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM bd),
        |w AS (
        |  SELECT doc_id, u.s AS start, u.g AS gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(greatest(len(toks) - 3, 0)), i ->
        |      struct_pack(s := CAST(i AS INT),
        |        g := lower(array_to_string(toks[CAST(i+1 AS INT):CAST(i+4 AS INT)], ' '))))) AS u
        |    FROM bt)),
        |r AS (
        |  SELECT w.doc_id, w.start,
        |    row_number() OVER (PARTITION BY w.gram ORDER BY w.doc_id, w.start) AS rn,
        |    CASE WHEN idx.gram IS NULL THEN 0 ELSE 1 END AS in_corpus
        |  FROM w LEFT JOIN idx ON w.gram = idx.gram),
        |cov AS (
        |  SELECT DISTINCT doc_id, start + x AS tok_idx
        |  FROM (SELECT doc_id, start FROM r WHERE in_corpus = 1 OR rn > 1) rr,
        |    unnest(range(4)) AS ux(x)),
        |tk AS (
        |  SELECT doc_id, u.i AS tok_idx, u.tok AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(toks)), i ->
        |      struct_pack(i := CAST(i AS INT), tok := toks[CAST(i+1 AS INT)]))) AS u
        |    FROM bt))
        |SELECT tk.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(count(CASE WHEN cov.tok_idx IS NULL THEN 1 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN cov.tok_idx IS NULL THEN tk.tok END, ' ' ORDER BY tk.tok_idx), '') AS cleaned_text
        |FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tok_idx = cov.tok_idx
        |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin,

    // Exact NOT EXISTS anti-join: the Bloom-gated operator must equal it
    // row for row.
    "dedup_bloom_gate" ->
      """SELECT b.l_orderkey, b.l_linenumber, b.l_partkey, b.l_suppkey
        |FROM lineitem b
        |WHERE b.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND b.l_shipdate < TIMESTAMP '1997-07-01'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem h
        |    WHERE h.l_shipdate < TIMESTAMP '1997-01-01'
        |      AND h.l_partkey = b.l_partkey AND h.l_suppkey = b.l_suppkey)
        |ORDER BY b.l_orderkey, b.l_linenumber, b.l_partkey, b.l_suppkey""".stripMargin,

    // Shard-parallel contiguous packing: running token sum per shard in
    // doc_id order, bin = floor(cum_before / budget).
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT shard, CAST(floor(cum_before / 512) AS BIGINT) AS bin_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY shard, bin_id
        |ORDER BY shard, bin_id""".stripMargin,

    // Per-doc rows of the same running-sum CTE as pack_sequences;
    // offset = cum_before mod budget.
    "pack_manifest" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT shard, CAST(floor(cum_before / 512) AS BIGINT) AS bin_id,
        |  doc_id, n_tokens, CAST(cum_before % 512 AS BIGINT) AS offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // Same header/extension synthesis; fail-open = accepted when the
    // sniffed type is NULL (unknown magic number).
    "p3_mime_sniff" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    ['%PDF-1.7', 'PK' || chr(3) || chr(4) || 'zip0', '<html>x ', 'JUNKJUNK'][CAST(doc_id % 4 + 1 AS INT)]
        |      || substr(text, 1, 40) AS content,
        |    ['.pdf', '.docx', '.html'][CAST(doc_id % 3 + 1 AS INT)] AS ext
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, ext, substr(content, 1, 8) AS hdr FROM a)
        |SELECT doc_id, ext,
        |  coalesce(
        |    CASE WHEN starts_with(hdr, '%PDF') THEN '.pdf'
        |         WHEN starts_with(hdr, 'PK' || chr(3) || chr(4)) THEN '.docx'
        |         WHEN starts_with(lower(hdr), '<') THEN '.html'
        |         ELSE NULL END = lower(ext),
        |    TRUE) AS accepted
        |FROM s ORDER BY doc_id""".stripMargin,

    // Every stage of the §3.2 lineage mirrored: sha256 identity, anti-join
    // dedup gate against the overlapping catalog, strided split + enrich.
    "ingest_pipeline_sql" ->
      """WITH cat AS (
        |  SELECT sha256(text) AS file_hash FROM documents WHERE doc_id < 150),
        |fresh AS (
        |  SELECT d.doc_id, d.text, d.source FROM documents d
        |  WHERE d.doc_id >= 100 AND d.doc_id < 200
        |    AND d.n_chars <= 10485760
        |    AND NOT EXISTS (SELECT 1 FROM cat c WHERE c.file_hash = sha256(d.text))),
        |n AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN length(text) <= 0 THEN 0
        |         WHEN length(text) <= 100 THEN 1
        |         ELSE CAST(floor((length(text) - 21) / 80.0) AS INT) + 1 END AS total_chunks
        |  FROM fresh),
        |c AS (
        |  SELECT doc_id AS file_id, source AS source_file, total_chunks,
        |    unnest(list_transform(range(total_chunks),
        |      i -> struct_pack(ci := CAST(i AS INT), ct := substr(text, CAST(i * 80 + 1 AS INT), 100)))) AS u
        |  FROM n WHERE total_chunks > 0)
        |SELECT CAST(file_id AS VARCHAR) || '_' || CAST(u.ci AS VARCHAR) AS chunk_id,
        |  file_id, CAST(1 AS INT) AS page, u.ci AS chunk_index, total_chunks, source_file,
        |  sha256(u.ct) AS chunk_hash
        |FROM c ORDER BY file_id, chunk_index""".stripMargin,

    // Quantize (floor(x·127/max|x|)) → integer dot → floored-sim ranking;
    // every step is exact or single-rounded identically on both engines.
    // PQ encode + ADC scan, fully hash-checked: the VALUES table is the
    // hand-mirrored copy of PqCodebooks; per-centroid distances are
    // written in the same left-to-right addition order as the Spark
    // expressions, the argmin tie rule is ORDER BY dist, code (Spark:
    // array_position of the min = first/lowest code), and the two
    // subspace terms sum bit-exactly in any order (IEEE two-term
    // addition is commutative).
    "ann_pq_adc_topk" ->
      """WITH cb AS (
        |  SELECT s, code, CAST(c1 AS DOUBLE) AS c1, CAST(c2 AS DOUBLE) AS c2,
        |         CAST(c3 AS DOUBLE) AS c3, CAST(c4 AS DOUBLE) AS c4
        |  FROM (VALUES
        |    (0, 0,  0.5,  0.5,  0.5,  0.5),
        |    (0, 1, -0.5, -0.5, -0.5, -0.5),
        |    (0, 2,  0.5, -0.5,  0.5, -0.5),
        |    (0, 3, -0.5,  0.5, -0.5,  0.5),
        |    (1, 0,  0.25,  0.25,  0.25,  0.25),
        |    (1, 1, -0.25, -0.25, -0.25, -0.25),
        |    (1, 2,  0.75, -0.25,  0.75, -0.25),
        |    (1, 3, -0.75,  0.25, -0.75,  0.25)) t(s, code, c1, c2, c3, c4)),
        |d AS (
        |  SELECT e.vec_id, cb.s, cb.code,
        |    (CAST(e.embedding[cb.s*4+1] AS DOUBLE) - cb.c1) * (CAST(e.embedding[cb.s*4+1] AS DOUBLE) - cb.c1)
        |    + (CAST(e.embedding[cb.s*4+2] AS DOUBLE) - cb.c2) * (CAST(e.embedding[cb.s*4+2] AS DOUBLE) - cb.c2)
        |    + (CAST(e.embedding[cb.s*4+3] AS DOUBLE) - cb.c3) * (CAST(e.embedding[cb.s*4+3] AS DOUBLE) - cb.c3)
        |    + (CAST(e.embedding[cb.s*4+4] AS DOUBLE) - cb.c4) * (CAST(e.embedding[cb.s*4+4] AS DOUBLE) - cb.c4) AS dist
        |  FROM embeddings e, cb),
        |codes AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
        |    FROM d)
        |  WHERE rn = 1),
        |pairs AS (
        |  SELECT qd.vec_id AS query_id, c.vec_id AS vec_id, SUM(qd.dist) AS adc
        |  FROM codes c
        |  JOIN d qd ON qd.s = c.s AND qd.code = c.code
        |    AND qd.vec_id < 3 AND qd.vec_id <> c.vec_id
        |  GROUP BY qd.vec_id, c.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, floor(adc * 1000000) / 1000000 AS adc_dist,
        |    CAST(row_number() OVER (
        |      PARTITION BY query_id
        |      ORDER BY floor(adc * 1000000) / 1000000, vec_id) AS INT) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, vec_id, adc_dist FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "ann_quantized_topk" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
        |    embedding
        |  FROM embeddings),
        |qi AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs) AS BIGINT)) AS qv
        |  FROM q WHERE maxabs > 0),
        |nrm AS (
        |  SELECT vec_id, qv,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(qv, x -> x * x)), (a, b) -> a + b) AS n2
        |  FROM qi),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |    floor(
        |      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(64), i -> a.qv[i+1] * b.qv[i+1])), (x, y) -> x + y) AS DOUBLE)
        |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) * 1000000) / 1000000 AS approx_sim
        |  FROM nrm a JOIN nrm b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5),
        |r AS (
        |  SELECT query_id, vec_id, approx_sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_sim DESC, vec_id) AS INT) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, vec_id, approx_sim FROM r WHERE rank <= 2
        |ORDER BY query_id, rank""".stripMargin,

    // Same int8 coarse chain, cut at rank <= 8 (k*overfetch), then exact
    // float-cosine rerank of only those candidates (the established
    // left-fold cosine + floor-1e-6 + vec_id tiebreak discipline).
    "ann_quantized_rerank" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
        |    embedding
        |  FROM embeddings),
        |qi AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs) AS BIGINT)) AS qv
        |  FROM q WHERE maxabs > 0),
        |nrm AS (
        |  SELECT vec_id, qv,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(qv, x -> x * x)), (a, b) -> a + b) AS n2
        |  FROM qi),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |    floor(
        |      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(64), i -> a.qv[i+1] * b.qv[i+1])), (x, y) -> x + y) AS DOUBLE)
        |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) * 1000000) / 1000000 AS approx_sim
        |  FROM nrm a JOIN nrm b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5),
        |r AS (
        |  SELECT query_id, vec_id, approx_sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_sim DESC, vec_id) AS INT) AS rank
        |  FROM pairs),
        |cand AS (SELECT query_id, vec_id FROM r WHERE rank <= 8),
        |x AS (
        |  SELECT c.query_id, c.vec_id,
        |    floor(
        |      list_reduce(list_prepend(0.0,
        |        list_transform(range(64),
        |          i -> CAST(qe.embedding[i+1] AS DOUBLE) * CAST(ce.embedding[i+1] AS DOUBLE))),
        |        (a, b) -> a + b)
        |      / (sqrt(list_reduce(list_prepend(0.0,
        |           list_transform(qe.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_prepend(0.0,
        |           list_transform(ce.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)))
        |      * 1000000) / 1000000 AS sim
        |  FROM cand c
        |  JOIN embeddings qe ON qe.vec_id = c.query_id
        |  JOIN embeddings ce ON ce.vec_id = c.vec_id),
        |rr AS (
        |  SELECT query_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM x)
        |SELECT query_id, rank, vec_id, sim FROM rr WHERE rank <= 2
        |ORDER BY query_id, rank""".stripMargin,

    // Byte-histogram features (same arithmetic as multimodal_features'
    // stub) -> the same portable-LSH banded candidate join as
    // dedup_embedding_cosine (nBits=16, bands=4 wide bands for the 0.98
    // near-dup threshold) -> exact cosine recheck.
    "multimodal_near_dup" ->
      s"""WITH h AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id < 200),
        |b AS (
        |  SELECT doc_id,
        |    list_transform(range(nb), k ->
        |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*k+1 AS INT), 1)) - 1) * 16 +
        |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*k+2 AS INT), 1)) - 1)) AS bytes
        |  FROM h),
        |f AS (
        |  SELECT doc_id AS vec_id,
        |    list_transform(range(16), j ->
        |      CAST(CASE WHEN nrm2 > 0 THEN hist[CAST(j+1 AS INT)] / sqrt(nrm2) ELSE 0 END AS REAL)) AS embedding
        |  FROM (
        |    SELECT doc_id,
        |      list_transform(range(16), j -> CAST(len(list_filter(bytes, v -> v % 16 = j)) AS BIGINT)) AS hist,
        |      list_sum(list_transform(range(16), j ->
        |        CAST(len(list_filter(bytes, v -> v % 16 = j)) AS BIGINT)
        |        * CAST(len(list_filter(bytes, v -> v % 16 = j)) AS BIGINT))) AS nrm2
        |    FROM b)),
        |${DedupOracle.embeddingNearDupSql("f", dim = 16, nBits = 16, bands = 4, threshold = 0.98)}""".stripMargin,

    // The decode STUB's exact arithmetic (Arrays.hashCode + byte histogram)
    // over UTF-8 bytes, recovered from hex pairs.
    "multimodal_features" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, modality, nb,
        |    list_transform(range(nb), k ->
        |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*k+1 AS INT), 1)) - 1) * 16 +
        |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*k+2 AS INT), 1)) - 1)) AS bytes
        |  FROM h),
        |s AS (
        |  SELECT doc_id, modality, nb, bytes,
        |    list_reduce(
        |      list_prepend(CAST(1 AS BIGINT),
        |        list_transform(bytes, v -> CASE WHEN v > 127 THEN v - 256 ELSE v END)),
        |      (a, c) -> (31 * a + c + 4294967296) % 4294967296) AS u
        |  FROM b),
        |t AS (
        |  SELECT doc_id, modality, nb, u,
        |    CASE WHEN u >= 2147483648 THEN u - 4294967296 ELSE u END AS sg,
        |    len(list_filter(bytes, v -> v % 16 = 0)) AS h0,
        |    len(list_filter(bytes, v -> v % 16 = 7)) AS h7,
        |    list_sum(list_transform(range(16), j ->
        |      CAST(len(list_filter(bytes, v -> v % 16 = j)) AS BIGINT)
        |      * CAST(len(list_filter(bytes, v -> v % 16 = j)) AS BIGINT))) AS nrm2
        |  FROM s)
        |SELECT doc_id AS asset_id, modality,
        |  CASE WHEN modality = 'image' THEN CAST(64 + u % 1024 AS INT) ELSE 0 END AS width,
        |  CASE WHEN modality = 'image' THEN CAST(64 + ((CAST(floor(sg / 1024.0) AS BIGINT) % 1024) + 1024) % 1024 AS INT) ELSE 0 END AS height,
        |  CASE WHEN modality = 'audio' THEN ((sg % 60000) + 60000) % 60000 + 100 ELSE 0 END AS duration_ms,
        |  CAST(nb AS BIGINT) AS n_bytes,
        |  CASE WHEN nrm2 > 0 THEN floor(CAST(CAST(h0 / sqrt(nrm2) AS REAL) AS DOUBLE) * 1000000) / 1000000 ELSE 0.0 END AS emb_0,
        |  CASE WHEN nrm2 > 0 THEN floor(CAST(CAST(h7 / sqrt(nrm2) AS REAL) AS DOUBLE) * 1000000) / 1000000 ELSE 0.0 END AS emb_7
        |FROM t ORDER BY asset_id""".stripMargin,

    // Real-decode plumbing: the PNGs are 32×32 by construction and the
    // corrupt tail row must surface undecoded, so the oracle is the
    // expected constant table — SQL needs no image reader to pin the
    // decoder's observable output.
    "multimodal_real_decode" ->
      """SELECT CAST(r AS BIGINT) AS asset_id,
        |  r < 60 AS decoded,
        |  CAST(CASE WHEN r < 60 THEN 32 ELSE 0 END AS INT) AS width,
        |  CAST(CASE WHEN r < 60 THEN 32 ELSE 0 END AS INT) AS height
        |FROM range(61) t(r) ORDER BY asset_id""".stripMargin,

    // Real-decode near-dup: structural margins (variant cosine ≈ 1,
    // cross-pattern ≈ 0, threshold 0.9) make the surviving pairs exactly
    // the within-pattern combinations, which SQL generates directly.
    "multimodal_real_near_dup" ->
      """SELECT CAST(p * 3 + a AS BIGINT) AS id_a, CAST(p * 3 + b AS BIGINT) AS id_b
        |FROM range(20) t(p), range(3) u(a), range(3) v(b)
        |WHERE a < b ORDER BY id_a, id_b""".stripMargin,

    // Real audio decode: unlike the image oracle (decoder constants),
    // the block-RMS features are VALUE-mirrored — the WAV samples are a
    // pure integer formula, int16/32768 is exact in double, and both
    // engines run the same ascending square-sum left fold, so the
    // javax.sound decode path is hash-checked end to end.
    "multimodal_real_audio" ->
      s"""SELECT CAST(r AS BIGINT) AS asset_id,
         |  r < 60 AS decoded,
         |  CAST(CASE WHEN r < 60 THEN 8000 ELSE 0 END AS INT) AS sample_rate,
         |  CAST(CASE WHEN r < 60 THEN 1 ELSE 0 END AS INT) AS channels,
         |  CAST(CASE WHEN r < 60 THEN 2048 ELSE 0 END AS BIGINT) AS n_frames,
         |  CAST(CASE WHEN r < 60 THEN 256 ELSE 0 END AS BIGINT) AS duration_ms,
         |  CASE WHEN r < 60 THEN ${audioRmsSql(0)} ELSE 0.0 END AS e0,
         |  CASE WHEN r < 60 THEN ${audioRmsSql(7)} ELSE 0.0 END AS e7
         |FROM (SELECT r, CAST(r // 3 AS INT) AS p, CAST(r % 3 AS INT) AS v
         |      FROM range(61) t(r))
         |ORDER BY asset_id""".stripMargin,

    // Audio near-dup: same structural-margin argument as the image twin
    // (variant noise ~1e-3 relative → cosine ≈ 1; distinct envelope
    // profiles decorrelate after centering; threshold 0.9 between), so
    // the surviving pairs are exactly the within-pattern combinations.
    "multimodal_real_audio_near_dup" ->
      """SELECT CAST(p * 3 + a AS BIGINT) AS id_a, CAST(p * 3 + b AS BIGINT) AS id_b
        |FROM range(20) t(p), range(3) u(a), range(3) v(b)
        |WHERE a < b ORDER BY id_a, id_b""".stripMargin,

    // Real video decode: like the audio twin, the cell features are
    // VALUE-mirrored — the DIB pixels are a pure integer formula, exact
    // in double, and both engines fold the per-cell luminance sums and
    // the sampled-frame mean in the same ascending order, so the
    // RIFF/DIB parse → feature path is hash-checked end to end.
    "multimodal_real_video" ->
      s"""SELECT CAST(r AS BIGINT) AS asset_id,
         |  r < 60 AS decoded,
         |  CAST(CASE WHEN r < 60 THEN 16 ELSE 0 END AS INT) AS width,
         |  CAST(CASE WHEN r < 60 THEN 16 ELSE 0 END AS INT) AS height,
         |  CAST(CASE WHEN r < 60 THEN 8 ELSE 0 END AS INT) AS n_frames,
         |  CAST(CASE WHEN r < 60 THEN 4 ELSE 0 END AS INT) AS n_sampled,
         |  CAST(CASE WHEN r < 60 THEN 800 ELSE 0 END AS BIGINT) AS duration_ms,
         |  CASE WHEN r < 60 THEN ${videoCellSql(0)} ELSE 0.0 END AS c0,
         |  CASE WHEN r < 60 THEN ${videoCellSql(9)} ELSE 0.0 END AS c9
         |FROM (SELECT r, CAST(r // 3 AS INT) AS p, CAST(r % 3 AS INT) AS v
         |      FROM range(61) t(r))
         |ORDER BY asset_id""".stripMargin,

    // Video near-dup: same structural-margin argument as the image and
    // audio twins, so the surviving pairs are exactly the
    // within-pattern combinations.
    "multimodal_real_video_near_dup" ->
      """SELECT CAST(p * 3 + a AS BIGINT) AS id_a, CAST(p * 3 + b AS BIGINT) AS id_b
        |FROM range(20) t(p), range(3) u(a), range(3) v(b)
        |WHERE a < b ORDER BY id_a, id_b""".stripMargin
  )

  /** DuckDB replay of ONE block-RMS feature of the decoded
    * [[graft.multimodal.Multimodal.syntheticWav]] samples (pattern `p`,
    * variant `v` in scope): block `b` covers global sample indices
    * `b·128 … b·128+127`; each sample is the integer formula
    * env·tone + noise widened exactly to double and scaled by 1/32768,
    * then sqrt(Σx²/128) floored at 6 dp — the identical IEEE op order
    * as [[graft.multimodal.Multimodal.decodeAudioReal]]'s fold.
    */
  private def audioRmsSql(b: Int): String = {
    val j = s"($b * 128 + i)"
    val x = s"(CAST((1 + (p*3 + $b*5 + p*$b) % 23) * " +
      s"(($j * (3 + p)) % 1201 - 600) + " +
      s"CASE WHEN v = 0 THEN 0 ELSE ((v*31 + $j*17) % 5 - 2) * 4 END " +
      s"AS DOUBLE) / 32768.0)"
    "floor(sqrt(list_reduce(list_prepend(0.0, list_transform(" +
      s"list_transform(range(128), i -> $x), xx -> xx * xx)), " +
      "(acc, x2) -> acc + x2) / 128.0) * 1000000) / 1000000"
  }

  /** DuckDB replay of ONE mean-grid cell of the decoded
    * [[graft.multimodal.Multimodal.syntheticAvi]] frames (pattern `p`,
    * variant `v` in scope): cell `c`'s 16 pixels are folded in scan
    * order (the decoder's y-then-x accumulation), each luminance
    * `0.299·R + 0.587·G + 0.114·B` over the integer channel formulas
    * (exact in double), averaged per frame, then the four sampled
    * frames (stride 2 of 8) folded ascending and averaged — the
    * identical IEEE op order as
    * [[graft.multimodal.Multimodal.decodeVideoReal]] +
    * [[graft.multimodal.Multimodal.extractRealVideoFeatures]], floored
    * at 6 dp.
    */
  private def videoCellSql(c: Int): String = {
    val y = s"(${(c / 4) * 4} + i // 4)"
    val x = s"(${(c % 4) * 4} + i % 4)"
    def lum(f: Int): String = {
      val l = s"(((p*3 + $c*5 + p*$c + ${f * 7}) % 23) * 8 + " +
        s"($x*5 + $y*3) % 7 + 2 + " +
        s"CASE WHEN v = 0 THEN 0 ELSE (v*31 + (${f * 256} + $y*16 + $x)*17) % 5 - 2 END)"
      s"(0.299 * CAST($l + ${2 * f} AS DOUBLE) + 0.587 * CAST($l + $f AS DOUBLE) + " +
        s"0.114 * CAST($l AS DOUBLE))"
    }
    def cellAvg(f: Int): String =
      "(list_reduce(list_prepend(0.0, list_transform(range(16), i -> " +
        s"${lum(f)})), (acc, e) -> acc + e) / 16.0)"
    val frames = Seq(0, 2, 4, 6).map(cellAvg).mkString(", ")
    s"floor(list_reduce(list_prepend(0.0, [$frames]), (acc, e) -> acc + e) " +
      "/ 4.0 * 1000000) / 1000000"
  }
}
