package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Multi-dimensional data-skipping layout: Morton (Z-order) clustering.
  *
  * A linear sort on one column makes parquet min/max footer stats tight
  * on THAT column only — a conjunctive range query on two independent
  * columns still materializes every row group the first predicate
  * admits, because the second column spans its full range inside each
  * file. Z-ordering interleaves the bits of both (or three) normalized
  * dimensions into one sort key, so consecutive rows are neighbors in
  * the multi-dimensional space and every file covers a small HYPER-
  * RECTANGLE: min/max stats become tight on EVERY z-dimension at once,
  * and a conjunctive range predicate skips all files whose rectangle
  * misses the query box. (The same mechanism Delta Lake's OPTIMIZE
  * ZORDER and the classic UB-tree literature use; at 100 TB this is the
  * difference between scanning a full date-range slice and scanning
  * only the date×price cells the query touches — pruning happens in the
  * parquet reader from footer stats alone, no index structure to
  * maintain.)
  *
  * Everything here is built from codegen'd Spark builtins (shifts and
  * bitwise and/or — the standard magic-mask bit-spread), so the z-key
  * computation itself is a one-pass map; the only shuffle in a layout
  * write is the `repartitionByRange` that ranges rows over the z-key —
  * exactly one exchange, the same cost as any global sort layout.
  *
  * Reference behavior anchor: the reference app stores all rows in
  * single-node SQLite/Chroma with B-tree indexes (backend/database.py);
  * this is the distributed-layout equivalent of its composite index,
  * re-expressed as a write-time file layout (SURVEY.md §4).
  */
object Layout {

  /** Spread the low 31 bits of `x` (a non-negative int-valued long) so
    * bit i lands at bit 2i — even positions of a 62-bit result. Pure
    * shift/mask magic-number ladder; stays inside whole-stage codegen.
    */
  def spread2(x: Column): Column = {
    val m16 = lit(0x0000FFFF0000FFFFL)
    val m8  = lit(0x00FF00FF00FF00FFL)
    val m4  = lit(0x0F0F0F0F0F0F0F0FL)
    val m2  = lit(0x3333333333333333L)
    val m1  = lit(0x5555555555555555L)
    val x0 = x.bitwiseAND(lit(0x7FFFFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(m16)
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(m8)
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(m4)
    val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(m2)
    x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(m1)
  }

  /** Spread the low 21 bits of `x` so bit i lands at bit 3i (Morton-3D
    * magic masks; 63-bit result, sign bit never set).
    */
  def spread3(x: Column): Column = {
    val m32 = lit(0x001F00000000FFFFL)
    val m16 = lit(0x001F0000FF0000FFL)
    val m8  = lit(0x100F00F00F00F00FL)
    val m4  = lit(0x10C30C30C30C30C3L)
    val m2  = lit(0x1249249249249249L)
    val x0 = x.bitwiseAND(lit(0x1FFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 32)).bitwiseAND(m32)
    val x2 = x1.bitwiseOR(shiftleft(x1, 16)).bitwiseAND(m16)
    val x3 = x2.bitwiseOR(shiftleft(x2, 8)).bitwiseAND(m8)
    val x4 = x3.bitwiseOR(shiftleft(x3, 4)).bitwiseAND(m4)
    x4.bitwiseOR(shiftleft(x4, 2)).bitwiseAND(m2)
  }

  /** Interleave 2 or 3 already-normalized non-negative int columns
    * (31 bits each for 2-D, 21 bits each for 3-D) into one Morton key.
    * Column order is significance order of the LOW bit only — Z-order
    * is symmetric in its dimensions at every scale above the last bit.
    */
  def zValue(cols: Seq[Column]): Column = cols match {
    case Seq(x, y) => spread2(x).bitwiseOR(shiftleft(spread2(y), 1))
    case Seq(x, y, z) =>
      spread3(x).bitwiseOR(shiftleft(spread3(y), 1)).bitwiseOR(shiftleft(spread3(z), 2))
    case _ => throw new IllegalArgumentException(
      s"zValue supports 2 or 3 dimensions, got ${cols.size}")
  }

  /** Per-dimension bit budget that keeps the interleaved key positive. */
  def bitsFor(nDims: Int): Int = nDims match {
    case 2 => 31
    case 3 => 21
    case n => throw new IllegalArgumentException(s"unsupported dims $n")
  }

  /** A z-dimension as a plain double: timestamps (either tz flavor, the
    * fixtures ship both — see Tables.normalizeTs) go through epoch
    * micros, everything else casts directly. Session tz is pinned UTC
    * at every entry point, so the NTZ→timestamp cast is the identity.
    */
  private def numericize(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case TimestampType | TimestampNTZType =>
        unix_micros(col(c).cast("timestamp")).cast("double")
      case DateType => unix_date(col(c)).cast("double")
      case _        => col(c).cast("double")
    }
  }

  /** Min/max of each z-dimension, one small driver-side row (the k-row
    * collect every range layout needs — same class as range-partition
    * boundary sampling, not a data collect).
    */
  def colRanges(df: DataFrame, cols: Seq[String]): Seq[(Double, Double)] = {
    val aggs = cols.flatMap(c =>
      Seq(min(numericize(df, c)).as(s"mn_$c"), max(numericize(df, c)).as(s"mx_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.map { i =>
      require(!r.isNullAt(2 * i) && !r.isNullAt(2 * i + 1),
        s"z-order layout needs a non-empty input with non-null values " +
          s"in z-column '${cols(i)}'")
      (r.getDouble(2 * i), r.getDouble(2 * i + 1))
    }
  }

  /** Monotone map of a numeric/timestamp column onto [0, 2^bits) given
    * its (min, max): equal-width binning (rounded, so the extremes land
    * exactly on bins 0 and 2^bits-1 despite IEEE scale error) — the
    * normalization Z-order needs. Only RELATIVE order at bit
    * granularity matters; ties within a bin cost locality, never
    * correctness, since the layout carries the original values and
    * queries re-filter on them.
    */
  def normalizeToBits(c: Column, range: (Double, Double), bits: Int): Column = {
    val (mn, mx) = range
    val hi = (1L << bits) - 1
    if (mx <= mn) lit(0L)
    else least(greatest(
      round((c.cast("double") - lit(mn)) * lit(hi / (mx - mn))).cast("long"),
      lit(0L)), lit(hi))
  }

  /** Write `df` as an `nFiles`-file parquet layout clustered by the
    * Morton key of `zCols`: one range exchange over the z-key, a
    * within-partition sort, and the key is PROJECTED AWAY before the
    * write — the layout schema is byte-identical to the source table,
    * so it is a drop-in scan target. File min/max footer stats on every
    * z-dimension are what the reader prunes on.
    */
  def writeZOrdered(df: DataFrame, zCols: Seq[String], path: String, nFiles: Int): Unit = {
    val bits = bitsFor(zCols.size)
    val ranges = colRanges(df, zCols)
    val z = zValue(zCols.zip(ranges).map { case (c, r) =>
      normalizeToBits(numericize(df, c), r, bits) })
    // DETERMINISTIC fixed-grid file cut, not repartitionByRange: Spark's
    // RangePartitioner samples with an RDD-id-dependent seed, so the
    // file boundaries — and with them the layout's pruning efficiency —
    // were a per-write LOTTERY over identical data (measured 39.8k–69.7k
    // rows materialized for the same box across back-to-back writes).
    // The z key already lives on the fixed [0, 2^(bits·n)) grid, so
    // equal-width z slabs are the natural deterministic cut, and a
    // collision-free identity partitioner keeps exactly one contiguous
    // slab per file (a hash repartition of slab ids would merge ~1/e of
    // slabs, widening file min/max spans and costing pruning). Skewed z
    // distributions give uneven file sizes — the price of
    // reproducibility: pruning quality depends on range TIGHTNESS, not
    // balance, and production tables size-manage with compaction.
    val spark = df.sparkSession
    val withZ = df.withColumn("_z", z)
    val parted =
      if (nFiles <= 1) withZ.coalesce(1)
      else {
        // ceil(2^(bits·n) / nFiles) — BigInt only to dodge the 1L << 63
        // overflow at 3 dims; the quotient fits a Long for nFiles ≥ 2.
        val chunk = (((BigInt(1) << (bits * zCols.size)) + nFiles - 1) / nFiles).toLong
        // Identity slab → partition placement WITHOUT leaving the
        // columnar path (the previous rdd.partitionBy round-trip
        // deserialized every row to external Rows and shuffled object
        // rows — Tungsten and codegen lost on the write's single
        // exchange). `repartition(n, key)` places by
        // pmod(murmur3(key), n), so feed it a per-slab PREIMAGE key:
        // for each slab s, the smallest Long x with
        // pmod(murmur3(x), n) == s — computed once on the driver with
        // Spark's own hash expression (n·ln n tiny evals), then applied
        // as one codegen'd array lookup. Distinct slabs land in
        // distinct partitions by construction: exactly one contiguous
        // z-slab per output file, deterministically, with the shuffle
        // staying in the Tungsten columnar format.
        import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
        val slabKeys: Array[Long] = {
          val out = new Array[Long](nFiles)
          val found = new Array[Boolean](nFiles)
          var remaining = nFiles
          var x = 0L
          while (remaining > 0) {
            val h = Murmur3Hash(Seq(Literal(x)), 42).eval(null).asInstanceOf[Int]
            val p = ((h % nFiles) + nFiles) % nFiles
            if (!found(p)) { found(p) = true; out(p) = x; remaining -= 1 }
            x += 1
          }
          out
        }
        withZ
          // integer `div`, not `/`: doubles lose exactness above 2^53
          // and the z key ranges to 2^62
          .withColumn("_slab", expr(s"_z div ${chunk}L"))
          .withColumn("_skey",
            element_at(typedLit(slabKeys.toSeq), (col("_slab") + 1).cast("int")))
          .repartition(nFiles, col("_skey"))
      }
    withStatsFriendlyTimestamps(spark) {
      parted
        .sortWithinPartitions("_z")
        .select(df.columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Spark's DEFAULT parquet timestamp encoding is INT96 (legacy
    * compatibility), which carries no usable min/max statistics — a
    * timestamp z-dimension written that way silently prunes NOTHING
    * (measured: a date-sorted 64-file layout materialized 100% under a
    * date predicate). A data-skipping layout must write
    * TIMESTAMP_MICROS (stats-complete INT64), so the layout writers pin
    * the conf for the duration of the write and restore it after.
    * NOTE the twin constraint on the READ side: only TimestampType
    * predicates convert to parquet filters — TIMESTAMP_NTZ columns are
    * not in ParquetFilters' conversion table at all — so a timestamp
    * z-column should be cast to TimestampType before the layout write
    * (session tz is pinned UTC everywhere, making that cast lossless).
    */
  private def withStatsFriendlyTimestamps[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The single-column comparison layout: same file count, globally
    * range-sorted by one column — what a naive "sort by date" layout
    * gives you. Tight stats on `sortCol` only.
    */
  def writeLinear(df: DataFrame, sortCol: String, path: String, nFiles: Int): Unit =
    withStatsFriendlyTimestamps(df.sparkSession) {
      df.repartitionByRange(nFiles, col(sortCol))
        .sortWithinPartitions(sortCol)
        .write.mode("overwrite").parquet(path)
    }

  // ------------------------------------------------ build-once artifacts
  //
  // Every trained structure (IVF centroids, PQ/OPQ/LOPQ books, BPE
  // merges, Unigram models, quality weights) and every partitioned
  // layout is built ONCE per corpus content and reused while the corpus
  // is unchanged — the reference's build-the-index-once-per-upload
  // lifecycle (backend/chroma_utils.py). The content is named by a
  // [[fingerprint]]: row count plus the order-insensitive XOR of per-row
  // xxhash64 over the named columns, one column-pruned aggregation per call
  // (partial XORs combine map-side; no shuffle of the data). Any row
  // added, dropped or changed in the fingerprinted columns changes the
  // name, so a mutated corpus retrains or rebuilds and stale reuse is
  // impossible. In-JVM memos key on `cacheKey|n|fp|params`
  // ([[Fingerprint.key]]); on-disk artifacts live under
  // `<tag>_n<n>_fp<hex>[_ix<hex>]` ([[memoLayout]]) and are published by
  // the `_SUCCESS` marker [[onceAt]] gates on. Existence goes through
  // Hadoop's FileSystem, not java.io.File, so the contract holds on
  // HDFS/S3 too. Concurrent FIRST-build callers must be externally
  // serialized — two writers racing mode("overwrite") into one directory
  // is not safe on any filesystem; once the marker exists, readers never
  // observe a write. Callers that cannot afford the one fingerprint job
  // per call hold the trained structure themselves (e.g. [[Ann.buildIvf]]).

  /** Where the registry queries build their ANN layouts:
    * `<java.io.tmpdir>/graft_ann_layouts`. Nothing prunes it yet. */
  val annLayoutDir: String =
    new java.io.File(sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath

  /** A frame's content fingerprint (see the build-once notes above). */
  final case class Fingerprint(n: Long, fp: Long) {
    /** `n|fp`, the segment in-JVM memo keys embed. */
    def key: String = s"$n|$fp"
    /** `_n<n>_fp<hex>`, the segment layout directory names embed. */
    def dirSuffix: String = s"_n${n}_fp${java.lang.Long.toHexString(fp)}"
  }

  private def fingerprintAggs(cols: Seq[String]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(expr(s"bit_xor(xxhash64(${cols.mkString(", ")}))"), lit(0L)).as("fp"))

  /** [[Fingerprint]] of `df` over `cols`, from one column-pruned job. */
  def fingerprint(df: DataFrame, cols: String*): Fingerprint = {
    val aggs = fingerprintAggs(cols)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    Fingerprint(r.getLong(0), r.getLong(1))
  }

  /** One [[Fingerprint]] per frame, all from ONE job: a per-side tag,
    * one union, one grouped aggregation — N separate `head()`s were N
    * fixed job costs per cache hit. An empty frame yields the same
    * `(0, 0)` as [[fingerprint]].
    */
  def fingerprints(dfs: Seq[DataFrame], cols: String*): Seq[Fingerprint] = {
    val aggs = fingerprintAggs(cols)
    val got = dfs.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("_fp_side") +: cols.map(col): _*) }
      .reduce(_ unionByName _)
      .groupBy("_fp_side").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> Fingerprint(r.getLong(1), r.getLong(2))).toMap
    dfs.indices.map(got.getOrElse(_, Fingerprint(0L, 0L)))
  }

  /** The one `_SUCCESS` gate: runs `write(dir)` unless `dir/_SUCCESS`
    * exists, and returns the marker's modification time (one metadata
    * call when the artifact is already built). A write that publishes
    * no marker fails here instead of silently rebuilding every call.
    */
  private[graft] def onceAt(spark: SparkSession, dir: String)(write: String => Unit): Long = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    def mtime = fs.getFileStatus(marker).getModificationTime
    try mtime
    catch { case _: java.io.FileNotFoundException => write(dir); mtime }
  }

  /** `baseDir/<tag>_n<n>_fp<hex>[_ix<hex>]` for `df`'s content, where
    * `ix` hashes the index structures the layout was encoded under.
    */
  private[graft] def layoutPath(
      df: DataFrame,
      baseDir: String,
      tag: String,
      fingerprintCols: Seq[String],
      ix: Option[Int] = None): String =
    s"$baseDir/$tag${fingerprint(df, fingerprintCols: _*).dirSuffix}" +
      ix.fold("")(h => s"_ix${Integer.toHexString(h)}")

  /** [[layoutPath]], written by `write` unless already built ([[onceAt]]). */
  private[graft] def memoLayout(
      spark: SparkSession,
      df: DataFrame,
      baseDir: String,
      tag: String,
      fingerprintCols: Seq[String],
      ix: Option[Int] = None)(write: String => Unit): String = {
    val path = layoutPath(df, baseDir, tag, fingerprintCols, ix)
    onceAt(spark, path)(write)
    path
  }

  /** Build-once ([[memoLayout]]) z-ordered layout. */
  def zOrderedLayout(
      spark: SparkSession,
      df: DataFrame,
      zCols: Seq[String],
      baseDir: String,
      nFiles: Int,
      fingerprintCols: Seq[String]): String =
    memoLayout(spark, df, baseDir, s"z${zCols.mkString("_")}_f$nFiles",
      fingerprintCols)(p => writeZOrdered(df, zCols, p, nFiles))

  /** Build-once ([[memoLayout]]) linear layout (the baseline side of the
    * evidence). */
  def linearLayout(
      spark: SparkSession,
      df: DataFrame,
      sortCol: String,
      baseDir: String,
      nFiles: Int,
      fingerprintCols: Seq[String]): String =
    memoLayout(spark, df, baseDir, s"lin${sortCol}_f$nFiles",
      fingerprintCols)(p => writeLinear(df, sortCol, p, nFiles))

  /** Rows MATERIALIZED from parquet by `df`'s scan(s): runs the query
    * and reads the file-scan `numOutputRows` metric — rows surviving
    * footer-stats row-group skipping, BEFORE the post-scan filter. This
    * is the data-skipping signal: a layout is only pruning if this is
    * far below the table's row count.
    */
  def scanRowsMaterialized(df: DataFrame): Long = {
    df.queryExecution.executedPlan.executeCollect()
    scanNodes(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
  }

  private def scanNodes(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec        => scanNodes(q.plan)
    case s: FileSourceScanExec    => Seq(s)
    case other => other.children.flatMap(scanNodes)
  }
}
