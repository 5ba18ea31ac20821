package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness checks. Each returns the number of failed operations among
  * the ones it was given, and prints one line per failure.
  */
object Checks {

  private def fail(msg: String): Int = { System.err.println(s"[check] FAIL $msg"); 1 }

  /** Reads the chunk rows of a set of store files; the rows of a file are
    * read once and reused, since store files are never rewritten.
    */
  final class SnapshotReader(spark: SparkSession, store: StoreDir) {
    private val byFile = mutable.HashMap.empty[String, IndexedSeq[Reference.Chunk]]
    private val indexes = mutable.HashMap.empty[Set[String], Reference.Index]
    def index(files: Set[String]): Reference.Index = indexes.getOrElseUpdate(files, {
      val missing = files.filterNot(byFile.contains).toSeq
      if (missing.nonEmpty) {
        spark.read.parquet(missing.map(f => s"${store.chunks}/$f"): _*)
          .select(input_file_name().as("f"), col("vec_id"), col("text"), col("embedding"))
          .collect()
          .groupBy(r => Flows.fileName(r.getString(0)))
          .foreach { case (f, rs) =>
            byFile(f) = rs.toIndexedSeq.map(r =>
              Reference.Chunk(r.getString(1), r.getString(2), r.getSeq[Float](3).toArray))
          }
        missing.filterNot(byFile.contains).foreach(f => byFile(f) = IndexedSeq.empty)
      }
      new Reference.Index(files.toIndexedSeq.sorted.flatMap(byFile))
    })
  }

  /** Each chat answer must equal the reference over the store snapshot the
    * request read.
    */
  def chat(results: Seq[Flows.ChatResult], reader: SnapshotReader): Int = results.map { r =>
    val idx = reader.index(r.files)
    val want = idx.answer(r.q.text, Flows.K, Flows.FetchK)
    r.rows match {
      case Array(row) =>
        val got = (row.getAs[String]("context"), row.getAs[String]("answer"), row.getAs[String]("emotion"))
        if (row.getAs[Long]("query_id") != r.q.queryId || row.getAs[String]("question") != r.q.text)
          fail(s"chat q${r.q.queryId}: wrong row returned")
        else if (got != ((want.context, want.answer, want.emotion)))
          fail(s"chat q${r.q.queryId} (${r.q.kind}): answer differs from the reference")
        else 0
      case rows => fail(s"chat q${r.q.queryId}: ${rows.length} rows, want 1")
    }
  }.sum

  /** Freshness: every request must read every store file committed
    * before it started.
    */
  def fresh(results: Seq[Flows.ChatResult], committed: Set[String]): Int = results.map { r =>
    if (committed.subsetOf(r.files)) 0
    else fail(s"chat q${r.q.queryId}: stale read, ${(committed -- r.files).size} committed files missing")
  }.sum

  /** The upload funnel of every batch against the counts the generator
    * implies: files extracted, quarantined, dropped as duplicates, and the
    * chunk ids, texts and embeddings re-read from the store.
    */
  def upload(spark: SparkSession, store: StoreDir, results: Seq[Flows.UploadResult]): Int = {
    val chunks = spark.read.parquet(store.chunks).select("file_id", "vec_id", "text", "embedding")
      .collect().groupBy(_.getString(0))
    val catalog = spark.read.parquet(store.catalog).select("file_id")
      .collect().map(_.getString(0)).groupBy(identity).map { case (k, v) => k -> v.length }
    results.map { r =>
      val b = r.batch
      def want(kind: String) = b.count(_.kind == kind)
      val quarantined = r.status.count(_._2 != graft.sources.DocLoader.StatusOk)
      val freshFiles = b.filter(_.kind == "fresh")
      val inCatalog = b.filter(f => catalog.contains(f.stem)).map(_.stem).toSet
      val chunkErr = freshFiles.iterator.map { f =>
        val want = Gen.chunkTexts(f.text).zipWithIndex.map { case (t, i) => (s"${f.stem}_$i", t) }
        val rows = chunks.getOrElse(f.stem, Array.empty[Row])
        val got = rows.map(r => (r.getString(1), r.getString(2))).sorted.toSeq
        val embOk = rows.forall(r =>
          r.getSeq[Float](3).toArray.sameElements(graft.functions.HashEmbedder.embed(r.getString(2))))
        if (got != want.sorted) Some(s"${f.stem}: ${got.size} chunks re-read, want ${want.size} with the generator's texts")
        else if (!embOk) Some(s"${f.stem}: stored embedding differs from the embedder's")
        else None
      }.collectFirst { case Some(e) => e }
      val dropped = b.count(_.kind != "undecodable") - inCatalog.size
      if (r.status.size != b.size) fail(s"upload ${b.head.stem}: ${r.status.size} files extracted, want ${b.size}")
      else if (quarantined != want("undecodable"))
        fail(s"upload ${b.head.stem}: $quarantined quarantined, want ${want("undecodable")}")
      else if (dropped != want("reupload") || inCatalog != freshFiles.map(_.stem).toSet)
        fail(s"upload ${b.head.stem}: $dropped dup-dropped, want ${want("reupload")}")
      else if (inCatalog.exists(s => catalog(s) != 1)) fail(s"upload ${b.head.stem}: catalog row written twice")
      else chunkErr.map(e => fail(s"upload $e")).getOrElse(0)
    }.sum
  }

  /** The curation invariants the generator implies, in both directions:
    * no input row lost or duplicated; the rows flagged as exact copies are
    * exactly the planted exact copies; the duplicate clusters are exactly
    * the planted groups, each original with its planted copies.
    */
  def curate(spark: SparkSession, out: String, c: Gen.Curate): Int = {
    val decided = spark.read.parquet(s"$out/decided").select("doc_id", "is_exact_dup").collect()
    val ids = decided.map(_.getLong(0))
    val flagged = decided.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    val clusters = spark.read.parquet(s"$out/clusters").select("doc_id", "cluster_id").collect()
      .groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
    val want = c.groups
    val exact = c.exactCopies.keySet
    if (ids.length != c.docs.length || ids.toSet != c.docs.map(_._1).toSet)
      fail(s"curate: ${ids.length} rows out (${ids.toSet.size} distinct), want ${c.docs.length}")
    else if (flagged != exact)
      fail(s"curate: ${(exact -- flagged).size} planted exact copies not flagged, ${(flagged -- exact).size} other rows flagged")
    else if (clusters != want)
      fail(s"curate: ${(want -- clusters).size} planted groups not found as clusters, ${(clusters -- want).size} other clusters")
    else 0
  }
}
