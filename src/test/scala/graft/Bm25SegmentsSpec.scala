package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashEmbedder
import graft.operators.{Bm25Segments, Store, TextRetrieval}

/** Per-file BM25 segments over a chunk store that is appended to,
  * filtered by a delete and compacted: after every step the segment path
  * returns the rows of the on-the-fly [[TextRetrieval.bm25TopK]] over the
  * same scan, reads every listed file, and drops the segments of files
  * the store no longer has.
  */
class Bm25SegmentsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val words = Vector("spark", "join", "shuffle", "broadcast", "window", "cache",
    "parquet", "stage", "task", "plan", "query", "index", "chunk", "token", "score")

  /** `n` chunks with ids from `from`: random word runs, plus a blank, a
    * token-less and a null text.
    */
  private def chunks(from: Int, n: Int, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    val texts = (0 until n).map(_ => Seq.fill(1 + rng.nextInt(25))(words(rng.nextInt(words.size))).mkString(" ")) ++
      Seq("", "!!! ---", null)
    texts.zipWithIndex.map { case (t, i) => (s"c${from + i}", t) }.toDF("vec_id", "text")
      .withColumn("embedding", HashEmbedder.embedCol(col("text")))
  }

  private val queries = Seq((1L, "spark join shuffle"), (2L, "Broadcast window, cache!"),
    (3L, "zzz unknown"), (4L, "token token score")).toDF("query_id", "qtext")

  private def docs(dir: String) = spark.read.parquet(dir).select(col("vec_id").as("doc_id"), col("text"))

  private def rows(df: DataFrame) = df.orderBy("query_id", "rank").collect().toSeq

  private def assertSameAsBm25TopK(dir: String): Unit = {
    val want = rows(TextRetrieval.bm25TopK(docs(dir), queries, 7))
    val got = rows(Bm25Segments.topK(docs(dir), queries, 7).get)
    assert(want.nonEmpty)
    assert(got == want)
  }

  private def cachedUnder(dir: String): Map[String, DataFrame] =
    Bm25Segments.cached(spark).filter(_._1.contains(dir + "/"))

  /** Exactly the files the store lists have a cached segment. */
  private def assertCachedAreListed(dir: String): Unit = {
    def names(paths: Iterable[String]) = paths.map(new org.apache.hadoop.fs.Path(_).getName).toSet
    assert(names(cachedUnder(dir).keys) == names(docs(dir).inputFiles))
  }

  test("segment path equals bm25TopK across appends, a delete and a compaction; stale segments are dropped") {
    val dir = Files.createTempDirectory("bm25seg").toString + "/chunks"
    Store.append(Seq(("c900", "!!!"), ("c901", "")).toDF("vec_id", "text").coalesce(1)
      .withColumn("embedding", HashEmbedder.embedCol(col("text"))), dir) // a file without tokens
    Store.append(chunks(0, 40, 1), dir)
    Store.append(chunks(100, 30, 2), dir)
    assertSameAsBm25TopK(dir)
    assertCachedAreListed(dir)

    // appended after the first query: read on the next one
    Store.append(Seq(("c999", "zebra spark")).toDF("vec_id", "text")
      .withColumn("embedding", HashEmbedder.embedCol(col("text"))), dir)
    Store.append(chunks(200, 25, 3), dir)
    assertSameAsBm25TopK(dir)
    val zebra = Bm25Segments.topK(docs(dir), Seq((9L, "zebra")).toDF("query_id", "qtext"), 3).get
      .select("doc_id").as[String].collect().toSeq
    assert(zebra == Seq("c999"))
    assertCachedAreListed(dir)

    // a delete rewrites every file: the old segments go, the new files get theirs
    val before = cachedUnder(dir)
    Store.overwriteWith(spark, spark.read.parquet(dir).filter(!col("vec_id").startsWith("c1")), dir)
    assertSameAsBm25TopK(dir)
    assert(before.values.forall(_.storageLevel == StorageLevel.NONE))
    assertCachedAreListed(dir)
    assert(before.keySet.intersect(cachedUnder(dir).keySet).isEmpty)

    val beforeCompaction = cachedUnder(dir)
    Store.compact(spark, dir, rowsPerFile = 50)
    assertSameAsBm25TopK(dir)
    assert(beforeCompaction.values.forall(_.storageLevel == StorageLevel.NONE))
    assertCachedAreListed(dir)
    assert(cachedUnder(dir).values.forall(_.storageLevel != StorageLevel.NONE))
  }

  test("two threads racing on a cold file build its segment once") {
    val dir = Files.createTempDirectory("bm25seg_race").toString + "/chunks"
    Store.append(chunks(0, 60, 4), dir)
    val race = Seq.fill(2)(Future(Bm25Segments.segments(docs(dir)).get))
    val Seq(a, b) = race.map(Await.result(_, 2.minutes))
    assert(a.size == docs(dir).inputFiles.length)
    assert(a.zip(b).forall { case (x, y) => x eq y })
    assertCachedAreListed(dir)
  }

  test("only a bare parquet scan reads segments") {
    val dir = Files.createTempDirectory("bm25seg_shape").toString + "/chunks"
    Store.append(chunks(0, 10, 5), dir)
    val scan = spark.read.parquet(dir)
    assert(Bm25Segments.topK(docs(dir), queries, 3).isDefined)
    assert(Bm25Segments.topK(
      scan.filter(col("vec_id") =!= "c0").select(col("vec_id").as("doc_id"), col("text")), queries, 3).isEmpty)
    assert(Bm25Segments.topK(
      scan.join(scan.select("vec_id"), "vec_id").select(col("vec_id").as("doc_id"), col("text")), queries, 3).isEmpty)
    assert(Bm25Segments.topK(chunks(0, 10, 5).select(col("vec_id").as("doc_id"), col("text")), queries, 3).isEmpty)
  }
}
