package graftbench

import scala.collection.mutable

/** Single-machine reference for the hybrid chat path, written from the
  * operators' documented semantics and sharing no code with them:
  * BM25 (Robertson-Spärck-Jones idf, k1 = 1.25, b = 0.75, score floored to
  * 6 decimals), exact cosine over the embedder's vectors, reciprocal rank
  * fusion (k = 60), the rank-ordered stuffed context, and the envelope the
  * deterministic LLM answers with.
  */
object Reference {

  final case class Chunk(vecId: String, text: String, embedding: Array[Float])

  final case class Answer(context: String, answer: String, emotion: String)

  private def tokens(s: String): Array[String] =
    s.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)

  /** An inverted index over one snapshot of the chunk store. */
  final class Index(val chunks: IndexedSeq[Chunk]) {
    private val dl = chunks.map(c => tokens(c.text).length)
    private val live = dl.count(_ > 0)
    private val avgdl = dl.filter(_ > 0).map(_.toDouble).sum / live
    private val postings: Map[String, Array[(Int, Int)]] = {
      val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Int)]]
      chunks.indices.foreach { i =>
        tokens(chunks(i).text).groupBy(identity).foreach { case (t, occ) =>
          m.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((i, occ.length))
        }
      }
      m.map { case (t, b) => t -> b.toArray }.toMap
    }

    /** Postings a BM25 query over `q` scores: the sum of its distinct
      * terms' document frequencies.
      */
    def postingsScored(q: String): Long =
      tokens(q).distinct.map(t => postings.get(t).map(_.length.toLong).getOrElse(0L)).sum

    def bm25(q: String, k: Int): IndexedSeq[String] = {
      val score = mutable.HashMap.empty[Int, Double]
      tokens(q).distinct.foreach { t =>
        postings.get(t).foreach { ps =>
          val df = ps.length
          val idf = StrictMath.log(1.0 + ((live - df).toDouble + 0.5) / (df + 0.5))
          ps.foreach { case (i, tf) =>
            val c = idf * (tf * 2.25) / (tf + 1.25 * (0.25 + 0.75 * dl(i) / avgdl))
            score(i) = score.getOrElse(i, 0.0) + c
          }
        }
      }
      score.toIndexedSeq
        .map { case (i, s) => (math.floor(s * 1e6).toLong / 1e6, chunks(i).vecId) }
        .sortWith { case ((s1, d1), (s2, d2)) => s1 > s2 || (s1 == s2 && d1 < d2) }
        .take(k).map(_._2)
    }

    def knn(q: Array[Float], k: Int): IndexedSeq[String] =
      chunks.map(c => (cosine(q, c.embedding), c.vecId))
        .sortWith { case ((s1, d1), (s2, d2)) => s1 > s2 || (s1 == s2 && d1 < d2) }
        .take(k).map(_._2)

    private lazy val textOf = chunks.map(c => c.vecId -> c.text).toMap

    /** The whole answer for one question. */
    def answer(question: String, k: Int = 2, fetchK: Int = 20): Answer = {
      val lex = bm25(question, fetchK).zipWithIndex.map { case (d, r) => d -> (r + 1) }.toMap
      val sem = knn(graft.functions.HashEmbedder.embed(question), fetchK)
        .zipWithIndex.map { case (d, r) => d -> (r + 1) }.toMap
      val fused = (lex.keySet ++ sem.keySet).toIndexedSeq
        .map { d =>
          val rrf = lex.get(d).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
            sem.get(d).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
          (rrf, d)
        }
        .sortWith { case ((s1, d1), (s2, d2)) => s1 > s2 || (s1 == s2 && d1 < d2) }
        .take(k)
      val context = fused.map(f => textOf(f._2)).mkString("\n\n")
      val digest = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(context, 7))
      Answer(context, s"Re: $question [ctx:$digest]", "explaining")
    }
  }

  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < x.length) {
      val a = x(i).toDouble; val b = y(i).toDouble
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}
