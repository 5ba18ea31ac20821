package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.expressions.VectorExpressions
import graft.functions.VectorOps

/** The codegen'd CosineSimilarity must be bit-identical with the
  * higher-order-function reference form (same accumulation order), since
  * oracle SQL mirrors the latter.
  */
class VectorExpressionsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(64, Gen.chooseNum(-5.0f, 5.0f)).map(_.toArray)

  /** The closure form [[graft.operators.Ann.assignCells]] compiled before
    * r16 — the bit-identity reference the kernel is pinned against.
    */
  private def assignCellsClosure(
      corpus: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Float]]): org.apache.spark.sql.DataFrame = {
    val dim = centroids.head.length
    val assign = udf { (v: Seq[Float]) =>
      var best = 0; var bestSim = Double.MinValue
      var c = 0
      while (c < centroids.length) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < dim) {
          val x = v(i).toDouble; val y = centroids(c)(i).toDouble
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        val sim = if (den == 0) 0.0 else dot / den
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      best
    }
    corpus.withColumn("cell", assign(col("embedding")))
  }

  test("MarginMicros matches the interpreted HOF fold exactly on random features") {
    // The quality classifier's margin kernel (r19): codegen loop over a
    // (bucket, cn) struct array against a literal long[] must equal the
    // HOF fold it replaced — exact Long arithmetic, so equality is ==.
    val rnd = new scala.util.Random(19)
    val w = Seq.fill(33)(rnd.nextLong() % 2000000L)
    val rows = (1 to 40).map { _ =>
      val n = 1 + rnd.nextInt(12)
      Seq.fill(n)((rnd.nextInt(33), rnd.nextLong() % 1000000L))
    }
    val df = rows.toDF("feats")
      .select(org.apache.spark.sql.functions.expr(
        "transform(feats, f -> struct(f._1 as bucket, CAST(f._2 AS BIGINT) as cn))")
        .as("feats"))
    val wLit = org.apache.spark.sql.functions.typedLit(w)
    val got = df.select(
      VectorExpressions.marginMicros($"feats", w).as("fast"),
      org.apache.spark.sql.functions.aggregate($"feats",
        org.apache.spark.sql.functions.lit(0L),
        (acc, f) => acc + f.getField("cn") *
          org.apache.spark.sql.functions.element_at(wLit, f.getField("bucket") + 1))
        .as("ref")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"fast=${r.getLong(0)} ref=${r.getLong(1)}"))
  }

  test("codegen cosine matches HOF cosine bit-for-bit on random vectors") {
    val pairs = (1 to 50).map { i =>
      (vecGen.pureApply(Gen.Parameters.default, Seed(i.toLong)),
       vecGen.pureApply(Gen.Parameters.default, Seed((i + 1000).toLong)))
    }
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      VectorExpressions.cosineSim($"a", $"b").as("fast"),
      VectorOps.cosineSim($"a", $"b").as("ref")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"fast=${r.getDouble(0)} ref=${r.getDouble(1)}")
    }
  }

  test("codegen cosine handles identical, orthogonal and zero vectors") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
    val out = df.select(VectorExpressions.cosineSim($"a", $"b")).as[Double].collect()
    assert(out(0) == 1.0 && out(1) == 0.0 && out(2) == 0.0)
  }

  test("codegen IVF cell assignment matches the closure form exactly") {
    // The kernel replaced a closure UDF (r16; the 10⁶ build's dominant
    // cost was the UDF's boxing). Pin argmax-cosine bit-identity on
    // adversarial inputs: random vectors, a vector EQUAL to a centroid
    // (sim exactly 1.0 against it), the zero vector (den==0 → every sim
    // 0.0 → strict > keeps cell 0), and near-tie geometry.
    val centroids = Array.tabulate(8) { c =>
      vecGen.pureApply(Gen.Parameters.default, Seed(9000L + c))
    }
    val vecs = (1 to 200).map(i =>
      vecGen.pureApply(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq(centroids(3), centroids(5).map(_ * 2.0f), // scaled copy: same direction
        Array.fill(64)(0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val kernel = graft.operators.Ann.assignCells(df, centroids)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val closure = assignCellsClosure(df, centroids)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(kernel == closure, {
      val diff = kernel.collect { case (k, v) if closure(k) != v => (k, v, closure(k)) }
      s"kernel diverged from closure at: $diff"
    })
    assert(kernel(200L) == 3, "a centroid must assign to its own cell")
    assert(kernel(201L) == 5, "cosine is scale-invariant: scaled copy keeps its cell")
    assert(kernel(202L) == 0, "zero vector: all sims 0.0, strict > keeps cell 0")
  }

  test("IVF cell assignment fails loudly on a shorter-than-dim embedding") {
    // r16 ADVICE: getFloat past numElements() on UnsafeArrayData reads
    // arbitrary buffer bytes — a corrupt/mixed-dim row must throw (the
    // closure UDF's contract), never silently land in an arbitrary cell.
    val centroids = Array.tabulate(4) { c =>
      vecGen.pureApply(Gen.Parameters.default, Seed(9100L + c))
    }
    val good = vecGen.pureApply(Gen.Parameters.default, Seed(1L))
    val short = good.take(17)
    val df = Seq((0L, good), (1L, short)).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      graft.operators.Ann.assignCells(df, centroids)
        .select("vec_id", "cell").collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: rootMessages(x.getCause))
    assert(rootMessages(e).exists(m =>
      m != null && m.contains("ivf_cell_assign")),
      s"expected the ivf_cell_assign dim guard, got: $e")
    // the guard must hold in the interpreted path too
    val expr = graft.expressions.IvfCellAssign(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        short.toSeq, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      centroids.iterator.flatten.map(_.toDouble).toSeq, 64)
    val e2 = intercept[IllegalArgumentException] { expr.eval(null) }
    assert(e2.getMessage.contains("ivf_cell_assign"))
  }

  test("codegen LSH signature matches Ann.signature bit-for-bit") {
    // The kernel replaced the closure-UDF signature on the join tier's
    // corpus-sized query side and the layout writers (r17 verdict
    // "What's wrong" #2). The per-dim product is Float*Float (widened
    // AFTER rounding) — the exact form the DuckDB murmur mirror replays
    // — so any divergence here would red every murmur LSH oracle row.
    val vecs = (1 to 200).map(i =>
      vecGen.pureApply(Gen.Parameters.default, Seed(3000L + i))) ++
      Seq(Array.fill(64)(0f), Array.fill(64)(1e-30f), Array.fill(64)(-1e-30f))
    for (nBits <- Seq(8, 16)) {
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val kernel = df.select($"vec_id",
        VectorExpressions.lshSignature($"embedding", nBits).as("sig"))
        .as[(Long, Int)].collect().toMap
      vecs.zipWithIndex.foreach { case (v, i) =>
        val ref = graft.operators.Ann.signature(v.toSeq, nBits)
        assert(kernel(i.toLong) == ref,
          s"nBits=$nBits vec $i: kernel ${kernel(i.toLong)} != signature $ref")
      }
    }
    // interpreted path too
    val expr = graft.expressions.LshSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        vecs.head.toSeq, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), 8)
    assert(expr.eval(null) == graft.operators.Ann.signature(vecs.head.toSeq, 8))
  }

  test("codegen IVF cell probes match nearestCells exactly (ties, zeros, short rows)") {
    val centroids = Array.tabulate(8) { c =>
      vecGen.pureApply(Gen.Parameters.default, Seed(9200L + c))
    }
    // adversarial: random, a centroid itself, a scaled centroid, the
    // zero vector (every sim 0.0 → probe order must be cell index —
    // the ±0.0 class the `+ 0.0` normalization in nearestCells exists
    // for), and duplicate centroids upstream would tie exactly
    val vecs = (1 to 200).map(i =>
      vecGen.pureApply(Gen.Parameters.default, Seed(4000L + i))) ++
      Seq(centroids(2), centroids(6).map(_ * 0.5f), Array.fill(64)(0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    for (nProbe <- Seq(1, 3, 8, 12)) {
      val kernel = df.select($"vec_id",
        VectorExpressions.ivfCellProbes($"embedding", centroids, nProbe).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      vecs.zipWithIndex.foreach { case (v, i) =>
        val ref = graft.operators.Ann.nearestCells(v.toSeq, centroids, nProbe).toSeq
        assert(kernel(i.toLong) == ref,
          s"nProbe=$nProbe vec $i: kernel ${kernel(i.toLong)} != nearestCells $ref")
      }
    }
    // zero vector: all sims 0.0 → probes are ascending cell indices
    assert(df.filter($"vec_id" === 202L).select(
      VectorExpressions.ivfCellProbes($"embedding", centroids, 3))
      .as[Seq[Int]].head() == Seq(0, 1, 2))
    // short row throws (the IvfCellAssign bounds contract)
    val short = Seq((0L, vecs.head.take(5))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      short.select(VectorExpressions.ivfCellProbes($"embedding", centroids, 3)).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: rootMessages(x.getCause))
    assert(rootMessages(e).exists(m => m != null && m.contains("ivf_cell_probes")))
    // interpreted path
    val expr = graft.expressions.IvfCellProbes(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        vecs.head.toSeq, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      centroids.iterator.flatten.map(_.toDouble).toSeq, 64, 3)
    val got = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toSeq
    assert(got == graft.operators.Ann.nearestCells(vecs.head.toSeq, centroids, 3).toSeq)
  }

  test("adaptive IVF cell probes: distance-ratio cut is a prefix of the fixed order") {
    val centroids = Array.tabulate(8) { c =>
      vecGen.pureApply(Gen.Parameters.default, Seed(9300L + c))
    }
    val vecs = (1 to 150).map(i =>
      vecGen.pureApply(Gen.Parameters.default, Seed(5000L + i))) ++
      Seq(centroids(4), Array.fill(64)(0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    // the kernel's own cosine arithmetic, replayed (same fold order →
    // identical doubles)
    def simsOf(v: Array[Float]): Array[Double] = {
      val dim = 64
      var na = 0.0
      var i0 = 0
      while (i0 < dim) { val x = v(i0).toDouble; na += x * x; i0 += 1 }
      val sqrtNa = math.sqrt(na)
      Array.tabulate(centroids.length) { c =>
        var dot = 0.0
        var nb = 0.0
        var i = 0
        while (i < dim) {
          dot += v(i).toDouble * centroids(c)(i).toDouble
          val y = centroids(c)(i).toDouble
          nb += y * y
          i += 1
        }
        val den = sqrtNa * math.sqrt(nb)
        if (den == 0.0) 0.0 else dot / den
      }
    }
    for (nMax <- Seq(3, 5, 8); ratio <- Seq(1.25, 1.5, 3.0)) {
      val kernel = df.select($"vec_id",
        VectorExpressions.ivfCellProbesAdaptive($"embedding", centroids, nMax, ratio).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      vecs.zipWithIndex.foreach { case (v, i) =>
        val order = graft.operators.Ann.nearestCells(v.toSeq, centroids, nMax).toSeq
        val s = simsOf(v)
        val d1 = 1.0 - s(order.head)
        val ref = order.head +: order.tail.takeWhile(c => (1.0 - s(c)) <= ratio * d1)
        assert(kernel(i.toLong) == ref,
          s"nMax=$nMax ratio=$ratio vec $i: kernel ${kernel(i.toLong)} != ref $ref")
        // the adaptive set is a PREFIX of the fixed kernel's order
        assert(order.startsWith(kernel(i.toLong)))
      }
    }
    // ratio = 0 is exactly the fixed kernel
    val fixed = df.select($"vec_id",
      VectorExpressions.ivfCellProbes($"embedding", centroids, 5).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    val ratio0 = df.select($"vec_id",
      VectorExpressions.ivfCellProbesAdaptive($"embedding", centroids, 5, 0.0).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(fixed == ratio0)
    // interpreted path agrees with codegen
    val expr = graft.expressions.IvfCellProbes(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        vecs.head.toSeq, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      centroids.iterator.flatten.map(_.toDouble).toSeq, 64, 5, 1.5)
    val got = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toSeq
    val kernelHead = df.filter($"vec_id" === 0L).select(
      VectorExpressions.ivfCellProbesAdaptive($"embedding", centroids, 5, 1.5))
      .as[Seq[Int]].head()
    assert(got == kernelHead)
  }

  test("the Hamming probe ball is an XOR-shift of the zero ball") {
    // lshJoin's native probe column XORs the signature with the
    // zero-signature ball's masks; pin the set identity the plan form
    // relies on, for every (nBits, probeBits) the tiers use.
    for (nBits <- Seq(8, 16); probeBits <- Seq(0, 1, 2)) {
      val masks = graft.operators.Ann.probeSignatures(0, nBits, probeBits)
      for (sig <- Seq(0, 1, 0x5A, (1 << nBits) - 1)) {
        val direct = graft.operators.Ann.probeSignatures(sig, nBits, probeBits).toSet
        assert(masks.map(_ ^ sig).toSet == direct,
          s"nBits=$nBits probeBits=$probeBits sig=$sig")
        assert(masks.distinct.size == masks.size)
      }
    }
  }

  test("codegen cosine survives interpreted (non-codegen) eval too") {
    // force interpreted path via a filter on the expression in a plan
    // fragment that falls back (collect over local relation with eval)
    val e = graft.expressions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1f, 2f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2f, 4f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val v = e.eval(null).asInstanceOf[Double]
    assert(math.abs(v - 1.0) < 1e-12)
  }
}
