package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[AnnOracle]] assembly contract: the static LSH mirrors are
  * always present, the trained tiers appear exactly when their captures
  * are set, the capture store is fail-safe against same-param
  * different-corpus collisions, and the embedded literals are
  * shortest-roundtrip doubles (the cross-engine exactness the generated
  * SQL depends on). The SQL SEMANTICS are pinned by the driver's DuckDB
  * compare (179 OK at sf0.01) — an engine this spec cannot reach from
  * Scala.
  */
class AnnOracleSpec extends AnyFunSuite {

  private def floats(seed: Int, n: Int): Array[Float] =
    Array.tabulate(n)(i => ((seed * 31 + i * 7) % 13 - 6) / 7.0f)

  private val cents8 = Array.tabulate(8)(c => floats(c, 64))
  private val books8: Seq[Seq[Seq[Double]]] =
    Seq.tabulate(8)(s => Seq.tabulate(16)(c =>
      floats(s * 16 + c, 8).map(_.toDouble).toSeq))

  /** Snapshot every capture store, run `body` on cleared stores, restore. */
  private def isolated[A](body: => A): A = {
    val stores = Seq(AnnOracle.mainCentroids, AnnOracle.globalBooks,
      AnnOracle.residualBooks, AnnOracle.localBooks,
      AnnOracle.opqRotation, AnnOracle.opqBooks, AnnOracle.opqCentroids)
    def snapAll() = (AnnOracle.mainCentroids.snapshot(),
      AnnOracle.globalBooks.snapshot(), AnnOracle.residualBooks.snapshot(),
      AnnOracle.localBooks.snapshot(), AnnOracle.opqRotation.snapshot(),
      AnnOracle.opqBooks.snapshot(), AnnOracle.opqCentroids.snapshot())
    val prev = snapAll()
    stores.foreach(_.asInstanceOf[AnnOracle.Capture[Any]].restore(Map.empty))
    try body
    finally {
      AnnOracle.mainCentroids.restore(prev._1)
      AnnOracle.globalBooks.restore(prev._2)
      AnnOracle.residualBooks.restore(prev._3)
      AnnOracle.localBooks.restore(prev._4)
      AnnOracle.opqRotation.restore(prev._5)
      AnnOracle.opqBooks.restore(prev._6)
      AnnOracle.opqCentroids.restore(prev._7)
    }
  }

  test("static LSH mirrors are always present") {
    isolated {
      val keys = AnnOracle.sqlEntries.keySet
      assert(keys.contains("ann_lsh_topk"))
      assert(keys.contains("ann_lsh_join"))
      assert(keys.contains("ann_lsh_multiprobe"))
      assert(keys.contains("ann_lsh_partitioned_adaptive"))
      assert(keys.contains("ann_lsh_probe1"))
      assert(keys.contains("ann_lsh_partitioned"))
      assert(keys.contains("ann_recall"))
      assert(keys.contains("ann_recall_murmur"))
      // trained tiers absent without captures — the rows-only fallback
      assert(!keys.contains("ann_ivf_topk"))
      assert(!keys.contains("ann_ivfpq_topk"))
    }
  }

  test("every trained tier assembles under full captures") {
    isolated {
      AnnOracle.mainCentroids.put("dir|100|1|8|3", cents8)
      AnnOracle.globalBooks.put("dir|100|1|8|8|16|5", books8)
      AnnOracle.residualBooks.put("dir|res1|100|1|8|8|16|5", books8)
      AnnOracle.localBooks.put(
        "dir|lopq1|100|1|8|8|16|5|2000", (0 until 8).map(_ -> books8).toMap)
      AnnOracle.opqRotation.put(
        "opq|dir|100|1|8|8|16|8|8", Array.tabulate(64)(i => floats(i, 64)))
      AnnOracle.opqBooks.put("opq|dir|100|1|8|8|16|8|8", books8)
      AnnOracle.opqCentroids.put("dir|opq|100|1|8|3", cents8)
      val entries = AnnOracle.sqlEntries
      val expected = Set(
        "ann_lsh_topk", "ann_lsh_join", "ann_lsh_join_adaptive",
        "ann_lsh_multiprobe", "ann_lsh_probe1", "ann_lsh_partitioned",
        "ann_lsh_partitioned_adaptive", "ann_recall", "ann_recall_murmur",
        "ann_ivf_topk", "ann_ivf_join", "ann_ivf_join_salted",
        "ann_ivf_join_adaptive",
        "ann_rule_topk", "ann_rule_ivfpq",
        "ann_pq_trained_topk",
        "ann_ivfpq_topk", "ann_ivfpq_join", "ann_ivfpq_join_adaptive",
        "ann_ivfpq_incremental",
        "ann_ivfpq_rerank", "ann_ivfpq_residual_topk",
        "ann_rule_ivfpq_residual",
        "ann_ivfpq_residual_rerank", "ann_ivfpq_local_topk",
        "ann_ivfpq_local_rerank", "ann_opq_adc_topk", "ann_ivfpq_opq_topk")
      assert(entries.keySet == expected,
        s"missing=${expected.diff(entries.keySet)} extra=${entries.keySet.diff(expected)}")
      // every entry must name the Spark output columns it is compared on
      entries.foreach { case (name, sql) =>
        val cols =
          if (name.startsWith("ann_rule_")) Seq("vec_id", "sim")
          else if (name.startsWith("ann_recall")) Seq("query_id", "n_hit", "recall_at_k")
          else if (name.endsWith("_rerank")) Seq("query_id", "rank", "vec_id", "d2")
          else if (name.startsWith("ann_lsh") || name == "ann_ivf_topk" ||
            name == "ann_ivf_join" || name == "ann_ivf_join_salted" ||
            name == "ann_ivf_join_adaptive")
            Seq("query_id", "rank", "vec_id", "sim")
          else Seq("query_id", "rank", "vec_id", "adc_dist")
        cols.foreach(c => assert(sql.contains(c), s"$name missing column $c"))
        // a `$x` left in a non-interpolated fragment reaches DuckDB as a
        // prepared-statement parameter and the mirror errors
        assert(!sql.contains("$"), s"$name has an uninterpolated placeholder")
      }
    }
  }

  test("capture routing: |opq cacheKey suffix lands in opqCentroids") {
    isolated {
      val a = Array(floats(1, 64))
      val b = Array(floats(2, 64))
      AnnOracle.captureCentroids("/some/dir|100|1|8|3", a)
      AnnOracle.captureCentroids("/some/dir|opq|100|1|8|3", b)
      assert(AnnOracle.mainCentroids.unique("|8|3").exists(_ eq a))
      assert(AnnOracle.opqCentroids.unique("|8|3").exists(_ eq b))
      // a capture under DIFFERENT params must neither feed NOR suppress
      // the registry mirror (it keys separately in the store)
      AnnOracle.captureCentroids("/some/dir|100|1|16|5", b)
      assert(AnnOracle.sqlEntries.contains("ann_ivf_topk"),
        "param-mismatched capture suppressed the registry-param mirror")
      assert(AnnOracle.mainCentroids.unique("|8|3").exists(_ eq a),
        "param-mismatched capture displaced the registry-param capture")
    }
  }

  test("same-param capture on a DIFFERENT corpus suppresses the mirror") {
    isolated {
      // Two corpora (distinct count/fingerprint in the full memo key)
      // trained under the registry params in one JVM: the suffix is
      // ambiguous, so the mirror must be SUPPRESSED (rows-only
      // fallback), never embed either candidate (r15 ADVICE — the old
      // last-write-wins capture embedded whichever trained last).
      AnnOracle.captureCentroids("/corpusA|100|11|8|3", Array(floats(1, 64)))
      AnnOracle.captureCentroids("/corpusB|200|22|8|3", Array(floats(2, 64)))
      assert(AnnOracle.mainCentroids.unique("|8|3").isEmpty)
      assert(!AnnOracle.sqlEntries.contains("ann_ivf_topk"),
        "ambiguous same-param captures must suppress the mirror")
      // re-training the SAME corpus (same full key) is not ambiguous
      isolated {
        val c = Array(floats(3, 64))
        AnnOracle.captureCentroids("/corpusA|100|11|8|3", Array(floats(1, 64)))
        AnnOracle.captureCentroids("/corpusA|100|11|8|3", c)
        assert(AnnOracle.mainCentroids.unique("|8|3").exists(_ eq c))
      }
    }
  }

  test("value-identical captures under two key spellings stay embeddable") {
    isolated {
      // r16 ADVICE: the same corpus trained under two spellings of the
      // same cacheKey/dir (same count/fingerprint, different prefix)
      // captures the SAME structure twice — one structure under two
      // names is not ambiguous, and suppressing it silently degraded
      // those mirrors to rows-only. Deep value equality (arrays
      // canonicalized) must keep the mirror.
      AnnOracle.captureCentroids("/corpus|100|11|8|3", Array(floats(1, 64)))
      AnnOracle.captureCentroids("/corpus/.|100|11|8|3", Array(floats(1, 64)))
      assert(AnnOracle.mainCentroids.unique("|8|3").nonEmpty,
        "value-identical captures must not suppress the mirror")
      // and a third DIFFERING capture under the suffix re-suppresses
      AnnOracle.captureCentroids("/other|200|22|8|3", Array(floats(2, 64)))
      assert(AnnOracle.mainCentroids.unique("|8|3").isEmpty)
    }
  }

  test("embedded literals round-trip to the identical IEEE double") {
    val samples = Seq(0.0, -0.0, 1.0 / 3.0, -2.7182818284590455e-7,
      Float.MinPositiveValue.toDouble, 123456.78911111e11,
      graft.operators.Ann.planeComp(3, 17).toDouble)
    isolated {
      // Drive the literals through the real generator: one centroid row
      // carrying the samples (padded to dim 64), then parse them back
      // out of the VALUES clause.
      val cv = (samples ++ Seq.fill(64 - samples.size)(0.5)).map(_.toFloat)
      AnnOracle.mainCentroids.put("dir|100|1|8|3", Array(cv.toArray))
      val sql = AnnOracle.sqlEntries("ann_ivf_topk")
      val row = sql.linesIterator.find(_.trim.startsWith("(0, [")).get
      val nums = row.trim.stripPrefix("(0, [").takeWhile(_ != ']')
        .split(", ").map(_.toDouble)
      cv.zip(nums).foreach { case (f, parsed) =>
        assert(java.lang.Double.doubleToLongBits(f.toDouble) ==
          java.lang.Double.doubleToLongBits(parsed) ||
          (f == 0.0f && parsed == 0.0),
          s"literal $f round-tripped to $parsed")
      }
    }
  }
}
