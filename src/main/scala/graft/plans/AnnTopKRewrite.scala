package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

/** Optimizer rule: rewrite a brute-force cosine top-k —
  * `ORDER BY cosine_sim(<query literal>, embedding) DESC LIMIT k` over a
  * corpus with a REGISTERED IVF cell-partitioned layout — into a probe
  * of that layout: the scan is replaced by the layout parquet filtered
  * to the query's `nProbe` nearest cells (computed driver-side from the
  * registered centroids, so the filter is a static `isin` on the
  * partition column → genuine `PartitionFilters` pruning), with the
  * projection, sort and limit preserved verbatim.
  *
  * This is the retriever query shape of the reference
  * (langchain_utils.py:13 — similarity top-k over the vector store) as a
  * user would naively spell it against the raw corpus. The operator tier
  * ([[graft.operators.Ann.ivfJoin]] over the same cell layout) fixes
  * code that calls it; this rule fixes the PLAN for code that doesn't,
  * and keeps its own probe because it rewrites a plan whose query
  * vector is a literal, not a query frame: at 100 TB the
  * difference is scanning `nProbe/nCells` of the corpus instead of all
  * of it. Same design split as [[HammingJoinRewrite]] — the rewrite
  * needs facts Catalyst cannot derive (which layout materializes this
  * corpus, what its centroids are), so they are REGISTERED per corpus
  * path via [[register]], the rule-level analog of a secondary index
  * catalog.
  *
  * Semantics: with `nProbe = nCells` (a full probe) the candidate set is
  * the whole corpus and the result is EQUAL to the un-rewritten plan
  * (tie order included, when the sort carries a tiebreak key —
  * spec-pinned). A partial probe is honestly approximate — recall
  * depends on probe coverage exactly as in the operator tier, and the
  * Verify gate floors it. Registration is therefore an explicit opt-in
  * per corpus, carrying the probe budget the caller chose.
  *
  * Applicability guards (all conservative):
  *  - plan shape `Limit(k, Sort(keys, global, Project(proj, scan)))`,
  *    `Limit(k, Sort(keys, global, scan))`, or either with one
  *    deterministic post-processing Project collapsed between the limit
  *    and the sort (the shape user `.select(...)` wrappers optimize to);
  *  - the PRIMARY sort key is `cosine_sim(q, emb)` DESC where `q` is
  *    foldable (`array<float>` literal) and `emb` is a column of the
  *    scanned relation; remaining keys only reference pass-through
  *    columns (tiebreaks survive the rewrite);
  *  - the scan is a parquet `LogicalRelation` whose root path is
  *    registered, and every projected/sorted column exists in the
  *    layout by name;
  *  - every projected expression is deterministic.
  */
object AnnTopKRewrite extends Rule[LogicalPlan] {

  /** A registered IVF layout for one corpus path:
    * [[graft.operators.Ann.writeCellPartitioned]] output (same rows as
    * the corpus plus the `cell` partition column) + the centroids it was
    * assigned with + the probe budget top-k queries should pay.
    */
  final case class RegisteredLayout(
      layoutPath: String,
      centroids: Array[Array[Float]],
      nProbe: Int)

  /** A registered IVF-PQ layout for one corpus path — the quantized
    * tier's rewrite target ([[graft.operators.Ann.writeIvfPqPartitioned]]
    * output: m-byte codes partitioned by cell, no floats). Its rewrite is
    * two-stage: ADC over-fetch of `k * overfetch` candidate ids from the
    * probed cells' codes, then the ORIGINAL scan semi-joined to those
    * ids so the preserved projection/sort/limit perform the exact cosine
    * rerank. At 100 TB this is the layout users keep hot — the probe
    * streams a few MB of codes; the float corpus is touched only for
    * the candidate rows through a broadcast semi join.
    */
  /** `residual = true` marks a RESIDUAL-encoded layout
    * ([[graft.operators.Ann.writeIvfPqResidualPartitioned]] — codes
    * quantize `x − centroid(cell)`, the IVFADC form): the rewrite then
    * scores candidates with per-probed-cell lookup tables built from
    * the QUERY RESIDUAL (selected by the `cell` partition column),
    * instead of one global LUT. Same two-stage plan otherwise.
    */
  final case class RegisteredPqLayout(
      layoutPath: String,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      nProbe: Int,
      overfetch: Int,
      residual: Boolean = false)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, RegisteredLayout]()
  private val pqRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, RegisteredPqLayout]()

  /** Registry key = the FULLY-QUALIFIED URI (scheme + authority + path),
    * not the bare path component: `file:/data/emb.parquet` and
    * `hdfs://ns/data/emb.parquet` are different corpora that must not
    * alias to one layout — a layout registered for one filesystem must
    * never rewrite (approximately!) scans of another filesystem's data
    * at the same path.
    */
  private def normalize(p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    path.getFileSystem(conf).makeQualified(path).toString
  }

  /** Register `layout` as the probe target for scans of `corpusPath`. */
  def register(corpusPath: String, layout: RegisteredLayout): Unit =
    registry.put(normalize(corpusPath), layout)

  /** Register an IVF-PQ `layout` as the probe target for `corpusPath`.
    * When both tiers are registered for one path the EXACT cell layout
    * wins (no quantization error at the same probe budget).
    */
  def registerPq(corpusPath: String, layout: RegisteredPqLayout): Unit =
    pqRegistry.put(normalize(corpusPath), layout)

  def unregister(corpusPath: String): Unit = registry.remove(normalize(corpusPath))
  def unregisterPq(corpusPath: String): Unit = pqRegistry.remove(normalize(corpusPath))
  def clear(): Unit = { registry.clear(); pqRegistry.clear() }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty && pqRegistry.isEmpty) return plan
    plan.transformUp {
      case l @ GlobalLimit(Literal(k: Int, _),
          LocalLimit(_, Sort(order, true, child, _))) =>
        rewrite(k, order, child)
          .map(core => GlobalLimit(Literal(k), LocalLimit(Literal(k), core)))
          .getOrElse(l)
      // The CollapseProject shape: deterministic POST-PROCESSING of the
      // top-k (rounding, renames) collapses between LocalLimit and Sort
      // after optimization — `scan.orderBy(cos desc).limit(k)
      // .select(round(sim))` lands here, not in the bare shape above.
      // The rewritten core re-exports every original exprId, so the
      // outer projection applies verbatim on top. (r15: the registry
      // query's own post-processing select silently un-fired the rule
      // through exactly this shape — caught by the ANN oracle's sf0.1
      // hash mismatch.)
      case l @ GlobalLimit(Literal(k: Int, _),
          LocalLimit(_, Project(outer, Sort(order, true, child, _))))
          if outer.forall(_.deterministic) =>
        rewrite(k, order, child)
          .map(core => GlobalLimit(Literal(k),
            LocalLimit(Literal(k), Project(outer, core))))
          .getOrElse(l)
    }
  }

  /** The rewritten SORTED core (no limit wrapper): `Sort` over the probed
    * layout projection, every original output exprId preserved. Callers
    * wrap it back in the limit (and, for the collapsed shape, the outer
    * projection).
    */
  private def rewrite(
      k: Int, order: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] = {
    // normalize both accepted shapes to (projList, relation)
    val (projList, rel) = child match {
      case Project(p, r: LogicalRelation) => (p, r)
      case r: LogicalRelation => (r.output.map(a => a: NamedExpression), r)
      case _ => return None
    }
    if (!projList.forall(_.deterministic)) return None
    def lookup[T](m: java.util.concurrent.ConcurrentHashMap[String, T]): Option[T] =
      rel.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.iterator
            .map(p => m.get(normalize(p.toString)))
            .collectFirst { case l if l != null => l }
        case _ => None
      }
    val exact = lookup(registry)
    val pq = if (exact.isEmpty) lookup(pqRegistry) else None
    if (exact.isEmpty && pq.isEmpty) return None
    order.headOption.flatMap {
      case SortOrder(primary, Descending, _, _) =>
        // the primary key may be the projected alias's attribute or the
        // cosine expression inline
        val cos = primary match {
          case a: Attribute => projList.collectFirst {
            case al @ Alias(c: graft.expressions.CosineSimilarity, _)
                if al.exprId == a.exprId => c
          }
          case c: graft.expressions.CosineSimilarity => Some(c)
          case _ => None
        }
        cos.flatMap { c =>
          val (qExpr, embExpr) = (c.left, c.right) match {
            case (q, e) if q.foldable && !e.foldable => (q, e)
            case (e, q) if q.foldable && !e.foldable => (q, e)
            case _ => return None
          }
          val embOk = embExpr match {
            case a: Attribute => rel.outputSet.contains(a)
            case _ => false
          }
          val qVec = floatArray(qExpr)
          if (!embOk || qVec.isEmpty) None
          else exact match {
            case Some(reg) => buildProbePlan(order, projList, rel, reg, qVec.get)
            case None =>
              buildPqProbePlan(k, order, projList, rel, pq.get, qVec.get)
          }
        }
      case _ => None
    }
  }

  private def floatArray(e: Expression): Option[Seq[Float]] = e.dataType match {
    case ArrayType(FloatType, _) =>
      Option(e.eval()).map(_.asInstanceOf[ArrayData].toFloatArray().toSeq)
    case _ => None
  }

  private def buildProbePlan(
      order: Seq[SortOrder],
      projList: Seq[NamedExpression],
      rel: LogicalRelation,
      reg: RegisteredLayout,
      qVec: Seq[Float]): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val cells = graft.operators.Ann
      .nearestCells(qVec, reg.centroids, reg.nProbe).toSeq
    val layoutPlan = spark.read.parquet(reg.layoutPath)
      .filter(org.apache.spark.sql.functions.col("cell")
        .isin(cells.map(Integer.valueOf): _*))
      .queryExecution.analyzed
    val byName = layoutPlan.output.map(a => a.name -> a).toMap
    // every corpus column referenced anywhere must exist in the layout
    val referenced = (projList.flatMap(_.references) ++
      order.flatMap(_.references)).distinct
      .filter(rel.outputSet.contains)
    if (!referenced.forall(a => byName.contains(a.name))) return None
    def substitute(e: Expression): Expression = e.transformUp {
      case a: Attribute if rel.outputSet.contains(a) => byName(a.name)
    }
    // preserve every output exprId so Sort/parent references stay valid
    val newProj = projList.map {
      case al @ Alias(c, n) =>
        Alias(substitute(c), n)(exprId = al.exprId, qualifier = al.qualifier)
      case a: Attribute =>
        Alias(byName(a.name), a.name)(exprId = a.exprId, qualifier = a.qualifier)
      case other => Alias(substitute(other), other.name)(exprId = other.exprId)
    }
    // sort keys stay UNSUBSTITUTED: the new Project re-exports every
    // original output exprId (passthrough columns as aliases of the
    // layout's columns), so keys referencing projected attributes — and,
    // in the inline shape, relation attributes — still resolve
    Some(Sort(order, global = true, Project(newProj, layoutPlan)))
  }

  /** The IVF-PQ two-stage rewrite: a candidate sub-plan — the registered
    * PQ layout filtered to the query's `nProbe` nearest cells (static
    * `isin` on the partition column → `PartitionFilters` pruning), ADC
    * scored against the literal per-subspace LUT
    * ([[graft.operators.Ann.adcDistToQuery]], floored at 6 dp like every
    * ADC path, `vec_id` tiebreak), cut at `k * overfetch` — LEFT-SEMI
    * joined into the ORIGINAL corpus relation on `vec_id`. The original
    * projection/sort stay verbatim on top (every exprId untouched — the
    * corpus relation itself is the join's left side), so the preserved
    * `cosine_sim` sort IS the exact rerank of the ADC candidates, and
    * the semi join is hinted broadcast (the candidate list is
    * `k * overfetch` rows). Unlike the exact tier this needs the corpus
    * to expose a long `vec_id` column — the PQ layout stores codes, not
    * floats, so candidates can only be handed back by id.
    */
  private def buildPqProbePlan(
      k: Int,
      order: Seq[SortOrder],
      projList: Seq[NamedExpression],
      rel: LogicalRelation,
      reg: RegisteredPqLayout,
      qVec: Seq[Float]): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val corpusVecId = rel.output.find(a =>
      a.name == "vec_id" && a.dataType == LongType).getOrElse(return None)
    val cells = graft.operators.Ann
      .nearestCells(qVec, reg.centroids, reg.nProbe).toSeq
    import org.apache.spark.sql.functions.{asc, col}
    val adcCol =
      if (reg.residual)
        graft.operators.Ann.adcDistToQueryResidual(
          reg.codebooks, reg.centroids, qVec, cells)
      else graft.operators.Ann.adcDistToQuery(reg.codebooks, qVec)
    val candPlan = spark.read.parquet(reg.layoutPath)
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .withColumn("adc_dist", graft.functions.TextAnalysis.floorScale(adcCol, 6))
      .orderBy(asc("adc_dist"), asc("vec_id"))
      .limit(k * reg.overfetch)
      .select("vec_id")
      .queryExecution.analyzed
    val candVecId = candPlan.output.head
    val semi = Join(rel, candPlan, LeftSemi,
      Some(EqualTo(corpusVecId, candVecId)),
      JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
    Some(Sort(order, global = true, Project(projList, semi)))
  }
}
