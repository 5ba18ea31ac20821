package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{CharShingles, CosineSimilarity, LangId, SplitChunks}

/** Session extension registering the engine's custom expressions on the
  * SQL surface, so `spark.sql("... cosine_sim(a, b) ...")` plans the
  * codegen kernel. Install at build time:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * or on a live session via [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.HammingJoinRewrite)
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    e.injectOptimizerRule(_ => graft.plans.AnnTopKRewrite)
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("split_chunks"),
      new ExpressionInfo(classOf[SplitChunks].getName, "split_chunks"),
      (exprs: Seq[Expression]) => SplitChunks.fromArgs(exprs)))
    e.injectFunction((
      new FunctionIdentifier("char_shingles"),
      new ExpressionInfo(classOf[CharShingles].getName, "char_shingles"),
      (exprs: Seq[Expression]) => CharShingles.fromArgs(exprs)))
  }
}

object GraftExtensions {
  /** Runtime registration on an existing session: the custom Catalyst
    * expressions, plus the scalar text-analysis functions as SQL UDFs so
    * `spark.sql` users get the full surface (`graft_` prefix keeps the
    * global namespace clean).
    */
  def register(spark: SparkSession): Unit = {
    import graft.functions.TextAnalysis
    // Idempotence guard: registry queries call this from their builders,
    // so a bench pass would otherwise re-register per query and spray
    // "replaced a previously registered function" warnings through every
    // artifact tail (r7 verdict, minor #3). One marker conf per session.
    if (spark.conf.getOption("spark.graft.extensionsRegistered").contains("true")) return
    org.apache.spark.sql.graftshim.GraftSqlShim.registerFunction(
      spark, "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)))
    org.apache.spark.sql.graftshim.GraftSqlShim.registerFunction(
      spark, "split_chunks", exprs => SplitChunks.fromArgs(exprs))
    org.apache.spark.sql.graftshim.GraftSqlShim.registerFunction(
      spark, "char_shingles", exprs => CharShingles.fromArgs(exprs))
    org.apache.spark.sql.graftshim.GraftSqlShim.registerFunction(
      spark, "graft_langid", exprs => LangId.fromArgs(exprs))
    spark.udf.register("graft_fingerprint", (s: String) => TextAnalysis.fingerprint(s))
    spark.udf.register("graft_fingerprint_mod", (s: String) => TextAnalysis.fingerprintMod(s))
    spark.udf.register("graft_simhash_mod", (s: String) => TextAnalysis.simHashMod(s))
    spark.udf.register("graft_embed",
      (s: String) => if (s == null) null else graft.functions.HashEmbedder.embed(s))
    spark.udf.register("graft_lsh_signature",
      (v: Seq[Float], nBits: Int) =>
        if (v == null) null
        else Integer.valueOf(graft.operators.Dedup.portableSignature(v, nBits)))
    Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]](
      graft.plans.HammingJoinRewrite, graft.plans.RangeJoinRewrite,
      graft.plans.AnnTopKRewrite).foreach { rule =>
      if (!spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ rule
    }
    spark.conf.set("spark.graft.extensionsRegistered", "true")
  }
}
