package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{AdcScoreExpr, ArgminCellExpr, BloomContainsExpr, CmsEstimateExpr, CosineSimExpr, DotProductExpr, L2SqExpr, MinHashSigExpr, NfcNormalizeExpr, ShinglesExpr, SimHash60Md5Expr, SimHash64Expr, SortedIsectCountExpr, StripAccentsExpr}

/** Session extensions registering graft's native Catalyst expressions
  * (SURVEY.md §4.2 preference order: native Expression over UDF).
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`.
  *
  * SQL surface: `graft_simhash64(text)`,
  * `graft_minhash_sig(text, k, numHashes)` — also reachable through
  * the typed helpers in [[graft.functions.HashExprs]].
  *
  * It also binds `file:` on the context's Hadoop configuration to the
  * fork-free [[graft.io.LocalFs]], unless `fs.file.impl` is already set.
  * Spark applies `spark.sql.extensions` at `getOrCreate` with the
  * context active, before the session's first FileSystem lookup.
  */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SparkContext.getActive is private[spark]
    SparkContext.getClass.getMethod("getActive").invoke(SparkContext)
      .asInstanceOf[Option[SparkContext]]
      .foreach(sc => graft.io.LocalFs.bind(sc.hadoopConfiguration))
    // native as-of join: marker condition → logical rewrite → strategy
    ext.injectFunction((
      new FunctionIdentifier("graft_asof_marker"),
      new ExpressionInfo(
        classOf[graft.plans.AsOfMarkerExpr].getName, "graft_asof_marker"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          "graft_asof_marker(leftKey, leftTime, rightKey, rightTime)")
        graft.plans.AsOfMarkerExpr(children)
      }))
    // POST-HOC RESOLUTION, not injectOptimizerRule: extension optimizer
    // rules run inside the operator-optimization batch AFTER
    // EliminateOuterJoin, which flips left_outer→inner when a user
    // filter above the marker join is null-intolerant on right columns
    // (e.g. asof_price IS NOT NULL) — the rewrite would then see Inner
    // and abort the query. Rewriting at analysis time removes the Join
    // before any join-type elimination can touch it, and the analyzed
    // schema comes from AsOfJoinNode itself (right side nullable).
    ext.injectPostHocResolutionRule(_ => graft.plans.AsOfJoinRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64Expr].getName, "graft_simhash64"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_simhash64(text)")
        SimHash64Expr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash60"),
      new ExpressionInfo(classOf[SimHash60Md5Expr].getName, "graft_simhash60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_simhash60(text)")
        SimHash60Md5Expr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "graft_minhash_sig(text, k, numHashes)")
        MinHashSigExpr(children.head,
          intLit(children(1), "k"), intLit(children(2), "numHashes"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot(a, b)")
        DotProductExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine(a, b)")
        CosineSimExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_argmin_cell"),
      new ExpressionInfo(classOf[ArgminCellExpr].getName, "graft_argmin_cell"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_argmin_cell(vec, centroids)")
        ArgminCellExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2SqExpr].getName, "graft_l2sq"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_l2sq(vec, centroid)")
        L2SqExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_adc_score"),
      new ExpressionInfo(classOf[AdcScoreExpr].getName, "graft_adc_score"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          "graft_adc_score(codes, dotLut, nrmSqLut, queryNorm)")
        AdcScoreExpr(children.head, children(1), children(2), children(3))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContainsExpr].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_bloom_contains(filter, key)")
        BloomContainsExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimateExpr].getName, "graft_cms_estimate"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cms_estimate(sketch, key)")
        CmsEstimateExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_isect_count"),
      new ExpressionInfo(
        classOf[SortedIsectCountExpr].getName, "graft_sorted_isect_count"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_sorted_isect_count(a, b)")
        SortedIsectCountExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_nfc(text)")
        NfcNormalizeExpr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_strip_accents"),
      new ExpressionInfo(classOf[StripAccentsExpr].getName, "graft_strip_accents"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_strip_accents(text)")
        StripAccentsExpr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_shingles(text, k)")
        ShinglesExpr(children.head, intLit(children(1), "k"))
      }))
  }
}
