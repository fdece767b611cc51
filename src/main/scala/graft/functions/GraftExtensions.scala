package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration for graft's custom expressions — the
  * production path: sessions built with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.functions.GraftExtensions`) get the
  * functions in every context, including plain SQL.
  *
  * Runtime registration ([[CosineSim.register]]) remains for sessions the
  * library doesn't construct — e.g. the driver harness.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName,
        "graft_sorted_intersect_size"),
      (exprs: Seq[Expression]) => SortedIntersectSize(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect_longs"),
      new ExpressionInfo(classOf[SortedIntersectLongs].getName,
        "graft_sorted_intersect_longs"),
      (exprs: Seq[Expression]) => SortedIntersectLongs(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "graft_minhash_sigs"),
      (exprs: Seq[Expression]) => MinHashSigs(exprs(0), exprs(1))))
    // non-equi band joins (abs(x - y) <= w) planned as banded equi-joins
    // instead of nested loops — see graft.plans.BandJoinRewrite
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}
