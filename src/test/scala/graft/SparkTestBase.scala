package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps
  * `sbt test` fast). Suites never write its conf: a test that needs a
  * conf runs under [[GraftSession.scoped]], which `ConfGuardSpec`
  * enforces.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      // the one shared session executes thousands of queries across all
      // suites (ThreeWaySqlSpec alone replays every oracle twin); the SQL
      // status store retains 1000 executions WITH their per-node metric
      // maps by default, which is what finally OOMed the 8g test JVM in
      // round 9 (listener-thread heap death -> stopped context -> every
      // later suite failing with INTERNAL_ERROR). The UI is disabled, so
      // retain next to nothing.
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.worker.ui.retainedExecutors", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf001 = "/root/testdata/sf0.001"
  /** The 500-document fixture beside [[sf001]]. */
  val sf01: String = java.nio.file.Paths.get(sf001).resolveSibling("sf0.01").toString

  /** `f` on a clone of `session` that keeps Spark's default codegen mode
    * set explicitly, so [[GraftSession.interpreted]] leaves its calls on
    * generated code whatever their size.
    */
  def compiled[T](session: SparkSession)(f: SparkSession => T): T =
    GraftSession.scoped(session, "spark.sql.codegen.factoryMode" -> "FALLBACK")(f)

  /** `df`'s rows, after which its executed plan (AQE's final plan) is
    * checked for whole-stage generated code: (rows, any codegen stage).
    */
  def rowsAndCodegen(df: DataFrame): (Seq[Row], Boolean) = {
    val rows = df.collect().toSeq
    def has(p: SparkPlan): Boolean = p match {
      case _: WholeStageCodegenExec => true
      case a: AdaptiveSparkPlanExec => has(a.executedPlan)
      case q: QueryStageExec => has(q.plan)
      case p => p.children.exists(has)
    }
    (rows, has(df.queryExecution.executedPlan))
  }

  /** The rows of the same call run by default (below the interpreted
    * bound) and forced onto generated code: both must be equal as
    * multisets, and each must have run in the mode it was meant to.
    */
  def sameBothWays(call: SparkSession => DataFrame): Seq[Row] = {
    val (rows, codegen) = rowsAndCodegen(call(spark))
    val (forced, forcedCodegen) = compiled(spark)(s => rowsAndCodegen(call(s)))
    assert(!codegen && forcedCodegen, s"interpreted: ${!codegen}, forced: $forcedCodegen")
    assert(rows.map(_.toString).sorted == forced.map(_.toString).sorted)
    rows
  }
}
