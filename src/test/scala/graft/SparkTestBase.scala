package graft

import org.apache.spark.sql.SparkSession
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
}
