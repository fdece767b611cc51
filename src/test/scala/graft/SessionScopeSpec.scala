package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.tables.{Scratch, Tables}

/** Operators that need confs run on [[GraftSession.scoped]] clones: the
  * caller's session conf is the same after every such entry, nothing
  * they set is visible to another thread while they run, and what they
  * return (memos included) belongs to the caller's session.
  */
class SessionScopeSpec extends SparkSpec {

  // the one documented session-wide flag (Tables.readNanosAsLong) is set
  // up front, so a first events read inside an entry is not a change
  Tables.readNanosAsLong(spark)

  private val scopedEntries = Seq(
    "dedup_clusters", "dedup_clusters_star", "dedup_semantic_clusters",
    "incr_cc_merge", "graph_components", "graph_kcore", "graph_sssp",
    "graph_bfs_hops", "spatial_grid_clusters",
    "stream_transform_state", // transformWithState: RocksDB provider
    "stream_tumbling")        // stateless: state partitions only

  test("conf-scoped entries leave the session conf alone and return its DataFrames") {
    scopedEntries.foreach { name =>
      val before = spark.conf.getAll
      val df = SparkEntry.queries(name)(spark, sf001)
      df.collect()
      assert(spark.conf.getAll == before, s"$name changed the session conf")
      assert(df.sparkSession eq spark, s"$name returned another session's DataFrame")
    }
  }

  test("another thread never sees an entry's confs while it runs") {
    val watched = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    def read(): Seq[Option[String]] = watched.map(spark.conf.getOption)
    val expected = read()
    val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Option[String]]]
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val run = Future {
        Seq("graph_bfs_hops", "stream_transform_state")
          .foreach(n => SparkEntry.queries(n)(spark, sf001).collect())
      }
      while (!run.isCompleted) {
        val now = read()
        if (now != expected) seen += now
      }
      Await.result(run, Duration.Inf)
    } finally pool.shutdown()
    assert(seen.isEmpty, s"expected $expected, saw ${seen.mkString(", ")}")
  }

  test("a memo first built inside a scope comes back bound to the asking session") {
    val dir = Scratch.dir(spark, "session-scope-spec").toString
    val name = "scope.spec_ids"
    GraftSession.scoped(spark, "spark.sql.adaptive.enabled" -> "false") { s =>
      val inScope = Memo(s, dir, name)(s.range(100).toDF("id"))
      assert(inScope.sparkSession eq s)
    }
    val served = Memo(spark, dir, name)(fail("the scoped build must be served"))
    assert(served.sparkSession eq spark)
    assert(Memo.stats(spark)(name).builds == 1)
    // it plans under the session's conf (AQE on), not the scope's
    val agg = served.groupBy(served("id") % 7).count()
    assert(agg.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(agg.collect().map(_.getLong(1)).sum == 100L)
  }
}
