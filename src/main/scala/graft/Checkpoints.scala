package graft

import org.apache.spark.sql.{DataFrame, SessionBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.CachedSize
import org.apache.spark.storage.StorageLevel

/** Stored relations with a cut lineage, the one way graft stores a
  * relation it reads more than once. A relation many entries share is a
  * [[Memo]], whose value is a cut. Any other is a cut with one owner that
  * frees it with [[release]]: a loop round (freed once the next round
  * holds what it needs), a sync run's snapshot (freed by the next run).
  *
  * [[cut]] runs a relation's plan once and keeps its rows. Consumers then
  * plan against a `LogicalRDD` leaf instead of the relation's build DAG:
  * for the fixpoint- and explode-heavy relations that DAG is thousands
  * of operator nodes, and every consumer query would re-pay analyzer,
  * optimizer and AQE walks over it. The one job that stores the rows
  * also measures them, so the leaf carries the row count and the size
  * the in-memory cache would report, and downstream broadcast decisions
  * are the ones a cached relation would produce.
  *
  * Storage: `localCheckpoint()` keeps the blocks on executors. That is
  * fast, but an executor loss fails later jobs, because the cut lineage
  * cannot recompute the lost blocks. It is the right default on local[k]
  * (executors = the driver JVM). On a real cluster, set
  * `graft.checkpoint.dir` to a durable location (HDFS/object storage):
  * cuts then become reliable `checkpoint()`s into it, which survive
  * executor loss at the price of a file write per cut.
  */
object Checkpoints {

  /** Session conf key: durable checkpoint directory. Unset/empty → fast
    * executor-local checkpoints.
    */
  val ConfKey = "graft.checkpoint.dir"

  // setCheckpointDir appends a UUID subdir, so the raw conf value can't be
  // compared against sc.getCheckpointDir — remember what we last applied.
  private val applied =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def durableDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(ConfKey).filter(_.nonEmpty)

  /** `df` materialized with its lineage cut, in one job (plus the
    * shuffle stages of `df`'s own plan). The job runs over the executed
    * plan's rows marked `localCheckpoint()`, or `checkpoint()` into
    * `graft.checkpoint.dir` when that is set, and returns per partition
    * the row count and the cache size of [[CachedSize]]. The result is a
    * leaf with those statistics; [[rows]] reads its count without a job.
    * A build that throws leaves no blocks behind. Free the blocks with
    * [[release]].
    */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val durable = durableDir(spark)
    durable.foreach { dir =>
      val app = spark.sparkContext.applicationId
      if (!applied.get(app).contains(dir)) {
        spark.sparkContext.setCheckpointDir(dir)
        applied.put(app, dir)
      }
    }
    val measure = CachedSize.ofPartition(df.schema.map(_.dataType))
    SessionBridge.storedLeaf(df) { rows =>
      // a reliable checkpoint writes its files in a second job after the
      // first: the blocks kept until then spare that job a recomputation
      if (durable.isDefined) rows.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      else rows.localCheckpoint()
      try {
        val parts = spark.sparkContext.runJob(rows, measure)
        if (durable.isDefined) rows.unpersist()
        (parts.iterator.map(_._1).sum, parts.iterator.map(_._2).sum)
      } catch { case e: Throwable => rows.unpersist(); throw e }
    }
  }

  /** Row count of a [[cut]] relation, as its job measured it. */
  def rows(df: DataFrame): Long = df.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.stats.rowCount.isDefined => lr.stats.rowCount.get.toLong
    case p => throw new IllegalArgumentException(
      s"not a cut relation: ${p.nodeName}")
  }

  /** Free a [[cut]] relation's blocks: they hang off its `LogicalRDD`
    * leaf, which a plain `Dataset.unpersist()` cannot see.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist()
      case _ => ()
    }
}
