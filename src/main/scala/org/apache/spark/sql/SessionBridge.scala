package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Access to the package-private session and plan calls that
  * [[graft.GraftSession]], [[graft.Checkpoints]] and
  * [[graft.sources.FileInventory]] are built on: cloning a session,
  * rooting a logical plan in another session, and turning executed rows
  * into a plan leaf.
  */
object SessionBridge {

  /** A copy of `spark` with its own conf, temp views and function
    * registry, sharing the SparkContext, the cache manager and the
    * catalog.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a DataFrame of `spark`: optimized, planned
    * and executed under `spark`'s conf.
    */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    ofPlan(spark, df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** `plan` as a DataFrame of `spark`. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df` executed once, as a DataFrame of its session over a
    * `LogicalRDD` leaf. `store` gets the executed plan's rows (copied, so
    * they can be kept), marks them for storage, runs the one job over
    * them and returns their (row count, bytes): the leaf's statistics.
    * The leaf keeps the executed plan's output partitioning and ordering,
    * and the constraints of a cached relation: `IsNotNull` of each
    * non-nullable column, which every leaf derives from its output alone.
    * The run is one SQL execution.
    */
  def storedLeaf(df: DataFrame)(store: RDD[InternalRow] => (Long, Long)): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val plan = ds.queryExecution.executedPlan
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("checkpoint")) {
      val rows = plan.execute().map(_.copy())
      val (count, bytes) = store(rows)
      val output = ds.logicalPlan.output
      // as in Dataset.checkpoint: a collection's members all hold, and
      // nested collections can grow exponentially through deep joins
      def first(p: Partitioning): Partitioning = p match {
        case c: PartitioningCollection => first(c.partitionings.head)
        case p => p
      }
      val leaf = LogicalRDD(output, rows, first(plan.outputPartitioning),
        plan.outputOrdering, ds.isStreaming)(ds.sparkSession,
        Some(Statistics(sizeInBytes = bytes, rowCount = Some(count))),
        Some(LocalRelation(output).constraints))
      classic.Dataset.ofRows(ds.sparkSession, leaf)
    }
  }
}
