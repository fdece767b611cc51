package org.apache.spark.sql

/** Access to the two package-private session calls that
  * [[graft.GraftSession]] is built on: cloning a session and rooting a
  * logical plan in another session.
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
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
