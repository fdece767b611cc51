package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer calls it before reading span counters, so every job, stage
  * and task event of a finished span has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
