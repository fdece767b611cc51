package org.apache.spark

/** Test access to the listener-bus drain, which Spark keeps package-private:
  * a listener's counts are complete only once the bus has delivered every
  * event posted so far.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
