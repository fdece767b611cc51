package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * a listener's counts are complete only once the bus has delivered every
  * event posted so far, and the listeners it holds show what a run left
  * registered on the context.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def listeners(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.toArray.toSeq.map(_.getClass.getName)
}
