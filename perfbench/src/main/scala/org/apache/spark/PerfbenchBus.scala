package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's view of the jobs an op ran is complete before it is read.
  * Lives in Spark's package because the bus is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
