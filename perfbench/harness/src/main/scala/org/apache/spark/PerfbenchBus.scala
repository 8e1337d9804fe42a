package org.apache.spark

/** Lets the harness wait until the listener bus has delivered every event
  * posted so far (the wait is `private[spark]`), so a pass's task metrics
  * are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
