package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * a traced operation's task metrics are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
