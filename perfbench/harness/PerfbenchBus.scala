package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * harness waits until every task-end event of a pass has reached its
  * listener before it reads the pass's counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
