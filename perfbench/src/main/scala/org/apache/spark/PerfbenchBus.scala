package org.apache.spark

/** Listener-bus drain for the benchmark harness (`waitUntilEmpty` is
  * private[spark]): task metrics and plan events arrive asynchronously, so
  * the harness drains the bus after each timed operation, outside its timer.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
