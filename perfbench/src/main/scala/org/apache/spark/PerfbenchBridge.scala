package org.apache.spark

/** The one listener-bus hook the benchmark needs that Spark keeps
  * package-private: wait until every posted event has been delivered, so
  * counters read after an operation include all of its jobs and tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
