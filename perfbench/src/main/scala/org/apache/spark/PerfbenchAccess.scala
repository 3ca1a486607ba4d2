package org.apache.spark

/** Reaches the one piece of SparkContext state the benchmark needs that
  * is not public: waiting until the listener bus has delivered every
  * event, so per-op attribution sees all of an op's jobs. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
