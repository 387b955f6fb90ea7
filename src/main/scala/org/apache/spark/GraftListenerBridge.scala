package org.apache.spark

/** Access for tests and the benchmark tracer to the `private[spark]`
  * listener bus. Stage completion events are delivered asynchronously,
  * so any before/after delta over listener-accumulated metrics must
  * drain the bus on both sides of the measurement or a late-arriving
  * stage is attributed to the next row. */
object GraftListenerBridge {
  /** Blocks until the listener bus queue is empty or the timeout
    * elapses (TimeoutException propagates to the caller). */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
