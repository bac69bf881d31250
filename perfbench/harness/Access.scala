package org.apache.spark

/** The one engine-internal call the tracer needs: block until the live
  * listener bus has delivered every queued event, so an operation's
  * stage and query-execution events are counted before the next one
  * starts. Lives in Spark's package because the bus is `private[spark]`. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
