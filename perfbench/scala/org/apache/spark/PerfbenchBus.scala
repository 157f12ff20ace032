package org.apache.spark

/** Listener-bus drain for the intake benchmark. `SparkContext.listenerBus`
  * is `private[spark]`, so the benchmark reaches `waitUntilEmpty`
  * through this one object inside the `org.apache.spark` package
  * instead of sleeping and hoping the bus has caught up.
  */
object PerfbenchBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
