package org.apache.spark

/** The listener bus is `private[spark]`; the tracer must drain it after
  * every op so that each op's job, stage and query events are complete
  * before they are attributed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
