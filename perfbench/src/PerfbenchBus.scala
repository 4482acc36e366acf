package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the tracer's counters close exactly at the timed-phase boundaries.
  * (`LiveListenerBus` is private to the `org.apache.spark` package.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
