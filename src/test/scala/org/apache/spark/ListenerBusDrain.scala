package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event,
  * so a counting listener closes exactly at the caller's boundary.
  * (`LiveListenerBus` is private to the `org.apache.spark` package.) */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
