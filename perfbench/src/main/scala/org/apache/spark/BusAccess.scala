package org.apache.spark

/** The listener bus is package-private; the benchmark's tracer drains
  * it at span boundaries so asynchronous listener events are attributed
  * to the span that caused them.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
