package org.apache.spark

/** The listener bus is private to Spark; the tracer drains it at the end
  * of each step so every event lands in the step that caused it. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
