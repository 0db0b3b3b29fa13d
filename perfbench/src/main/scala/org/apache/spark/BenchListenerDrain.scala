package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is private to Spark; the benchmark
  * needs it to close a measured window only after every listener event
  * of the window's jobs has been delivered. */
object BenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
