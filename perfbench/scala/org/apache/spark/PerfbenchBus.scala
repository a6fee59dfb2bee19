package org.apache.spark

/** Listener-bus access for the benchmark's tracer. `listenerBus` is
  * package-private to Spark; draining it before counters are read makes
  * job/stage/task counts complete instead of racing the async bus.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
