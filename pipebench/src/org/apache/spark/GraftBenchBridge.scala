package org.apache.spark

/** Access to the one `private[spark]` call the benchmark's tracer needs:
  * wait until the listener bus has delivered every posted event, so the
  * per-span counters are complete before they are read.
  */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
