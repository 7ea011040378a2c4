package org.apache.spark

/** The one `private[spark]` call the tracer needs: block until the
  * listener bus has delivered every event posted so far, so per-span
  * counters are complete before they are read. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
