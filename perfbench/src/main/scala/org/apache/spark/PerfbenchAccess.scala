package org.apache.spark

/** The one package-private engine hook the benchmark's tracer needs: waiting
  * until the listener bus has delivered every event posted so far, so
  * counters read after a pass cover that whole pass. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
