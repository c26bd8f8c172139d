package org.apache.spark

/** The one engine-internal hook the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so per-span
  * counters are complete when they are read.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
