package org.apache.spark

/** Wait until the listener bus has delivered every event posted so
  * far, so a spec's `SparkListener` counts are complete when read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
