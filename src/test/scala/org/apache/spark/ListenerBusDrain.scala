package org.apache.spark

/** Waits until the context's listener bus has delivered every event posted
  * so far, so a listener's counts are complete when a test reads them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
