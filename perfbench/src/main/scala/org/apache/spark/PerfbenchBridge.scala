package org.apache.spark

/** `private[spark]` access the harness needs: draining the listener bus
  * so that every event an op caused has been delivered before the next
  * op starts.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
