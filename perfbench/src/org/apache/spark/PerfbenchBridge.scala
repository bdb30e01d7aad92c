package org.apache.spark

/** The one `private[spark]` hook the traced run needs: listener events are
  * delivered asynchronously, so span activity is read only after the bus
  * has drained. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
