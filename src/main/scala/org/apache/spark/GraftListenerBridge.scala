package org.apache.spark

/** Access to the driver's listener bus (`private[spark]`): drains every
  * posted event, so a listener's counts are final when read. */
object GraftListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
