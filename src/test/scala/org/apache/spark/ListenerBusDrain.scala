package org.apache.spark

/** The one package-private Spark call the listener-based specs need:
  * wait until the listener bus has delivered every posted event, so a
  * count read after an action is complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
