package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until
  * the listener bus has delivered every posted event, so the traced
  * counts are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
