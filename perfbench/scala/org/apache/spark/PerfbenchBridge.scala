package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
 *  the benchmark's listeners have seen a phase completely before it is
 *  read.  The bus is `private[spark]`, hence this package. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
