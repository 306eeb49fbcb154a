package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the benchmark needs
  * only its drain, so the result is computed after every event landed.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
