package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a metric read right
  * after a call must first wait for the bus to deliver that call's
  * events. `waitUntilEmpty` is package-private to Spark, hence this
  * one-line bridge in Spark's package.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
