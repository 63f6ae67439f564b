package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark: the
  * traced run drains it before reading what its listeners recorded.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
