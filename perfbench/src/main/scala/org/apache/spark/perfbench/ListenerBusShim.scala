package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers task events asynchronously; the benchmark
  * drains it before reading its listener's totals. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
