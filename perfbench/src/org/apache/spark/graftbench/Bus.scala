package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit =
    if (!sc.isStopped) sc.listenerBus.waitUntilEmpty(60000L)
}
