package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this shim sits inside the `spark`
  * package so [[graft.obs.StageMetrics]] can wait for it deterministically.
  */
object ListenerBus {
  /** Blocks until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit =
    if (!sc.isStopped) sc.listenerBus.waitUntilEmpty(60000L)
}
