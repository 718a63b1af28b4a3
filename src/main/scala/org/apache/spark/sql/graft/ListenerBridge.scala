package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Listener-bus access for diagnostics. `SparkContext.listenerBus` is
  * `private[spark]`; like [[ColumnBridge]], this in-package shim only
  * re-exports it.
  */
object ListenerBridge {
  /** Block until every posted listener event has been delivered, so
    * counters read afterwards cover all of the work that came before.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
