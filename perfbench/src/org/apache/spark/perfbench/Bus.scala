package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the traced run. The bus is `private[spark]`;
  * this shim sits inside the package boundary to re-expose one call. */
object Bus {

  /** Block until every event posted so far has reached every listener,
    * so per-op counters read after an op include all of that op's
    * task and progress events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
