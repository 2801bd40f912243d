package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener. The
  * traced run reads its per-op totals only after this, so the counts it
  * reports do not depend on how far the asynchronous listener bus lagged. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
