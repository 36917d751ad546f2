package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * Lives under `org.apache.spark` because the bus is `private[spark]`; the
  * traced run reads its listener totals only after this returns. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
