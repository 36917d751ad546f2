package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Lives under `org.apache.spark` because the bus is `private[spark]`;
  * specs that assert on listener records call it instead of sleeping. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
