package org.apache.spark

/** Waits until every queued listener event has been delivered. The bus is
  * package-private to Spark, hence this package. The tracer calls it when a
  * span closes, so the events a span caused are attributed before the next
  * span opens. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
