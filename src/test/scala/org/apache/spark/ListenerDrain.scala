package org.apache.spark

/** Waits until every queued listener event has been delivered, so a spec
  * that counts jobs with a `SparkListener` sees all the jobs an action ran.
  * The bus is package-private to Spark, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
