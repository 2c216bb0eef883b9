package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * recorder reads job, stage and query counters only after this, so a
  * count never misses an event still in flight. (`listenerBus` is
  * package-private to Spark, hence the package.)
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
