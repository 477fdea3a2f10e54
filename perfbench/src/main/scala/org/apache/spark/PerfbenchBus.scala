package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Lives in Spark's package because the listener bus is Spark-private;
  * the tracer needs it so that a span's events are all in before the
  * span's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
