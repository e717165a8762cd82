package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
 *  listener event posted so far has been delivered, so the traced
 *  counters of a round are complete before they are read. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
