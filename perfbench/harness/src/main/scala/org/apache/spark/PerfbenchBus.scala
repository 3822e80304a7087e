package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so a traced round's counters are complete when they are read.
  * `listenerBus` is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
