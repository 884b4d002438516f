package org.apache.spark

/** Waits until every Spark listener event posted so far has been
  * delivered, so counters read after a phase include that phase's jobs.
  * The listener bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
