package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * listener event posted so far has been delivered, so counters read at
  * the end of a run are complete. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
