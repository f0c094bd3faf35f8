package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * listener event posted so far has been delivered, so a traced op's
  * job, stage and query-execution events are folded before the next op
  * reads them. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
