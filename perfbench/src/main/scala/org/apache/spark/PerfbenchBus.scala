package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * listener event posted so far has been delivered, so a traced op's
  * job, task and query events are all counted before the next op starts.
  * Used only between ops, never inside a timed window. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
