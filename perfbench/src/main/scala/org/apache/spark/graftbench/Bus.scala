package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark makes: wait until every
  * listener event posted so far has been delivered, so a traced unit's
  * jobs, tasks, query executions and stream progress are all recorded
  * before the tracer reads them or is detached. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
