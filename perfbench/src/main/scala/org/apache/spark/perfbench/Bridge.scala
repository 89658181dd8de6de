package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark internals the tracer needs, re-exported from inside the
  * `org.apache.spark` package where they are visible. */
object Bridge {
  /** Block until every listener event posted so far is delivered, so
    * counters read after a span include all of the span's tasks. */
  /** The local property a job carries its job group under. */
  val jobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
