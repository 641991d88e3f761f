package org.apache.spark

/** Lets the benchmark wait until every posted listener event (job, stage and
  * task ends) has reached its listener before it reads span counters; the
  * bus's drain call is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
