package org.apache.spark

/** The two package-private Spark internals the benchmark needs: waiting
  * until every posted listener event has been delivered (so a traced
  * window's totals are complete before they are read), and the job
  * property that carries a job's tags. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS
  val JobTagsSep: String = SparkContext.SPARK_JOB_TAGS_SEP
}
