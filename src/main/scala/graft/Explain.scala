package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit aid: print the formatted physical plan of the registered
  * queries whose names start with one of the comma-separated prefixes
  * (docs/PLANS.md is curated from this output).
  * Usage: runMain graft.Explain q22,q39 [sfDir]   (no names = every query)
  *
  * `SPARK_GRAFT_FINAL=1` executes each query's own QueryExecution and
  * prints the finalized adaptive plan, so AQE's runtime exchange reuse
  * is visible.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.filter(_.nonEmpty).map(_.split(",").map(_.trim).toSet)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.build()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.forall(_.exists(n.startsWith)) }
      .foreach { case (n, fn) =>
        println(s"\n===== $n =====")
        try {
          val df = fn(spark, sfDir)
          if (sys.env.contains("SPARK_GRAFT_FINAL")) {
            // drive THIS QueryExecution's RDD (a write/collect would plan
            // a fresh one): AQE finalizes in place and runtime exchange
            // reuse becomes visible, with nothing pulled to the driver
            df.queryExecution.toRdd.foreach(_ => ())
            println(df.queryExecution.executedPlan.toString)
          } else println(df.queryExecution.explainString(FormattedMode))
        } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
