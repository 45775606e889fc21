package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession
  * (getOrCreate) from `Sessions.build`: local[4] (or
  * SPARK_GRAFT_MASTER), 4 shuffle partitions, the engine's extensions. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.build("4",
    // FAIR so ConcurrentServingSpec can exercise multi-tenant pools
    // (scheduler mode is fixed at context creation); single-query
    // suites are unaffected — one pool, one job at a time
    conf = Map("spark.scheduler.mode" -> "FAIR"))

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
