package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The traced run's attribution rules: jobs are charged to the op whose
  * tag they carry, also with two clients at once, and a deterministic
  * query traced twice gives the same stage count and shuffle bytes. */
class TraceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  /** Two shuffles: three stages. */
  def heavy(s: SparkSession): DataFrame =
    s.range(0, 200000, 1, 4).groupBy(col("id") % 97).agg(count(lit(1)).as("n"))
      .groupBy(col("n") % 5).agg(sum("n"))

  /** No shuffle: one stage. */
  def light(s: SparkSession): DataFrame =
    s.range(0, 1000, 1, 2).toDF().filter(col("id") % 3 === 0)

  /** Runs `df` as op `id` on the calling thread, tagged as the runner tags it. */
  def tagged(id: Int)(df: => DataFrame): Unit = {
    val sc = spark.sparkContext
    sc.addJobTag(ExecListener.tag(id))
    try df.collect() finally sc.removeJobTag(ExecListener.tag(id))
  }

  def traced(body: ExecListener => Unit): ExecListener = {
    val l = new ExecListener
    spark.sparkContext.addSparkListener(l)
    try body(l) finally {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    l
  }

  test("jobs of two concurrent clients are charged to their own ops") {
    val alone = traced { _ => tagged(1)(heavy(spark)); tagged(2)(light(spark)) }
    val both = traced { _ =>
      val ts = Seq(101 -> (() => heavy(spark.newSession())), 102 -> (() => light(spark.newSession())))
        .zipWithIndex.map { case ((id, df), c) =>
          new Thread(() => {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
            (1 to 3).foreach(_ => tagged(id)(df()))
          })
        }
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    assert(alone.byOp(1).stages == 3 && alone.byOp(2).stages == 1)
    assert(both.byOp(101).stages == 3 * alone.byOp(1).stages)
    assert(both.byOp(102).stages == 3 * alone.byOp(2).stages)
    assert(both.byOp(101).tasks == 3 * alone.byOp(1).tasks)
    assert(both.byOp(102).tasks == 3 * alone.byOp(2).tasks)
    assert(both.byOp(102).shuffleWrite == 0L && both.byOp(101).shuffleWrite > 0L)
    assert(both.byOp.keySet == Set(101, 102))
  }

  test("untagged jobs are charged to no op") {
    val l = traced(_ => light(spark).collect())
    assert(l.byOp.isEmpty)
  }

  test("two traced runs of one deterministic query agree on stages and shuffle bytes") {
    val a = traced(_ => tagged(7)(heavy(spark)))
    val b = traced(_ => tagged(7)(heavy(spark)))
    assert(a.byOp(7).stages == b.byOp(7).stages)
    assert(a.byOp(7).shuffleWrite == b.byOp(7).shuffleWrite)
    assert(a.byOp(7).shuffleWrite > 0L)
  }

  test("spans nest under the enclosing span of the same thread and op") {
    val t = new Tracer
    t.enabled = true
    t.span("op", 5)(t.span("exec", 5)(()))
    t.span("op", 6)(())
    val spans = scala.jdk.CollectionConverters.IteratorHasAsScala(t.spans.iterator).asScala.toSeq
    val outer = spans.find(s => s.name == "op" && s.op == 5).get
    val inner = spans.find(_.name == "exec").get
    assert(inner.parent == outer.id && outer.parent == 0)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    t.enabled = false
    assert(t.span("op", 9)(42) == 42 && spans.size == t.spans.size)
  }
}
