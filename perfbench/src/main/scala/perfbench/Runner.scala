package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.types.StructType

/** What one op returned: its row count, the counts its check needs and
  * the input rows it consumed. */
final case class Outcome(rows: Long, observed: Map[String, Any] = Map.empty,
                         ingestRows: Long = 0L)

/** One unit of client work: `body` gets the op id. */
final case class Op(name: String, kind: String, body: Int => Outcome)

final case class OpRecord(id: Int, name: String, kind: String,
                          startS: Double, latencyS: Double, timed: Boolean, traced: Boolean,
                          outcome: Option[Outcome], error: Option[String])

/** Everything one run needs besides the workload itself. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String) {
  val phases = TrieMap.empty[Int, Map[String, Long]]
  /** Rows of the first completed call of each registry op. */
  val firstResults = TrieMap.empty[String, (Array[Row], StructType)]

  /** A registry query: build the frame, then fetch its rows. The plan
    * phases are read from the frame that ran, not from a re-planned
    * `count()`. */
  def registryOp(name: String, dir: String): Op =
    Op(name, "registry", { id =>
      val df = tracer.span("queries.build", id)(graft.SparkEntry.queries(name)(spark, dir))
      val rows = tracer.span("exec", id)(df.collect())
      if (tracer.enabled)
        phases.put(id, df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs })
      firstResults.putIfAbsent(name, rows -> df.schema)
      Outcome(rows.length.toLong, ingestRows = rows.length.toLong)
    })
}

/** A closed-loop workload with one client: each op starts after the
  * previous one returned. Work comes in rounds of a fixed op mix; a
  * window stops only at the end of a round, so every run covers the
  * same mix. */
trait Workload {
  /** Untimed pass over the workload's own data (part of set-up). */
  def warmup(): Unit
  /** The next round's ops in order; empty when the workload has no more. */
  def round(): Seq[Op]
  /** Layer metrics only the workload can see, read after the window. */
  def layerMetrics(): Map[String, Double] = Map.empty
}

object Runner {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)

    val t0 = System.nanoTime()
    val spark = session(cpus, out)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    val ctx = new Ctx(spark, tracer, out + "/work")
    val streamListener = new StreamListener
    val wl: Workload = workload match {
      case "dashboard" => new Dashboard(ctx, a("star"))
      case "etl_ingest" =>
        // counts the events each streaming op drains, traced or not
        spark.streams.addListener(streamListener)
        new EtlIngest(ctx, a("etl"), a("star"), streamListener)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val w0 = System.nanoTime()
    wl.warmup()
    // one untimed round, run as the timed ones: after the first pass the
    // JIT is still settling, and a first timed round ran ~30% slower and
    // twice as noisy as the next (its ops are still checked)
    val records = ArrayBuffer.empty[OpRecord]
    records ++= window(ctx, wl, 0, traced = false, streamListener, timed = false)
    val warmupS = (System.nanoTime() - w0) / 1e9
    spark.catalog.clearCache()
    System.gc()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (!traced) {
      records ++= window(ctx, wl, seconds, traced = false, streamListener)
    } else {
      // untraced, traced, untraced windows of half the time each: the
      // traced window against the mean of its neighbours is the cost of
      // tracing, with the still-warming JIT on both sides of it
      val before = window(ctx, wl, seconds / 2, traced = false, streamListener)
      val exec = new ExecListener
      spark.sparkContext.addSparkListener(exec)
      if (workload != "etl_ingest") spark.streams.addListener(streamListener)
      val gc0 = gcMs()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      tracer.enabled = true
      val tw0 = System.nanoTime()
      val tr = window(ctx, wl, seconds / 2, traced = true, streamListener)
      val tracedWallS = (System.nanoTime() - tw0) / 1e9
      tracer.enabled = false
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(exec)
      layers("jvm.gc_s") = (gcMs() - gc0) / 1e3
      layers("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      val after = window(ctx, wl, seconds / 2, traced = false, streamListener)
      records ++= before ++ tr ++ after
      layers ++= traceLayers(ctx, tr, exec, streamListener, tracedWallS, cpus.toInt)
      def meanLat(rs: Seq[OpRecord]) = rs.map(_.latencyS).sum / math.max(1, rs.size)
      layers("trace.overhead_frac") =
        meanLat(tr) / ((meanLat(before) + meanLat(after)) / 2) - 1.0
      layers("Sessions.session_s") = sessionS
      layers("setup.warmup_s") = warmupS
      // what the run left in its own temp and local dirs, before JVM exit
      // hooks clear them: leaked per-call dirs show here
      layers("sources.tmp_bytes") = (sys.props.get("java.io.tmpdir") ++
        sys.env.get("SPARK_LOCAL_DIRS")).map(d => dirBytes(new java.io.File(d))).sum.toDouble
      layers ++= wl.layerMetrics()
    }
    if (!traced) PerfbenchBus.drain(spark.sparkContext)
    val timedRecs = records.filter(_.timed)
    val windowS = timedRecs.map(r => r.startS + r.latencyS).maxOption.getOrElse(0.0) -
      timedRecs.map(_.startS).minOption.getOrElse(0.0)
    // events drained by a streaming op, as its progress events counted them
    def ingest(r: OpRecord): Option[Long] =
      if (r.kind == "stream") Some(streamListener.byOp.get(r.id).map(_.inputRows).getOrElse(0L))
      else r.outcome.map(_.ingestRows)
    // first result of each distinct registry op, written for the oracle
    // check outside the timed window
    val resultsDir = out + "/results"
    val firsts = ctx.firstResults.toSeq.sortBy(_._1).map { case (name, (rows, schema)) =>
      val dir = s"$resultsDir/$name"
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dir)
      name -> dir
    }.toMap
    val oracle = firsts.keys.flatMap { n =>
      graft.SparkEntry.oracleSqlScalable.get(n).orElse(graft.SparkEntry.oracleSql.get(n))
        .map(n -> _)
    }.toMap
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cpus" -> cpus.toInt,
      "session_s" -> sessionS, "warmup_s" -> warmupS, "setup_s" -> setupS,
      "window_s" -> windowS,
      "peak_rss_mb" -> vmHwmMb(),
      "layers" -> layers,
      "first_results" -> firsts,
      "spans" -> tracer.spans.asScala.toSeq.sortBy(_.id).map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_s" -> (s.startNs - epoch) / 1e9, "end_s" -> (s.endNs - epoch) / 1e9)
      },
      "oracle_sql" -> oracle,
      "ops" -> records.sortBy(_.startS).map { r =>
        Map("id" -> r.id, "name" -> r.name, "kind" -> r.kind,
          "start_s" -> r.startS, "latency_s" -> r.latencyS, "timed" -> r.timed,
          "traced" -> r.traced,
          "rows" -> r.outcome.map(_.rows), "ingest_rows" -> ingest(r),
          "observed" -> r.outcome.map(_.observed), "error" -> r.error)
      })
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(out, "result.json"), result)
    spark.stop()
  }

  def session(cpus: String, out: String): SparkSession = {
    val spark = graft.Sessions.withMaster(SparkSession.builder(), cpus)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", out + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val opIds = new AtomicInteger(0)

  /** Run whole rounds until `seconds` have passed. Start times are
    * relative to the run's first window. */
  def window(ctx: Ctx, wl: Workload, seconds: Double, traced: Boolean,
             streamListener: StreamListener, timed: Boolean = true): Seq[OpRecord] = {
    val sc = ctx.spark.sparkContext
    val start = System.nanoTime()
    if (epoch == 0L) epoch = start
    val deadline = start + (seconds * 1e9).toLong
    val recs = ArrayBuffer.empty[OpRecord]
    var more = true
    while (more) {
      val ops = wl.round()
      ops.foreach { o =>
        val id = opIds.incrementAndGet()
        if (traced) sc.addJobTag(ExecListener.tag(id))
        streamListener.currentOp = id
        val s = System.nanoTime()
        val res = try Right(ctx.tracer.span("op", id)(o.body(id)))
          catch { case t: Throwable => Left(t.toString.take(500)) }
        val e = System.nanoTime()
        if (traced) sc.removeJobTag(ExecListener.tag(id))
        recs += OpRecord(id, o.name, o.kind, (s - epoch) / 1e9, (e - s) / 1e9, timed, traced,
          res.toOption, res.left.toOption)
      }
      more = ops.nonEmpty && System.nanoTime() < deadline
    }
    recs.toSeq
  }

  /** Origin of every op's start time: the start of the run's first window. */
  private var epoch = 0L

  def dirBytes(f: java.io.File): Long =
    if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
    else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Per-op means of every layer total over the traced ops. */
  def traceLayers(ctx: Ctx, ops: Seq[OpRecord], exec: ExecListener,
                  stream: StreamListener, wallS: Double, cpus: Int): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val ids = ops.map(_.id).toSet
    val t = ctx.tracer
    def sumSpans(name: String, pick: Int => Boolean = _ => true): Double =
      t.spans.asScala.filter(s => s.name == name && pick(s.op)).map(_.seconds).sum
    val ex = exec.byOp.filter { case (k, _) => ids(k) }.values.toSeq
    def exSum(f: ExecTotals => Long): Double = ex.map(f).sum.toDouble
    val st = stream.byOp.filter { case (k, _) => ids(k) }.values.toSeq
    def stSum(f: StreamTotals => Long): Double = st.map(f).sum.toDouble
    val ph = ctx.phases.filter { case (k, _) => ids(k) }.values.toSeq
    def phase(k: String): Double = ph.map(_.getOrElse(k, 0L)).sum / 1e3
    val streamIds = ops.filter(_.kind == "stream").map(_.id).toSet
    val triggerS = stSum(_.triggerMs) / 1e3
    Map(
      "queries.build_s" -> sumSpans("queries.build") / n,
      "plan.analysis_s" -> phase(QueryPlanningTracker.ANALYSIS) / n,
      "plan.optimization_s" -> phase(QueryPlanningTracker.OPTIMIZATION) / n,
      "plan.planning_s" -> phase(QueryPlanningTracker.PLANNING) / n,
      "exec.wall_s" -> sumSpans("exec") / n,
      "exec.jobs" -> exSum(_.jobs) / n,
      "exec.stages" -> exSum(_.stages) / n,
      "exec.tasks" -> exSum(_.tasks) / n,
      "exec.sched_delay_s" -> exSum(_.schedDelayMs) / 1e3 / n,
      "exec.core_busy_frac" -> exSum(_.runMs) / 1e3 / (cpus * math.max(wallS, 1e-9)),
      "exec.task_run_s" -> exSum(_.runMs) / 1e3 / n,
      "exec.task_cpu_s" -> exSum(_.cpuNs) / 1e9 / n,
      "exec.task_gc_s" -> exSum(_.gcMs) / 1e3 / n,
      "exec.shuffle_write_bytes" -> exSum(_.shuffleWrite) / n,
      "exec.shuffle_read_bytes" -> exSum(_.shuffleRead) / n,
      "exec.spill_bytes" -> exSum(_.spill) / n,
      "exec.input_bytes" -> exSum(_.input) / n,
      "exec.failed_tasks" -> exSum(_.failedTasks) / n,
      "streaming.batches" -> stSum(_.batches) / n,
      "streaming.empty_batches" -> stSum(_.emptyBatches) / n,
      "streaming.input_rows" -> stSum(_.inputRows) / n,
      "streaming.trigger_s" -> triggerS / n,
      "streaming.add_batch_s" -> stSum(_.addBatchMs) / 1e3 / n,
      "streaming.query_planning_s" -> stSum(_.planningMs) / 1e3 / n,
      "streaming.wal_commit_s" -> stSum(_.walCommitMs) / 1e3 / n,
      "streaming.latest_offset_s" -> stSum(_.latestOffsetMs) / 1e3 / n,
      "streaming.state_commit_s" -> stSum(_.stateCommitMs) / 1e3 / n,
      "streaming.state_rows" -> stSum(_.stateRows) / n,
      "streaming.state_mem_bytes" -> st.map(_.stateMemBytes).maxOption.getOrElse(0L).toDouble,
      "streaming.outside_batch_s" ->
        (if (streamIds.isEmpty) 0.0 else (sumSpans("queries.build", streamIds) - triggerS) / n),
      "sources.append_s" -> sumSpans("sources.append") / n,
      "sources.read_s" -> sumSpans("sources.read") / n,
      "operators.validate_s" -> sumSpans("operators.validate") / n,
      "operators.fold_s" -> sumSpans("operators.fold") / n)
  }
}

/** One client rendering pages. A round is one dashboard page and one
  * trades page, their queries in page order. The seed makes the data.
  * With two clients, which queries overlapped on the shared cores moved
  * single latencies up to 2x between runs, so the benchmark runs one
  * (see README.md). */
final class Dashboard(ctx: Ctx, dir: String) extends Workload {
  val DashboardPage = Seq("q07_overview", "q03_cash_balance", "q15_unrealized_totals",
    "q04_latest_prices", "q08_price_panel", "q09_position_series", "q10_cash_series",
    "q11_twr_index", "q12_benchmark_rebase")
  val TradesPage = Seq("q13_universe_search", "q42_latest_fallback", "q01_current_qty",
    "q163_trade_validation")

  /** Every query once, one thread per core splitting the list. */
  def warmup(): Unit = {
    val all = (DashboardPage ++ TradesPage).zipWithIndex
    val n = Runtime.getRuntime.availableProcessors
    val ts = (0 until n).map { t =>
      new Thread(() => all.filter(_._2 % n == t).foreach { case (q, _) =>
        graft.SparkEntry.queries(q)(ctx.spark, dir).collect()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  def round(): Seq[Op] = (DashboardPage ++ TradesPage).map(ctx.registryOp(_, dir))
}
