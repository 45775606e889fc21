package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer: `parent` is the enclosing span's id on
  * the same thread (0 at top level), `op` the op that made the call. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory while a traced window runs; written out once at
  * the end. When disabled, [[span]] is a plain call. */
final class Tracer {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }
}

/** Task-side and scheduler totals charged to one op. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var schedDelayMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
}

/** Charges jobs, stages and tasks to the op whose job tag
  * (`perfbench-op-<id>`) the job carries, so two clients running at
  * once never share a total. Untagged jobs are ignored. */
final class ExecListener extends SparkListener {
  val byOp = TrieMap.empty[Int, ExecTotals]
  private val stageOp = TrieMap.empty[Int, Int]

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(PerfbenchBus.JobTagsKey)))
      .toSeq.flatMap(_.split(PerfbenchBus.JobTagsSep))
      .collectFirst { case t if t.startsWith(ExecListener.TagPrefix) =>
        t.stripPrefix(ExecListener.TagPrefix).toInt }

  private def totals(op: Int): ExecTotals = byOp.getOrElseUpdate(op, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties).foreach { op =>
      val t = totals(op)
      t.synchronized { t.jobs += 1 }
      e.stageIds.foreach(s => stageOp.put(s, op))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val t = totals(op); t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).foreach { op =>
      val t = totals(op)
      val m = e.taskMetrics
      val info = e.taskInfo
      t.synchronized {
        t.tasks += 1
        if (e.reason != Success) t.failedTasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
          // the Spark UI's scheduler-delay formula
          t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
}

object ExecListener {
  val TagPrefix = "perfbench-op-"
  def tag(op: Int): String = TagPrefix + op
}

/** Per-op streaming totals from query progress events. */
final class StreamTotals {
  var batches = 0L; var emptyBatches = 0L; var inputRows = 0L
  var triggerMs = 0L; var addBatchMs = 0L; var planningMs = 0L
  var walCommitMs = 0L; var latestOffsetMs = 0L; var stateCommitMs = 0L
  var stateRows = 0L; var stateMemBytes = 0L
}

/** Charges micro-batch progress to the streaming op in flight. Streaming
  * ops run from one client, so the op in flight is unambiguous. */
final class StreamListener extends StreamingQueryListener {
  @volatile var currentOp = 0
  val byOp = TrieMap.empty[Int, StreamTotals]
  private val queryOp = TrieMap.empty[java.util.UUID, Int]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    queryOp.put(e.runId, currentOp)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val op = queryOp.getOrElse(p.runId, currentOp)
    if (op == 0) return
    val t = byOp.getOrElseUpdate(op, new StreamTotals)
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    t.synchronized {
      t.batches += 1
      if (p.numInputRows == 0) t.emptyBatches += 1
      t.inputRows += p.numInputRows
      t.triggerMs += d("triggerExecution")
      t.addBatchMs += d("addBatch")
      t.planningMs += d("queryPlanning")
      t.walCommitMs += d("walCommit")
      t.latestOffsetMs += d("latestOffset")
      p.stateOperators.foreach { s =>
        t.stateCommitMs += s.commitTimeMs
        t.stateRows = math.max(t.stateRows, s.numRowsTotal)
        t.stateMemBytes = math.max(t.stateMemBytes, s.memoryUsedBytes)
      }
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
