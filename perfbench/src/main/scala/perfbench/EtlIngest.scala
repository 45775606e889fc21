package perfbench

import java.io.File
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.col

import graft.operators.{CostBasis, TradeValidation}
import graft.sources.PriceSink

/** The write path, one client: daily provider loads and backfills
  * through `PriceSink`, trade batches through `TradeValidation` into a
  * ledger, position refreshes through `CostBasis.fold` priced by
  * `PriceSink.latestWithFallback`, and streaming registry queries that
  * drain the events backlog on a fresh checkpoint. The op plan and its
  * inputs come from the generator; the price table and the ledger grow
  * as the run goes. */
final class EtlIngest(ctx: Ctx, dir: String, star: String, listener: StreamListener)
    extends Workload {
  private val spark = ctx.spark
  private val plan: JsonNode = new ObjectMapper().readTree(new File(dir, "plan.json"))
  private val ops = plan.get("ops").elements().asScala.toVector
  private var cursor = 0
  private var lastBatch: DataFrame = _
  private val prices = ctx.work + "/prices"
  private val ledger = ctx.work + "/ledger"
  // totals over the timed ops, traced or not
  private var offered = 0L
  private var appended = 0L
  private var candidates = 0L
  private var rejected = 0L

  private def input(i: Int, suffix: String): DataFrame =
    spark.read.parquet(f"$dir/op$i%04d_$suffix.parquet")

  /** Loads history into a fresh price table and copies the starting
    * ledger; returns the history batch. */
  private def load(pricesPath: String, ledgerPath: String): DataFrame = {
    val hist = spark.read.parquet(s"$dir/history.parquet")
    PriceSink.appendDedup(spark, pricesPath, hist)
    spark.read.parquet(s"$dir/ledger.parquet").write.parquet(ledgerPath)
    hist
  }

  /** One op of each kind against a throwaway table, then the real
    * table; the streaming queries warm in a second session alongside. */
  def warmup(): Unit = {
    listener.currentOp = 0
    val streams = new Thread(() => {
      val s2 = spark.newSession()
      ops.filter(_.get("kind").asText == "stream").map(_.get("query").asText).distinct
        .foreach(q => graft.SparkEntry.queries(q)(s2, star).collect())
    })
    streams.start()
    val wp = ctx.work + "/warm_prices"; val wlg = ctx.work + "/warm_ledger"
    val hist = load(wp, wlg)
    Seq("daily", "trades", "refresh").foreach { k =>
      ops.find(_.get("kind").asText == k).foreach(o => runOp(o, 0, wp, wlg, hist))
    }
    lastBatch = load(prices, ledger)
    streams.join()
  }

  private val block = plan.get("block").asInt

  def round(): Seq[Op] = {
    val r = ops.slice(cursor, cursor + block)
    cursor += r.size
    r.map { o =>
      if (o.get("kind").asText == "stream")
        ctx.registryOp(o.get("query").asText, star).copy(kind = "stream")
      else Op(o.get("kind").asText, "etl", id => {
        val (out, batch) = runOp(o, id, prices, ledger, lastBatch)
        if (batch != null) lastBatch = batch
        out.copy(observed = out.observed + ("i" -> o.get("i").asInt))
      })
    }
  }

  private def runOp(o: JsonNode, id: Int, pricesPath: String, ledgerPath: String,
                    live: DataFrame): (Outcome, DataFrame) = {
    val i = o.get("i").asInt
    val t = ctx.tracer
    o.get("kind").asText match {
      case "daily" | "backfill" =>
        val close = PriceSink.melt(input(i, "close"))
        val batch =
          if (!o.get("has_adj").asBoolean) close
          else {
            val adj = PriceSink.melt(input(i, "adj")).withColumnRenamed("close", "adj_close")
            PriceSink.preferAdjusted(close.join(adj, Seq("ts", "ticker"), "left"))
          }
        val n = t.span("sources.append", id)(PriceSink.appendDedup(spark, pricesPath, batch))
        val off = o.get("offered").asLong
        if (id > 0) { offered += off; appended += n }
        (Outcome(n, Map("appended" -> n), ingestRows = off), batch)
      case "trades" =>
        val cands = input(i, "trades")
        val (nRejected, flagged) = t.span("operators.validate", id) {
          val validated = TradeValidation.validate(cands)
          val nRej = validated.collect().count(r => !r.isNullAt(r.fieldIndex("reject_reason")))
          nRej -> TradeValidation.flagOversellValidated(spark.read.parquet(ledgerPath), validated)
            .collect()
        }
        val ov = flagged.count(_.getAs[Boolean]("oversell"))
        val accepted = flagged.filterNot(_.getAs[Boolean]("oversell"))
          .map(r => Row.fromSeq(r.toSeq.take(LedgerCols.size)))
        val schema = org.apache.spark.sql.types.StructType(
          spark.read.parquet(ledgerPath).select(LedgerCols.map(col): _*).schema.fields)
        spark.createDataFrame(accepted.toList.asJava, schema)
          .write.mode(SaveMode.Append).parquet(ledgerPath)
        if (id > 0) { candidates += nRejected + flagged.length; rejected += nRejected + ov }
        (Outcome(flagged.length.toLong + nRejected,
          Map("rejected" -> nRejected, "oversold" -> ov, "accepted" -> accepted.length)), null)
      case "refresh" =>
        val pos = t.span("operators.fold", id)(
          CostBasis.fold(spark.read.parquet(ledgerPath)).collect())
        val stored = t.span("sources.read", id)(PriceSink.read(spark, pricesPath))
        val last = PriceSink.latestWithFallback(live, stored).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        val open = pos.count(r => r.getAs[Double]("qty") > 0 &&
          last.contains(r.getAs[Long]("ticker").toString))
        (Outcome(pos.length.toLong, Map("positions" -> pos.length, "open" -> open)), null)
    }
  }

  private val LedgerCols = Seq("user_id", "ticker", "ts", "id", "side", "qty", "price", "fee")

  override def layerMetrics(): Map[String, Double] = {
    val files = Option(new File(prices)).toSeq.flatMap(walk).filter(_.getName.endsWith(".parquet"))
    val stored = plan.get("history_rows").asLong + appended
    Map(
      "sources.appended_frac" -> (if (offered == 0) 0.0 else appended.toDouble / offered),
      "sources.table_files" -> files.size.toDouble,
      "sources.stored_bytes_per_row" -> files.map(_.length).sum.toDouble / math.max(1L, stored),
      "operators.reject_frac" -> (if (candidates == 0) 0.0 else rejected.toDouble / candidates))
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
}
