package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, Bucketing}
import graft.sources.Tables

class AsofBucketingSpec extends SparkSpec {
  import spark.implicits._

  test("asof backward join picks the latest right row at or before each left time") {
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, "A", t("2024-01-01 10:00:00")),
      (2L, "A", t("2024-01-01 12:00:00")),
      (3L, "A", t("2024-01-01 09:00:00")), // before any right -> null
      (4L, "B", t("2024-01-01 12:00:00"))) // equal time -> matches
      .toDF("event_id", "ticker", "ts")
    val right = Seq(
      ("A", t("2024-01-01 09:30:00"), 10.0, 100L),
      ("A", t("2024-01-01 11:00:00"), 11.0, 101L),
      ("B", t("2024-01-01 12:00:00"), 20.0, 102L))
      .toDF("ticker", "rts", "close", "rid")
    val out = AsofJoin.backward(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid"))
      .orderBy("event_id").collect()
    assert(out(0).getDouble(3) == 10.0)
    assert(out(1).getDouble(3) == 11.0)
    assert(out(2).isNullAt(3))
    assert(out(3).getDouble(3) == 20.0) // >= semantics: equal time matches
  }

  test("asof matches a right row whose payload is null (yields null, not an older row)") {
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, "A", t("2024-01-01 12:00:00")))
      .toDF("event_id", "ticker", "ts")
    val right = Seq(
      ("A", t("2024-01-01 09:00:00"), Some(10.0)),
      ("A", t("2024-01-01 11:00:00"), None)) // most recent, null payload
      .toDF("ticker", "rts", "close")
    val out = AsofJoin.backward(left, right, "ticker", "ts", "rts",
      "close", "asof_close").collect()
    assert(out.head.isNullAt(3)) // NOT 10.0
  }

  test("native asof exec matches the composed form and plans as AsofJoinExec") {
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, "A", t("2024-01-01 10:00:00")),
      (2L, "A", t("2024-01-01 12:00:00")),
      (3L, "A", t("2024-01-01 09:00:00")),
      (4L, "B", t("2024-01-01 12:00:00")),
      (5L, "C", t("2024-01-01 12:00:00"))) // no right rows for C -> null
      .toDF("event_id", "ticker", "ts")
    val right = Seq(
      ("A", t("2024-01-01 09:30:00"), Some(10.0), 100L),
      ("A", t("2024-01-01 11:00:00"), Some(11.0), 101L),
      ("A", t("2024-01-01 11:00:00"), Some(11.5), 102L), // equal time: max rid wins
      ("B", t("2024-01-01 12:00:00"), None, 103L),       // null payload still matches
      ("D", t("2024-01-01 08:00:00"), Some(99.0), 104L)) // key absent on left
      .toDF("ticker", "rts", "close", "rid")
    val native = AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
      "close", "asof_close", Seq("rid"))
    // AQE wraps the exec (not via children), so match the plan string
    assert(native.queryExecution.executedPlan.toString.contains("AsofJoin "))
    val n = native.orderBy("event_id").collect()
    val c = AsofJoin.backward(left, right, "ticker", "ts", "rts",
      "close", "asof_close", Seq("rid")).orderBy("event_id").collect()
    assert(n.map(_.toSeq).toSeq == c.map(_.toSeq).toSeq)
    assert(n(1).getDouble(3) == 11.5) // tiebreak: last right row in rid order
    assert(n(3).isNullAt(3))          // matched row with null payload
    assert(n(4).isNullAt(3))          // no right key
  }

  test("native asof runs inside a WholeStageCodegen fence (no silent fallback)") {
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, "A", t("2024-01-01 10:00:00")),
      (2L, "A", t("2024-01-01 12:00:00")),
      (3L, "B", t("2024-01-01 09:00:00")))
      .toDF("event_id", "ticker", "ts")
    val right = Seq(
      ("A", t("2024-01-01 09:30:00"), Some(10.0), 100L),
      ("A", t("2024-01-01 11:00:00"), None, 101L),
      ("B", t("2024-01-01 10:00:00"), Some(20.0), 102L))
      .toDF("ticker", "rts", "close", "rid")
    // with fallback off, a codegen compile error fails the query instead
    // of silently dropping to the interpreted doExecute path
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val native = AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid"))
      val rows = native.collect().sortBy(_.getLong(0))
      assert(rows(0).getDouble(3) == 10.0)
      assert(rows(1).isNullAt(3))  // latest right row wins even with null payload
      assert(rows(2).isNullAt(3))  // no right row at or before
      // AQE finalizes the plan only after execution of THIS Dataset
      val planStr = native.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) AsofJoin""".r.findFirstIn(planStr).isDefined,
        s"AsofJoin not codegen'd:\n$planStr")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("left-side filters push below the native asof node") {
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, "A", t("2024-01-01 10:00:00")),
      (2L, "A", t("2024-01-01 12:00:00")))
      .toDF("event_id", "ticker", "ts")
    val right = Seq(("A", t("2024-01-01 09:30:00"), 10.0))
      .toDF("ticker", "rts", "close")
    val joined = AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
        "close", "asof_close")
      .filter(col("event_id") === 2L)       // left-only: must sink below
      .filter(col("asof_close").isNotNull)  // touches asof col: must stay above
    val opt = joined.queryExecution.optimizedPlan
    val node = opt.collectFirst { case n: graft.plans.AsofJoinNode => n }.get
    assert(node.left.toString.contains("event_id"),
      s"left-side filter not pushed:\n$opt")
    assert(opt.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "asof_close") => f
    }.isDefined, s"asof filter wrongly pushed:\n$opt")
    assert(joined.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("native asof on real data equals the composed q38 result") {
    val ev = Tables.events(spark, sf())
    val left = ev.filter(col("value") < 40)
      .select(col("event_id"), col("event_type").as("ticker"), col("ts"))
    val right = ev.filter(col("value") >= 150)
      .select(col("event_type").as("ticker"), col("ts").as("rts"),
        col("value").as("close"), col("event_id").as("rid"))
    val native = AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
      "close", "asof_close", Seq("rid")).orderBy("event_id").collect()
    val composed = AsofJoin.backward(left, right, "ticker", "ts", "rts",
      "close", "asof_close", Seq("rid")).orderBy("event_id").collect()
    assert(native.length == composed.length && native.nonEmpty)
    assert(native.map(_.toSeq).toSeq == composed.map(_.toSeq).toSeq)
  }

  test("q47's registry plan executes through the native AsofJoinExec") {
    // the as-of strategy reaches the planner only through
    // GraftExtensions, which Sessions.build loads into every session
    val q47 = SparkEntry.queries("q47_asof_native")(spark, sf())
    assert(q47.collect().nonEmpty)
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val plan = q47.queryExecution.executedPlan
    assert(Aqe.collect(plan) { case e: graft.plans.AsofJoinExec => e }.nonEmpty,
      s"q47 planned without AsofJoinExec:\n$plan")
  }

  test("property: native and composed asof agree on random ledgers (5 seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genRow = for {
      key <- Gen.oneOf("A", "B", "C")
      t <- Gen.choose(0, 5000)
      v <- Gen.choose(0, 1000)
    } yield (key, t, v)
    for (seed <- 1L to 5L) {
      val lRows = Gen.listOfN(60, genRow).pureApply(Gen.Parameters.default, Seed(seed))
      val rRows = Gen.listOfN(60, genRow).pureApply(Gen.Parameters.default, Seed(seed + 100))
      val left = lRows.zipWithIndex.map { case ((k, t, _), i) =>
        (i.toLong, k, new Timestamp(t * 1000L)) }.toDF("event_id", "ticker", "ts")
      val right = rRows.zipWithIndex.map { case ((k, t, v), i) =>
        (k, new Timestamp(t * 1000L), v.toDouble, i.toLong) }
        .toDF("ticker", "rts", "close", "rid")
      val a = AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid")).orderBy("event_id").collect().map(_.toSeq)
      val b = AsofJoin.backward(left, right, "ticker", "ts", "rts",
        "close", "asof_close", Seq("rid")).orderBy("event_id").collect().map(_.toSeq)
      assert(a.toSeq == b.toSeq, s"seed $seed diverged")
    }
  }

  test("null key/time fails fast with the same error on codegen and interpreted paths") {
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, Some("A"), t("2024-01-01 10:00:00")),
      (2L, None: Option[String], t("2024-01-01 12:00:00"))) // contract violation
      .toDF("event_id", "ticker", "ts")
    val right = Seq(("A", t("2024-01-01 09:30:00"), 10.0))
      .toDF("ticker", "rts", "close")
    def messages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    def assertFailsWithContract(wholeStage: Boolean): Unit = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      try {
        val ex = intercept[Exception] {
          AsofJoin.backwardNative(left, right, "ticker", "ts", "rts",
            "close", "asof_close").collect()
        }
        assert(messages(ex).exists(_.contains(
            graft.plans.AsofJoinExec.nullInputError)),
          s"wholeStage=$wholeStage raised the wrong error: $ex")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    assertFailsWithContract(wholeStage = true)   // generated path
    assertFailsWithContract(wholeStage = false)  // interpreted doExecute
  }

  test("q44's bucketed layout is memoized per sfDir and rebuilt when its catalog entry is dropped") {
    import graft.queries.SourceQueries
    def scanLocations(df: org.apache.spark.sql.DataFrame): Set[String] =
      "Location: InMemoryFileIndex \\[([^\\]]*)\\]".r
        .findAllMatchIn(df.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        .map(_.group(1)).toSet
    val first = SourceQueries.q44BucketedJoin(spark, sf())
    val firstLocs = scanLocations(first)
    val firstRows = first.collect().toSeq
    // memo hit: the second call reads the SAME bucketed layout — no new
    // temp dirs, identical scan locations
    val second = SourceQueries.q44BucketedJoin(spark, sf())
    assert(scanLocations(second) == firstLocs,
      "second call must reuse the memoized bucketed layout")
    // validity check: dropping a catalog entry (external cleanup) must
    // trigger a rebuild, not an unresolved-relation failure
    val tableName = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_q44_lineitem")).collect()
      .head.name
    spark.sql(s"DROP TABLE $tableName")
    val third = SourceQueries.q44BucketedJoin(spark, sf())
    assert(third.collect().toSeq == firstRows,
      "rebuild after a dropped catalog entry must reproduce the result")
    // and the rebuilt layout answers from fresh dirs (a stale-path serve
    // would reuse the old location with a dropped table)
    assert(scanLocations(SourceQueries.q44BucketedJoin(spark, sf()))
      != firstLocs, "rebuild must re-stage the layout, not serve the stale entry")
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, sf()).select("l_orderkey", "l_quantity")
      val o = Tables.orders(spark, sf()).select("o_orderkey", "o_totalprice")
      Bucketing.writeBucketed(li, "graft_li_b", 8, Seq("l_orderkey"))
      Bucketing.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "graft_o_b", 8, Seq("l_orderkey"))
      val joined = spark.table("graft_li_b")
        .join(spark.table("graft_o_b"), "l_orderkey")
        .groupBy("l_orderkey").agg(sum("l_quantity"))
      assert(Bucketing.isShuffleFree(
        spark.table("graft_li_b").join(spark.table("graft_o_b"), "l_orderkey")))
      // the aggregation on the bucket key also needs no new exchange
      assert(Bucketing.isShuffleFree(joined))
      // sanity: same row count as the unbucketed join
      val expect = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
      assert(spark.table("graft_li_b").join(spark.table("graft_o_b"), "l_orderkey").count() == expect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_li_b")
      spark.sql("DROP TABLE IF EXISTS graft_o_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }
}
