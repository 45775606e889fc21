package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog")) // exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup collapses identical texts to min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 3)
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // keep_id = min
  }

  test("ngram jaccard finds the near-dup pair and the exact pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact: jaccard 1.0
    assert(pairs.contains((1L, 2L))) // near
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("verify-join guard trips fast on sf10-shaped candidate volume, names numbers") {
    // sf10's disk wall in miniature: a large group of documents whose
    // prefix shingles all collide (identical texts), so the candidate
    // count grows C(n,2)-quadratically — exactly the replication regime
    // the round-12 probe measured at 754M pairs / ~650 GB. A tight
    // budget must fail FAST (pre-flight, not 65 GB into the shuffle)
    // with an actionable message.
    val wall = spark.range(200)
      .select(col("id").as("doc_id"),
        lit("a b c d e f g h i j k l m n o p q r s t u v w x y z").as("text"))
    spark.conf.set(Dedup.VerifyBytesBudgetKey, (64L * 1024).toString) // 64 KiB
    try {
      val e = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(wall, "doc_id", "text", 0.8)
      }
      assert(e.getMessage.contains("candidate pairs"), e.getMessage)
      assert(e.getMessage.contains(Dedup.VerifyBytesBudgetKey))
      assert(e.getMessage.contains("ngramJaccardPairsCapped"))
      assert(e.getMessage.contains("minhashLshPairs"))
      // budget 0 disables: the same input must plan and answer exactly
      // (199 clones of doc 0 -> C(200,2) jaccard-1.0 pairs)
      spark.conf.set(Dedup.VerifyBytesBudgetKey, "0")
      assert(Dedup.ngramJaccardPairs(wall, "doc_id", "text", 0.8).count() ==
        200L * 199 / 2)
      // the capped variant is one of the guard's two named outs: the
      // all-identical corpus has every shingle at df=200 > cap, so it
      // returns no pairs and, critically, does NOT trip the guard
      spark.conf.set(Dedup.VerifyBytesBudgetKey, (64L * 1024).toString)
      assert(Dedup.ngramJaccardPairsCapped(wall, "doc_id", "text", 0.8, 50)
        .count() == 0)
    } finally spark.conf.unset(Dedup.VerifyBytesBudgetKey)
  }

  test("guard refines to a 25% sample only in the ambiguous band") {
    // same wall corpus as the trip test: ~20.8 MiB projected at the
    // 10% sample. budget 4 MiB puts that estimate WITHIN 10x of the
    // budget — the regime where one unbiased draw could flip the
    // verdict — so the guard must re-estimate at 25% and say so;
    // budget 64 KiB is decided by a factor >10 and must pay only the
    // cheap pass.
    val wall = spark.range(200)
      .select(col("id").as("doc_id"),
        lit("a b c d e f g h i j k l m n o p q r s t u v w x y z").as("text"))
    try {
      spark.conf.set(Dedup.VerifyBytesBudgetKey, (4L * 1024 * 1024).toString)
      val ambiguous = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(wall, "doc_id", "text", 0.8)
      }
      assert(ambiguous.getMessage.contains("25% doc sample"), ambiguous.getMessage)
      spark.conf.set(Dedup.VerifyBytesBudgetKey, (64L * 1024).toString)
      val decisive = intercept[IllegalStateException] {
        // fresh plan: a different projection defeats the guard memo
        Dedup.ngramJaccardPairs(wall.withColumn("doc_id", col("doc_id") + 0L),
          "doc_id", "text", 0.8)
      }
      assert(decisive.getMessage.contains("10% doc sample"), decisive.getMessage)
    } finally spark.conf.unset(Dedup.VerifyBytesBudgetKey)
  }

  test("verify-join guard memoizes: repeat construction runs zero new jobs") {
    // a pipeline calling ngramJaccardPairs in a loop — or a bench trial
    // matrix building the same query thrice — must pay the two sampled
    // pre-flight jobs ONCE per (input plan, threshold, budget)
    val memoDocs = docs.withColumn("text", upper(col("text"))) // fresh plan, cold memo key
    Dedup.ngramJaccardPairs(memoDocs, "doc_id", "text", 0.5)   // warm the memo
    // jobs are classified by job group, so the drain keys on the
    // SENTINEL specifically — waiting on a raw count floor could be
    // satisfied by a construction job's own event and false-pass the
    // zero-new-jobs assertion
    @volatile var nonSentinel = 0
    @volatile var sentinels = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            p => p.getProperty("spark.jobGroup.id") == "memo-sentinel"))
          sentinels += 1
        else nonSentinel += 1
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async but FIFO: once the Nth SENTINEL job
    // (submitted AFTER the construction) is visible, every job the
    // construction submitted is visible too
    def drainVia(expectSentinels: Int): Unit = {
      spark.sparkContext.setJobGroup("memo-sentinel", "listener drain", false)
      // RDD count = exactly ONE job (an AQE SQL count submits one job
      // per query stage)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sentinels < expectSentinels && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(sentinels >= expectSentinels, "sentinel job event never arrived")
    }
    try {
      Dedup.ngramJaccardPairs(memoDocs, "doc_id", "text", 0.5) // construction only
      drainVia(1)
      assert(nonSentinel == 0,
        s"repeat construction ran $nonSentinel pre-flight jobs; memo missed")
      // a DIFFERENT threshold is a different verdict — must re-estimate
      Dedup.ngramJaccardPairs(memoDocs, "doc_id", "text", 0.9)
      drainVia(2)
      assert(nonSentinel > 0, "changed threshold must re-run the pre-flight")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("same-schema reads from different paths get independent guard verdicts") {
    // LogicalRelation's canonicalized string elides the data location:
    // two parquet reads of the same schema from DIFFERENT paths print
    // identically, so a memo keyed on the string alone would hand the
    // clean corpus's PASS to the over-budget one — the exact bypass the
    // guard exists to prevent (advisor finding, round 14). The key must
    // separate them via the physical input files.
    val tmp = java.nio.file.Files.createTempDirectory("graft_guard_paths")
    import spark.implicits._
    Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/clean")
    spark.range(200)
      .select(col("id").as("doc_id"),
        lit("a b c d e f g h i j k l m n o p q r s t u v w x y z").as("text"))
      .write.parquet(s"$tmp/wall")
    val cleanR = spark.read.parquet(s"$tmp/clean")
    val wallR = spark.read.parquet(s"$tmp/wall")
    // pin the premise: the canonicalized string CANNOT tell them apart
    assert(cleanR.queryExecution.analyzed.canonicalized.toString ==
      wallR.queryExecution.analyzed.canonicalized.toString)
    assert(Dedup.guardMemoInputKey(cleanR) != Dedup.guardMemoInputKey(wallR))
    spark.conf.set(Dedup.VerifyBytesBudgetKey, (64L * 1024).toString)
    try {
      // clean corpus first: memoizes a PASS under the shared plan string
      assert(Dedup.ngramJaccardPairs(cleanR, "doc_id", "text", 0.8).count() == 0)
      // the wall from the other path must still be estimated and TRIP
      val e = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(wallR, "doc_id", "text", 0.8)
      }
      assert(e.getMessage.contains("candidate pairs"), e.getMessage)
    } finally spark.conf.unset(Dedup.VerifyBytesBudgetKey)
  }

  test("guard memo evicts one entry past capacity, never the whole map") {
    // unbounded-session hygiene used to be guardMemo.clear() — the
    // 257th corpus forgot all 256 prior verdicts and every pre-flight
    // re-ran. Eviction must shed exactly one entry.
    Dedup.guardMemo.clear()
    (0 until 256).foreach(i => Dedup.guardMemo.put((s"seed$i", 0.5, 123L), None))
    spark.conf.set(Dedup.VerifyBytesBudgetKey, (64L << 30).toString)
    try {
      val k257 = docs.withColumn("text", concat(col("text"), lit(" evict")))
      Dedup.ngramJaccardPairs(k257, "doc_id", "text", 0.5)
      assert(Dedup.guardMemo.size() == 257) // at capacity: nothing evicted
      val k258 = docs.withColumn("text", concat(col("text"), lit(" evict2")))
      Dedup.ngramJaccardPairs(k258, "doc_id", "text", 0.5)
      assert(Dedup.guardMemo.size() == 257) // one in, one out
      val survivors = (0 until 256)
        .count(i => Dedup.guardMemo.containsKey((s"seed$i", 0.5, 123L)))
      assert(survivors >= 255,
        s"eviction dropped ${256 - survivors} seeded verdicts; must be at most 1")
    } finally {
      spark.conf.unset(Dedup.VerifyBytesBudgetKey)
      Dedup.guardMemo.clear()
    }
  }

  test("q124 steady state: repeat runs reuse the old-corpus index and agree exactly") {
    // the carrier's steady-state contract (round 15): the old corpus is
    // signed ONCE per (JVM, fixture) into the memoized store; repeat
    // runs sign only the arriving batch and must reproduce the exact
    // same pairs (idempotent "day N" — the index never double-counts a
    // re-run batch)
    val a = graft.queries.PipelineQueries.q124IncrementalDedup(spark, sf()).collect()
    val b = graft.queries.PipelineQueries.q124IncrementalDedup(spark, sf()).collect()
    assert(a.nonEmpty)
    assert(a.sameElements(b))
    assert(graft.queries.PipelineQueries.q124OldSigs(spark, sf()) ==
      graft.queries.PipelineQueries.q124OldSigs(spark, sf()),
      "old-corpus store must be memoized, not rebuilt per call")
    // a memoized store whose dir was reaped is rebuilt, not served
    val old = graft.queries.PipelineQueries.q124OldSigs(spark, sf())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(old))
    val c = graft.queries.PipelineQueries.q124IncrementalDedup(spark, sf()).collect()
    assert(c.sameElements(a))
    assert(graft.queries.PipelineQueries.q124OldSigs(spark, sf()) != old,
      "a reaped old-corpus store must be rebuilt into a new dir")
  }

  test("minhash LSH recovers pairs that brute-force jaccard finds") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((1L, 4L)))
  }

  test("df-capped jaccard drops hot boilerplate shingles, bounding pair blowup") {
    // 10 docs sharing ONLY the boilerplate 3-gram "click here now": the
    // uncapped path pairs all of them through that one hot shingle
    // (O(n^2) rows in the self-join); the capped path drops it (df=10 > 5)
    // so the docs have nothing in common and produce zero pairs.
    val boiler = (1 to 10).map(i =>
        (100L + i, s"click here now unique$i token$i word$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 0.1).count()
    val capped = Dedup.ngramJaccardPairsCapped(boiler, "doc_id", "text", 0.1, 5).count()
    assert(uncapped == 45) // all 10-choose-2 pairs via the hot shingle
    assert(capped == 0)
    // and when no shingle exceeds the cutoff, capped == uncapped
    val a = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5).collect().toSet
    val b = Dedup.ngramJaccardPairsCapped(docs, "doc_id", "text", 0.5, 5).collect().toSet
    assert(a == b)
  }

  test("prefix-filtered jaccard equals in-memory brute force on a hot-shingle corpus") {
    // A corpus engineered to stress the prefix filter: a boilerplate
    // header shared by EVERY doc (the hottest possible shingle), mutated
    // near-dup families, and unique tails — then the engine's answer is
    // compared pair-for-pair (including the jaccard value) against a
    // brute force computed with Scala collections, which shares no code
    // with the operator. Thresholds cover prefix lengths from ~whole-set
    // (0.3) to minimal (0.9).
    val rnd = new scala.util.Random(42)
    val corpus = (0 until 60).map { i =>
      val family = i % 12
      val base = s"shared boilerplate header every doc has " +
        s"family$family common phrase ${family * 7} repeated words here"
      val tail = if (rnd.nextBoolean()) s"unique$i trailing token$i"
                 else s"unique$i other words ${rnd.nextInt(5)}"
      (i.toLong, s"$base $tail")
    }
    val df = corpus.toDF("doc_id", "text")
    def shingleSet(t: String): Set[String] = {
      val tok = t.split(" ")
      (0 to tok.length - 3).map(j => tok.slice(j, j + 3).mkString(" ")).toSet
    }
    val sets = corpus.map { case (id, t) => id -> shingleSet(t) }
    for (t <- Seq(0.3, 0.5, 0.8, 0.9)) {
      val expected = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        c = (sa & sb).size
        j = c.toDouble / (sa.size + sb.size - c) if j >= t
      } yield (ia, ib, j)).toSet
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected, s"threshold $t")
    }
  }

  test("LSH pipeline persists only the sub-corpus-scale frames (band table, pairs)") {
    // Optimization r19 (VERDICT r18 #2): minhashLshPairs persists the
    // band table and jaccardVerify the candidate pairs — the frames
    // bounded by docs·bands / candidate count at any scale — so their
    // multiple consumers read the cache instead of re-deriving the
    // scan→shingle→minhash subtree (24 scans in the r18 q22 plan
    // audit). This pins (a) the executed plan actually reuses the
    // caches, and (b) the corpus-scale shingle arrays are NOT cached
    // (the r18 persist-everything experiment lost 4x at sf1 and was
    // reverted in 67cb8b6).
    spark.sharedState.cacheManager.clearCache()
    val docs = graft.sources.Tables.documents(spark, sf())
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 4, 0.8)
    pairs.queryExecution.toRdd.foreach(_ => ()) // finalize AQE in place
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      "band table / candidate pairs must be read from cache on reuse")
    // nothing corpus-scale is pinned: every cache read is the band
    // table (doc, band, bh) or the pair table (ia, ib) — never a frame
    // carrying the gathered shingle-array column (shs)
    val arrayCache = plan.linesIterator
      .filter(_.contains("InMemoryTableScan")).filter(_.contains("shs"))
    assert(arrayCache.isEmpty, "no corpus-scale array cache")
    spark.sharedState.cacheManager.clearCache()
  }

  test("incremental LSH equals the from-scratch pairs restricted to the new batch") {
    val docs = graft.sources.Tables.documents(spark, sf())
    // from-scratch LSH over everything, then keep pairs with a new side
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 4, 0.8)
      .filter(col("ia") % 4 === 0 || col("ib") % 4 === 0)
      .collect().map(_.toSeq).toSet
    // incremental path: stored old signatures + freshly signed batch
    val oldSigs = Dedup.minhashBandTable(
      docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", 16, 4)
    val newSigs = Dedup.minhashBandTable(
      docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", 16, 4)
    val sigs = oldSigs.withColumn("is_new", lit(false))
      .unionByName(newSigs.withColumn("is_new", lit(true)))
    val inc = Dedup.minhashLshIncrementalPairs(sigs,
        Dedup.shingles(docs, "doc_id", "text"), 0.8)
      .collect().map(_.toSeq).toSet
    assert(inc == full, "index path must agree with the from-scratch path")
    // the index really is per-doc bounded: 4 band rows per signed doc
    val signable = Dedup.shingles(docs, "doc_id", "text")
      .select("doc").distinct().count()
    assert(oldSigs.count() + newSigs.count() == signable * 4)
    // and old-old pairs are never re-derived
    val allOld = sigs.withColumn("is_new", lit(false))
    assert(Dedup.minhashLshIncrementalPairs(allOld,
      Dedup.shingles(docs, "doc_id", "text"), 0.8).count() == 0)
  }

  test("connected components: multi-hop chains collapse to the min label") {
    // components: {1,2,3,9} via chain 9-3-2-1 (diameter 3 — needs
    // multiple propagation rounds), {5,6}, isolated 8 (not returned)
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 9L), (5L, 6L))
      .toDF("ia", "ib")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("reliable checkpoint mode: components and PageRank survive the checkpoint() path") {
    import graft.operators.Lineage
    // graft.checkpoint.reliable=true routes every iterative lineage cut
    // through reliable checkpoint() (executor-loss-surviving) instead
    // of localCheckpoint — answers must be identical in both modes
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 9L), (5L, 6L)).toDF("ia", "ib")
    val localCc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val localStar = Dedup.connectedComponentsStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val localPr = graft.queries.AnalyticsQueries.q115PageRank(spark, sf())
      .collect().map(_.toSeq).toSeq
    spark.conf.set(Lineage.ReliableFlag, "true")
    try {
      val cc = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.connectedComponentsStar(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pr = graft.queries.AnalyticsQueries.q115PageRank(spark, sf())
        .collect().map(_.toSeq).toSeq
      assert(cc == localCc && star == localStar)
      assert(pr == localPr)
      // reliable mode really did write to a checkpoint dir
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined, "reliable mode must provision a checkpoint dir")
      assert(new java.io.File(new java.net.URI(dir.get)).exists())
    } finally spark.conf.unset(Lineage.ReliableFlag)
  }

  test("large-star/small-star components equal min-label propagation (incl. long chain)") {
    // a 40-node chain (diameter 39: the adversarial case where min-label
    // propagation needs ~40 rounds and the star algorithm O(log n)),
    // plus random graphs across 3 seeds
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("ia", "ib")
    val a = Dedup.connectedComponentsStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == (0L to 39L).map(_ -> 0L).toMap)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val pairs = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2).toDF("ia", "ib")
      val star = Dedup.connectedComponentsStar(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val label = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == label)
    }
  }

  test("simhash: identical docs get identical hashes, near-dups are close") {
    val m = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  test("cosine is exact on known vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)), (Array(1.0f, 1.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
  }

  test("brute-force topk ranks the closest vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 2)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("k-means-trained IVF centroids reach recall@5 >= 0.9 on clustered data") {
    // 8 well-separated unit clusters x 60 vectors in 64-d; seeds are the
    // first 8 vectors, which all sit in cluster 0 — the worst case that
    // untrained IVF (q25's shape) cannot recover from
    val rng = new scala.util.Random(42)
    val centers = Array.fill(8)(Array.fill(64)(rng.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; i <- 0 until 60) yield
      (c * 60L + i, centers(c).map(v => v + 0.15f * rng.nextGaussian().toFloat))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 31 === 0)

    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val bf = topSets(Similarity.bruteForceTopK(emb, queries, 5))
    def recall(ivf: Map[Long, Set[Long]]): Double =
      bf.map { case (q, s) => ivf.getOrElse(q, Set.empty[Long]).intersect(s).size / 5.0 }
        .sum / bf.size

    val untrained = emb.orderBy("vec_id").limit(8)
    val rUntrained = recall(topSets(Similarity.ivfTopK(emb, queries, untrained, 5, 2)))
    val trained = Similarity.trainCentroids(emb, 8, 2)
    val rTrained = recall(topSets(Similarity.ivfTopK(emb, queries, trained, 5, 2)))
    info(s"recall@5 untrained=$rUntrained trained=$rTrained")
    assert(rTrained >= 0.9)
    assert(rTrained > rUntrained)
  }

  test("PQ (ADC + rerank) reaches recall@5 >= 0.9 at 16x compression") {
    // same clustered fixture as the IVF test: 8 separated clusters in
    // 64-d; PQ codes collapse near-identical cluster members, so the
    // ADC scan alone cannot rank WITHIN a cluster — the exact rerank
    // over the short list recovers the true top-k (the production
    // scan-codes-then-rerank shape)
    val rng = new scala.util.Random(42)
    val centers = Array.fill(8)(Array.fill(64)(rng.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; i <- 0 until 60) yield
      (c * 60L + i, centers(c).map(v => v + 0.15f * rng.nextGaussian().toFloat))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 31 === 0)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val bf = topSets(Similarity.bruteForceTopK(emb, queries, 5))
    val books = Similarity.trainProductCodebooks(emb, d = 64, m = 4, ksub = 16, iters = 2)
    val pq = topSets(Similarity.pqTopK(emb, queries, books, d = 64, m = 4, k = 5, rerankR = 100))
    val recall = bf.map { case (q, s) =>
      pq.getOrElse(q, Set.empty[Long]).intersect(s).size / 5.0 }.sum / bf.size
    info(s"PQ recall@5 = $recall")
    assert(recall >= 0.9)
  }

  test("hash sampling: split partitions exactly, is layout-independent, rates hold") {
    import graft.operators.Sampling
    val df = spark.range(20000).select(col("id").as("doc_id"))
    val (train, eval) = Sampling.trainEvalSplit(df, col("doc_id"), 0.1)
    assert(train.count() + eval.count() == 20000)
    assert(train.intersect(eval).count() == 0)
    val evalN = eval.count().toDouble
    assert(math.abs(evalN / 20000 - 0.1) < 0.02) // hash-uniformity, not RNG
    // membership is a property of the key: repartitioning changes nothing
    val (_, eval2) = Sampling.trainEvalSplit(df.repartition(13), col("doc_id"), 0.1)
    assert(eval2.collect().map(_.getLong(0)).sorted
      .sameElements(eval.collect().map(_.getLong(0)).sorted))
  }

  test("text stats and language id on a known sentence") {
    val d = Seq((1L, "the cat is on the mat with 42 others")).toDF("doc_id", "text")
    val r = TextAnalysis.languageId(TextAnalysis.textStats(d, "text"), "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 9L)
    assert(math.abs(r.getAs[Double]("stop_ratio") - 5.0 / 9.0) < 1e-12) // the,is,on,the,with
    assert(r.getAs[Double]("digit_ratio") > 0)
    assert(r.getAs[String]("lang_pred") == "en")
  }

  test("BottomK aggregate equals sort-and-take over many partitions") {
    import graft.functions.BottomK.bottomK
    // values spread over 16 partitions force partial-aggregate merges
    val df = spark.range(5000).repartition(16)
      .select((col("id") % 7).as("g"), md5(col("id").cast("string")).as("h"))
    val viaAgg = df.groupBy("g").agg(bottomK(col("h"), 5).as("bk")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaSort = df.groupBy("g")
      .agg(slice(array_sort(collect_list(col("h"))), 1, 5).as("bk")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaAgg == viaSort)
    // groups smaller than k return everything, sorted
    val small = spark.range(3).select(lit(0L).as("g"), md5(col("id").cast("string")).as("h"))
    val bk = small.groupBy("g").agg(bottomK(col("h"), 10).as("bk"))
      .collect().head.getSeq[String](1)
    assert(bk.length == 3 && bk == bk.sorted)
  }

  test("fingerprint is stable and equal for identical docs") {
    val fp = TextAnalysis.fingerprint(docs, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(4L))
    assert(fp(1L) != fp(3L))
    assert(fp(1L).length == 96) // 3 md5 hex strings
  }

  test("substring dedup: interval-union coverage, cross-doc only") {
    // doc 1 and doc 2 share the 4-token run "a b c d" twice (positions
    // 0 and 5 in doc 1 — overlapping nothing, disjoint intervals) and
    // doc 3 repeats ITS OWN phrase but shares nothing cross-doc.
    val d = Seq(
      (1L, "a b c d x a b c d y"),   // 10 toks, dup wins at pos 0 and 5
      (2L, "p a b c d q r s t"),     // 9 toks, dup win at pos 1
      (3L, "u v w u v w u v w z z")) // self-repeats only -> excluded
      .toDF("doc_id", "text")
    val out = Dedup.substringDupStats(d, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: 7 windows total; dup at pos 0 and 5 -> union size 4+4=8
    assert(out(1L) == ((7L, 2L, 8L)))
    // doc 2: 6 windows; dup at pos 1 -> 4 covered tokens
    assert(out(2L) == ((6L, 1L, 4L)))
    assert(!out.contains(3L)) // within-doc repetition is not cross-doc dup
  }

  test("substring removal cuts every occurrence, keeps clean docs verbatim") {
    val d = Seq(
      (1L, "a b c d x a b c d y"),   // dup run "a b c d" at 0 and 5
      (2L, "p a b c d q r s t"),     // dup run at 1
      (3L, "u v w u v w u v w z z")) // self-repeats only -> untouched
      .toDF("doc_id", "text")
    val out = Dedup.substringDedupClean(d, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((10L, 8L, "x y")))     // both occurrences cut
    assert(out(2L) == ((9L, 4L, "p q r s t")))
    assert(out(3L) == ((11L, 0L, "u v w u v w u v w z z"))) // verbatim
    // a doc shorter than k passes through untouched
    val short = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val so = Dedup.substringDedupClean(short, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(so == Map(1L -> "a b", 2L -> "a b"))
  }

  test("substring removal can empty a fully-duplicated doc") {
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e x")).toDF("doc_id", "text")
    val out = Dedup.substringDedupClean(d, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((5L, "")))   // every token covered -> empty text
    assert(out(2L) == ((5L, "x")))
  }

  test("substring dedup: overlapping windows count tokens once") {
    // docs share a 6-token run -> with k=4, THREE overlapping dup
    // windows (pos 0,1,2) but the union covers exactly 6 tokens
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f x")).toDF("doc_id", "text")
    val out = Dedup.substringDupStats(d, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 3L, 6L)))
    assert(out(2L) == ((4L, 3L, 6L)))
  }
}
