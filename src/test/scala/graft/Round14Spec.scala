package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Round-14 items: the p05 tick is DELTA-BOUNDED — stage 3 recomputes
  * candidates for only the micro-batch's symbols (store reads pruned
  * to those partitions, scan-metrics-proven), the report derives from
  * the bounded candidate table, and a revision that un-extremes a
  * symbol deletes its stale candidate partition. */
class Round14Spec extends SparkSpec {

  // ---- a QueryExecutionListener recording every FileSourceScan of one
  // path during a window: (partitions read, rows out) per scan ----
  private final class ScanRecorder(pathFrag: String) extends QueryExecutionListener {
    val scans = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long)]()
    private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
      f(p)
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec        => Seq(s.plan)
        case o                        => o.children
      }
      kids.foreach(walk(_)(f))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      walk(qe.executedPlan) {
        case sc: FileSourceScanExec
            if sc.relation.location.rootPaths.exists(_.toString.contains(pathFrag)) =>
          scans.add((sc.metrics.get("numPartitions").map(_.value).getOrElse(-1L),
            sc.metrics("numOutputRows").value))
        case _ => ()
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    /** The execution-listener bus is async: poll until the recorded set
      * is non-empty and stable. */
    def settle(): Seq[(Long, Long)] = {
      var last = -1
      var stable = 0
      var i = 0
      while (stable < 3 && i < 100) {
        Thread.sleep(100)
        val n = scans.size()
        if (n == last && n > 0) stable += 1 else stable = 0
        last = n; i += 1
      }
      import scala.jdk.CollectionConverters._
      scans.asScala.toSeq
    }
  }

  private def tsOf(h: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1704067200000L + h * 3600000L)

  /** (symbol, hour, markPrice, page_seq) → a healed p05 delta frame. */
  private def healedOf(rows: Seq[(String, Int, Double, Long)]): DataFrame = {
    import spark.implicits._
    rows.map { case (s, h, mp, seq) => (s, tsOf(h), 1e-4, mp, seq) }
      .toDF("symbol", "fundingTime", "fundingRate", "markPrice", "page_seq")
  }

  private def spotDf: DataFrame = {
    import spark.implicits._
    Seq(("AAAUSDT", tsOf(0), 1.0), ("BBBUSDT", tsOf(0), 1.0))
      .toDF("symbol", "ts", "spot")
  }

  /** 10 hourly rows per symbol: premium 0 for h<5, 3 for h>=5 — exactly
    * one debounce-surviving extreme per symbol (h=5; later candidates
    * sit at the non-strict 1h gap and are debounced away). */
  private def history(sym: String, jump: Double, seq: Long): Seq[(String, Int, Double, Long)] =
    (0 until 10).map(h => (sym, h, if (h < 5) 1.0 else jump, seq))

  test("p05 tick: store scans are pruned to the delta's symbol partitions, " +
    "and a revision that un-extremes a symbol deletes its candidate partition") {
    val base = java.nio.file.Files.createTempDirectory("graft_r14_tick_").toString
    val (store, cands, report) = (s"$base/store", s"$base/cands", s"$base/report")
    val tick = graft.streaming.StreamOps.marketTick(
      spark, store, cands, report, spotDf, _: DataFrame)

    // tick 1: both symbols' full history lands — both extreme at h=5
    tick(healedOf(history("AAAUSDT", 4.0, 1L) ++ history("BBBUSDT", 4.0, 1L)))
    val r1 = spark.read.parquet(report).orderBy("symbol").collect()
    assert(r1.map(_.getString(0)).toSeq == Seq("AAAUSDT", "BBBUSDT"))
    assert(r1.forall(_.getLong(1) == tsOf(5).getTime), "the debounce keeps only h=5")

    // tick 2: a REVISION flattens AAA's jump — only AAA partitions may
    // be read, AAA's candidates must vanish, BBB's row must survive
    val rec = new ScanRecorder(store)
    spark.listenerManager.register(rec)
    try tick(healedOf((5 until 10).map(h => ("AAAUSDT", h, 1.0, 2L))))
    finally {
      val scans = rec.settle()
      spark.listenerManager.unregister(rec)
      assert(scans.nonEmpty, "the tick must read the store (merge guard + candidate recompute)")
      scans.foreach { case (nPart, nRows) =>
        assert(nPart <= 1, s"a store scan read $nPart partitions; the delta touches only AAAUSDT")
        assert(nRows <= 10, s"a store scan emitted $nRows rows; AAAUSDT's partition holds 10")
      }
    }
    val r2 = spark.read.parquet(report).collect()
    assert(r2.map(_.getString(0)).toSeq == Seq("BBBUSDT"),
      "AAA's revision removed its extreme; the report must now be BBB alone")
    val aaaPart = new java.io.File(s"$cands/symbol=AAAUSDT")
    assert(!aaaPart.exists(), "the stale candidate partition must be deleted, " +
      "not survive the dynamic overwrite")

    // tick 3: AAA re-extremes — the partition resurrects and the report
    // carries the REVISED markPrice
    tick(healedOf((5 until 10).map(h => ("AAAUSDT", h, 6.0, 3L))))
    val r3 = spark.read.parquet(report).orderBy("symbol").collect()
    assert(r3.map(_.getString(0)).toSeq == Seq("AAAUSDT", "BBBUSDT"))
    assert(r3.find(_.getString(0) == "AAAUSDT").get.getDouble(4) == 6.0,
      "the resurrected candidate must carry page 3's markPrice")
  }

  test("p05 tick report == the full marketReportOf over the same healed store") {
    // the delta-bounded loop and the one-shot batch compute must agree
    // after any sequence of ticks — replay tick 1+2+3's deltas as one
    // batch heal and compare
    val base = java.nio.file.Files.createTempDirectory("graft_r14_eq_").toString
    val tick = graft.streaming.StreamOps.marketTick(
      spark, s"$base/store", s"$base/cands", s"$base/report", spotDf, _: DataFrame)
    tick(healedOf(history("AAAUSDT", 4.0, 1L) ++ history("BBBUSDT", 4.0, 1L)))
    tick(healedOf((5 until 10).map(h => ("AAAUSDT", h, 1.0, 2L))))
    tick(healedOf((0 until 10).map(h => ("BBBUSDT", h, if (h < 5) 1.0 else 7.0, 3L))))
    val streamed = spark.read.parquet(s"$base/report")
      .orderBy(col("ts_ms").desc, col("symbol")).collect().toSeq
    val batchPerp = spark.read.parquet(s"$base/store")
      .select(col("symbol").cast("string").as("symbol"),
        col("fundingTime").as("ts"), col("fundingRate"), col("markPrice"))
    val batch = graft.ops.IngestOps.marketReportOf(batchPerp, spotDf)
      .orderBy(col("ts_ms").desc, col("symbol")).collect().toSeq
    assert(streamed == batch, "delta-bounded ticks must converge to the batch report")
  }

  test("keyframeSigsOf: a zero-length payload has NO frames (no phantom empty-string sig)") {
    // without the guard, sequence(0, __nf - 1) on __nf = 0 generates a
    // DESCENDING [0, -1] (Spark defaults step to -1 when start > stop),
    // fi = 0 survives the sampling pmod and two empty payloads pair at
    // containment 1.0 — the DuckDB twin's generate_series(0, -1) is
    // empty, so the engines would silently disagree
    import spark.implicits._
    val docs = Seq(
      (1L, Array.emptyByteArray),
      (2L, Array.emptyByteArray),
      (3L, Array.fill[Byte](96)(7))).toDF("doc_id", "payload")
    val sigs = graft.ops.MultiOps.keyframeSigsOf(docs, "doc_id", "payload", every = 4)
    assert(sigs.filter(col("vid").isin(1L, 2L)).count() == 0,
      "empty payloads must contribute zero frame signatures")
    assert(sigs.filter(col("vid") === 3L).count() == 1)
    val pairs = graft.ops.MultiOps.keyframeDupPairsOf(docs, "doc_id", "payload",
      every = 4, minContain = 0.5)
    assert(pairs.count() == 0, "two empty payloads must NOT pair")
  }

  test("rankEvalOf: closed form on a planted ranking (nDCG@3 + MRR + graded rel)") {
    import spark.implicits._
    val truth = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L),
        (2L, 1L, 10L), (2L, 2L, 20L), (2L, 3L, 30L))
      .toDF("q_id", "rank", "vec_id")
    val cand = Seq(
        (1L, 1L, 20L), (1L, 2L, 99L), (1L, 3L, 10L), // rel 2, 0, 3
        (2L, 1L, 98L), (2L, 2L, 99L), (2L, 3L, 97L)) // rel 0, 0, 0
      .toDF("q_id", "rank", "vec_id")
    val out = graft.ops.SimOps.rankEvalOf(truth, cand, "vec_id", 3)
      .orderBy("q_id").collect()
    val ln2 = math.log(2.0)
    // q1: DCG = (2²−1)·ln2/ln2 + 0 + (2³−1)·ln2/ln4; hand fold matches
    // the operator's rank-ordered cumulative fold term by term
    // (StrictMath.log — Catalyst's Log evaluates via StrictMath)
    val dcg1 = 3.0 + 7.0 * ln2 / StrictMath.log(4.0)
    val idcg = graft.ops.SimOps.idcgAt(3)
    assert(out(0).getLong(1) == 2L, "q1 finds 2 of 3 true neighbors")
    assert(out(0).getDouble(2) == 1.0, "first relevant at rank 1 → MRR 1")
    assert(math.abs(out(0).getDouble(3) - dcg1) < 1e-12)
    assert(math.abs(out(0).getDouble(4) - dcg1 / idcg) < 1e-12)
    assert(out(0).getDouble(4) > 0 && out(0).getDouble(4) < 1,
      "imperfect ranking lands strictly inside (0, 1)")
    assert(out(1).getLong(1) == 0L && out(1).getDouble(2) == 0.0 &&
      out(1).getDouble(3) == 0.0 && out(1).getDouble(4) == 0.0,
      "a ranking with no relevant hits scores zero across the board")
    // the perfect candidate ranking scores nDCG exactly 1
    val perfect = graft.ops.SimOps.rankEvalOf(truth, truth, "vec_id", 3)
      .orderBy("q_id").collect()
    assert(perfect.forall(r => r.getDouble(4) == 1.0 && r.getDouble(2) == 1.0))
  }

  test("payloadEmbeddingOf + cross-modal knn: exact bucket counts, matching payload is top-1") {
    import spark.implicits._
    // closed form: "AAAA" = 4 bytes of 0x41 = 65 → bucket 65 % 64 = 1
    val planted = graft.ops.MultiOps.payloadEmbeddingOf(
      Seq((9L, "AAAA")).toDF("doc_id", "text")
        .withColumn("p", col("text").cast("binary")), "doc_id", "p")
      .head()
    val v = planted.getSeq[Double](1)
    assert(v.length == 64 && v(1) == 4.0 && v.sum == 4.0,
      "the 64-dim histogram must put all 4 'A' bytes in bucket 1")

    // cross-modal pair: a lowercase doc's text-tower query vector equals
    // its media-tower vector exactly → its own payload is the top hit
    val docs = Seq(
      (1L, "all lowercase words here"),
      (2L, "ALL LOWERCASE WORDS HERE"), // same content, other byte values
      (3L, "zzzz qqqq xxxx jjjj vvvv")).toDF("doc_id", "text")
    val corpus = graft.ops.MultiOps.payloadEmbeddingOf(
      docs.withColumn("p", col("text").cast("binary")), "doc_id", "p")
    val queries = graft.ops.MultiOps.payloadEmbeddingOf(
      docs.filter(col("doc_id") === 1L)
        .withColumn("p", lower(col("text")).cast("binary")), "doc_id", "p")
    val hits = Graft.knnBrute(corpus, queries, "doc_id", "v", 3, excludeSelf = false)
      .orderBy("rank").collect()
    assert(hits(0).getLong(2) == 1L, "the query's own payload must rank 1")
    assert(hits(0).getDouble(3) > 0.999999, "identical histograms → cosine ~1")
    assert(hits(1).getDouble(3) < 0.9,
      "the case-shifted twin lives in different byte buckets — no trivial match")
  }

  test("SketchStore: exact merge law, idempotent landing replay, realized estimate error") {
    import graft.sinks.SketchStore
    val keys = Seq("grp")
    // overlapping landings: A = 0..599, B = 400..999 → union has 1000 distinct
    val a = spark.range(600).select(lit("g").as("grp"), col("id"))
    val b = spark.range(400, 1000).select(lit("g").as("grp"), col("id"))
    val stA = SketchStore.hllState(a, keys, "id")
    val stB = SketchStore.hllState(b, keys, "id")
    val direct = SketchStore.hllState(a.unionByName(b), keys, "id").collect().toSet

    // MERGE LAW, exactly: register-wise max of the states == state of the union
    val merged = stA.unionByName(stB)
      .groupBy(col("grp"), col("reg")).agg(max(col("rho")).as("rho"))
      .collect().toSet
    assert(merged == direct, "merge(state(A), state(B)) must equal state(A ∪ B) row-for-row")

    // through the STORE: replaying a landing is idempotent, merge reads state only
    val p = java.nio.file.Files.createTempDirectory("graft_sketch_spec_").toString
    SketchStore.land(spark, s"$p/hll", stA, 1L)
    SketchStore.land(spark, s"$p/hll", stA, 1L) // replay must replace, not double
    SketchStore.land(spark, s"$p/hll", stB, 2L)
    val fromStore = SketchStore.mergedHll(spark, s"$p/hll", keys)
    assert(fromStore.collect().toSet == direct,
      "land → read-back → merge must reproduce the direct union state")

    // realized error: 1000 true distinct, m=4096 (linear-counting regime)
    val est = SketchStore.hllEstimate(fromStore, keys).head().getDouble(1)
    assert(math.abs(est - 1000.0) / 1000.0 < 0.05, s"estimate $est vs true 1000")

    // histogram state: integer-exact merge + closed-form quantile
    val v = spark.range(1000)
      .select(lit("g").as("grp"), (col("id") % 100).cast("double").as("value"))
    SketchStore.land(spark, s"$p/vh",
      SketchStore.histState(v.filter(col("id") < 500), keys, "value", 10.0), 1L)
    SketchStore.land(spark, s"$p/vh",
      SketchStore.histState(v.filter(col("id") >= 500), keys, "value", 10.0), 2L)
    val hm = SketchStore.mergedHist(spark, s"$p/vh", keys)
    assert(hm.collect().toSet == SketchStore.histState(v, keys, "value", 10.0).collect().toSet,
      "bucket-count sums across landings must equal the whole-data histogram")
    val q50 = SketchStore.histQuantiles(hm, keys, 10.0, Seq(0.5 -> "p50")).head()
    assert(q50.getLong(1) == 1000L && q50.getDouble(2) == 45.0,
      "uniform 0..99, width 10 → p50 lands in bucket 4, midpoint 45.0")
  }

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles())
      .map(_.count(f => f.isFile && f.getName.endsWith(".parquet"))).getOrElse(-1)

  test("compact(onlyValues): rewrites only the named partitions, data byte-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r14_compact_").toString + "/t"
    val df = spark.range(64).select((col("id") % 2).cast("string").as("day"), col("id"))
    // fragment both partitions: 8 files each
    (0 until 8).foreach { i =>
      // each slice spans both parities, so each append adds one file
      // to BOTH day partitions
      df.filter(col("id") >= i * 8 && col("id") < (i + 1) * 8).coalesce(1)
        .write.mode("append").partitionBy("day").parquet(dir)
    }
    assert(parquetFiles(s"$dir/day=0") == 8 && parquetFiles(s"$dir/day=1") == 8)
    val before = spark.read.parquet(dir).collect().toSet
    val rewritten = graft.sinks.MergeWriter.compact(spark, dir, "day",
      maxFiles = 4, onlyValues = Some(Seq("0")))
    assert(rewritten == Seq("0"), "only the restricted partition may be rewritten")
    assert(parquetFiles(s"$dir/day=0") == 1, "the fragmented file-set must collapse")
    assert(parquetFiles(s"$dir/day=1") == 8, "the unnamed partition must be untouched")
    assert(spark.read.parquet(dir).collect().toSet == before,
      "compaction is a pure physical rewrite")
  }

  test("streaming stores stay compact: marketTick and incremental dedup collapse their file-sets") {
    // marketTick: after ticks, no store partition may exceed the compact
    // threshold (each merge alone leaves a shuffle-task-count file-set)
    val base = java.nio.file.Files.createTempDirectory("graft_r14_cstream_").toString
    val tick = graft.streaming.StreamOps.marketTick(
      spark, s"$base/store", s"$base/cands", s"$base/report", spotDf, _: DataFrame)
    tick(healedOf(history("AAAUSDT", 4.0, 1L)))
    tick(healedOf((5 until 10).map(h => ("AAAUSDT", h, 5.0, 2L))))
    assert(parquetFiles(s"$base/store/symbol=AAAUSDT") <= 4,
      "the funding store partition must stay within the compact threshold")
    assert(spark.read.parquet(s"$base/store").count() == 10,
      "compaction must not lose store rows")

    // incremental dedup: a 40-doc batch's signature partition lands as a
    // shuffle-wide file-set and must be collapsed by the per-batch pass
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{DocEvent, StreamOps}
    import spark.implicits._
    val input = MemoryStream[DocEvent]
    val q = StreamOps.streamingIncrementalDedup(spark, input.toDF(),
      s"$base/history", s"$base/verdicts", s"$base/ckpt")
    try {
      input.addData((0 until 40).map(i =>
        DocEvent(i.toLong, s"totally unique document number $i with words $i")))
      q.processAllAvailable()
    } finally q.stop()
    assert(parquetFiles(s"$base/history/batch_id=0") <= 4,
      "the history batch partition must be compacted after landing")
    assert(parquetFiles(s"$base/verdicts/batch_id=0") <= 4,
      "the verdict batch partition must be compacted after landing")
    assert(spark.read.parquet(s"$base/verdicts").count() == 40,
      "every doc keeps its verdict through compaction")
  }

  test("streamingSketchProfile: stream of micro-batches == one-shot sketch (merge law live)") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{ProfileEvent, StreamOps}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_r14_sprof_").toString
    val input = MemoryStream[ProfileEvent]
    val q = StreamOps.streamingSketchProfile(spark, input.toDF(),
      s"$base/store", s"$base/report", s"$base/ckpt")
    try {
      // disjoint slices: each event lands once (count semantics); HLL's
      // idempotency under OVERLAPPING landings is pinned in the
      // SketchStore merge-law test
      input.addData((0 until 50).map(i => ProfileEvent("a", i.toLong, i.toDouble)))
      q.processAllAvailable()
      input.addData((50 until 75).map(i => ProfileEvent("a", i.toLong, i.toDouble)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$base/report").collect()
    assert(streamed.length == 1)
    // one-shot control: the SAME report over a single landing of all data
    val all = (0 until 75).map(i => ProfileEvent("a", i.toLong, i.toDouble))
      .toDF("event_type", "user_id", "value")
    StreamOps.sketchProfileTick(spark, s"$base/ctrl", all,
      Seq("event_type"), "user_id", "value", 10.0, 0L)
    val ctrl = StreamOps.sketchProfileReport(spark, s"$base/ctrl",
      Seq("event_type"), 10.0, Seq(0.5 -> "p50_est", 0.95 -> "p95_est")).collect()
    assert(streamed.toSeq == ctrl.toSeq,
      "two overlapping micro-batches must merge to the one-shot sketch exactly")
    val est = streamed.head.getDouble(1)
    assert(math.abs(est - 75.0) / 75.0 < 0.1, s"estimate $est vs true 75 distinct")
  }

  test("knnGraphOf hierarchical assignment: routed by centroid count, search recall holds") {
    import graft.ops.SimOps
    // deterministic 2000-vector corpus, dim 8; centroids = every 4th id
    // → 500 centroids, past the 256 brute/hierarchical threshold
    val corpus = spark.range(2000).selectExpr("id AS vec_id",
      "transform(sequence(0, 7), j -> cos(id * 0.37 * (j + 1)) + 0.1 * j) AS v")
    val cents = corpus.filter(col("vec_id") % 4 === 0)
    val queries = corpus.filter(col("vec_id") < 5)
    val truth = Graft.knnBrute(corpus, queries, "vec_id", "v", 10)
      .select(col("q_id"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(): Double = {
      val edges = SimOps.knnGraphOf(corpus, cents, "vec_id", "v", "vec_id", "v",
        r = 8, cellProbes = 2, descentRounds = 1).localCheckpoint(eager = true)
      try {
        val hits = SimOps.graphAnnOf(corpus, queries, cents, edges, "vec_id", "v",
            k = 10, beam = 4, hops = 3)
          .select(col("q_id"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).count(truth)
        hits / 50.0
      } finally graft.Checkpoints.free(edges)
    }
    val (b0, h0) = (SimOps.graphBruteAsg.get(), SimOps.graphHierAsg.get())
    val hierRecall = recallOf() // 500 centroids → hierarchical route
    assert(SimOps.graphHierAsg.get() == h0 + 1 && SimOps.graphBruteAsg.get() == b0,
      "500 centroids must route the assignment hierarchically")
    val saved = SimOps.HierAsgThreshold
    val bruteRecall = try {
      SimOps.HierAsgThreshold = Int.MaxValue
      recallOf() // same corpus, forced brute route
    } finally SimOps.HierAsgThreshold = saved
    assert(SimOps.graphBruteAsg.get() == b0 + 1,
      "raising the threshold must route the same build to the brute path")
    assert(bruteRecall > 0.5, s"brute-assigned graph recall $bruteRecall sanity floor")
    assert(hierRecall >= bruteRecall - 0.1,
      s"hierarchical assignment recall $hierRecall must hold against brute $bruteRecall")
  }

  // ------------------------------------------------- st11 Page CUSUM

  private def cusumTs(i: Int) = new java.sql.Timestamp(1700000000000L + i * 60000L)

  /** (series, id, value) rows in id order. */
  private def cusumDf(rows: Seq[(String, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (k, i, v) => (k, cusumTs(i.toInt), i, v) }
      .toDF("event_type", "ts", "event_id", "value")
  }

  test("pageCusumOf: reference μ/σ frozen on the first half, monitored rows " +
    "bit-equal a first-principles Page fold, alarm row and reset pinned") {
    // reference half: 9,11,9,11 -> μ=10, σ=1 -> slack 0.5, h 4.0
    // monitor half: 13,13,13,10 -> s+ = 2.5, 5.0 (ALARM), 2.5, 2.0
    val df = cusumDf(Seq(("A", 1L, 9.0), ("A", 2L, 11.0), ("A", 3L, 9.0), ("A", 4L, 11.0),
      ("A", 5L, 13.0), ("A", 6L, 13.0), ("A", 7L, 13.0), ("A", 8L, 10.0)))
    val got = graft.streaming.StreamOps
      .pageCusumOf(df, "event_type", "ts", "event_id", "value")
      .collect().map(r => r.getLong(2) ->
        ((r.getDouble(4), r.getDouble(5), r.getBoolean(6)))).toMap
    var (sp, sn) = (0.0, 0.0)
    val want = Seq((5L, 13.0), (6L, 13.0), (7L, 13.0), (8L, 10.0)).map { case (i, v) =>
      val p = math.max(0.0, sp + (v - 10.0 - 0.5))
      val n = math.max(0.0, sn + (10.0 - v - 0.5))
      val alarm = p > 4.0 || n > 4.0
      if (alarm) { sp = 0.0; sn = 0.0 } else { sp = p; sn = n }
      i -> ((p, n, alarm))
    }.toMap
    assert(got == want, s"bitwise Page-fold equality: $got vs $want")
    assert(got(6L)._3 && !got(5L)._3 && !got(7L)._3, "alarm exactly on the second drifted row")
    assert(got(7L)._1 == 2.5, "post-alarm row restarts from reset state")
  }

  test("pageCusumOf: zero-variance reference and short series emit nothing; " +
    "the downward side alarms symmetrically") {
    val df = cusumDf(Seq(
      // B: flat reference -> σ=0 -> excluded entirely
      ("B", 1L, 5.0), ("B", 2L, 5.0), ("B", 3L, 5.0), ("B", 4L, 5.0),
      ("B", 5L, 50.0), ("B", 6L, 50.0),
      // C: 3 rows -> n div 2 = 1 < 2 reference rows -> excluded
      ("C", 1L, 1.0), ("C", 2L, 2.0), ("C", 3L, 9.0),
      // D: downward drift -> s- alarms
      ("D", 1L, 9.0), ("D", 2L, 11.0), ("D", 3L, 9.0), ("D", 4L, 11.0),
      ("D", 5L, 7.0), ("D", 6L, 7.0), ("D", 7L, 10.0), ("D", 8L, 10.0)))
    val out = graft.streaming.StreamOps
      .pageCusumOf(df, "event_type", "ts", "event_id", "value")
    assert(out.filter(col("event_type").isin("B", "C")).count() == 0,
      "no scale to detect against: zero-variance and too-short series drop")
    val d = out.filter(col("event_type") === "D").orderBy("ts_ms")
      .collect().map(r => (r.getDouble(5), r.getBoolean(6)))
    // s- = 2.5 then 5.0 > 4 -> alarm on the second low row, reset after
    assert(d.toSeq == Seq((2.5, false), (5.0, true), (0.0, false), (0.0, false)),
      s"downward side: ${d.toSeq}")
  }

  test("st11 twin: batch pageCusumOf == streamingCusum BIT-for-bit on the " +
    "monitored rows given the frozen reference μ/k/h") {
    import graft.streaming.{BollEvent, CusumOut, StreamOps}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val df = cusumDf(Seq(("A", 1L, 9.0), ("A", 2L, 11.0), ("A", 3L, 9.0), ("A", 4L, 11.0),
      ("A", 5L, 12.3), ("A", 6L, 11.7), ("A", 7L, 13.4), ("A", 8L, 9.1)))
    val batch = StreamOps.pageCusumOf(df, "event_type", "ts", "event_id", "value")
      .collect().map(r => r.getLong(2) ->
        ((r.getDouble(4), r.getDouble(5), r.getBoolean(6)))).toMap
    // the deployment shape: the reference period fixes (μ, k, h) offline
    // (μ=10, σ=1 here) and the stream replays only the monitored rows
    val monitored = Seq((5L, 12.3), (6L, 11.7), (7L, 13.4), (8L, 9.1))
      .map { case (i, v) => BollEvent("A", i, cusumTs(i.toInt), v) }
    val input = MemoryStream[BollEvent]
    val q = StreamOps.streamingCusum(input.toDS(), target = 10.0, slack = 0.5, h = 4.0)
      .writeStream.format("memory").queryName("st11_twin_out").outputMode("append").start()
    try {
      monitored.grouped(2).foreach { b => input.addData(b.toIndexedSeq); q.processAllAvailable() }
      val stream = spark.table("st11_twin_out").as[CusumOut].collect()
        .map(o => o.event_id -> ((o.s_pos, o.s_neg, o.alarm))).toMap
      assert(stream == batch, s"batch == stream bit-for-bit: $stream vs $batch")
    } finally q.stop()
  }

  // ------------------------------------------------ s25 index drift

  private def vecRow(id: Long, v: Seq[Double]): (Long, Seq[Double]) = (id, v)

  test("indexDriftOf: occupancy collapse onto one cell pushes PSI past the " +
    "0.25 retrain bar; counts and cells exact") {
    import spark.implicits._
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val b = Seq(0.0, 1.0, 0.0, 0.0)
    val idx = Seq(0L -> a, 4L -> a, 8L -> a, 12L -> a,
      2L -> b, 6L -> b, 10L -> b, 14L -> b)
      .map { case (i, v) => (i, v) }.toDF("vec_id", "v")
    val newb = Seq(1L, 3L, 5L, 7L).map(i => (i, Seq(0.9, 0.1, 0.0, 0.0)))
      .toDF("vec_id", "v")
    val out = graft.ops.SimOps.indexDriftOf(idx, newb, "vec_id", "v",
      dims = 4, k = 2, iters = 1).orderBy("cluster").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 2L), "cells are the trained centroid ids")
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((4L, 4L), (4L, 0L)),
      "even occupancy at index time; the whole batch lands in cell 0")
    val psi = out.head.getDouble(6)
    assert(psi > 0.25, s"occupancy collapse must cross the retrain bar, got $psi")
    assert(out.forall(r => r.getDouble(7) >= 0.0 && r.getDouble(8) >= 0.0),
      "quantization costs are non-negative")
  }

  // ---------------------------------------------- st12 CMS landing

  test("st12: CMS merge law (cell-wise add) holds exactly through the store, " +
    "replaying a landing is idempotent, and estimates dominate exacts") {
    import spark.implicits._
    import graft.sinks.SketchStore
    import graft.streaming.StreamOps
    val docs = Seq((0L, "alpha beta alpha"), (1L, "beta gamma beta"),
      (2L, "alpha delta"), (3L, "gamma gamma alpha")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_cms_spec_").toString
    try {
      (0 until 2).foreach { tk =>
        StreamOps.termSketchTick(spark, s"$base/cms",
          docs.filter(col("doc_id") % 2 === tk), "text", 4, 64, tk.toLong)
      }
      def cells(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val merged = cells(SketchStore.mergedCms(spark, s"$base/cms"))
      val oneShot = cells(SketchStore.cmsState(docs, "text", 4, 64))
      assert(merged == oneShot, "merge(state(A), state(B)) == state(A ⊎ B) row-for-row")
      // idempotent replay: re-land landing 0 (a Structured Streaming retry)
      StreamOps.termSketchTick(spark, s"$base/cms",
        docs.filter(col("doc_id") % 2 === 0), "text", 4, 64, 0L)
      assert(cells(SketchStore.mergedCms(spark, s"$base/cms")) == oneShot,
        "replaying a landing must not change merged state")
      val watch = docs.select(explode(graft.F.words(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n_exact"))
      val rep = StreamOps.termSketchReport(spark, s"$base/cms", watch, 4, 64).collect()
      assert(rep.nonEmpty && rep.forall(r => r.getLong(2) >= r.getLong(1)),
        "CMS collisions only ADD: n_est >= n_exact on every row")
      assert(rep.forall(_.getLong(4) == merged.size), "cells_used is the merged cell count")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("streamingTermSketch: a stream of micro-batches lands the same merged " +
    "state as the one-shot sketch (merge law live)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{DocEvent, StreamOps}
    import graft.sinks.SketchStore
    implicit val sql = spark.sqlContext
    val all = Seq(DocEvent(0L, "alpha beta alpha"), DocEvent(1L, "beta gamma beta"),
      DocEvent(2L, "alpha delta"), DocEvent(3L, "gamma gamma alpha"))
    val base = java.nio.file.Files.createTempDirectory("graft_cms_stream_").toString
    val input = MemoryStream[DocEvent]
    val q = StreamOps.streamingTermSketch(spark, input.toDF(),
      s"$base/cms", s"$base/ckpt", "text", 4, 64)
    try {
      all.grouped(2).foreach { b => input.addData(b.toIndexedSeq); q.processAllAvailable() }
      val merged = SketchStore.mergedCms(spark, s"$base/cms")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val oneShot = SketchStore.cmsState(all.toDF(), "text", 4, 64)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(merged == oneShot, "stream-of-micro-batches == one-shot sketch")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  // ------------------------------------------------------- m13 VAD

  test("vadProfileOf: closed-form run structure on a planted PCM-8 payload; " +
    "all-silent payloads keep null trims") {
    import spark.implicits._
    // bytes: 128,128,128 (silent x3) | 200,200 (active x2) | 128,128
    // (silent x2) | 50 (active x1)  -> 4 runs, trim [3, 7], ratio 3/8
    val planted = Array[Byte](0x80.toByte, 0x80.toByte, 0x80.toByte,
      200.toByte, 200.toByte, 0x80.toByte, 0x80.toByte, 50.toByte)
    val quiet = Array[Byte](0x80.toByte, 0x81.toByte, 0x7F.toByte)
    val df = Seq((1L, planted), (2L, quiet)).toDF("doc_id", "payload")
    val out = graft.Graft.vadProfile(df, "doc_id", "payload").orderBy("doc_id")
      .collect()
    val p = out(0)
    assert((p.getLong(1), p.getLong(2), p.getLong(3), p.getLong(4)) == ((8L, 4L, 2L, 3L)),
      s"n_bytes/n_runs/n_active_runs/active_bytes: $p")
    assert((p.getLong(5), p.getLong(6)) == ((2L, 3L)), "longest active burst 2, silence 3")
    assert((p.getLong(7), p.getLong(8)) == ((3L, 7L)), "trim keeps bytes [3, 7]")
    assert(p.getDouble(9) == 3.0 / 8.0, "active ratio is the exact rational")
    val q = out(1)
    assert(q.getLong(3) == 0L && q.isNullAt(7) && q.isNullAt(8) && q.getLong(5) == 0L,
      s"all-silent: zero active runs, null trims, zero longest_active: $q")
  }

  // --------------------------------------------- a10 sketch overlap

  test("sketchOverlapOf: inclusion-exclusion identity holds exactly, the " +
    "union rides the merge law, and a planted 50% overlap lands within 5%") {
    import spark.implicits._
    // A = users 0..999, B = users 500..1499 -> |A∩B| = 500, |A∪B| = 1500
    val a = (0L until 1000L).map(u => ("g", u)).toDF("grp", "user_id")
    val b = (500L until 1500L).map(u => ("g", u)).toDF("grp", "user_id")
    val out = graft.Graft.sketchOverlap(a, b, Seq("grp"), "user_id").collect()
    assert(out.length == 1)
    val r = out.head
    val (estA, estB, estU, estO) =
      (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(estO == estA + estB - estU, "inclusion-exclusion is an arithmetic identity")
    assert(math.abs(estA - 1000.0) / 1000.0 < 0.05, s"side A realized error: $estA")
    assert(math.abs(estU - 1500.0) / 1500.0 < 0.05, s"union realized error: $estU")
    assert(math.abs(estO - 500.0) / 500.0 < 0.15,
      s"overlap carries all three estimates' noise — 15% bar at 500/1500: $estO")
    // the union estimate must equal the sketch of A∪B computed directly
    // (the a09 merge law carried through the estimate — EXACT equality)
    val direct = graft.sinks.SketchStore.hllEstimate(
      graft.sinks.SketchStore.hllState(a.union(b), Seq("grp"), "user_id"), Seq("grp"))
      .collect().head.getDouble(1)
    assert(estU == direct, "merge-law equality through the estimate chain")
  }

  test("sketchOverlapOf: disjoint sides estimate a near-zero overlap") {
    import spark.implicits._
    val a = (0L until 800L).map(u => ("g", u)).toDF("grp", "user_id")
    val b = (10000L until 10800L).map(u => ("g", u)).toDF("grp", "user_id")
    val r = graft.Graft.sketchOverlap(a, b, Seq("grp"), "user_id").collect().head
    val (estU, estO) = (r.getDouble(3), r.getDouble(4))
    assert(math.abs(estO) / estU < 0.05,
      s"disjoint: overlap estimate must vanish relative to the union, got $estO / $estU")
  }

  // ------------------------------------------------------ t25 RAKE

  test("rakeKeywordsOf: closed-form degree/freq scores on a planted doc; " +
    "duplicate phrases collapse with an occurrence count") {
    import spark.implicits._
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    val docs = Seq(
      (1L, "deep learning and deep learning models of fast inference"),
      (2L, "fast inference of fast inference")).toDF("doc_id", "text")
    val out = graft.Graft.rakeKeywords(docs, "doc_id", "text", 3, stops)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // doc 1: deep/learning 2.5 each, models 3.0, fast/inference 2.0 each
    assert(out((1L, 1L)) == (("deep learning models", 3L, 1L, 8.0)))
    assert(out((1L, 2L)) == (("deep learning", 2L, 1L, 5.0)))
    assert(out((1L, 3L)) == (("fast inference", 2L, 1L, 4.0)))
    // doc 2: the same phrase twice -> ONE row, n_occurrences 2
    assert(out((2L, 1L)) == (("fast inference", 2L, 2L, 4.0)))
    assert(!out.contains((2L, 2L)), "duplicate occurrences must collapse")
  }

  test("indexDriftOf: an identically-distributed batch scores PSI exactly 0 " +
    "(add-1 smoothing, integer-derived shares)") {
    import spark.implicits._
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val b = Seq(0.0, 1.0, 0.0, 0.0)
    val idx = Seq(0L -> a, 4L -> a, 2L -> b, 6L -> b).toDF("vec_id", "v")
    val newb = Seq(1L -> a, 5L -> a, 3L -> b, 7L -> b).toDF("vec_id", "v")
    val out = graft.ops.SimOps.indexDriftOf(idx, newb, "vec_id", "v",
      dims = 4, k = 2, iters = 1).collect()
    assert(out.forall(_.getDouble(6) == 0.0),
      s"p == q per cell => every contrib and the total PSI are exactly 0")
    assert(out.forall(r => r.getLong(1) == r.getLong(2)),
      "mirrored occupancy on both sides")
  }
}
