package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Round-13 contract pins: st07 native session windows (stream ==
  * batch, the exact-gap rule), s22 MMR diversity, m10 signal quality,
  * t23 perplexity buckets, s23 PQ refine recall, the q96–q99 risk
  * statistics on closed-form inputs, and the p06 export pipeline's
  * stage wiring. */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new java.sql.Timestamp(1700000000000L + minute * 60000L)

  test("st07 native session_window: streaming (watermark + append sink) == batch") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ev]
    // user 1: events at 0/5 min (one session), then 125 (a second);
    // user 2: 61/62 (one); user 3: 126 (one) — 5 sessions total
    val rows = Seq(
      Ev(1, 1, "click", ts(0), 1.0), Ev(2, 1, "click", ts(5), 2.0),
      Ev(3, 2, "view", ts(61), 3.0), Ev(4, 2, "view", ts(62), 4.0),
      Ev(5, 1, "click", ts(125), 5.0), Ev(6, 3, "purchase", ts(126), 6.0))
    val q = streaming.StreamOps.sessionAgg(
        input.toDF().withWatermark("ts", "2 hours"))
      .writeStream.format("memory").queryName("st07_out").outputMode("append").start()
    try {
      input.addData(rows.take(3)); q.processAllAvailable()
      input.addData(rows.drop(3)); q.processAllAvailable()
      // sentinel far in the future flushes every real session; its own
      // session stays pending and never emits in append mode
      input.addData(Seq(Ev(999, 9, "flush", ts(100000), 0.0)))
      q.processAllAvailable()
      val out = streaming.StreamOps.sessionAggOut(spark.table("st07_out"))
        .orderBy("user_id", "start_ms").collect().toSeq
      val batch = streaming.StreamOps.sessionAggOut(
          streaming.StreamOps.sessionAgg(rows.toDF()))
        .orderBy("user_id", "start_ms").collect().toSeq
      assert(out == batch)
      assert(batch.size == 4, s"expected 4 sessions, got $batch")
    } finally q.stop()
  }

  test("st07 merges at exactly gap (session_window splits strictly > gap, q14's rule)") {
    // two events exactly 30 min apart: the second lands ON the open
    // session's end and MERGES — one session ending 30 min after it
    val rows = Seq(Ev(1, 1, "a", ts(0), 1.0), Ev(2, 1, "a", ts(30), 2.0))
    val out = streaming.StreamOps.sessionAggOut(
        streaming.StreamOps.sessionAgg(rows.toDF()))
      .orderBy("start_ms").collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_events") == 2L)
    assert(out(0).getAs[Long]("end_ms") == ts(60).getTime)
  }

  test("s22 MMR: selected set is less self-similar than plain top-k, rel order sane") {
    val dir = "/root/testdata/sf0.001"
    val mmr = SparkEntry.queries("s22_mmr_diversify")(spark, dir)
      .select("q_id", "round", "vec_id", "rel").collect()
    assert(mmr.length == 50)
    // round 1 is the pure-relevance argmax == brute rank 1
    val brute = SparkEntry.queries("s01_knn_bruteforce")(spark, dir)
      .filter(col("rank") === 1).select("q_id", "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    mmr.filter(_.getLong(1) == 1L).foreach { r =>
      assert(brute(r.getLong(0)) == r.getLong(2), s"round-1 pick must be top-1: $r")
    }
    // diversification: mean pairwise cosine among the 10 selected is
    // strictly below that of the brute top-10, for at least one query
    // (and never above for any query by more than noise)
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    def meanPairSim(sets: Map[Long, Seq[Long]]): Map[Long, Double] = {
      val vs = all.filter(col("vec_id").isin(sets.values.flatten.toSeq.distinct: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      sets.map { case (q, ids) =>
        val ps = for { a <- ids; b <- ids if a < b } yield {
          val (x, y) = (vs(a), vs(b))
          val dot = x.zip(y).map { case (p, r) => p * r }.sum
          dot / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
        }
        q -> ps.sum / ps.size
      }
    }
    val mmrSets = mmr.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSeq }
    val bruteSets = SparkEntry.queries("s01_knn_bruteforce")(spark, dir)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    val (ms, bs) = (meanPairSim(mmrSets), meanPairSim(bruteSets))
    assert(ms.keys.forall(q => ms(q) <= bs(q) + 1e-9),
      s"MMR must never be MORE self-similar: $ms vs $bs")
    assert(ms.exists { case (q, v) => v < bs(q) - 1e-6 },
      s"MMR must diversify at least one query: $ms vs $bs")
  }

  test("m10 signal quality: silence run, clipping, and verdict on crafted payloads") {
    // doc 1: 40-byte digital silence (one run of 'aaaa…') → fails maxRun
    // doc 2: alternating 0x00/0xFF → max clip ratio, passes
    // doc 3: normal text → passes, short runs
    val rows = Seq(
      (1L, "a" * 40), (2L, new String(Array.fill(20)(Array(0.toChar, 255.toChar)).flatten)),
      (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val out = ops.MultiOps.signalQualityOf(
        rows.withColumn("payload", col("text").cast("binary")), "doc_id", "payload")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("longest_run") == 40L)
    assert(!out(0).getAs[Boolean]("passed"))
    assert(out(0).getAs[Long]("dyn_range") == 0L)
    // doc 2: 0xFF encodes as multi-byte UTF-8 (ÿ → C3 BF), so just pin
    // the structural facts: every byte is at an extreme of a 3-value
    // alphabet {00, C3, BF} and runs stay short
    assert(out(1).getAs[Long]("longest_run") <= 2L)
    assert(out(2).getAs[Boolean]("passed"))
    assert(out(2).getAs[Long]("longest_run") <= 3L)
    assert(math.abs(out(2).getAs[Double]("dc_offset")) < 60.0)
  }

  test("t23 ppl buckets: per-lang terciles are balanced and ordered by ppl") {
    val out = SparkEntry.queries("t23_ppl_buckets")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val byLang = out.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rs) =>
      val n = rs.length
      val counts = rs.groupBy(_.getAs[String]("bucket")).view.mapValues(_.length).toMap
      // integer tercile rule: head = floor(n/3), middle = floor(2n/3) - floor(n/3)
      assert(counts.getOrElse("head", 0) == n / 3, s"$lang head: $counts n=$n")
      assert(counts.getOrElse("middle", 0) == 2 * n / 3 - n / 3, s"$lang middle: $counts")
      // every head ppl <= every tail ppl within the language
      val hd = rs.filter(_.getAs[String]("bucket") == "head").map(_.getAs[Double]("ppl"))
      val tl = rs.filter(_.getAs[String]("bucket") == "tail").map(_.getAs[Double]("ppl"))
      if (hd.nonEmpty && tl.nonEmpty)
        assert(hd.max <= tl.min, s"$lang: head max ${hd.max} > tail min ${tl.min}")
    }
  }

  private def hourTs(h: Int) = new java.sql.Timestamp(1700000000000L - 1700000000000L % 86400000L + h * 3600000L)

  test("s23 refine: recall@10 vs brute is >= plain PQ, never below") {
    val dir = "/root/testdata/sf0.001"
    def sets(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val brute = sets("s01_knn_bruteforce")
    val pq = sets("s06_ann_pq")
    val ref = sets("s23_pq_refine")
    def recall(ann: Map[Long, Set[Long]]): Double =
      brute.keys.map(q => ann(q).intersect(brute(q)).size.toDouble / brute(q).size)
        .sum / brute.size
    val (rp, rr) = (recall(pq), recall(ref))
    assert(rr >= rp, s"refine must not lose recall: pq=$rp refined=$rr")
    // the refined set is drawn from 4x candidates re-ranked exactly, so
    // with quantization error present it should strictly improve here
    assert(rr > rp, s"expected a strict recall gain on this corpus: $rp -> $rr")
  }

  test("q96 jumpTest: flat day is exact zeros; one jump in diffusion flags jump_day") {
    // series F: constant closes → rv = bv = 0, rj null (no jump_day verdict)
    val flat = (0 until 10).map(h => ("F", hourTs(h), 100.0))
    // series J: ±0.1% wiggle with one +50% print at bar 5 — rv gets the
    // jump squared, bv only two cross terms with tiny neighbours
    val wiggle = Seq(100.0, 100.1, 100.0, 100.1, 100.0, 150.0, 150.1, 150.0, 150.1, 150.0)
    val jump = wiggle.zipWithIndex.map { case (c, h) => ("J", hourTs(h), c) }
    val out = ops.EconOps.jumpTestOf((flat ++ jump).toDF("series", "ts", "close"),
        "series", "ts", "close")
      .collect().map(r => r.getString(0) -> r).toMap
    val f = out("F")
    assert(f.getDouble(3) == 0.0 && f.getDouble(4) == 0.0 && f.getDouble(5) == 0.0)
    assert(f.isNullAt(6) && f.isNullAt(7)) // rj, jump_day undefined on zero rv
    val j = out("J")
    assert(j.getDouble(3) > j.getDouble(4), "rv must exceed jump-robust bv")
    assert(j.getDouble(6) > 0.9, s"jump dominates: rj=${j.getDouble(6)}")
    assert(j.getBoolean(7), "jump_day must fire")
  }

  test("q97 varBacktest: identical halves calibrate (no reject); volatile live half rejects") {
    def prices(rets: Seq[Double]): Seq[Double] =
      rets.scanLeft(100.0)((p, r) => p * (1.0 + r))
    // calibrated: the same 20-return multiset in both halves → observed
    // exceedance rate == alpha exactly → LR ≈ 0
    val base = (0 until 20).map(i => (i - 10) * 0.002)
    val calm = prices(base ++ base).zipWithIndex.map { case (c, h) => ("C", hourTs(h), c) }
    // broken: small positive estimation returns (varied — a degenerate
    // all-equal half puts EVERY r ≤ var_a), then half the live returns
    // crash 5%
    val est = (0 until 20).map(i => (i + 1) * 0.0005)
    val live = (0 until 20).map(i => if (i % 2 == 0) -0.05 else 0.01)
    val wild = prices(est ++ live).zipWithIndex.map { case (c, h) => ("W", hourTs(h), c) }
    val out = ops.FinOps.varBacktestOf((calm ++ wild).toDF("series", "ts", "close"),
        "series", "ts", "close", alpha = 0.05)
      .collect().map(r => r.getString(0) -> r).toMap
    val c = out("C")
    assert(c.getLong(1) == 20L && c.getLong(3) == 20L)
    assert(c.getDouble(5) == 0.05, s"rate=${c.getDouble(5)}") // 1 of 20
    assert(!c.getBoolean(7), s"calibrated VaR must not reject: lr=${c.getDouble(6)}")
    val w = out("W")
    assert(w.getDouble(5) == 0.5 && w.getBoolean(7), "10/20 breaches must reject")
  }

  test("q98 csSpread: flat bars give zero spread; constant-range bars match the closed form") {
    // series F: H == L (no range) → beta = gamma = 0 → alpha 0 → s = 0
    val flat = (0 until 6).map(h => ("F", hourTs(h), 100.0, 100.0))
    // series R: every bar H=102, L=100 at the same level → beta = 2·ln(1.02)²,
    // gamma = ln(1.02)² (the span has the same extremes)
    val range = (0 until 6).map(h => ("R", hourTs(h), 102.0, 100.0))
    val out = ops.EconOps.csSpreadOf((flat ++ range).toDF("series", "ts", "high", "low"),
        "series", "ts", "high", "low")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("F").getDouble(3) == 0.0)
    val l = math.log(1.02)
    val c = 3.0 - 2.0 * math.sqrt(2.0)
    val beta = 2.0 * l * l
    val alpha = (math.sqrt(2.0 * beta) - math.sqrt(beta)) / c - math.sqrt(l * l / c)
    val sExp = math.max(2.0 * (math.exp(alpha) - 1.0) / (math.exp(alpha) + 1.0), 0.0)
    assert(out("R").getLong(2) == 5L)
    assert(math.abs(out("R").getDouble(3) - sExp) < 1e-12,
      s"got ${out("R").getDouble(3)}, want $sExp")
  }

  test("q99 riskRatios: alternating ±1% days give the closed-form mean/std/maxdd and null-free ratios") {
    def dayTs(d: Int) = new java.sql.Timestamp(1700000000000L - 1700000000000L % 86400000L + d * 86400000L)
    // closes: alternate ×1.01, ×0.99 for 10 returns
    val closes = (0 until 11).scanLeft(100.0) { (p, i) =>
      if (i % 2 == 0) p * 1.01 else p * 0.99 }.tail.take(11)
    val bars = closes.zipWithIndex.map { case (c, d) => ("A", dayTs(d), c) }
    val out = ops.FinOps.riskRatiosOf(bars.toDF("series", "ts", "close"),
      "series", "ts", "close").collect()
    assert(out.length == 1)
    val r = out(0)
    val rets = closes.zip(closes.tail).map { case (a, b) => b / a - 1.0 }
    val n = rets.size
    val mean = rets.sum / n
    val varS = rets.map(x => (x - mean) * (x - mean)).sum / (n - 1)
    assert(r.getLong(1) == n)
    assert(math.abs(r.getDouble(2) - mean) < 1e-12)
    assert(math.abs(r.getDouble(3) - math.sqrt(varS)) < 1e-9)
    // expected maxdd from the close path itself (the net drift is DOWN —
    // 1.01·0.99 < 1 — so the trough deepens each cycle past the first peak)
    val expDd = closes.scanLeft(0.0)(math.max).tail.zip(closes)
      .map { case (pk, c) => 1.0 - c / pk }.max
    assert(math.abs(r.getDouble(7) - expDd) < 1e-12, s"maxdd=${r.getDouble(7)} want $expDd")
    // sharpe/sortino/calmar all defined on this series
    assert(!r.isNullAt(5) && !r.isNullAt(6) && !r.isNullAt(8))
  }

  test("p06 export pipeline: stage wiring (bench excluded, quality gate, budgets, dense shard pos)") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("p06_export_pipeline")(spark, dir).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // bench docs (doc_id % 11 == 0) never exported; quality gate holds
    assert(rows.forall(r => r.getLong(0) % 11 != 0))
    assert(rows.forall(_.getLong(2) >= 20))
    // decontamination: no exported doc shares an 8-gram with the bench slice
    val docs = Tables.t(spark, dir, "documents")
    val flagged = ops.DataOps.decontaminateOf(
        docs.filter(pmod(col("doc_id"), lit(11L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(11L)) === 0), "doc_id", "text", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(rows.forall(r => !flagged(r.getLong(0))))
    // mixture budgets: per source, total ≤ budget + the largest pick
    val budgets = (0 until 20).map(i => s"src$i" -> (300L + 150L * (i % 4))).toMap
    rows.groupBy(_.getString(1)).foreach { case (src, rs) =>
      val tot = rs.map(_.getLong(2)).sum
      assert(tot < budgets(src) + rs.map(_.getLong(2)).max,
        s"$src over budget: $tot vs ${budgets(src)}")
    }
    // export shuffle: pos is dense 0..count-1 within every shard
    rows.groupBy(_.getInt(4)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(5)).sorted.toSeq == (0L until rs.length).toSeq)
    }
    out.unpersist()
  }
}
