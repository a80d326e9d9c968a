package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoints
import graft.sinks.{IncrementalPipeline, MergeWriter}
import graft.sources.KlineJson

/** A landing-to-store ingest loop over one symbol-partitioned store, the
  * public call sequence of graft's streaming ingest micro-batch:
  * watermark, read pages → KlineJson.parse → dedupKeepLast →
  * Checkpoints.stabilize, MergeWriter.merge, MergeWriter.compact over the
  * impacted partitions, Checkpoints.free. */
final class KlineStore(h: Harness, val gen: KlineGen, dir: String,
                       parse: DataFrame => DataFrame, dedup: DataFrame => DataFrame,
                       keys: Seq[String], tsCol: String,
                       landing: Int => (String, Int)) {
  private def spark: SparkSession = h.spark
  private def t = h.tracer
  val store = s"$dir/store"
  var landed = -1

  /** Write landing `k`'s page file; returns (its directory, bar rows). */
  def land(k: Int): (String, Int) = {
    val (text, rows) = landing(k)
    val d = Paths.get(dir, "landing", k.toString)
    Files.createDirectories(d)
    Files.write(d.resolve("pages.json"), text.getBytes("UTF-8"))
    (d.toString, rows)
  }

  /** Parse + keep-last heal of one landing, stabilized; with `count`,
    * also the healed row count (else -1). */
  def heal(landingDir: String, count: Boolean = false): (DataFrame, Long) =
    t.span("sources.heal") {
      val raw = spark.read.schema("symbol STRING, page_seq LONG, payload STRING").json(landingDir)
      val delta = Checkpoints.stabilize(dedup(parse(raw)))
      (delta, if (count) delta.count() else -1L)
    }

  def firstLoad(): Unit = {
    val (delta, _) = heal(land(0)._1)
    try delta.write.mode("overwrite").partitionBy("symbol").parquet(store)
    finally Checkpoints.free(delta)
    landed = 0
  }

  /** One ingest tick over landing `k` (already landed in `d`). Returns
    * (watermark before the tick, healed rows or -1, impacted, rewritten). */
  def tick(d: String, countHealed: Boolean): (Option[java.sql.Timestamp], Long, Int, Int) = {
    val wm = t.span("sinks.watermark")(IncrementalPipeline.watermark(spark, store, tsCol))
    val (delta, healed) = heal(d, countHealed)
    try {
      t.span("sinks.merge")(MergeWriter.merge(spark, store, delta, keys, "symbol"))
      val (impacted, rewritten) = t.span("sinks.compact") {
        val imp = delta.select(col("symbol")).distinct().collect().map(_.get(0)).toSeq
        (imp, MergeWriter.compact(spark, store, "symbol", onlyValues = Some(imp)))
      }
      landed += 1
      (wm, healed, impacted.size, rewritten.size)
    } finally Checkpoints.free(delta)
  }

  /** (parquet files, bytes) of the store. */
  def files(): (Long, Long) = {
    val fs = Files.walk(Paths.get(store))
    try {
      val ps = fs.iterator()
      var n, b = 0L
      while (ps.hasNext) {
        val p = ps.next()
        if (p.getFileName.toString.endsWith(".parquet")) { n += 1; b += Files.size(p) }
      }
      (n, b)
    } finally fs.close()
  }
}

/** kline_ingest: the paper's incremental ingest loop, and it writes. */
final class KlineIngest(h: Harness) extends Workload {
  private val Symbols = 24
  private val Days = 3
  val minCycles = 4
  /** Reads per tick: a single 0.2 s read per tick gave too few samples for
    * a steady median. */
  private val FreshReads = 3
  private var ks: KlineStore = _
  private val perCycle = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()

  private def spot(gen: KlineGen, dir: String) = new KlineStore(h, gen, dir,
    KlineJson.parse(_, "payload", "symbol", "SPOT", "1m", passthrough = Seq("page_seq")),
    KlineJson.dedupKeepLast(_, col("page_seq")), Seq("symbol", "timestamp"), "timestamp",
    gen.landingFile)

  def setup(dir: String): Unit = {
    if (ks != null) Dirs.delete(Paths.get(ks.store).getParent)
    val gen = new KlineGen(h.args.seed, Symbols, Days * 1440, window = 60, overlap = 30,
      refetchPerTick = 5)
    ks = spot(gen, dir)
    ks.firstLoad()
  }

  def cycle(i: Int): Unit = {
    val k = ks.landed + 1
    val (d, rows) = ks.land(k)
    val trace = h.tracer.enabled
    val before = if (trace) ks.files() else (0L, 0L)
    val storeRows = Symbols * ks.gen.end(k - 1)
    h.op("tick", rows)(ks.tick(d, countHealed = trace)).foreach { case (wm, healed, imp, rew) =>
      val want = ks.gen.openMs(ks.gen.end(k - 1) - 1)
      h.opCheck("kline_ingest.watermark", wm.exists(_.getTime == want), s"$wm vs $want")
      if (trace && h.timing) perCycle += Map(
        "sources.heal.rows_in" -> rows.toDouble, "sources.heal.rows_out" -> healed.toDouble,
        "sinks.merge.partitions_rewritten" -> imp.toDouble,
        "sinks.compact.partitions_rewritten" -> rew.toDouble,
        "__delta_store_bytes" -> healed.toDouble * before._2 / storeRows)
    }
    for (j <- 0 until FreshReads) freshRead(k, math.floorMod(k * 7 + j * 11, Symbols))
  }

  /** Read one symbol's partition back after landing `k`: row count, last
    * bar and close sum, checked against the closed form. */
  private def freshRead(k: Int, s: Int): Unit =
    h.op("query") {
      h.tracer.span("sinks.fresh_read") {
        MergeWriter.prunedRead(h.spark, ks.store, "symbol", Seq(ks.gen.symbol(s))).get
          .agg(count(lit(1)), max(col("timestamp")), sum(col("close"))).collect()(0)
      }
    }.foreach { r =>
      val ms = 0 until ks.gen.end(k)
      val n = ms.size.toLong
      val last = ks.gen.openMs(ms.last)
      val sumClose = ms.map(m => ks.gen.close(s, m, k)).sum
      h.opCheck("kline_ingest.fresh_read",
        r.getLong(0) == n && r.getTimestamp(1).getTime == last &&
          math.abs(r.getDouble(2) - sumClose) < 1e-6 * math.abs(sumClose),
        s"$r vs ($n, $last, $sumClose)")
    }

  def check(): Unit = {
    val actual = Fingerprint.ofFrame(h.spark.read.parquet(ks.store)
      .select(KlineJson.columns.map(col): _*))
    val expected = Fingerprint.ofRows(ks.gen.storeRows(ks.landed))
    h.checks.expectEq[Long]("kline_ingest.store_rows", expected.rows, actual.rows, _ + 1)
    h.checks.fingerprint("kline_ingest.store_checksum", expected, actual)
  }

  override def layerMetrics(firstN: Tracer#Span => Boolean): Map[String, Double] = {
    val first = perCycle.take(minCycles)
    def mean(k: String) = first.map(_(k)).sum / first.size
    val merged = h.tracer.named("sinks.merge").filter(firstN)
      .map(s => h.tracer.counters(s).output.toDouble).sum
    val (files, bytes) = ks.files()
    val rows = Symbols * ks.gen.end(ks.landed)
    Map("sources.heal.rows_in" -> mean("sources.heal.rows_in"),
      "sources.heal.rows_out" -> mean("sources.heal.rows_out"),
      "sinks.merge.partitions_rewritten" -> mean("sinks.merge.partitions_rewritten"),
      "sinks.compact.partitions_rewritten" -> mean("sinks.compact.partitions_rewritten"),
      "sinks.merge.write_amp" -> merged / first.map(_("__delta_store_bytes")).sum,
      "sinks.store.files" -> files.toDouble,
      "sinks.store.bytes_per_row" -> bytes.toDouble / rows)
  }
}
