package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Graft
import graft.ops.IngestOps
import graft.sinks.MergeWriter
import graft.sources.{KlineJson, RatesJson}

/** market_analytics: the read side of the ingest store layout. A spot
  * kline store and a perp mark-price/funding store are built through the
  * ingest path (a first load, then two merges); each cycle is one refresh
  * of five queries through the noop sink. */
final class MarketAnalytics(h: Harness) extends Workload {
  private val Symbols = 24
  private val Days = 3
  private val Loads = 2 // merges after the first load
  val minCycles = 2
  override def extraLayerNames: Seq[(String, String)] = Layers.queryNames
  private var gen: KlineGen = _
  private var fgen: FundingGen = _
  private var spotStore, perpStore: KlineStore = _

  private def spark = h.spark

  def setup(dir: String): Unit = {
    if (spotStore != null) Dirs.delete(java.nio.file.Paths.get(spotStore.store).getParent.getParent)
    val total = Days * 1440
    gen = new KlineGen(h.args.seed, Symbols, total - Loads * 240, window = 240, overlap = 60,
      refetchPerTick = 4, lifetimes = s =>
        if (s % 10 == 3) (total / 3, Int.MaxValue) // listed late
        else if (s % 10 == 7) (0, 2 * total / 3) // delisted
        else (0, Int.MaxValue))
    fgen = new FundingGen(gen, stepMinutes = 15)
    spotStore = new KlineStore(h, gen, s"$dir/spot",
      KlineJson.parse(_, "payload", "symbol", "SPOT", "1m", passthrough = Seq("page_seq")),
      KlineJson.dedupKeepLast(_, col("page_seq")), Seq("symbol", "timestamp"), "timestamp",
      gen.landingFile)
    perpStore = new KlineStore(h, gen, s"$dir/perp",
      RatesJson.parseFunding(_, "payload", passthrough = Seq("page_seq")),
      RatesJson.dedupFundingKeepLast(_, col("page_seq")), Seq("symbol", "fundingTime"),
      "fundingTime", fgen.landingFile)
    for (st <- Seq(spotStore, perpStore)) {
      st.firstLoad()
      (1 to Loads).foreach(k => st.tick(st.land(k)._1, countHealed = false))
    }
  }

  private def spotDf: DataFrame = spark.read.parquet(spotStore.store)
    .select(col("symbol"), col("timestamp").as("ts"), col("close").as("spot"))

  private def perpDf: DataFrame = spark.read.parquet(perpStore.store)
    .select(col("symbol"), col("fundingTime").as("ts"), col("fundingRate"), col("markPrice"))

  private def drillSymbol(i: Int): Int = math.floorMod(i * 7 + 3, Symbols)

  /** The five queries, each as (name, frame builder, input rows). */
  private def queries(i: Int): Seq[(String, () => DataFrame, Long)] = {
    val spotRows = oracle.spot.values.map(_.length.toLong).sum
    val perpRows = oracle.perp.values.map(_.length.toLong).sum
    val sym = drillSymbol(i)
    Seq(
      ("report", () => IngestOps.marketReportOf(perpDf, spotDf), spotRows + perpRows),
      ("premium_wma", () => Graft.wma(perpDf.join(spotDf, Seq("symbol", "ts"))
        .withColumn("premium", col("markPrice") / col("spot") - lit(1.0)),
        "symbol", "ts", "ts", "premium", n = 120), spotRows + perpRows),
      ("resample_1h", () => Graft.resampleOhlc(spotDf, "symbol", "ts", "ts", "spot", "hour"),
        spotRows),
      ("list_delist", () => Graft.watermarks(spotDf, "symbol", "ts"), spotRows),
      ("symbol_drilldown", () => drilldown(sym), oracle.spot(sym).length.toLong))
  }

  private def drilldown(sym: Int): DataFrame = {
    val one = MergeWriter.prunedRead(spark, spotStore.store, "symbol", Seq(gen.symbol(sym))).get
      .select(col("symbol"), col("timestamp").as("ts"), col("close").as("spot"))
    Graft.bollinger(Graft.rsi(Graft.wma(one, "symbol", "ts", "ts", "spot", n = 120),
      "symbol", "ts", "ts", "spot", n = 14), "symbol", "ts", "ts", "spot", n = 20, width = 2.0)
  }

  def cycle(i: Int): Unit =
    h.op("tick") {
      for ((q, build, rows) <- queries(i)) h.op("query", rows) {
        val df = h.tracer.span(s"ops.$q.construct")(build())
        h.noop(s"ops.$q.execute", df)
      }
    }

  /** Output columns fingerprinted per query, in the closed form's order. */
  private val outCols = Map(
    "report" -> Seq("symbol", "ts_ms", "ts_cn_ms", "fundingRate", "markPrice", "spot",
      "premium", "wma12", "value_change", "gap_ms"),
    "premium_wma" -> Seq("symbol", "ts", "fundingRate", "markPrice", "spot", "premium", "wma"),
    "resample_1h" -> Seq("symbol", "bucket", "open", "high", "low", "close", "volume", "n_trades"),
    "list_delist" -> Seq("symbol", "watermark", "n"),
    "symbol_drilldown" -> Seq("symbol", "ts", "spot", "wma", "rsi", "mid", "upper", "lower",
      "breakout"))

  private lazy val oracle = new MarketOracle(gen, fgen, Loads)

  def check(): Unit = {
    val last = drillSymbol(0)
    for ((q, build, _) <- queries(0)) {
      val actual = Fingerprint.ofFrame(build().select(outCols(q).map(col): _*))
      val expected = Fingerprint.ofRows(oracle.rows(q, last).iterator)
      h.checks.fingerprint(s"market_analytics.$q", expected, actual)
    }
  }
}

/** Driver-side closed form of the five queries over the generator's final
  * store contents. Each window computation repeats the operator's own
  * arithmetic (running sums and their differences, in row order), so the
  * six-place fingerprints agree with the engine's. */
final class MarketOracle(gen: KlineGen, fgen: FundingGen, loads: Int) {
  private val HourMs = 3600000L

  /** symbol -> (minutes, closes) of the spot store. */
  val spot: Map[Int, Array[(Int, Double)]] = (0 until gen.symbols).map { s =>
    s -> (0 until gen.end(loads)).filter(gen.alive(s, _)).map(m => m -> gen.close(s, m, loads)).toArray
  }.toMap

  /** symbol -> (minute, fundingRate, markPrice) of the perp store. */
  val perp: Map[Int, Array[(Int, Double, Double)]] =
    fgen.storeRows(loads).groupBy(_._1).map { case (s, rs) =>
      s -> rs.map(r => (r._2, r._3, r._4)).sortBy(_._1).toArray
    }

  private def ms(m: Int): Long = gen.openMs(m)
  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Graft.wma: (sxw + (n - rn) * sx) / (n(n+1)/2) from running sums. */
  def wma(v: Array[Double], n: Int): Array[java.lang.Double] = {
    val cxw = new Array[Double](v.length)
    val cx = new Array[Double](v.length)
    var aw, a = 0.0
    v.indices.map { i =>
      val rn = i + 1
      aw = if (i == 0) v(i) * rn else aw + v(i) * rn
      a = if (i == 0) v(i) else a + v(i)
      cxw(i) = aw; cx(i) = a
      val sxw = aw - (if (i - n >= 0) cxw(i - n) else 0.0)
      val sx = a - (if (i - n >= 0) cx(i - n) else 0.0)
      if (rn >= n) java.lang.Double.valueOf((sxw + (n - rn) * sx) / (n * (n + 1) / 2.0)) else null
    }.toArray
  }

  /** Graft.rsi (Cutler's form over running gain/loss sums). */
  def rsi(v: Array[Double], n: Int): Array[java.lang.Double] = {
    val cg = new Array[Double](v.length)
    val cl = new Array[Double](v.length)
    v.indices.map { i =>
      if (i == 0) null
      else {
        val d = v(i) - v(i - 1)
        val g = if (d > 0) d else 0.0
        val l = if (d < 0) -d else 0.0
        cg(i) = if (i == 1) g else cg(i - 1) + g
        cl(i) = if (i == 1) l else cl(i - 1) + l
        val rn = i + 1
        if (rn < n + 1) null
        else {
          val sg = cg(i) - (if (i - n >= 1) cg(i - n) else 0.0)
          val sl = cl(i) - (if (i - n >= 1) cl(i - n) else 0.0)
          java.lang.Double.valueOf(if (sg + sl == 0) 50.0 else 100.0 * sg / (sg + sl))
        }
      }
    }.toArray
  }

  /** Graft.bollinger: (mid, upper, lower, breakout) over the n rows before. */
  def bollinger(v: Array[Double], n: Int, width: Double): Array[Seq[Any]] = {
    val cx = new Array[Double](v.length)
    val cx2 = new Array[Double](v.length)
    v.indices.map { i =>
      cx(i) = if (i == 0) v(i) else cx(i - 1) + v(i)
      cx2(i) = if (i == 0) v(i) * v(i) else cx2(i - 1) + v(i) * v(i)
      def slide(c: Array[Double]) =
        (if (i >= 1) c(i - 1) else 0.0) - (if (i >= n + 1) c(i - n - 1) else 0.0)
      if (i + 1 < n + 1) Seq(null, null, null, null)
      else {
        val sx = slide(cx)
        val sx2 = slide(cx2)
        val mid = sx / n
        val variance = sx2 / n - (sx / n) * (sx / n)
        val sd = if (variance > 0) math.sqrt(variance) else 0.0
        val up = mid + width * sd
        val lo = mid - width * sd
        val breakout: Int = if (v(i) > up) 1 else if (v(i) < lo) -1 else 0
        Seq[Any](mid, up, lo, breakout)
      }
    }.toArray
  }

  def rows(q: String, drill: Int): Seq[Seq[Any]] = q match {
    case "list_delist" =>
      spot.toSeq.filter(_._2.nonEmpty).map { case (s, bars) =>
        Seq(gen.symbol(s), ms(bars.last._1), bars.length.toLong)
      }
    case "resample_1h" =>
      spot.toSeq.flatMap { case (s, bars) =>
        bars.groupBy(_._1 / 60).toSeq.map { case (hr, bs) =>
          val c = bs.sortBy(_._1).map(_._2)
          Seq(gen.symbol(s), gen.T0 + hr * HourMs, c.head, c.max, c.min, c.last, c.sum, c.length.toLong)
        }
      }
    case "premium_wma" =>
      perp.toSeq.flatMap { case (s, ps) =>
        val close = spot(s).toMap
        val joined = ps.filter(p => close.contains(p._1))
        val prem = joined.map(p => p._3 / close(p._1) - 1.0)
        val w = wma(prem, 120)
        joined.indices.map { i =>
          val p = joined(i)
          Seq(gen.symbol(s), ms(p._1), p._2, p._3, close(p._1), prem(i), w(i))
        }
      }
    case "symbol_drilldown" =>
      val bars = spot(drill)
      val v = bars.map(_._2)
      val (w, r, b) = (wma(v, 120), rsi(v, 14), bollinger(v, 20, 2.0))
      bars.indices.map(i => Seq(gen.symbol(drill), ms(bars(i)._1), v(i), w(i), r(i)) ++ b(i))
    case "report" =>
      val cands = perp.toSeq.flatMap { case (s, ps) =>
        val sp = spot(s)
        // as-of: the latest spot bar at or before each perp row
        var j = -1
        val aligned = ps.flatMap { p =>
          while (j + 1 < sp.length && sp(j + 1)._1 <= p._1) j += 1
          if (j >= 0 && sp(j)._2 != 0.0) Some((p, sp(j)._2)) else None
        }
        val prem = aligned.map { case (p, x) => p._3 / x - 1.0 }
        val w = wma(prem, 12)
        val changed = aligned.indices.filter(i => i >= 5 && math.abs(prem(i) - prem(i - 5)) > 2.0)
        var prev = -1L
        changed.flatMap { i =>
          val t = ms(aligned(i)._1._1)
          val gap: java.lang.Long = if (prev < 0) null else java.lang.Long.valueOf(t - prev)
          prev = t
          if (gap == null || gap > HourMs) {
            val (p, x) = aligned(i)
            Some(Seq(gen.symbol(s), t, t + 8 * HourMs, p._2, p._3, x, r6(prem(i)),
              if (w(i) == null) null else r6(w(i)), r6(prem(i) - prem(i - 5)), gap))
          } else None
        }
      }
      cands.sortBy(r => (-r(1).asInstanceOf[Long], r(0).asInstanceOf[String])).take(20)
  }
}
