package graftbench

/** Counter-based deterministic randomness: every generated value is a pure
  * function of (seed, stream, coordinates), so inputs are identical for a
  * seed whatever order they are produced in, and the expected final state
  * of a store has a closed form. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def h(seed: Long, xs: Long*): Long = xs.foldLeft(mix(seed))((acc, x) => mix(acc ^ x))

  /** Uniform in [0, n). */
  def below(n: Long, seed: Long, xs: Long*): Long = java.lang.Math.floorMod(h(seed, xs: _*), n)

  /** Fixed-point decimal text of `v / 10^scale`, e.g. dec(12345, 2) = "123.45". */
  def dec(v: Long, scale: Int): String = {
    val neg = v < 0
    val a = math.abs(v)
    val p = math.pow(10, scale).toLong
    val frac = (a % p).toString
    (if (neg) "-" else "") + (a / p) + "." + ("0" * (scale - frac.length)) + frac
  }
}

/** Binance-shaped 1-minute klines for a symbol universe, with a landing
  * schedule: landing 0 is a first load of `initialMinutes` per symbol;
  * landing t >= 1 fetches the next `window` minutes plus an `overlap` of
  * already-stored minutes, and for `refetchPerTick` symbols a second page
  * (higher page_seq) re-fetches the overlap again. A page fetched at
  * landing t carries revision 2t (the re-fetch 2t+1); about a quarter of
  * the bars change value between revisions, so the overlap revises some
  * stored bars, and keep-last must pick the re-fetch within a landing and
  * the newest landing across landings. */
final class KlineGen(val seed: Long, val symbols: Int, val initialMinutes: Int,
                     val window: Int, val overlap: Int, val refetchPerTick: Int,
                     val lifetimes: Int => (Int, Int) = _ => (0, Int.MaxValue)) {
  import Rng._
  val T0 = 1704067200000L // 2024-01-01T00:00Z
  val MinuteMs = 60000L

  def symbol(s: Int): String = f"S$s%03dUSDT"

  def start(t: Int): Int = if (t == 0) 0 else initialMinutes + (t - 1) * window - overlap
  def end(t: Int): Int = if (t == 0) initialMinutes else initialMinutes + t * window

  def refetched(t: Int): Set[Int] =
    if (t == 0) Set.empty
    else (0 until symbols).sortBy(s => h(seed, 31, t, s)).take(refetchPerTick).toSet

  def alive(s: Int, m: Int): Boolean = { val (a, b) = lifetimes(s); m >= a && m < b }

  /** Minutes a page of landing t for symbol s covers (page 2 = re-fetch). */
  def pageMinutes(t: Int, s: Int, page: Int): Range =
    if (page == 1) start(t) until end(t) else start(t) until (start(t) + overlap)

  def base(s: Int, m: Int): Long = {
    val p0 = 1000L + below(9000000L, seed, 1, s)
    math.max(100L, math.round(p0 * (1.0 + 0.03 * StrictMath.sin(2 * math.Pi * m / (600.0 + 37 * s)))))
  }

  private def noise(s: Int, m: Int, stream: Int, b: Long): Long = {
    val spread = math.max(1L, b / 500)
    below(2 * spread + 1, seed, stream, s, m) - spread
  }

  /** The bar values (as fixed-point longs) of (s, m) at revision rev:
    * open, high, low, close (cents), volume (1e-3), quote volume (1e-4),
    * trades, taker buy volume (1e-3), taker buy quote volume (1e-4). */
  def bar(s: Int, m: Int, rev: Int): Array[Long] = {
    val b = base(s, m)
    val bump = if (rev > 0 && below(4, seed, 3, s, m, rev) == 0) 1 + below(9, seed, 4, s, m, rev) else 0L
    val close = b + noise(s, m, 2, b) + bump
    val open = b + noise(s, m, 5, b)
    val high = math.max(open, close) + math.abs(noise(s, m, 6, b))
    val low = math.max(1L, math.min(open, close) - math.abs(noise(s, m, 7, b)))
    val vol = 1000L + below(5000000L, seed, 8, s, m) + bump * 17
    val qv = below(1000000000L, seed, 9, s, m) + bump
    val trades = 1L + below(5000L, seed, 10, s, m)
    val tbv = below(vol + 1, seed, 11, s, m)
    val tbqv = below(qv + 1, seed, 12, s, m)
    Array(open, high, low, close, vol, qv, trades, tbv, tbqv)
  }

  def openMs(m: Int): Long = T0 + m * MinuteMs

  def barJson(s: Int, m: Int, rev: Int): String = {
    val v = bar(s, m, rev)
    val o = openMs(m)
    s"""[$o,"${dec(v(0), 2)}","${dec(v(1), 2)}","${dec(v(2), 2)}","${dec(v(3), 2)}","${dec(v(4), 3)}",${o + MinuteMs - 1},"${dec(v(5), 4)}",${v(6)},"${dec(v(7), 3)}","${dec(v(8), 4)}","0"]"""
  }

  /** Landing t's pages as (symbol, page_seq, payload, bar count). */
  def pages(t: Int): Seq[(String, Long, String, Int)] = {
    val re = refetched(t)
    for {
      s <- 0 until symbols
      page <- if (re(s)) Seq(1, 2) else Seq(1)
      ms = pageMinutes(t, s, page).filter(alive(s, _))
      if ms.nonEmpty
    } yield (symbol(s), page.toLong, ms.map(barJson(s, _, 2 * t + page - 1)).mkString("[", ",", "]"), ms.size)
  }

  def landingFile(t: Int): (String, Int) = KlineGen.landingFile(pages(t))

  /** Revision of (s, m) in the store after landings 0..t. */
  def finalRev(s: Int, m: Int, t: Int): Int = {
    val last = (t to 0 by -1).find(k => m >= start(k) && m < end(k)).get
    if (refetched(last)(s) && m < start(last) + overlap) 2 * last + 1 else 2 * last
  }

  /** The store after landings 0..t in KlineJson column order. */
  def storeRows(t: Int): Iterator[Seq[Any]] =
    for {
      s <- (0 until symbols).iterator
      m <- (0 until end(t)).iterator if alive(s, m)
    } yield {
      val v = bar(s, m, finalRev(s, m, t))
      val o = openMs(m)
      Seq(symbol(s), "binance", "SPOT", "1m", o, o + MinuteMs - 1,
        v(0) / 100.0, v(1) / 100.0, v(2) / 100.0, v(3) / 100.0, v(4) / 1000.0,
        v(5) / 10000.0, v(7) / 1000.0, v(8) / 10000.0, v(6), 0.0)
    }

  /** Close (as a double) of (s, m) in the store after landings 0..t. */
  def close(s: Int, m: Int, t: Int): Double = bar(s, m, finalRev(s, m, t))(3) / 100.0
}

object KlineGen {
  /** JSON-lines landing file of (symbol, page_seq, payload, rows) pages, in
    * the landing schema of graft's streaming ingest, and its row count. */
  def landingFile(ps: Seq[(String, Long, String, Int)]): (String, Int) =
    (ps.map { case (sym, seq, payload, _) =>
      s"""{"symbol":"$sym","page_seq":$seq,"payload":${Json.str(payload)}}"""
    }.mkString("", "\n", "\n"), ps.map(_._4).sum)
}

/** Perpetual mark-price / funding rows every `stepMinutes`, in the shape of
  * Binance's funding-rate history pages. Mark prices sit a few basis points
  * off the spot base price, with rare spikes that the extreme-event report
  * must surface; revisions re-price some rows by a cent. */
final class FundingGen(val k: KlineGen, val stepMinutes: Int) {
  import Rng._
  import k.seed

  def markCents(s: Int, m: Int, rev: Int): Long = {
    val b = k.base(s, m)
    val spike = below(400, seed, 41, s, m) == 0
    val bps = below(41, seed, 42, s, m) - 20
    val bump = if (rev > 0 && below(4, seed, 43, s, m, rev) == 0) 1L else 0L
    (if (spike) 4 * b else b + b * bps / 10000) + bump
  }

  def rateMicros(s: Int, m: Int): Long = below(801, seed, 44, s, m) - 400

  def rows(t: Int, s: Int, page: Int): Seq[Int] =
    k.pageMinutes(t, s, page).filter(m => m % stepMinutes == 0 && k.alive(s, m))

  def pages(t: Int): Seq[(String, Long, String, Int)] = {
    val re = k.refetched(t)
    for {
      s <- 0 until k.symbols
      page <- if (re(s)) Seq(1, 2) else Seq(1)
      ms = rows(t, s, page)
      if ms.nonEmpty
    } yield {
      val rev = 2 * t + page - 1
      val objs = ms.map { m =>
        s"""{"symbol":"${k.symbol(s)}","fundingTime":${k.openMs(m)},"fundingRate":"${dec(rateMicros(s, m), 6)}","markPrice":"${dec(markCents(s, m, rev), 2)}"}"""
      }
      (k.symbol(s), page.toLong, objs.mkString("[", ",", "]"), ms.size)
    }
  }

  def landingFile(t: Int): (String, Int) = KlineGen.landingFile(pages(t))

  /** (symbol index, minute, fundingRate, markPrice) after landings 0..t. */
  def storeRows(t: Int): Seq[(Int, Int, Double, Double)] =
    for {
      s <- 0 until k.symbols
      m <- 0 until k.end(t) if m % stepMinutes == 0 && k.alive(s, m)
    } yield (s, m, rateMicros(s, m) / 1e6, markCents(s, m, k.finalRev(s, m, t)) / 100.0)
}

/** Clustered 64-dimension vectors: each id draws a cluster centre and adds
  * per-dimension noise, all as multiples of 1e-4. */
final class VectorGen(val seed: Long, val dims: Int = 64, val clusters: Int = 24) {
  import Rng._
  private val centres: Array[Array[Long]] = Array.tabulate(clusters, dims) { (c, d) =>
    below(20001, seed, 51, c, d) - 10000
  }

  /** Vector of `id` in stream `stream` (0 = corpus, 1 = queries). */
  def vec(stream: Int, id: Long): Array[Double] = {
    val c = centres(below(clusters, seed, 52, stream, id).toInt)
    Array.tabulate(dims)(d => (c(d) + below(6001, seed, 53, stream, id, d) - 3000) / 10000.0)
  }
}
