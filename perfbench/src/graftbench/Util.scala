package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order statistics over timing samples. */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between closest
    * ranks (numpy's default); NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of p90/p75 that has at least ten samples above it, as
    * (p, value); None when even p75 lacks them. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10).map(p => p -> percentile(xs, p))
}

/** Order-independent checksum of a row set: row count plus two sums of
  * 31-bit hashes of each row's canonical text. Doubles enter rounded to
  * six places (the DuckDB parity gate's rounding), timestamps as epoch
  * milliseconds (the same text as a Long of milliseconds), so an engine
  * result and a driver-side closed form that agree to six places get
  * equal fingerprints. */
final case class Fingerprint(rows: Long, a: Long, b: Long) {
  override def toString: String = s"$rows:$a:$b"
  def corrupted: Fingerprint = copy(a = a + 1)
}

object Fingerprint {
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => java.lang.Long.toString(math.rint(d * 1e6).toLong)
    case f: Float => canon(f.toDouble)
    case t: java.sql.Timestamp => t.getTime.toString
    case i: java.time.Instant => i.toEpochMilli.toString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => canon(a.toSeq)
    case r: Row => canon(r.toSeq)
    case x => x.toString
  }

  def rowText(values: Seq[Any]): String = values.map(canon).mkString("|")

  private def h(s: String, seed: Int): Long =
    (scala.util.hashing.MurmurHash3.stringHash(s, seed) & 0x7fffffff).toLong

  def of(rowTexts: Iterator[String]): Fingerprint = {
    var n, a, b = 0L
    rowTexts.foreach { t => n += 1; a += h(t, 17); b += h(t, 91) }
    Fingerprint(n, a, b)
  }

  def ofRows(rows: Iterator[Seq[Any]]): Fingerprint = of(rows.map(rowText))

  /** Fingerprint of a frame, computed on the executors; columns are taken
    * in the order given (callers select the same order as their closed form). */
  def ofFrame(df: DataFrame): Fingerprint = {
    val parts = df.rdd.mapPartitions { it =>
      val f = of(it.map(r => rowText(r.toSeq)))
      Iterator((f.rows, f.a, f.b))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }
}

/** Correctness checks of one run. Each check compares an expected value
  * derived from the generator (never from the engine under test) with
  * what graft produced; `--corrupt <name|all>` perturbs the expected side
  * to show the check can fail. */
final class Checks(corrupt: Set[String]) {
  final case class Result(name: String, ok: Boolean, detail: String)
  val results = scala.collection.mutable.ArrayBuffer[Result]()

  def corrupts(name: String): Boolean = corrupt("all") || corrupt(name)

  def expectEq[T](name: String, expected: T, actual: T, perturb: T => T): Boolean = {
    val exp = if (corrupts(name)) perturb(expected) else expected
    val ok = exp == actual
    results += Result(name, ok, s"expected=$exp actual=$actual")
    ok
  }

  def fingerprint(name: String, expected: Fingerprint, actual: Fingerprint): Boolean =
    expectEq[Fingerprint](name, expected, actual, _.corrupted)

  def atLeast(name: String, floor: Double, actual: Double): Boolean = {
    val f = if (corrupts(name)) floor + 1.0 else floor
    val ok = actual >= f
    results += Result(name, ok, s"floor=$f actual=$actual")
    ok
  }

  def failed: Int = results.count(!_.ok)
}

object Dirs {
  /** Delete a directory tree, if it exists. */
  def delete(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
