package graftbench

/** The benchmark's own tests (no Spark session): generator determinism,
  * the percentile and fingerprint helpers, and a corrupted expected
  * value turning into a failed check. Exits nonzero on the first failure.
  * Run with `python3 perfbench/test_bench.py`. */
object SelfTest {
  private var n = 0

  private def check(name: String, ok: => Boolean): Unit = {
    n += 1
    if (!ok) { System.err.println(s"FAIL $name"); sys.exit(1) }
    println(s"ok   $name")
  }

  def main(args: Array[String]): Unit = {
    def kline(seed: Long) = new KlineGen(seed, 6, 300, window = 60, overlap = 30, refetchPerTick = 2)
    val (a, b, c) = (kline(7), kline(7), kline(8))
    check("same seed, byte-identical kline pages",
      (0 to 2).forall(t => a.landingFile(t)._1.getBytes("UTF-8").sameElements(b.landingFile(t)._1.getBytes("UTF-8"))))
    check("other seed, other kline pages", (0 to 2).forall(t => a.landingFile(t)._1 != c.landingFile(t)._1))
    check("same seed, byte-identical funding pages",
      new FundingGen(a, 15).landingFile(1)._1 == new FundingGen(b, 15).landingFile(1)._1)
    check("other seed, other funding pages",
      new FundingGen(a, 15).landingFile(1)._1 != new FundingGen(c, 15).landingFile(1)._1)
    val (va, vb, vc) = (new VectorGen(7), new VectorGen(7), new VectorGen(8))
    check("same seed, identical vectors", (0L until 50L).forall(i => va.vec(0, i).sameElements(vb.vec(0, i))))
    check("other seed, other vectors", (0L until 50L).forall(i => !va.vec(0, i).sameElements(vc.vec(0, i))))
    check("re-fetch pages revise the overlap", a.refetched(1).size == 2 &&
      a.pages(1).count(_._2 == 2L) == 2)
    check("keep-last picks the re-fetch", {
      val s = a.refetched(1).head
      a.finalRev(s, a.start(1), 1) == 3 && a.finalRev(s, a.end(1) - 1, 1) == 2
    })
    check("decimal text", Rng.dec(12345, 2) == "123.45" && Rng.dec(-5, 3) == "-0.005" &&
      Rng.dec(5, 2) == "0.05")

    check("percentile interpolates", Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5 &&
      math.abs(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 90) - 3.7) < 1e-12)
    check("median of one sample", Stats.median(Seq(3.0)) == 3.0)
    check("no tail percentile under 40 samples", Stats.tail((1 to 39).map(_.toDouble)).isEmpty)
    check("p75 from 40 samples, p90 from 100", Stats.tail((1 to 40).map(_.toDouble)).map(_._1)
      .contains(75) && Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90))

    val rows = Seq(Seq[Any]("x", 1L, 1.5), Seq[Any]("y", 2L, 2.25), Seq[Any]("z", 3L, null))
    val fp = Fingerprint.ofRows(rows.iterator)
    check("fingerprint is order-independent", fp == Fingerprint.ofRows(rows.reverse.iterator))
    check("fingerprint sees every column",
      fp != Fingerprint.ofRows(Seq(Seq[Any]("x", 1L, 1.5), Seq[Any]("y", 2L, 2.26),
        Seq[Any]("z", 3L, null)).iterator))
    check("fingerprint sees swapped values across rows",
      fp != Fingerprint.ofRows(Seq(Seq[Any]("x", 2L, 1.5), Seq[Any]("y", 1L, 2.25),
        Seq[Any]("z", 3L, null)).iterator))
    check("fingerprint rounds doubles to six places",
      Fingerprint.rowText(Seq(1.0000001)) == Fingerprint.rowText(Seq(1.0000004)) &&
        Fingerprint.rowText(Seq(1.000001)) != Fingerprint.rowText(Seq(1.000002)))
    check("timestamps fingerprint as epoch millis",
      Fingerprint.rowText(Seq(new java.sql.Timestamp(1704067200000L))) ==
        Fingerprint.rowText(Seq(1704067200000L)))

    val honest = new Checks(Set.empty)
    honest.fingerprint("t.fp", fp, fp)
    check("a matching fingerprint passes", honest.failed == 0)
    val corrupt = new Checks(Set("t.fp"))
    corrupt.fingerprint("t.fp", fp, fp)
    corrupt.atLeast("t.floor", 0.5, 0.9)
    check("a corrupted fingerprint fails, other checks do not",
      corrupt.failed == 1 && corrupt.results.size == 2)
    check("corrupt=all fails every check", {
      val all = new Checks(Set("all"))
      all.fingerprint("t.fp", fp, fp); all.atLeast("t.floor", 0.5, 0.9)
      all.expectEq[Long]("t.eq", 0L, 0L, _ + 1)
      all.failed == 3
    })
    println(s"$n self-tests passed")
  }
}
