package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cpus: Int,
                      work: String, runId: String, commit: String, sourceHash: String,
                      corrupt: Set[String])

/** One benchmark workload. The harness calls `setup` several times (each
  * in a fresh directory, keeping the last and reporting the median), then
  * `warmUp` once, then `cycle` in a closed loop with one client until the
  * run's seconds are spent and at least `minCycles` ran, then `check`. */
trait Workload {
  /** Generate inputs and build the initial store or index under `dir`. */
  def setup(dir: String): Unit
  /** One untimed cycle (JIT, codegen, footer caches). */
  def warmUp(): Unit = cycle(-1)
  /** One tick and the reads that follow it, timed through `Harness.op`. */
  def cycle(i: Int): Unit
  def minCycles: Int
  /** Correctness checks against the generator's closed form. */
  def check(): Unit
  /** Per-layer metrics this workload reports beyond [[Layers.names]]. */
  def extraLayerNames: Seq[(String, String)] = Nil
  /** Layer metrics only this workload can compute (trace mode). */
  def layerMetrics(firstN: Tracer#Span => Boolean): Map[String, Double] = Map.empty
}

/** Timing, tracing and checking services shared by the workloads. */
final class Harness(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(spark, args.trace)
  val checks = new Checks(args.corrupt)
  val ticks = mutable.ArrayBuffer[Double]()
  val queries = mutable.ArrayBuffer[Double]()
  var rows = 0L
  var rowSeconds = 0.0
  var attempted = 0
  var failedOps = 0
  var timing = false
  /** Largest checkpoint footprint seen after any op (trace mode). */
  var liveRdds = 0L
  var liveBytes = 0L
  /** Span-id range (exclusive, inclusive] of each timed cycle. */
  val cycleIds = mutable.ArrayBuffer[(Int, Int)]()
  val planSeconds = mutable.HashMap[Int, Double]()

  /** Time one user-visible operation. `kind` "tick" and "query" samples
    * feed the percentiles (other kinds, e.g. maintenance, only count).
    * An op with `rows` > 0, or with `counted` set, adds its rows and its
    * wall to rows_per_s. Failures count into error_frac. */
  def op[T](kind: String, rows: Long = 0, counted: Boolean = false)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(kind)(body)) catch {
      case e: Exception =>
        System.err.println(s"[bench] $kind failed: $e")
        None
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (timing) {
      attempted += 1
      if (r.isEmpty) failedOps += 1
      else {
        if (kind == "tick") ticks += s
        if (kind == "query") queries += s
        if (rows > 0 || counted) { this.rows += rows; rowSeconds += s }
      }
      if (tracer.enabled) sampleCheckpoints()
    }
    r
  }

  /** An op-level check: counts as a failed op when it does not hold. */
  def opCheck(name: String, ok: Boolean, detail: => String): Unit = if (timing && !ok) {
    failedOps += 1
    System.err.println(s"[bench] op check $name failed: $detail")
  }

  /** Evaluate a frame through the noop sink (every column and the final
    * sort computed, nothing written), as graft's own Bench does. In trace
    * mode the planning phases of that execution are recorded. */
  def noop(span: String, df: org.apache.spark.sql.DataFrame): Unit =
    tracer.span(span) {
      df.write.format("noop").mode("overwrite").save()
      if (tracer.enabled) {
        tracer.drain()
        planSeconds(tracer.current) = tracer.phases.planSeconds
      }
    }

  private def sampleCheckpoints(): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    liveRdds = math.max(liveRdds, infos.count(_.numCachedPartitions > 0).toLong)
    liveBytes = math.max(liveBytes, infos.map(i => i.memSize + i.diskSize).sum)
  }
}

object Main {
  val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cpus").toInt, m("work"), m("run-id"), m.getOrElse("commit", "none"),
      m.getOrElse("source-hash", ""), m.getOrElse("corrupt", "").split(',').filter(_.nonEmpty).toSet)
  }

  /** The host canary: one fixed CPU-bound Spark job, timed outside the
    * measured window. It moves with host state only. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 30000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id) % 1000) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU time the hypervisor gave to other guests (steal) and total CPU
    * time, in jiffies, from /proc/stat: a host-noise indicator. */
  def cpuSteal(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.builder(args.cpus.toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val h = new Harness(spark, args)
    val w: Workload = args.workload match {
      case "kline_ingest" => new KlineIngest(h)
      case "market_analytics" => new MarketAnalytics(h)
      case "ann_stream" => new AnnStream(h)
    }
    val setups = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(s"${args.work}/setup$r")
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmUpS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(setups) + warmUpS
    val canaryStart = canary(spark)

    h.timing = true
    val steal0 = cpuSteal()
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < w.minCycles || elapsed < args.seconds) {
      val first = h.tracer.lastId
      h.tracer.span("cycle")(w.cycle(i))
      h.cycleIds += ((first, h.tracer.lastId))
      i += 1
    }
    val timedS = elapsed
    val steal1 = cpuSteal()
    h.timing = false

    val canaryEnd = canary(spark)
    val c0 = System.nanoTime()
    w.check()
    h.tracer.drain()
    val checkS = (System.nanoTime() - c0) / 1e9

    val failed = h.failedOps + h.checks.failed
    val attempted = h.attempted + h.checks.results.size
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "tick_p50_s" -> (Stats.median(h.ticks.toSeq), "s"),
      "query_p50_s" -> (Stats.median(h.queries.toSeq), "s"),
      "rows_per_s" -> (h.rows / h.rowSeconds, "rows/s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val metrics =
      if (!args.trace) e2e
      else Layers.metrics(h, w, i, timedS, Stats.median(Seq(canaryStart, canaryEnd)))

    def tails(xs: Seq[Double]) = Stats.tail(xs).map { case (p, v) => s"p$p" -> Json.num(v) }.toSeq
    val detail = Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "trace" -> args.trace.toString, "run_id" -> Json.str(args.runId),
      "cpus" -> args.cpus.toString, "commit" -> Json.str(args.commit),
      "source_hash" -> Json.str(args.sourceHash),
      "spark" -> Json.str(spark.version), "jdk" -> Json.str(System.getProperty("java.version")),
      "seconds" -> args.seconds.toString, "timed_s" -> Json.num(timedS), "cycles" -> i.toString,
      "check_s" -> Json.num(checkS),
      "session_s" -> Json.num(sessionS), "setup_reps_s" -> Json.arr(setups.map(Json.num)),
      "warm_up_s" -> Json.num(warmUpS),
      "canary_s" -> Json.obj(Seq("start" -> Json.num(canaryStart), "end" -> Json.num(canaryEnd))),
      "cpu_steal_frac" -> Json.num((steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)),
      "ticks" -> Json.obj(Seq("n" -> h.ticks.size.toString,
        "p50" -> Json.num(Stats.median(h.ticks.toSeq))) ++ tails(h.ticks.toSeq)),
      "queries" -> Json.obj(Seq("n" -> h.queries.size.toString,
        "p50" -> Json.num(Stats.median(h.queries.toSeq))) ++ tails(h.queries.toSeq)),
      "error_frac" -> Json.num(failed.toDouble / attempted),
      "checks" -> Json.arr(h.checks.results.map(c => Json.obj(Seq(
        "name" -> Json.str(c.name), "ok" -> c.ok.toString, "detail" -> Json.str(c.detail)))).toSeq)))
    println(Json.obj(Seq("detail" -> detail)))
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    spark.stop()
  }
}
