package graftbench

/** The per-layer metrics of a traced run. Every workload reports every
  * metric in [[Layers.names]]; a layer the workload does not call reports
  * 0. market_analytics also reports [[Layers.queryNames]].
  *
  * Walls (`wall_s`, `construct_s`, `plan_s`, `execute_s`) are medians over
  * the spans of the timed cycles. Engine counters (jobs, stages, tasks, bytes) and
  * row counts are means per cycle over the first `minCycles` cycles, a
  * fixed prefix of the workload's deterministic schedule, so two traced
  * runs of one commit and seed report identical counts. */
object Layers {
  val Queries = Seq("report", "premium_wma", "resample_1h", "list_delist", "symbol_drilldown")
  private val opsFields = Seq("construct_s" -> "s", "plan_s" -> "s", "execute_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "shuffle_write_bytes" -> "bytes", "input_bytes" -> "bytes")

  /** The per-query metrics only market_analytics reports. */
  val queryNames: Seq[(String, String)] =
    Queries.flatMap(q => opsFields.map { case (f, u) => s"ops.$q.$f" -> u })

  /** (name, unit) of every per-layer metric the BENCHMARK.json workloads
    * report, in report order. */
  val names: Seq[(String, String)] = Seq(
    "sources.heal.wall_s" -> "s", "sources.heal.rows_in" -> "rows",
    "sources.heal.rows_out" -> "rows", "sources.heal.jobs" -> "count",
    "sources.heal.tasks" -> "count", "sources.heal.shuffle_write_bytes" -> "bytes",
    "sinks.watermark.wall_s" -> "s",
    "sinks.merge.wall_s" -> "s", "sinks.merge.jobs" -> "count", "sinks.merge.stages" -> "count",
    "sinks.merge.tasks" -> "count", "sinks.merge.shuffle_write_bytes" -> "bytes",
    "sinks.merge.bytes_written" -> "bytes", "sinks.merge.partitions_rewritten" -> "count",
    "sinks.merge.write_amp" -> "ratio",
    "sinks.compact.wall_s" -> "s", "sinks.compact.partitions_rewritten" -> "count",
    "sinks.compact.bytes_written" -> "bytes",
    "sinks.store.files" -> "count", "sinks.store.bytes_per_row" -> "bytes/row",
    "sinks.fresh_read.wall_s" -> "s",
    "streaming.ann_tick.wall_s" -> "s", "streaming.ann_tick.jobs" -> "count",
    "streaming.ann_tick.stages" -> "count", "streaming.ann_tick.tasks" -> "count",
    "streaming.ann_tick.shuffle_write_bytes" -> "bytes", "streaming.ann_tick.bytes_written" -> "bytes",
    "streaming.ann_compact.wall_s" -> "s", "streaming.ann_compact.bytes_written" -> "bytes",
    "sinks.ann_store.landings" -> "count", "sinks.ann_store.bytes" -> "bytes",
    "streaming.ann_view.construct_s" -> "s", "streaming.ann_view.execute_s" -> "s",
    "ops.ann_search.construct_s" -> "s", "ops.ann_search.execute_s" -> "s",
    "ops.ann_search.jobs" -> "count", "ops.ann_search.shuffle_write_bytes" -> "bytes",
    "ops.ann_search.recall_at_10" -> "ratio",
    "checkpoints.live_rdds" -> "count", "checkpoints.live_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "bytes", "spark.executor_run_s" -> "s",
    "spark.core_busy_frac" -> "ratio",
    "trace.tick_p50_s" -> "s", "trace.query_p50_s" -> "s", "host.canary_s" -> "s")

  def metrics(h: Harness, w: Workload, cycles: Int, timedS: Double,
              canaryS: Double): Seq[(String, (Double, String))] = {
    val t = h.tracer
    val n = math.min(w.minCycles, cycles)
    val (lo, hi) = (h.cycleIds.head._1, h.cycleIds(n - 1)._2)
    val firstN: Tracer#Span => Boolean = s => s.id > lo && s.id <= hi
    def timed(span: String) = t.named(span).filter(_.id > lo)
    def wall(span: String): Double = {
      val xs = timed(span).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def perCycle(spans: String*)(f: Counters => Long): Double =
      spans.flatMap(t.named).filter(firstN).map(s => f(t.counters(s)).toDouble).sum / n

    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (layer <- Seq("sources.heal", "sinks.merge", "streaming.ann_tick")) {
      m(s"$layer.wall_s") = wall(layer)
      m(s"$layer.jobs") = perCycle(layer)(_.jobs)
      m(s"$layer.stages") = perCycle(layer)(_.stages)
      m(s"$layer.tasks") = perCycle(layer)(_.tasks)
      m(s"$layer.shuffle_write_bytes") = perCycle(layer)(_.shuffleWrite)
      m(s"$layer.bytes_written") = perCycle(layer)(_.output)
    }
    m("sinks.watermark.wall_s") = wall("sinks.watermark")
    m("sinks.compact.wall_s") = wall("sinks.compact")
    m("sinks.compact.bytes_written") = perCycle("sinks.compact")(_.output)
    m("sinks.fresh_read.wall_s") = wall("sinks.fresh_read")
    m("streaming.ann_compact.wall_s") = wall("streaming.ann_compact")
    m("streaming.ann_compact.bytes_written") = perCycle("streaming.ann_compact")(_.output)
    // a frame built in span `<layer>.construct`, evaluated in `<layer>.execute`
    for (layer <- Queries.map("ops." + _) :+ "ops.ann_search" :+ "streaming.ann_view") {
      val (c, e) = (s"$layer.construct", s"$layer.execute")
      m(s"$layer.construct_s") = wall(c)
      val plans = timed(e).flatMap(s => h.planSeconds.get(s.id))
      val plan = if (plans.isEmpty) 0.0 else Stats.median(plans)
      m(s"$layer.plan_s") = plan
      m(s"$layer.execute_s") = math.max(0.0, wall(e) - plan)
      m(s"$layer.jobs") = perCycle(c, e)(_.jobs)
      m(s"$layer.stages") = perCycle(c, e)(_.stages)
      m(s"$layer.tasks") = perCycle(c, e)(_.tasks)
      m(s"$layer.shuffle_write_bytes") = perCycle(c, e)(_.shuffleWrite)
      m(s"$layer.input_bytes") = perCycle(c, e)(_.input)
    }
    m("checkpoints.live_rdds") = h.liveRdds.toDouble
    m("checkpoints.live_bytes") = h.liveBytes.toDouble
    val all = new Counters
    t.named("cycle").foreach(s => all += t.counters(s))
    m("spark.gc_ms") = all.gcMs.toDouble / cycles
    m("spark.spill_bytes") = all.spill.toDouble / cycles
    m("spark.executor_run_s") = all.runMs / 1e3 / cycles
    m("spark.core_busy_frac") = all.runMs / 1e3 / (timedS * h.args.cpus)
    m("trace.tick_p50_s") = Stats.median(h.ticks.toSeq)
    m("trace.query_p50_s") = Stats.median(h.queries.toSeq)
    m("host.canary_s") = canaryS
    m ++= w.layerMetrics(firstN)
    (names ++ w.extraLayerNames).map { case (k, u) =>
      val v = m.getOrElse(k, 0.0)
      k -> ((if (v.isNaN) 0.0 else v, u))
    }
  }
}
