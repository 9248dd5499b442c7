package perfbench

/** Per-layer metrics of a traced run, from its span statistics. A layer
  * metric is taken from the workload's own spans when it made that call,
  * else from the probe's. */
object Layers {
  val ApiCalls = Seq("search", "deep_dive", "index", "compact")
  val StoreSteps = Seq("build_chunks", "postings_build", "ann_build", "write_chunks")

  def report(ctx: Ctx, stats: Seq[SpanStats], run: WorkloadRun): Unit = {
    val out = ctx.out
    val have = out.metricValues.map(_._1).toSet
    def put(name: String, v: Double, unit: String, n: Int): Unit =
      if (!have.contains(name)) out.metric(name, v, unit, n)
    def of(name: String): Seq[SpanStats] = {
      val all = stats.filter(_.span.name == name)
      val own = all.filterNot(_.span.probe)
      if (own.nonEmpty) own else all
    }
    def calls(prefix: String, name: String): Unit = {
      val ss = of(name)
      if (ss.nonEmpty) {
        put(s"$prefix.jobs", Stats.mean(ss.map(_.jobs.toDouble)), "count", ss.size)
        put(s"$prefix.tasks", Stats.mean(ss.map(_.tasks.toDouble)), "count", ss.size)
        put(s"$prefix.task_s", Stats.mean(ss.map(_.taskNs / 1e9)), "s", ss.size)
        put(s"$prefix.driver_gap_s", Stats.mean(ss.map(_.driverGapNs / 1e9)), "s", ss.size)
      }
    }
    def seconds(name: String): Seq[Double] = of(name).map(_.span.durNs / 1e9)

    ApiCalls.foreach(c => calls(s"api.$c", s"api.$c"))
    val idx = of("api.index")
    if (idx.nonEmpty)
      put("api.index.tasks_per_job", idx.map(_.tasks).sum.toDouble / math.max(1, idx.map(_.jobs).sum),
        "count", idx.size)

    StoreSteps.foreach { s =>
      val ss = of(s"store.$s")
      if (ss.nonEmpty) {
        put(s"store.${s}_s", Stats.median(ss.map(_.span.durNs / 1e9)), "s", ss.size)
        put(s"store.$s.jobs", Stats.mean(ss.map(_.jobs.toDouble)), "count", ss.size)
      }
    }

    val waves = of("streaming.wave")
    if (waves.nonEmpty) {
      put("streaming.wave_s", Stats.median(seconds("streaming.wave")), "s", waves.size)
      put("streaming.wave_jobs", Stats.mean(waves.map(_.jobs.toDouble)), "count", waves.size)
      put("streaming.wave_driver_gap_s", Stats.mean(waves.map(_.driverGapNs / 1e9)), "s", waves.size)
    }

    Curate.names(ctx).foreach { q =>
      val ss = of(s"queries.$q")
      if (ss.nonEmpty) {
        put(s"queries.$q.s", Stats.median(seconds(s"queries.$q")), "s", ss.size)
        put(s"queries.$q.jobs", Stats.mean(ss.map(_.jobs.toDouble)), "count", ss.size)
        put(s"queries.$q.driver_gap_s", Stats.mean(ss.map(_.driverGapNs / 1e9)), "s", ss.size)
      }
    }

    // the traced run's own end-to-end figures: minus the untraced run's,
    // they are the tracing overhead
    put("traced.op_p50_ms", run.opP50Ms, "ms", 1)
    put("traced.ops_per_s", run.opsPerS, "1/s", 1)
  }
}
