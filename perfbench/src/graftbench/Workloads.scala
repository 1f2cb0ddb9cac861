package graftbench

import java.lang.management.ManagementFactory

/** The three untraced workloads. Each sets up, then times about
  * `--seconds` of its operation, and reports the same five end-to-end
  * metrics, each defined on the workload's own operation.
  */
object Workloads {
  import Main.log

  /** The drain backlog: 16 files of 25 000 records, which the transport
    * reads in one trigger (its cap is 16 files), so one micro-batch of
    * 400 000 trades and the closing no-data batch. A consumer micro-batch
    * has about 0.4-0.6 s of fixed cost; at this size per-record work is
    * most of the batch.
    */
  val DrainTrades = 400000L
  val DrainFiles = 16

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** How many timed operations fill `seconds`, at least one, for an
    * operation that takes about `nominalS`. A fixed count, rather than a
    * loop on the clock, keeps every run's sample count the same when an
    * operation's time lies near a multiple of `seconds`.
    */
  def repetitions(seconds: Int, nominalS: Int): Int = math.max(1, seconds / nominalS)

  /** A warm drain takes about 2.5 s here, a registry pass about 12 s; at
    * the benchmark's 10 s a run times three drains or one pass.
    */
  val DrainNominalS = 3
  val PassNominalS = 10

  def e2e(setupS: Double, p50Ms: Double, p95Ms: Double, perS: Double, cpuS: Double): Map[String, Metric] = Map(
    "setup_s" -> Metric(setupS, "s"),
    "latency_p50_ms" -> Metric(p50Ms, "ms"),
    "latency_p95_ms" -> Metric(p95Ms, "ms"),
    "throughput_per_s" -> Metric(perS, "1/s"),
    "cpu_s" -> Metric(cpuS, "cpu-s"))

  private def line(name: String, m: Metric, note: String = ""): String =
    f"metric $name%-26s ${m.value}%14.4f ${m.unit}%s$note"

  private def checkLine(workload: String, ok: Boolean, detail: Seq[String]): String =
    s"check $workload: ${if (ok) "ok" else "FAILED"} ${detail.mkString("; ")}"

  // ------------------------------------------------------------ round trip

  def roundtrip(ctx: Ctx): Outcome = {
    val rt = Streams.roundtrip(ctx.spark, ctx.opts.work.resolve("rt"), ctx.opts.seconds, warmBatches = 3)
    Streams.deleteTree(ctx.opts.work.resolve("rt"))
    StageLog.drain(ctx.spark)
    val cycles = cyclesCpuS(ctx, rt)
    val cpu = cycles.sum
    val lat = rt.latenciesMs
    val over = lat.count(_ > Streams.LimitMs)
    val m = e2e(ctx.sessionReadyS + rt.setupWorkS, Stats.quantile(lat, 0.5), Stats.quantile(lat, 0.95),
      rt.tradesPerS, cpu)
    val summary = Seq(
      line("roundtrip_latency_p50_ms", m("latency_p50_ms"), s" (results=${lat.size})"),
      line("roundtrip_latency_p95_ms", m("latency_p95_ms"),
        f" (results=${lat.size}, over the ${Streams.LimitMs}%.0f ms limit: $over)"),
      line("roundtrip_trades_per_s", m("throughput_per_s").copy(unit = "trades/s"), s" (offered ${Streams.Rate})"),
      line("roundtrip_cpu_s", m("cpu_s"), s" (over the window's ${cycles.size} trigger cycles)"),
      line("setup_s", m("setup_s"), " (session, first producer start, consumer start to first commit)"),
      checkLine("stream_roundtrip", rt.correct, Seq(rt.detail)))
    Outcome(m, lat.size + 1L, over + (if (rt.correct) 0L else 1L), rt.correct, Seq(rt.detail), summary,
      Map("rate_start_ms" -> rt.rateStartMs, "start_attempts" -> rt.startAttempts,
        "window_ms" -> Seq(rt.fromMs, rt.toMs), "latencies_ms" -> lat, "cycle_cpu_s" -> cycles,
        "timeline" -> rt.timeline))
  }

  /** Executor CPU of both queries per trigger cycle of the timed window:
    * the stages submitted in each 2 s slot.
    */
  def cyclesCpuS(ctx: Ctx, rt: Streams.Roundtrip): Seq[Double] = {
    val stages = ctx.stages.submittedIn(rt.fromMs, rt.toMs)
    (rt.fromMs until rt.toMs by Streams.TriggerMs).map { t =>
      StageLog.cpuS(stages.filter(s => s.submittedMs >= t && s.submittedMs < t + Streams.TriggerMs))
    }
  }

  // ---------------------------------------------------------------- drain

  final case class DrainSetup(backlog: java.nio.file.Path, ckRoot: java.nio.file.Path)

  /** Writes the backlog from the seed and, if `warm`, drains it once
    * untimed: the first drains in a JVM pay class loading, code generation
    * and JIT.
    */
  def drainSetup(ctx: Ctx, trades: Long, files: Int, warm: Boolean = true): DrainSetup = {
    val backlog = ctx.opts.work.resolve("backlog")
    val ckRoot = ctx.opts.work.resolve("ck")
    Streams.writeBacklog(ctx.spark, backlog, trades, files, ctx.opts.seed)
    log(s"backlog of $trades written")
    if (warm) log(f"warm drain ${Streams.drain(ctx.spark, backlog, ckRoot, "drain_warm").seconds}%.2f s")
    DrainSetup(backlog, ckRoot)
  }

  /** Checks every drain's final totals against the batch computation. */
  def checkDrains(ctx: Ctx, backlog: java.nio.file.Path, trades: Long, ds: Seq[Streams.Drain]): Seq[(Boolean, String)] = {
    val expected = Streams.batchTotals(ctx.spark, Seq(backlog.toString)).cache()
    try ds.map(d => Streams.checkDrain(ctx.spark, d, trades, expected))
    finally expected.unpersist()
  }

  def drain(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = drainSetup(ctx, DrainTrades, DrainFiles)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val drains = (1 to repetitions(ctx.opts.seconds, DrainNominalS)).map { i =>
      val d = Streams.drain(spark, s.backlog, s.ckRoot, s"drain_$i")
      StageLog.drain(spark)
      val cpu = StageLog.cpuS(ctx.stages.completedIn(d.startMs, d.endMs))
      log(f"drain $i ${d.seconds}%.2f s cpu $cpu%.2f")
      (d, cpu)
    }
    val checks = checkDrains(ctx, s.backlog, DrainTrades, drains.map(_._1))
    log("drains checked")
    val bad = checks.count(!_._1)
    val batchMs = drains.flatMap(_._1.batchMs)
    val m = e2e(setupS, Stats.quantile(batchMs, 0.5), Stats.quantile(batchMs, 0.95),
      Stats.median(drains.map(d => DrainTrades / d._1.seconds)),
      Stats.median(drains.map(_._2)))
    val summary = Seq(
      line("drain_trades_per_s", m("throughput_per_s").copy(unit = "trades/s"),
        s" (median of ${drains.size} drains of $DrainTrades)"),
      line("drain_cpu_s", m("cpu_s")),
      line("drain_batch_p50_ms", m("latency_p50_ms"), s" (micro-batches=${drains.map(_._1.batchMs.size).sum})"),
      line("drain_batch_p95_ms", m("latency_p95_ms")),
      line("setup_s", m("setup_s")),
      checkLine("stream_drain", bad == 0, checks.map(_._2)))
    Outcome(m, checks.size.toLong, bad.toLong, bad == 0, checks.map(_._2), summary,
      Map("drain_s" -> drains.map(_._1.seconds),
        "drain_tasks" -> drains.map(d => ctx.stages.completedIn(d._1.startMs, d._1.endMs).map(_.tasks).sum)))
  }

  // -------------------------------------------------------------- registry

  def registry(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer(enabled = false)
    // the first pass warms the JVM; it is checked like the timed ones
    val warm = Registry.pass(spark, ctx.opts.data, tracer)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val passes = (1 to repetitions(ctx.opts.seconds, PassNominalS)).map { _ =>
      val takes = Registry.pass(spark, ctx.opts.data, tracer)
      StageLog.drain(spark)
      val cpu = StageLog.cpuS(ctx.stages.completedIn(takes.head.startMs, takes.last.endMs))
      log(f"pass ${takes.map(_.wallS).sum}%.2f s cpu $cpu%.2f")
      (takes, cpu)
    }
    val checks = Oracle.check(warm ++ passes.flatMap(_._1))
    val bad = checks.filterNot(_._1).map(_._2)
    bad.foreach(l => log(s"check failed: $l"))
    val passS = passes.map(_._1.map(_.wallS).sum)
    val lat = passes.flatMap(_._1.map(_.wallS * 1e3))
    // the typical entry time is the geometric mean over the entries, as in
    // TPC-H's power metric: the median of eleven unlike entries jumps from
    // one entry to another with noise of a few percent
    val typical = Stats.median(passes.map(p => math.exp(p._1.map(t => math.log(t.wallS * 1e3)).sum / p._1.size)))
    val m = e2e(setupS, typical, Stats.quantile(lat, 0.95), Registry.Entries.size / Stats.median(passS),
      Stats.median(passes.map(_._2)))
    val summary = Seq(
      line("registry_pass_s", Metric(Stats.median(passS), "s"), s" (median of ${passes.size} passes)"),
      line("registry_cpu_s", m("cpu_s")),
      line("registry_entry_geomean_ms", m("latency_p50_ms"), s" (entry runs=${lat.size})"),
      line("registry_entry_p95_ms", m("latency_p95_ms")),
      line("setup_s", m("setup_s")),
      checkLine("registry_batch", bad.isEmpty,
        if (bad.isEmpty) Seq(s"${checks.size} entry runs match their recorded digests") else bad))
    Outcome(m, checks.size.toLong, bad.size.toLong, bad.isEmpty, checks.map(_._2), summary, Map("pass_s" -> passS,
      "entry_wall_s" -> (warm ++ passes.flatMap(_._1)).groupBy(_.name).map { case (n, ts) => n -> ts.map(_.wallS) }))
  }
}
