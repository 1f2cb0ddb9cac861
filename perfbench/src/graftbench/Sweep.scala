package graftbench

import scala.collection.mutable

import graft.sources.TradeSource
import graft.streaming.{Envelope, TradePipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The traced run (`--trace 1`): every workload once, with spans at each
  * layer boundary, in one JVM. It reports the per-layer metrics of all
  * three workloads whichever workload is named, plus the single-threaded
  * drain baseline and the tracing overhead.
  */
object Sweep {
  import Main.log

  /** Timed window of the round trip in the sweep: three trigger cycles, to
    * keep the sweep inside the run budget.
    */
  val SweepRoundtripS = 6

  /** Backlog of the single-threaded baseline: one full micro-batch. */
  val Local1Trades = 100000L
  val Local1Files = 16

  /** Micro-batch phases in the order Spark runs them; a batch's phase spans
    * are laid end to end in this order from the batch's trigger time.
    */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  def run(ctx: Ctx): Outcome = {
    val tracer = ctx.tracer(enabled = true)
    val progress = new ProgressLog
    ctx.spark.streams.addListener(progress)
    val out = mutable.LinkedHashMap.empty[String, Metric]
    val checks = mutable.ArrayBuffer.empty[(Boolean, String)]
    var attempted, failed = 0L
    def legDone(leg: String): Unit =
      log(f"$leg done at ${(System.currentTimeMillis() - Workloads.jvmStartMs) / 1e3}%.1f s")

    def dist(name: String, unit: String, xs: Seq[Double]): Unit = {
      val s = if (xs.isEmpty) Seq(0.0) else xs
      out(s"$name.p50") = Metric(Stats.quantile(s, 0.5), unit)
      out(s"$name.p95") = Metric(Stats.quantile(s, 0.95), unit)
    }
    def phase(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def state(ps: Seq[StreamingQueryProgress])(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      ps.flatMap(_.stateOperators.headOption).map(f)
    def batchSpans(layer: String, ps: Seq[StreamingQueryProgress], parent: Long): Unit = ps.foreach { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val id = tracer.nextId()
      tracer.record(Span(id, parent, s"$layer.batch", t0, t0 + (phase(p, "triggerExecution") * 1e6).toLong,
        Map("batch_id" -> p.batchId.toDouble, "input_rows" -> p.numInputRows.toDouble)))
      Phases.foldLeft(t0) { (at, k) =>
        val end = at + (phase(p, k) * 1e6).toLong
        tracer.record(Span(tracer.nextId(), id, s"$layer.$k", at, end))
        end
      }
    }

    // ------------------------------------------------ stream_roundtrip
    val rtGc = StageLog.driverGcS()
    val rt = tracer.span("stream_roundtrip") { id =>
      val r = Streams.roundtrip(ctx.spark, ctx.opts.work.resolve("rt"), math.min(ctx.opts.seconds, SweepRoundtripS),
        warmBatches = 3)
      val cons = progress.of("rt_consumer").filter(p => r.windowBatches.contains(p.batchId))
      val prod = progress.ofId(r.producerId).filter(p => r.producerBatches.contains(p.batchId))
      batchSpans("TradePipeline.consume", cons, id)
      batchSpans("TradePipeline.produce", prod, id)
      dist("roundtrip.StreamIO.read.latestOffset_ms", "ms", cons.map(phase(_, "latestOffset")))
      dist("roundtrip.StreamIO.read.getBatch_ms", "ms", cons.map(phase(_, "getBatch")))
      dist("roundtrip.StreamIO.read.input_rows", "rows", cons.map(_.numInputRows.toDouble))
      dist("roundtrip.StreamIO.read.lag_trades", "trades", r.lagTrades.values.toSeq)
      Seq("queryPlanning", "walCommit", "commitOffsets", "addBatch", "triggerExecution").foreach { k =>
        dist(s"roundtrip.TradePipeline.consume.${k}_ms", "ms", cons.map(phase(_, k)))
      }
      dist("roundtrip.TradePipeline.tickerStats.state_commit_ms", "ms", state(cons)(_.commitTimeMs.toDouble))
      dist("roundtrip.TradePipeline.produce.addBatch_ms", "ms", prod.map(phase(_, "addBatch")))
      dist("roundtrip.TradePipeline.produce.triggerExecution_ms", "ms", prod.map(phase(_, "triggerExecution")))
      dist("roundtrip.TradePipeline.produce.input_rows", "rows", prod.map(_.numInputRows.toDouble))
      r
    }
    Streams.deleteTree(ctx.opts.work.resolve("rt"))
    StageLog.drain(ctx.spark)
    out ++= StageLog.engine("roundtrip", ctx.stages.submittedIn(rt.fromMs, rt.toMs), StageLog.driverGcS() - rtGc)
    out("trace.roundtrip.cpu_s") = Metric(Workloads.cyclesCpuS(ctx, rt).sum, "cpu-s")
    val lat = rt.latenciesMs
    out("trace.roundtrip.latency_p50_ms") = Metric(Stats.median(lat), "ms")
    checks += ((rt.correct, s"stream_roundtrip ${rt.detail}"))
    attempted += lat.size + 1
    failed += lat.count(_ > Streams.LimitMs) + (if (rt.correct) 0 else 1)
    legDone("round trip")

    // ---------------------------------------------------- stream_drain
    val n = Workloads.DrainTrades
    // the round trip above ran the same consumer, so the drain needs no
    // warm-up drain of its own
    val setup = Workloads.drainSetup(ctx, n, Workloads.DrainFiles, warm = false)
    val drGc = StageLog.driverGcS()
    val traced = tracer.span("stream_drain") { id =>
      val d = Streams.drain(ctx.spark, setup.backlog, setup.ckRoot, "drain_traced")
      StageLog.drain(ctx.spark) // deliver the last progress events
      batchSpans("TradePipeline.consume", progress.of("drain_traced"), id)
      d
    }
    out ++= StageLog.engine("drain", ctx.stages.completedIn(traced.startMs, traced.endMs), StageLog.driverGcS() - drGc)
    val dps = progress.of("drain_traced")
    dist("drain.TradePipeline.consume.addBatch_ms", "ms", dps.map(phase(_, "addBatch")))
    dist("drain.TradePipeline.consume.triggerExecution_ms", "ms", dps.map(phase(_, "triggerExecution")))
    dist("drain.TradePipeline.tickerStats.state_updates_ms", "ms", state(dps)(_.allUpdatesTimeMs.toDouble))
    dist("drain.TradePipeline.tickerStats.state_rows_total", "rows", state(dps)(_.numRowsTotal.toDouble))
    dist("drain.TradePipeline.tickerStats.state_rows_updated", "rows", state(dps)(_.numRowsUpdated.toDouble))
    dist("drain.TradePipeline.tickerStats.state_memory_bytes", "bytes", state(dps)(_.memoryUsedBytes.toDouble))
    out("drain.TradePipeline.tickerStats.rows_dropped_late") =
      Metric(state(dps)(_.numRowsDroppedByWatermark.toDouble).sum, "rows")
    out("trace.drain.trades_per_s") = Metric(n / traced.seconds, "trades/s")
    // fixed cost of the drain: its time outside the data batches' addBatch
    // (query start, offsets, planning, WAL, commits, the closing no-data
    // batch) plus, per data batch, the addBatch of a batch without records
    val (dataPs, noData) = dps.partition(_.numInputRows > 0)
    val nodataAddMs = noData.map(phase(_, "addBatch")).sorted.headOption.getOrElse(0.0)
    val fixedS = traced.seconds - dataPs.map(phase(_, "addBatch")).sum / 1e3 + dataPs.size * nodataAddMs / 1e3
    out("drain.TradePipeline.consume.addBatch_nodata_ms") = Metric(nodataAddMs, "ms")
    out("drain.fixed_share_pct") = Metric(fixedS / traced.seconds * 100, "%")
    val drainChecks = Workloads.checkDrains(ctx, setup.backlog, n, Seq(traced))
    checks ++= drainChecks
    legDone("drain")

    // replay of the drain backlog and of its generation: batch calls of
    // each layer, each to the noop sink; self = span less its child's
    tracer.span("replay") { id =>
      def noop(name: String)(df: => DataFrame): Double = tracer.span(name, id) { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val scan = Streams.readEnvelopes(ctx.spark, Seq(setup.backlog.toString))
      val scanS = noop("StreamIO.scan")(scan)
      val decodeS = noop("Envelope.decode")(Envelope.decode(scan))
      val statsS = noop("TradePipeline.tickerStats")(TradePipeline.tickerStats(Envelope.decode(scan)))
      def trades = TradeSource.trades(ctx.spark, n, Workloads.DrainFiles, ctx.opts.seed).toDF()
      val tradesS = noop("TradeSource.trades")(trades)
      val encodeS = noop("Envelope.encode")(Envelope.encode(trades))
      val fastS = noop("Envelope.encodeFast")(Envelope.encodeFast(trades))
      out("replay.StreamIO.scan_s") = Metric(scanS, "s")
      out("replay.Envelope.decode_self_s") = Metric(decodeS - scanS, "s")
      out("replay.TradePipeline.tickerStats_self_s") = Metric(statsS - decodeS, "s")
      out("replay.TradeSource.trades_s") = Metric(tradesS, "s")
      out("replay.Envelope.encode_self_s") = Metric(encodeS - tradesS, "s")
      out("replay.Envelope.encodeFast_self_s") = Metric(fastS - tradesS, "s")
    }
    Streams.deleteTree(setup.backlog)
    Streams.deleteTree(setup.ckRoot)
    legDone("replay")
    attempted += 1
    failed += drainChecks.count(!_._1)

    // -------------------------------------------------- registry_batch
    // one traced pass, checked as it runs: each entry's first run in a JVM
    // the streaming legs above have warmed
    val rgGc = StageLog.driverGcS()
    val takes = Registry.pass(ctx.spark, ctx.opts.data, tracer)
    StageLog.drain(ctx.spark)
    out ++= StageLog.engine("registry", ctx.stages.completedIn(takes.head.startMs, takes.last.endMs),
      StageLog.driverGcS() - rgGc)
    out("registry.construct_s") = Metric(takes.map(_.constructS).sum, "s")
    out("registry.plan_s") = Metric(takes.map(_.planS).sum, "s")
    out("registry.execute_s") = Metric(takes.map(_.executeS).sum, "s")
    takes.foreach { t =>
      val st = ctx.stages.completedIn(t.startMs, t.endMs)
      out(s"registry.${t.name}.wall_s") = Metric(t.wallS, "s")
      out(s"registry.${t.name}.cpu_s") = Metric(StageLog.cpuS(st), "cpu-s")
      out(s"registry.${t.name}.shuffle_bytes") = Metric(st.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    }
    out("trace.registry.pass_s") = Metric(takes.map(_.wallS).sum, "s")
    val regChecks = Oracle.check(takes)
    checks += ((regChecks.forall(_._1), s"registry_batch ${regChecks.map(_._2).mkString(" ")}"))
    attempted += takes.size
    failed += regChecks.count(!_._1)
    legDone("registry")

    // ------------------------------------ single-threaded drain baseline
    // drained untraced, then traced: their difference is the overhead
    ctx.spark.stop()
    val one = Main.session(1, ctx.opts.work.resolve("tmp"))
    val c1 = ctx.copy(spark = one)
    val s1 = Workloads.drainSetup(c1, Local1Trades, Local1Files)
    val d1 = Streams.drain(one, s1.backlog, s1.ckRoot, "drain_local1")
    one.streams.addListener(progress)
    val d1t = tracer.span("stream_drain.local1") { id =>
      val d = Streams.drain(one, s1.backlog, s1.ckRoot, "drain_local1_traced")
      StageLog.drain(one)
      batchSpans("TradePipeline.consume", progress.of("drain_local1_traced"), id)
      d
    }
    out("drain.local1_trades_per_s") = Metric(Local1Trades / d1.seconds, "trades/s")
    out("trace.overhead.drain_local1_pct") = Metric((d1t.seconds / d1.seconds - 1) * 100, "%")
    val c1checks = Workloads.checkDrains(c1, s1.backlog, Local1Trades, Seq(d1, d1t))
    checks ++= c1checks
    attempted += 2
    failed += c1checks.count(!_._1)
    log(f"local[1] drains ${d1.seconds}%.2f s untraced, ${d1t.seconds}%.2f s traced")

    val ok = checks.forall(_._1)
    val summary = checks.map { case (c, d) => s"check ${if (c) "ok" else "FAILED"} $d" } ++
      out.toSeq.map { case (k, m) => f"layer $k%-62s ${m.value}%16.4f ${m.unit}" }
    val spans = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counters" -> s.counters))
    Outcome(out.toMap, attempted, failed, ok, checks.map(_._2).toSeq, summary.toSeq,
      Map("run_id" -> tracer.runId, "spans" -> spans,
        "self_s" -> tracer.all.map(_.name).distinct.map(n => n -> tracer.selfSeconds(n)).toMap))
  }
}
