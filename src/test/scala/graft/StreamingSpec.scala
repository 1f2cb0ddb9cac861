package graft

import java.nio.file.Files

import graft.sources.{Tables, TradeSource}
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming E2E (SURVEY.md §5.3): file-transport trade pipeline, memory-
  * stream event operators vs their batch twins, watermark dedup, stateful
  * sessions, and the control-plane lifecycle.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("trade pipeline: produce to transport, consume, per-ticker stats match batch") {
    val dir = tmp("graft-stream")
    val trades = TradeSource.trades(spark, 5000, partitions = 4)
    // produce one micro-batch worth of data through the file transport
    Envelope.encode(trades.toDF()).write.json(s"$dir/data")

    val io = new FileStreamIO(s"$dir/data")
    val listener = Observability.attachProgressLogger(spark) // O4 telemetry path
    val q = TradePipeline.consume(spark, io, "trade_stats",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val progress =
      try {
        assert(q.awaitTermination(120000), "trade pipeline did not finish in time")
        // listener events are delivered asynchronously: wait for the last batch's line
        val last = s""""batchId":${q.lastProgress.batchId},"""
        val deadline = System.currentTimeMillis() + 30000
        while (!listener.lastProgress.exists(_.contains(last)) && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        listener.lastProgress
      } finally { q.stop(); spark.streams.removeListener(listener) }

    val streamed = spark.table("trade_stats")
      .groupBy("tickerSymbol").agg(sum("n_trades").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = trades.groupBy("tickerSymbol").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)

    // the progress line is one JSON object carrying the batch phases and the state commit time
    assert(progress.isDefined, "progress logger saw no micro-batch of the final batch")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(progress.get)
    assert(json.path("durationMs").has("walCommit"), s"no durationMs.walCommit in ${progress.get}")
    assert(json.path("stateOperators").path(0).has("commitTimeMs"),
      s"no stateOperators[0].commitTimeMs in ${progress.get}")
  }

  test("trade consumer restarts across checkpoint file managers: state and checksums carry over, exactly once") {
    // Three runs of the consumer transform on one checkpoint, input appended
    // before each: run 1 under Spark's FileContext manager, run 2 with the
    // key unset so `install` applies (as TradePipeline.consume does), run 3
    // under FileContext again. Every envelope has the same arrival time, so
    // each run's updates must fold into state that the previous run wrote
    // and checksummed under the other manager. The memory sink refuses to
    // restart in update mode, so a foreachBatch sink records each update.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
    import org.apache.spark.sql.expressions.Window
    val key = LocalCheckpointFileManager.ConfKey
    val fileContext = Some(classOf[FileContextBasedCheckpointFileManager].getName)
    val prev = spark.conf.getOption(key)
    val root = tmp("graft-ckpt-managers")
    val (data, ckpt, out) = (s"$root/data", s"$root/ckpt", s"$root/out")
    val io = new FileStreamIO(data)
    def append(seed: Long): Unit =
      Envelope.encode(TradeSource.trades(spark, 2000, partitions = 2, seed = seed).toDF())
        .withColumn("approximateArrivalTimestamp", lit("2026-01-01 00:00:00.500").cast("timestamp"))
        .write.mode("append").json(data)
    def run(manager: Option[String]): Unit = {
      manager.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      LocalCheckpointFileManager.install(spark)
      val q = TradePipeline.tickerStats(TradePipeline.ingest(io.read(spark)))
        .writeStream
        .outputMode("update")
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.withColumn("batch", lit(id)).write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000), "checkpointed trade consumer did not finish")
      finally q.stop()
    }
    try {
      append(1); run(fileContext)
      assert(spark.conf.get(key) == fileContext.get)
      append(2); run(None)
      assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
      append(3); run(fileContext)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    // an update carries the running totals: the latest one per key is final
    val cols = Seq("window", "tickerSymbol", "n_trades", "sum_qty", "min_price", "max_price")
    val latest = Window.partitionBy("window", "tickerSymbol").orderBy(desc("batch"))
    val streamed = spark.read.parquet(out)
      .withColumn("rank", row_number().over(latest)).filter(col("rank") === 1)
      .select(cols.map(col): _*)
    val batch = TradePipeline.tickerStats(Envelope.decode(spark.read.schema(Envelope.schema).json(data)))
      .select(cols.map(col): _*)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(streamed) == rows(batch), "restarted totals differ from the batch totals over all input")
    assert(batch.agg(sum("n_trades")).head().getLong(0) == 6000)
    // Spark's checkpoint checksum sidecars were written (and so read back on restart)
    val stateFiles = new java.io.File(s"$ckpt/state/0/0").list().toSeq
    assert(stateFiles.exists(_.matches("""\d+\.delta\.crc""")),
      s"no state checksum files in ${stateFiles.sorted.mkString(",")}")
  }

  private def eventStream() = {
    val events = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
      .collect().sortBy(_.ts.getTime)
    val ms = MemoryStream[EventStreams.Event](spark)
    ms.addData(events.toSeq)
    (ms, events)
  }

  test("streaming tumbling window == batch tumbling window") {
    val (ms, events) = eventStream()
    val q = EventStreams.tumblingCounts(ms.toDF())
      .writeStream.outputMode("update").format("memory").queryName("tumbling").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("tumbling")
      .groupBy("window_start", "event_type").agg(max("n_events").as("n_events"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val batch = events.toSeq.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type")).count()
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("dropDuplicatesWithinWatermark dedups (user,type,minute) within bound") {
    val (ms, events) = eventStream()
    val q = EventStreams.dedupWithinWatermark(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    q.processAllAvailable(); q.stop()

    val streamedCount = spark.table("dedup").count()
    val batchDistinct = events.toSeq.toDF()
      .select(col("user_id"), col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .distinct().count()
    // the watermark can only re-admit keys whose state was evicted, so
    // streamed ∈ [distinct, raw]; on this fixture (30 days ≫ 1h watermark,
    // data arrives ordered) it should equal the exact distinct count
    assert(streamedCount == batchDistinct)
  }

  test("flatMapGroupsWithState sessionization == batch sessionization (q62)") {
    val (ms, _) = eventStream()
    val q = EventStreams.statefulSessions(spark, ms.toDS())
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("sessions")
      .groupBy("user_id").agg(max("n_sessions").as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = SparkEntry.queries("q62_sessionization")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("batch metrics listener records wall time and scan volume") {
    val l = Observability.attachBatchMetricsLogger(spark)
    try {
      SparkEntry.queries("q02_filter_project")(spark, sf0001).collect()
      // listener callbacks fire asynchronously after the action returns
      val deadline = System.nanoTime() + 10000000000L
      while (l.lastSuccess.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val (fn, wallNs, rows) = l.lastSuccess.getOrElse(fail("no batch metrics recorded"))
      assert(fn == "collect")
      assert(wallNs > 0)
      assert(rows > 0, "row-volume metrics missing from the executed plan")
    } finally spark.listenerManager.unregister(l)
  }

  test("transformWithState running counts == batch per-user counts") {
    // the transformWithState API is backed by the RocksDB state store
    EventStreams.withRocksDBStateStore(spark) {
      val (ms, events) = eventStream()
      val q = EventStreams.runningCounts(spark, ms.toDS())
        .toDF("user_id", "n")
        .writeStream.outputMode("update").format("memory").queryName("twscounts").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("twscounts")
        .groupBy("user_id").agg(max("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = events.groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
      assert(streamed == batch)
    }
  }

  test("session_window groups events by 30-minute gaps") {
    val (ms, events) = eventStream()
    val q = EventStreams.sessionCounts(ms.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("swindows").start()
    q.processAllAvailable(); q.stop()
    val total = spark.table("swindows").agg(sum("n_events")).head().getLong(0)
    assert(total == events.length)
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    import java.sql.Timestamp
    import java.time.Instant
    // explicit UTC instants: immune to the JVM default timezone (the
    // session timezone is UTC, Timestamp.valueOf would parse in JVM-local)
    def utc(t: String) = Timestamp.from(Instant.parse(t))
    val ms = MemoryStream[EventStreams.Event](spark)
    def ev(id: Long, t: String) = EventStreams.Event(id, utc(t), 1L, "click", 1.0)
    val agg = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName("late").start()

    try {
      // batch 1: events in hour 10, then hour 12 → watermark advances to
      // 11:50, closing (and emitting) the hour-10 window
      ms.addData(ev(1, "2024-01-01T10:00:00Z"), ev(2, "2024-01-01T10:30:00Z"))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01T12:00:00Z"))
      q.processAllAvailable()
      // batch 3: a late hour-10 event, far behind the watermark → dropped
      ms.addData(ev(4, "2024-01-01T10:45:00Z"))
      q.processAllAvailable()
      // advance far enough to also close the hour-12 window
      ms.addData(ev(5, "2024-01-01T14:00:00Z"))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("late")
      .select(col("window.start"), col("n")).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(rows(utc("2024-01-01T10:00:00Z")) == 2, s"late event must NOT be counted: $rows")
    assert(rows(utc("2024-01-01T12:00:00Z")) == 1)
  }

  test("streaming global top-k via foreachBatch (unsupported as a pure streaming sort)") {
    val (ms, events) = eventStream()
    val topk = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // per-batch global sort+limit is legal inside foreachBatch
        topk ++= batch.orderBy(desc("value"), col("event_id")).limit(3)
          .select("event_id", "value").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "top-k query did not finish in time")
    finally q.stop()

    val want = events.sortBy(e => (-e.value, e.event_id)).take(3).map(e => (e.event_id, e.value))
    assert(topk.sortBy(t => (-t._2, t._1)).take(3).toSeq == want.toSeq)
  }

  test("watermarked stream-stream join == batch interval join") {
    val (ms, events) = eventStream()
    val q = EventStreams.purchaseClickJoin(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("ssjoin").start()
    q.processAllAvailable(); q.stop()

    val batchEvents = events.toSeq.toDF()
    val p = batchEvents.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val c = batchEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val batchCount = p.join(c, col("user_id") === col("c_user") &&
      col("c_ts") <= col("p_ts") && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")).count()
    assert(spark.table("ssjoin").count() == batchCount)
  }

  test("stream-static join enriches trades from the broadcast ticker dim") {
    import graft.model.TradeGenerator
    val dim = TradeGenerator.StockPrices.toDF("tickerSymbol", "mean_price")
    val trades = TradeSource.trades(spark, 1000).toDF()
    val enriched = EventStreams.enrichTrades(trades, dim)
    assert(enriched.filter(col("mean_price").isNull).count() == 0)
    // price stays within ±20% of the joined dim mean — the generator's contract
    assert(enriched.filter(col("price") > col("mean_price") * 1.2 + 0.01 ||
      col("price") < col("mean_price") * 0.8 - 0.01).count() == 0)
  }

  test("st08 streaming sliding windows == q61 batch sliding windows") {
    val dir = sf0001
    val got = SparkEntry.queries("st08_stream_sliding")(spark, dir).collect()
      .map(r => (r.get(0).toString, r.getLong(1))).toSeq.sorted
    val want = SparkEntry.queries("q61_sliding_window")(spark, dir).collect()
      .map(r => (r.get(0).toString, r.getLong(1))).toSeq.sorted
    assert(got == want)
  }

  test("st07 stream-static enrichment == batch join+aggregate, broadcast side intact") {
    // Registry-level st07 runs the real StreamingQuery; here assert its
    // final state equals the batch twin computed directly, and that the
    // static side really broadcasts in the batch twin plan (the shape the
    // streaming micro-batches re-execute per trigger).
    val dir = sf0001
    val got = SparkEntry.queries("st07_stream_static_enrich")(spark, dir).collect()
    val dim = graft.sources.Tables.customer(spark, dir)
    val batch = graft.sources.Tables.events(spark, dir)
      .join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"),
        (floor(sum(col("value").cast("decimal(24,6)")).cast("double") * 100 + lit(0.5)) / 100)
          .as("sum_value"))
      .orderBy("c_mktsegment", "event_type")
    assert(got.toSeq == batch.collect().toSeq)
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"static dim not broadcast:\n$plan")
  }

  test("checkpoint recovery: restart resumes from committed offsets, exactly once") {
    // The reference's one real semantic upgrade over TRIM_HORIZON replay
    // (SURVEY §3.4, KinesisSync.java:96) is durable offset management:
    // a restarted consumer continues from its last commit instead of
    // re-reading the stream. Structured Streaming's checkpoint dir is that
    // contract. Prove it end-to-end: run a file-stream → parquet-sink query
    // with a real checkpoint, stop it, append new input, restart with the
    // SAME checkpoint, and assert the sink holds every id exactly once —
    // batch 1 was not reprocessed (no duplicates), batch 2 was picked up.
    val root = tmp("graft-ckpt")
    val (src, ckpt, out) = (s"$root/src", s"$root/ckpt", s"$root/out")
    def run(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v LONG")
        .json(src)
        .withColumn("v2", col("v") * 2)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000), "checkpointed query did not finish")
      finally q.stop()
    }
    spark.range(0, 100).select(col("id"), (col("id") % 7).as("v"))
      .coalesce(1).write.mode("append").json(src)
    run() // processes ids 0..99, commits offsets
    spark.range(100, 200).select(col("id"), (col("id") % 7).as("v"))
      .coalesce(1).write.mode("append").json(src)
    run() // must resume from the commit: only ids 100..199
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == 200 && sunk.select("id").distinct().count() == 200,
      "restart must process appended input exactly once, without replaying batch 1")
    assert(sunk.filter(col("v2") =!= col("v") * 2).count() == 0)
    // offset log advanced across the restart: one committed batch per run
    val commits = new java.io.File(s"$ckpt/commits").list()
      .filter(_.forall(_.isDigit)) // drop .crc/.tmp sidecars
    assert(commits.toSet == Set("0", "1"),
      s"expected exactly commits 0 and 1 across the restart, got ${commits.mkString(",")}")
  }

  test("stateful checkpoint recovery: windowed-agg state survives restart (RocksDB)") {
    // Stronger than the offsets-only test above: hour-window H2 gets 2
    // events in run 1 (still open when the watermark stops at 02:15) and 3
    // more in run 2 — the emitted H2 count can only be 5 if the restarted
    // query RESTORED run 1's partial aggregation state from the RocksDB
    // checkpoint, and H0/H1 must not re-emit (offsets restored). Append
    // mode + parquet sink, so every emission is durable and exactly-once.
    val root = tmp("graft-ckpt-state")
    val (src, ckpt, out) = (s"$root/src", s"$root/ckpt", s"$root/out")
    def run(): Unit = {
      val q = spark.readStream
        .schema("ts TIMESTAMP, k STRING")
        .json(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("k"), col("n"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000), "stateful checkpointed query did not finish")
      finally q.stop()
    }
    def write(ts: String*): Unit =
      ts.map(t => (java.sql.Timestamp.valueOf(t), "u")).toSeq.toDF("ts", "k")
        .coalesce(1).write.mode("append").json(src)
    EventStreams.withRocksDBStateStore(spark) {
      // run 1: H0 closes (2), H1 closes (1); H2 holds 2 events in state
      // (watermark 02:25-10m = 02:15 < H2's 03:00 close)
      write("2024-01-01 00:10:00", "2024-01-01 00:20:00", "2024-01-01 01:15:00",
        "2024-01-01 02:05:00", "2024-01-01 02:25:00")
      run()
      // run 2: 3 more H2 events + H3 + a 05:00 sentinel that pushes the
      // watermark past H3 (sentinel's own H5 window stays open, unemitted)
      write("2024-01-01 02:40:00", "2024-01-01 02:45:00", "2024-01-01 02:50:00",
        "2024-01-01 03:20:00", "2024-01-01 05:00:00")
      run()
      val emitted = spark.read.parquet(out)
        .collect().map(r => r.getTimestamp(0).toString.substring(11, 13) -> r.getLong(2)).toMap
      assert(emitted == Map("00" -> 2L, "01" -> 1L, "02" -> 5L, "03" -> 1L),
        s"expected H0=2 H1=1 H2=5 H3=1 exactly once across the restart, got $emitted")
    }
  }

  test("flatMapGroupsWithState GroupState survives restart (arbitrary user state)") {
    // Third durability axis after offsets and built-in window state:
    // ARBITRARY user state. Events are split by global time into two file
    // batches with a stop/restart between them; statefulSessions's
    // (lastTs, nSessions, nEvents) tuple must be restored for the final
    // cumulative emissions to match the batch sessionization over the
    // whole fixture — lost state would restart every spanning user's
    // session and event counts.
    val root = tmp("graft-ckpt-fmgws")
    val (src, ckpt, out) = (s"$root/src", s"$root/ckpt", s"$root/out")
    val all = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val cut = all.selectExpr("percentile(cast(ts as double), 0.6)").head().getDouble(0)
    def half(pred: org.apache.spark.sql.Column) =
      all.filter(pred).coalesce(1).write.mode("append").json(src)
    def run(): Unit = {
      import spark.implicits._
      val events = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
        .json(src).as[EventStreams.Event]
      val q = EventStreams.statefulSessions(spark, events).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000), "fMGWS checkpointed query did not finish")
      finally q.stop()
    }
    half(col("ts").cast("double") <= cut)
    run()
    half(col("ts").cast("double") > cut)
    run()
    // emissions are cumulative, so the max per user is the final state
    val streamed = spark.read.parquet(out)
      .groupBy("user_id").agg(max("n_sessions").as("s"), max("n_events").as("e"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nSess = SparkEntry.queries("q62_sessionization")(spark, sf0001)
      .select("user_id", "n_sessions")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nEv = all.groupBy("user_id").count() // time-ordered split ⇒ no drops
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = nSess.map { case (u, s) => u -> (s, nEv(u)) }
    assert(streamed == batch,
      s"restored-state sessionization diverged from batch twin; " +
        s"first diff: ${(streamed.toSet diff batch.toSet).take(3)}")
  }

  test("stream lifecycle: create → validate → describe → delete (L1-L4)") {
    val admin = new LocalStreamAdmin(Files.createTempDirectory("graft-admin"))
    assert(!admin.validate("s1"))
    admin.create("s1")
    assert(admin.validate("s1"))
    assert(admin.describe("s1").size == Envelope.DefaultShards)
    admin.delete("s1")
    assert(!admin.validate("s1") && admin.describe("s1").isEmpty)
  }

  test("SDK admin backend constructs without the SDK and raises a descriptive error on first use") {
    val admin = new SdkStreamAdmin("us-east-2")
    val e = intercept[IllegalStateException](admin.create("s1"))
    assert(e.getMessage.contains("AWS SDK"), e.getMessage)
    // a missing SDK is an environment error, not a missing stream: every
    // verb raises rather than degrading to a false-negative validate
    intercept[IllegalStateException](admin.validate("s1"))
  }

  // --- Watermark eviction boundaries (st09/st10 oracle contracts) -------
  // The st09/st10 oracles hand-encode Spark's eviction predicates: STRICT
  // p_ts < cutoff for outer-join null-padding, NON-STRICT window_end <=
  // watermark for append-mode window closure. The corpus fixtures don't
  // pin events exactly ON those cutoffs, so these tests do — an off-by-one
  // in either direction fails here before it can silently diverge from
  // the oracle on an unlucky corpus.

  private def boundaryEvent(id: Long, t: String, u: Long, typ: String) =
    EventStreams.Event(id, java.sql.Timestamp.valueOf(t), u, typ, 1.0)

  private def runAppend(name: String, df: org.apache.spark.sql.DataFrame) = {
    val q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("append windows: a window ending EXACTLY on the final watermark emits (non-strict closure)") {
    val ms = MemoryStream[EventStreams.Event](spark)
    ms.addData(Seq(
      boundaryEvent(1, "2026-01-01 10:15:00", 1, "click"),
      boundaryEvent(2, "2026-01-01 10:45:00", 1, "click"),
      boundaryEvent(3, "2026-01-01 11:30:00", 1, "click"), // open window, withheld
      boundaryEvent(4, "2026-01-01 12:00:00", 1, "click"))) // max ts → watermark 11:00
    val out = runAppend("wm_append_windows", EventStreams.tumblingCounts(ms.toDF()))
    val rows = out.collect()
      .map(r => (r.getTimestamp(0), r.getLong(2))).toMap
    // [10:00,11:00) has window_end == watermark == 11:00 → emits (<=);
    // [11:00,12:00) and [12:00,13:00) end past the watermark → withheld
    assert(rows == Map(java.sql.Timestamp.valueOf("2026-01-01 10:00:00") -> 2L),
      s"append closure must be window_end <= watermark, non-strict; got ${rows.toSeq.sorted}")
  }

  test("outer join: a purchase EXACTLY on the watermark cutoff stays unemitted (strict eviction)") {
    val ms = MemoryStream[EventStreams.Event](spark)
    ms.addData(Seq(
      // anchor both stream maxima at 13:00 → global watermark = 12:00
      boundaryEvent(1, "2026-01-01 13:00:00", 99, "purchase"),
      boundaryEvent(2, "2026-01-01 13:00:00", 99, "click"),
      boundaryEvent(3, "2026-01-01 12:00:00", 1, "purchase"),  // == cutoff: withheld
      boundaryEvent(4, "2026-01-01 11:59:00", 2, "purchase"))) // < cutoff: null-padded
    val out = runAppend("wm_outer_join", EventStreams.purchaseClickLeftJoin(ms.toDF()))
    val unmatchedUsers = out.filter(col("click_id").isNull)
      .collect().map(_.getLong(0)).toSet
    // a click at exactly c_ts == watermark is still admissible (late iff
    // c_ts < watermark), so a purchase AT the cutoff could still match
    // and must not null-pad yet — the oracle's strict p_ts < cutoff
    assert(unmatchedUsers == Set(2L),
      s"outer eviction must be strict p_ts < cutoff; null-padded users: $unmatchedUsers")
    assert(out.filter(col("user_id") === 99L && col("click_id").isNotNull).count() == 1)
  }

  test("event-time timers: silence closes a session via handleExpiredTimer, gaps close inline") {
    // gap 30 min, watermark 10 min. Batch 1: user 1 has a 2-event session
    // (10:00, 10:05); user 2 has 10:00 then 11:00 — a 60-min batch-internal
    // gap that must close inline. After batch 1 the watermark (10:50)
    // already passes user 1's timer (10:35) → the no-data batch fires it.
    // Batch 2's anchor (13:00 → watermark 12:50) passes user 2's re-armed
    // timer (11:30) → closes its second session. User 99 stays open: its
    // timer (13:30) is past the final watermark and must never fire.
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[EventStreams.Event](spark)
      ms.addData(Seq(
        boundaryEvent(1, "2026-01-01 10:00:00", 1, "click"),
        boundaryEvent(2, "2026-01-01 10:05:00", 1, "click"),
        boundaryEvent(3, "2026-01-01 10:00:00", 2, "click"),
        boundaryEvent(4, "2026-01-01 11:00:00", 2, "click")))
      val q = EventStreams.timerSessions(spark, ms.toDS()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("timer_sessions").start()
      q.processAllAvailable()
      ms.addData(Seq(boundaryEvent(5, "2026-01-01 13:00:00", 99, "click")))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("timer_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val byUser = rows.groupBy(_._1)
      assert(byUser(1L).toSeq == Seq((1L, 2L, 300000000L)),
        s"user 1 must close by TIMER with both events: $rows")
      assert(byUser(2L).length == 2 && byUser(2L).forall(t => t._2 == 1L && t._3 == 0L),
        s"user 2 must close once inline and once by timer: $rows")
      assert(!byUser.contains(99L), s"user 99's session must stay open: $rows")
    }
  }

  test("event-time timers: an expiry EXACTLY on the watermark fires (non-strict, pins st11's oracle)") {
    // user 1's frontier is 10:00:00 → timer expiry 10:30:00. The anchor at
    // 10:40:00 puts the watermark at exactly 10:30:00. st11's oracle
    // encodes expiry_ms <= watermark_ms (non-strict); this fixture is the
    // tie case the corpus may never produce, locking the predicate the
    // same way the st09/st10 boundary tests lock theirs.
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[EventStreams.Event](spark)
      ms.addData(Seq(
        boundaryEvent(1, "2026-01-01 10:00:00", 1, "click"),
        boundaryEvent(2, "2026-01-01 10:40:00", 99, "click")))
      val q = EventStreams.timerSessions(spark, ms.toDS()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("timer_boundary").start()
      q.processAllAvailable()
      q.stop()
      val users = spark.table("timer_boundary").collect().map(_.getLong(0)).toSet
      assert(users == Set(1L),
        s"expiry == watermark must fire (and the 99 anchor must stay open): $users")
    }
  }

  private def doc(id: Long, text: String, ts: String): DocStreams.Doc =
    DocStreams.Doc(id, text, java.sql.Timestamp.valueOf(ts))

  test("streaming LSH dedup: identical text collides on all 16 bands, distinct text on none") {
    // st12's in-horizon semantics pinned against d04's candidate predicate:
    // doc 2 repeats doc 1's text → identical MinHash signature → all 16
    // band keys collide with the smaller doc 1, so exactly 16 evidence
    // rows for doc 2; doc 50's unrelated shingle set collides on none.
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[DocStreams.Doc](spark)
      ms.addData(Seq(
        doc(1, "the quick brown fox jumps over the lazy dog", "2026-01-01 10:00:00"),
        doc(2, "the quick brown fox jumps over the lazy dog", "2026-01-01 10:00:05"),
        doc(50, "entirely different words in an unrelated order here", "2026-01-01 10:00:10")))
      val q = DocStreams.bandDedup(spark, ms.toDF()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("lsh_dedup_batch1").start()
      q.processAllAvailable()
      q.stop()
      val hits = spark.table("lsh_dedup_batch1").collect().map(_.getLong(0))
      assert(hits.count(_ == 2L) == 16, s"doc 2 must collide on all 16 bands: ${hits.toSeq}")
      assert(!hits.contains(1L) && !hits.contains(50L),
        s"band minimum and unrelated doc must pass: ${hits.toSeq}")
    }
  }

  test("streaming LSH dedup: eviction boundary — a duplicate after the horizon is NOT flagged") {
    // The watermark/TTL contract st12's doc promises: doc 2 repeats doc 1
    // within the 30-min horizon → flagged; the 12:00 anchor advances the
    // watermark to 11:50, past the text-A keys' eviction timers
    // (10:05 + 30 min), so the no-data batch clears their state; doc 3
    // then repeats the same text and must arrive to EMPTY state — it
    // becomes the new band minimum instead of a duplicate (exactly
    // dropDuplicatesWithinWatermark's re-admission semantics, generalized
    // to near-dup keys).
    EventStreams.withRocksDBStateStore(spark) {
      val text = "the quick brown fox jumps over the lazy dog"
      val ms = MemoryStream[DocStreams.Doc](spark)
      ms.addData(Seq(doc(1, text, "2026-01-01 10:00:00")))
      val q = DocStreams.bandDedup(spark, ms.toDF()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("lsh_dedup_evict").start()
      q.processAllAvailable()
      ms.addData(Seq(doc(2, text, "2026-01-01 10:05:00")))
      q.processAllAvailable()
      ms.addData(Seq(doc(90, "an unrelated watermark anchor document for timer firing", "2026-01-01 12:00:00")))
      q.processAllAvailable()
      ms.addData(Seq(doc(3, text, "2026-01-01 12:01:00")))
      q.processAllAvailable()
      q.stop()
      val hits = spark.table("lsh_dedup_evict").collect().map(_.getLong(0))
      assert(hits.count(_ == 2L) == 16, s"in-horizon duplicate must flag on all bands: ${hits.toSeq}")
      assert(!hits.contains(3L), s"post-eviction repeat must NOT be flagged: ${hits.toSeq}")
      assert(!hits.contains(1L) && !hits.contains(90L), s"minima must pass: ${hits.toSeq}")
    }
  }

  test("st20 image stream: band keys carry across batches; horizon eviction re-admits a repeat image") {
    // Three distinct synthetic images (8-byte header + >= 64 payload
    // bytes, doc_ids % 3 == 0 so packBlobs types them image; event time
    // re-derives as epoch + doc_id seconds inside the monitor).
    val imgA = "HDRAhdra" + ("the payload bytes of image A repeating " * 2)
    val imgB = "HDRBhdrb" + ("a thoroughly different second payload bb " * 2)
    val imgC = "HDRChdrc" + ("and a third unrelated anchor payload cc " * 2)
    // Fixture precondition: the three images share NO band key, so every
    // flag below is attributable (16-bit keys can coincide in principle —
    // assert disjointness with the same batch kernel the monitor uses).
    locally {
      val blobs = graft.multimodal.Multimodal.packBlobs(spark,
        Seq((3L, imgA), (6L, imgB), (9L, imgC)).toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("planted")))
      val hs = graft.multimodal.Multimodal.imageBandHashes(blobs).collect()
      assert(hs.length == 3)
      val keys = hs.map(h => Set((0, h.h0), (1, h.h1), (2, h.h2), (3, h.h3)))
      assert((keys(0) & keys(1)).isEmpty && (keys(0) & keys(2)).isEmpty
        && (keys(1) & keys(2)).isEmpty, "fixture images must be band-disjoint")
    }
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[DocStreams.Doc](spark)
      ms.addData(Seq(doc(3, imgA, "2026-01-01 10:00:00")))
      val q = DocStreams.imageBandDedup(spark, ms.toDF()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("st20_spec").start()
      q.processAllAvailable()
      // batch 2 rides batch 1's carried band index: the imgA repeat flags
      // on all 4 bands; imgB's first carrier passes
      ms.addData(Seq(doc(6, imgA, "2026-01-01 10:00:06"),
        doc(300, imgB, "2026-01-01 10:05:00")))
      q.processAllAvailable()
      // anchor: event time epoch+9006 s advances the watermark (10 min
      // delay) past every earlier key's eviction timer (maxTs + 30 min),
      // so the no-data batch clears their state
      ms.addData(Seq(doc(9006, imgC, "2026-01-01 12:30:06")))
      q.processAllAvailable()
      // post-eviction re-admission: the repeat arrives to EMPTY band
      // state and becomes the new minimum instead of a duplicate
      ms.addData(Seq(doc(9009, imgA, "2026-01-01 12:30:09")))
      q.processAllAvailable()
      q.stop()
      val hits = spark.table("st20_spec").collect().map(_.getLong(0))
      assert(hits.count(_ == 6L) == 4, s"in-horizon repeat must flag all 4 bands: ${hits.toSeq}")
      assert(!hits.contains(3L) && !hits.contains(300L) && !hits.contains(9006L),
        s"band minima must pass: ${hits.toSeq}")
      assert(!hits.contains(9009L), s"post-eviction repeat must NOT flag: ${hits.toSeq}")
    }
  }

  test("st19 substring monitor: window keys carry across batches; offset-shifted embeds flag; smaller late docs pass") {
    // independent Scala mirror of the anchored-window grammar (the d20
    // spec's helper): windows start after each space
    def windows(t: String): Set[String] =
      (1 to t.length - 32).filter(i => t.charAt(i - 1) == ' ')
        .map(i => t.substring(i, i + 32)).toSet
    val boiler = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val d10 = "doc ten leads with " + boiler + " then a unique tail"
    val d20 = "zz " + boiler + " entirely different ending text here"   // shifted offset
    val d30 = "completely unrelated content with no shared verbatim runs at all"
    val d05 = "prefix words " + boiler + " another unique suffix body"  // SMALLER id, arrives last
    val sharedWith = (t: String) => (windows(t) intersect windows(d10)).size
    assert(sharedWith(d20) > 0, "fixture must share anchored windows across the offset shift")
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[DocStreams.Doc](spark)
      ms.addData(Seq(doc(10, d10, "2026-01-01 10:00:00")))
      val q = DocStreams.substringDupMonitor(spark, ms.toDF()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("st19_spec").start()
      q.processAllAvailable()
      // batch 2 rides batch 1's carried window index
      ms.addData(Seq(
        doc(20, d20, "2026-01-01 10:01:00"),
        doc(30, d30, "2026-01-01 10:01:30")))
      q.processAllAvailable()
      // batch 3: a SMALLER doc carrying the same boilerplate becomes the
      // new minimum for those keys instead of evidence (the st12 monotone
      // contract at window grain)
      ms.addData(Seq(doc(5, d05, "2026-01-01 10:02:00")))
      q.processAllAvailable()
      q.stop()
      val hits = spark.table("st19_spec").collect().map(_.getLong(0))
      assert(hits.count(_ == 20L) == sharedWith(d20),
        s"doc 20 must flag once per shared window (${sharedWith(d20)}): ${hits.toSeq}")
      assert(!hits.contains(30L), s"unrelated doc must pass: ${hits.toSeq}")
      assert(!hits.contains(10L), s"the window minimum must pass: ${hits.toSeq}")
      assert(!hits.contains(5L), s"a smaller late doc must pass: ${hits.toSeq}")
    }
  }

  test("Kinesis transport declares its wiring but refuses to run without the connector") {
    val k = KinesisStreamIO()
    assert(k.sourceOptions("kinesis.streamName") == "java-test-stream")
    assert(k.sourceOptions("kinesis.region") == "us-east-2")
    assert(k.sourceOptions("kinesis.startingPosition") == "TRIM_HORIZON")
    assert(k.sinkOptions("kinesis.partitionKey") == "partitionKey")
    intercept[UnsupportedOperationException](k.read(spark))
  }

  test("st13 prequential anomaly: warm-up gates at exactly 10 predecessors; moments carry across the batch boundary") {
    // 11 flat events in batch 1: events 1-10 are warm-up (scored=0), event
    // 11 is the FIRST scored one (boundary pinned at n_prev == 10) and a
    // flat history makes it non-anomalous. Batch 2 rides the CARRIED
    // moments: a 100× spike flags against the flat history, and the next
    // flat event does NOT — the spike fattened the variance it is judged
    // against (test-then-train order pinned at the batch boundary).
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[EventStreams.Event](spark)
      def ev(id: Long, m: Int, v: Double) = EventStreams.Event(
        id, java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00"), 1L, "click", v)
      ms.addData((1 to 11).map(i => ev(i.toLong, i, 1.0)))
      val q = EventStreams.prequentialAnomalies(spark, ms.toDF()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("st13_spec").start()
      q.processAllAvailable()
      ms.addData(Seq(ev(12L, 12, 100.0), ev(13L, 13, 1.0)))
      q.processAllAvailable(); q.stop()
      val got = spark.table("st13_spec").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got.size == 13, got.toString)
      (1 to 10).foreach(i => assert(got(i.toLong) == ((0L, 0L)), s"event $i: ${got(i.toLong)}"))
      assert(got(11L) == ((1L, 0L)), s"first scored event: ${got(11L)}")
      assert(got(12L) == ((1L, 1L)), s"spike vs carried flat moments: ${got(12L)}")
      assert(got(13L) == ((1L, 0L)), s"post-spike flat event: ${got(13L)}")
    }
  }

  test("st14 top-k: MapState counts carry across batches; ties break user-asc; 4th user stays off the board") {
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[EventStreams.Event](spark)
      def ev(id: Long, u: Long) = boundaryEvent(id, "2026-01-01 10:00:00", u, "click")
      ms.addData(Seq(ev(1, 1), ev(2, 1), ev(3, 2), ev(4, 2), ev(5, 3)))
      val q = EventStreams.topkPerType(spark, ms.toDF()).toDF()
        .writeStream.outputMode("update").format("memory")
        .queryName("st14_spec").start()
      q.processAllAvailable()
      ms.addData(Seq(ev(6, 3), ev(7, 3), ev(8, 4)))
      q.processAllAvailable(); q.stop()
      val got = spark.table("st14_spec").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      // batch 1: users 1,2 tie at 2 (user-asc), 3 trails at 1
      // batch 2: user 3 reaches 3 and takes the lead off the CARRIED map;
      // user 4 (count 1) never makes the board
      assert(got == Seq((1L, 2L, 1L), (2L, 2L, 2L), (3L, 1L, 3L),
        (3L, 3L, 1L), (1L, 2L, 2L), (2L, 2L, 3L)), got.mkString(", "))
    }
  }

  test("st15 sequence: triple spanning the batch boundary fires off carried ListState; interruptions don't") {
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[EventStreams.Event](spark)
      def ev(id: Long, m: Int, u: Long, t: String) =
        boundaryEvent(id, f"2026-01-01 10:$m%02d:00", u, t)
      // user 1: [view, click | purchase] — the triple crosses the boundary
      // user 2: view, purchase, click, purchase — never consecutive, no hit
      // user 3: view, click, view, click, purchase — suffix rolls, ONE hit
      ms.addData(Seq(
        ev(1, 1, 1, "view"), ev(2, 2, 1, "click"),
        ev(3, 1, 2, "view"), ev(4, 2, 2, "purchase"),
        ev(5, 3, 2, "click"), ev(6, 4, 2, "purchase"),
        ev(7, 1, 3, "view"), ev(8, 2, 3, "click"), ev(9, 3, 3, "view"),
        ev(10, 4, 3, "click"), ev(11, 5, 3, "purchase")))
      val q = EventStreams.consecutiveTriples(spark, ms.toDF()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("st15_spec").start()
      q.processAllAvailable()
      ms.addData(Seq(ev(12, 3, 1, "purchase")))
      q.processAllAvailable(); q.stop()
      val got = spark.table("st15_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((3L, 11L), (1L, 12L)), got.toString)
    }
  }

  test("st16 FIFO: lots carry across the batch boundary, drain head-first, and lost demand is never backfilled") {
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[EventStreams.Event](spark)
      def ev(id: Long, m: Int, u: Long, t: String, v: Double) =
        EventStreams.Event(id, java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00"), u, t, v)
      // batch 1 — user 1: purchase BEFORE any supply (lost 500), then a
      // 10.00 lot; user 2: two lots 3.00 + 2.00
      ms.addData(Seq(
        ev(1, 1, 1, "purchase", 5.00), ev(2, 2, 1, "view", 10.00),
        ev(3, 1, 2, "view", 3.00), ev(4, 2, 2, "view", 2.00)))
      val q = EventStreams.fifoMatches(spark, ms.toDS()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("st16_spec").start()
      q.processAllAvailable()
      // batch 2 — user 1: purchase 3.00 against the CARRIED 10.00 lot
      // (the earlier lost 5.00 must NOT consume it); user 2: purchase
      // 4.00 drains lot 1 whole (300) + 100 from lot 2 head-first
      ms.addData(Seq(
        ev(5, 3, 1, "purchase", 3.00),
        ev(6, 3, 2, "purchase", 4.00)))
      q.processAllAvailable()
      // batch 3 — user 2: purchase 2.00 against the 100 left in lot 2
      ms.addData(Seq(ev(7, 4, 2, "purchase", 2.00)))
      q.processAllAvailable(); q.stop()
      val got = spark.table("st16_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set(
        (1L, 1L, 500L, 0L),
        (1L, 5L, 300L, 300L),
        (2L, 6L, 400L, 400L),
        (2L, 7L, 200L, 100L)), got.toString)
    }
  }

  test("st17 CUSUM: S_n carries across the batch boundary, resets at 0, and S == h is NOT an alarm (strict boundary)") {
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[EventStreams.Event](spark)
      def ev(id: Long, m: Int, u: Long, v: Double) =
        EventStreams.Event(id, java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00"), u, "view", v)
      // k = 60e6, h = 150e6 on the 1e6 grid (the cusumAlarms defaults).
      // user 1 batch 1: v=100 -> S=40e6; v=120 -> 100e6; v=10 -> 50e6
      // user 2 batch 1: v=10 -> S=max(0, -50e6) = 0 (the reset pin)
      ms.addData(Seq(
        ev(1, 1, 1, 100.0), ev(2, 2, 1, 120.0), ev(3, 3, 1, 10.0),
        ev(6, 1, 2, 10.0)))
      val q = EventStreams.cusumAlarms(spark, ms.toDS().toDF()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("st17_spec").start()
      q.processAllAvailable()
      // user 1 batch 2 (S=50e6 CARRIED): v=160 -> S=150e6 == h exactly —
      // must NOT alarm (strict >); v=61 -> 151e6 -> the first alarm, rn=5
      // user 2 batch 2: v=200 -> 140e6 (no alarm), v=0 -> 80e6
      ms.addData(Seq(
        ev(4, 4, 1, 160.0), ev(5, 5, 1, 61.0),
        ev(7, 2, 2, 200.0), ev(8, 3, 2, 0.0)))
      q.processAllAvailable(); q.stop()
      val got = spark.table("st17_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(got == Set(
        (1L, 1L, 1L, 40000000L, 0L),
        (1L, 2L, 2L, 100000000L, 0L),
        (1L, 3L, 3L, 50000000L, 0L),
        (1L, 4L, 4L, 150000000L, 0L),
        (1L, 5L, 5L, 151000000L, 1L),
        (2L, 6L, 1L, 0L, 0L),
        (2L, 7L, 2L, 140000000L, 0L),
        (2L, 8L, 3L, 80000000L, 0L)), got.toString)
    }
  }

  test("st18 HLL: registers carry across batches (stream == batch aggregator over the union), duplicates never move the sketch") {
    EventStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[EventStreams.Event](spark)
      def ev(id: Long, u: Long, t: String) =
        EventStreams.Event(id, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), u, t, 1.0)
      // the batch-side mirror: fold the SAME aggregator over a user set
      val hll = new graft.functions.Aggregators.HllDistinct(17L)
      def batchEst(users: Seq[Long]): Long =
        hll.finish(users.foldLeft(hll.zero)((r, u) => hll.reduce(r, u)))
      // batch 1 — view: users {1, 2, 3} (3 repeated); click: {10}
      ms.addData(Seq(ev(1, 1, "view"), ev(2, 2, "view"), ev(3, 3, "view"),
        ev(4, 3, "view"), ev(5, 10, "click")))
      val q = EventStreams.hllUsers(spark, ms.toDS().toDF()).toDF()
        .writeStream.outputMode("update").format("memory")
        .queryName("st18_spec").start()
      q.processAllAvailable()
      val afterB1 = spark.table("st18_spec").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(afterB1 == Set(
        ("view", 4L, batchEst(Seq(1L, 2L, 3L))),
        ("click", 1L, batchEst(Seq(10L)))), afterB1.toString)
      // batch 2 — view: {2, 3} are REPEATS (the sketch must not move for
      // them), {4, 5} are new; the carried registers make the emission
      // equal the batch fold over the UNION {1..5}
      ms.addData(Seq(ev(6, 2, "view"), ev(7, 4, "view"), ev(8, 5, "view"),
        ev(9, 3, "view")))
      q.processAllAvailable(); q.stop()
      val perBatch = spark.table("st18_spec").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(perBatch.contains(("view", 8L, batchEst(Seq(1L, 2L, 3L, 4L, 5L)))),
        s"union estimate missing after carry: $perBatch")
      // and at tiny cardinalities linear counting is exact: est == truth
      assert(batchEst(Seq(1L, 2L, 3L, 4L, 5L)) == 5L)
    }
  }
}
