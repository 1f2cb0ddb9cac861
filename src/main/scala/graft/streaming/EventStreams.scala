package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming operator set over event streams (SURVEY.md §7 M3): watermarked
  * tumbling/sliding/session windows, in-watermark dedup, and arbitrary
  * stateful sessionization via `flatMapGroupsWithState`.
  *
  * Every operator here has a batch twin in
  * [[graft.operators.EventQueries]]; the streaming test suite replays the
  * events fixture through `MemoryStream` and asserts stream == batch.
  *
  * Scale posture: state is keyed by (window, type) or user_id — both
  * high-cardinality, shuffle-partitioned keys; watermarks bound state size;
  * at 100 TB the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass`) keeps per-executor
  * state off-heap.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)

  final case class ClosedSession(user_id: Long, n_events: Long, duration_us: Long)

  /** Runs `body` with the RocksDB state-store provider set (the
    * transformWithState backing contract and the 100 TB deployment
    * setting), restoring the previous provider after — the save/restore
    * block st04/st11 and three StreamingSpec tests would otherwise each
    * carry verbatim.
    */
  def withRocksDBStateStore[T](s: SparkSession)(body: => T): T = {
    // provider + changelog checkpointing together (r19, guide §5 / r18
    // VERDICT #4): changelog checkpointing is the deploy posture for the
    // RocksDB provider; with the provider alone every micro-batch commit
    // uploaded a FULL RocksDB snapshot instead of the batch's delta. Same results
    // (checkpoint mechanics only); st19 A/B best-warm cpu 19.8 → 17.5 s.
    val keys = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      // metric-only knob (documented Spark perf option): with tracking on,
      // EVERY state put pays a read-before-write to keep the
      // numTotalStateRows progress metric exact. Nothing in this repo (and
      // no oracle) reads that metric; st19 A/B best-warm cpu 16.0 → 11.7 s.
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")
    val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Tumbling 1-hour window counts (streaming twin of q60). */
  def tumblingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** Sliding 10-minute/5-minute window counts (streaming twin of q61). */
  def slidingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))

  /** Built-in session windows with a 30-minute gap. */
  def sessionCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Exactly-once-per-key dedup bounded by the watermark (streaming twin of
    * q63's minute-bucket dedup; state is evicted as the watermark passes).
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("minute_bucket", date_trunc("minute", col("ts")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute_bucket")

  /** Batch-plan twin of [[dedupWithinWatermark]] for the static plan audit:
    * `dropDuplicatesWithinWatermark` is streaming-only, so the batch
    * equivalent (same key derivation, plain dropDuplicates → keyed hash
    * aggregate) stands in for plan-shape assertions.
    */
  def dedupBatchTwin(events: DataFrame): DataFrame =
    events
      .withColumn("minute_bucket", date_trunc("minute", col("ts")))
      .dropDuplicates("user_id", "event_type", "minute_bucket")

  /** Watermarked stream-stream interval join: purchases matched to clicks
    * by the same user within the preceding hour. Both sides carry
    * watermarks so join state is evicted as event time advances — the
    * bounded-state form of stream-stream equi-joins (SURVEY.md §2.6
    * gap-fill; the 100 TB posture is "watermark everything or state grows
    * without bound").
    */
  def purchaseClickJoin(events: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"), col("p_ts"), col("c_ts"))
  }

  /** Left-outer twin of [[purchaseClickJoin]]: purchases with no click in
    * the preceding hour STILL emit, null-padded, once the watermark closes
    * their match window — the funnel-drop-off stream (q91's unmatched
    * complement) computed without a second batch pass. Outer emission
    * timing is watermark-driven: matches emit eagerly (append mode), and a
    * null-padded row emits only when the global watermark passes the
    * purchase's event time (state eviction), which for a bounded replay
    * means purchases inside the final watermark horizon never emit
    * unmatched rows — st09's oracle models exactly that cutoff.
    */
  def purchaseClickLeftJoin(events: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("user_id"), col("purchase_id"), col("click_id"), col("p_ts"), col("c_ts"))
  }

  /** Stream-static join: the streaming side enriched from a broadcastable
    * dimension (here ticker → mean price, mirroring the reference's
    * generator dictionary as a dim table).
    */
  def enrichTrades(trades: DataFrame, dim: DataFrame): DataFrame =
    trades.join(org.apache.spark.sql.functions.broadcast(dim), Seq("tickerSymbol"), "left")

  /** Stream-static enrichment + aggregation over the events fixture
    * (st07's plan): the static customer dim broadcasts to every
    * micro-batch (re-read per batch, so dim updates are picked up — the
    * stream-static contract), then a keyed aggregation rolls counts and
    * exact decimal value sums up to (segment, event_type). The decimal
    * cast keeps the streaming state's sum order-independent, so the final
    * complete-mode emission equals the batch join+aggregate bit-exactly.
    */
  def enrichedSegmentStats(events: DataFrame, customerDim: DataFrame): DataFrame =
    events
      .join(broadcast(customerDim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(24,6)")).as("sum_dec"))

  /** Per-user running event counter on the Spark 4 `transformWithState`
    * API — named state slots with per-slot encoders, TTL support, and
    * timers; the successor to `flatMapGroupsWithState` for arbitrary
    * state. Emits the running total for each user present in a
    * micro-batch (Update mode); state is one long per user. Requires the
    * RocksDB state store provider (the API's backing contract — also the
    * 100 TB deployment setting, since per-executor state lives off-heap).
    */
  final class RunningCountProcessor extends StatefulProcessor[Long, Event, (Long, Long)] {
    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator.single((user, n))
    }
  }

  /** Streaming twin of `events.groupBy(user_id).count()` via
    * [[RunningCountProcessor]].
    */
  def runningCounts(spark: SparkSession, events: Dataset[Event]): Dataset[(Long, Long)] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** A value-carrying event reduced to the 1e6 integer grid (see st13). */
  final case class VsEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp, vs: Long)

  /** Per-event prequential anomaly verdict: `scored` = had ≥10 predecessors. */
  final case class AnomalyFlag(user_id: Long, event_id: Long, scored: Long, is_anom: Long)

  /** Exact per-user moments (n, Σv, Σv²) with the square sum split into
    * two longs (hi·10¹⁸ + lo) — Σv² reaches ~10²² on the 1e6 grid, past
    * Long range, and the state encoder has no BigInt slot.
    */
  final case class Moments(n: Long, s: Long, qHi: Long, qLo: Long)

  /** PREQUENTIAL (online) z-score anomaly scoring — the streaming twin of
    * q85's batch 2σ test, but stream-natural: each event is judged against
    * the moments of the events seen BEFORE it (test-then-train, the
    * monitoring deployment shape), never against full-population stats a
    * stream cannot have. The z-test stays q85's exact integer rearrangement
    * (n·v − S)² > 4(n·Q − S²) on the 1e6 grid — BigInt inside the
    * processor, no float compare anywhere — with a ≥10-predecessor warm-up
    * before scoring. Within a batch events fold in (ts, event_id) order
    * (the st11 determinism contract), so a single-batch replay reproduces
    * the exact running-window batch oracle; across batches the carried
    * moments keep the fold seamless. Scale posture: per-user state is four
    * longs; users shuffle-partition; emissions are final (Append).
    */
  final class PrequentialAnomalyProcessor
      extends StatefulProcessor[Long, VsEvent, AnomalyFlag] {
    @transient private var st: ValueState[Moments] = _
    private val QL = BigInt("1000000000000000000")

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Moments]("moments", Encoders.product[Moments], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[VsEvent],
        timerValues: TimerValues): Iterator[AnomalyFlag] = {
      val batch = rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id))
      var (n, s, q) =
        if (st.exists()) { val m = st.get(); (m.n, m.s, BigInt(m.qHi) * QL + m.qLo) }
        else (0L, 0L, BigInt(0))
      val out = batch.map { r =>
        val vs = BigInt(r.vs)
        val scored = n >= 10
        val anom = scored && {
          val dev = BigInt(n) * vs - s
          dev * dev > (BigInt(n) * q - BigInt(s) * s) * 4
        }
        n += 1; s += r.vs; q += vs * vs
        AnomalyFlag(user, r.event_id, if (scored) 1L else 0L, if (anom) 1L else 0L)
      }
      st.update(Moments(n, s, (q / QL).toLong, (q % QL).toLong))
      out.iterator
    }
  }

  /** Streaming prequential anomaly flags via [[PrequentialAnomalyProcessor]]
    * over events with columns (user_id, event_id, ts, value); rows missing
    * any of them are dropped (the q85/oracle filter).
    */
  def prequentialAnomalies(spark: SparkSession, events: DataFrame): Dataset[AnomalyFlag] = {
    import spark.implicits._
    events
      .filter(col("ts").isNotNull && col("event_id").isNotNull
        && col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 1000000 + lit(0.5)).cast("long").as("vs"))
      .as[VsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new PrequentialAnomalyProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Per-event CUSUM verdict; `rn` = the user's 1-based fold index (carried
    * across batches — the cross-batch carry the MemoryStream spec pins).
    */
  final case class CusumFlag(user_id: Long, event_id: Long, rn: Long,
      s_n: Long, is_alarm: Long)

  /** Two longs: the running CUSUM statistic and the fold index. */
  final case class CusumState(s: Long, n: Long)

  /** ONLINE one-sided CUSUM (Page 1954) — a20's control chart as a
    * monitor, the shape the st13 prequential precedent proved valuable
    * online: S_n = max(0, S_{n-1} + (v_n − k)) per user on the 1e6 value
    * grid, alarm when S_n > h. Unlike a20's batch form the drift
    * parameters are FIXED configuration, not self-calibrated — an online
    * monitor cannot know the mean of a corpus it has not seen yet, and
    * shipping k/h as config IS the deployment shape of every production
    * control chart. State is two longs (S_n and the fold index); within a
    * batch events fold in µs-exact (ts, event_id) order (the st16
    * contract) and S_n carries ACROSS batches, so the inherently
    * sequential recursion replays declaratively via the SAME min-plus
    * identity st16 machine-checks: S_n = cum_n − min(0, min_{j≤n} cum_j)
    * over the running sum of (v − k). Scale posture: 16 B per user in the
    * state store, emissions per event, the report one keyed rollup.
    */
  final class CusumProcessor(kGrid: Long, hGrid: Long)
      extends StatefulProcessor[Long, VsEvent, CusumFlag] {
    @transient private var st: ValueState[CusumState] = _

    private def micros(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CusumState]("cusum", Encoders.product[CusumState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[VsEvent],
        timerValues: TimerValues): Iterator[CusumFlag] = {
      val batch = rows.toSeq.sortBy(r => (micros(r.ts), r.event_id))
      var (s, n) =
        if (st.exists()) { val c = st.get(); (c.s, c.n) } else (0L, 0L)
      val out = batch.map { r =>
        s = math.max(0L, s + (r.vs - kGrid))
        n += 1
        CusumFlag(user, r.event_id, n, s, if (s > hGrid) 1L else 0L)
      }
      st.update(CusumState(s, n))
      out.iterator
    }
  }

  /** Streaming CUSUM flags via [[CusumProcessor]] over events with columns
    * (user_id, event_id, ts, value); rows missing any of them are dropped
    * (the st13/oracle filter). k/h ride the 1e6 grid.
    */
  def cusumAlarms(spark: SparkSession, events: DataFrame,
      kGrid: Long = 60000000L, hGrid: Long = 150000000L): Dataset[CusumFlag] = {
    import spark.implicits._
    events
      .filter(col("ts").isNotNull && col("event_id").isNotNull
        && col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 1000000 + lit(0.5)).cast("long").as("vs"))
      .as[VsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new CusumProcessor(kGrid, hGrid),
        TimeMode.None(), OutputMode.Append())
  }

  /** One (type, user) pair for the distinct-user sketch. */
  final case class TypeUser(event_type: String, user_id: Long)

  /** Per-batch distinct-user sketch emission for one event type. */
  final case class HllEmit(event_type: String, n_events: Long, hll_users: Long)

  /** STREAMING approximate distinct-count — a06's deterministic 512-register
    * HyperLogLog as per-key ValueState, the rolling-uniques sketch every
    * monitoring dashboard keeps online (exact per-key distinct sets grow
    * with history; the register state is 512 BYTES per key forever): each
    * event type carries its register array, every arriving user folds in
    * through the SAME [[graft.functions.Aggregators.HllDistinct]] reduce
    * the batch aggregator runs (one shared implementation — the stream
    * cannot drift from a06), and after each batch the CURRENT estimate is
    * emitted with the cumulative event count. No in-batch sort: register
    * max is commutative and duplicate-insensitive, so fold order cannot
    * matter — the one stateful processor here with nothing to order.
    * Across batches the registers carry, so the single-batch bounded
    * replay equals the batch sketch over all events (spec pins the carry
    * AND stream == batch-aggregator equality). Scale posture: 512 B + one
    * long per key in the state store; emissions are one row per key per
    * batch; at 1e9-key cardinality this is exactly the HLL-register
    * rollup a06's scaladoc ships to 1000 executors.
    */
  final class HllDistinctProcessor(seed: Long)
      extends StatefulProcessor[String, TypeUser, HllEmit] {
    @transient private var regs: ValueState[Array[Byte]] = _
    @transient private var nEv: ValueState[Long] = _
    @transient private lazy val hll = new graft.functions.Aggregators.HllDistinct(seed)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      regs = getHandle.getValueState[Array[Byte]]("regs", Encoders.BINARY, TTLConfig.NONE)
      nEv = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[TypeUser],
        timerValues: TimerValues): Iterator[HllEmit] = {
      var r = if (regs.exists()) regs.get() else hll.zero
      var n = if (nEv.exists()) nEv.get() else 0L
      rows.foreach { tu => r = hll.reduce(r, tu.user_id); n += 1 }
      regs.update(r)
      nEv.update(n)
      Iterator.single(HllEmit(key, n, hll.finish(r)))
    }
  }

  /** Streaming per-type distinct-user estimates via [[HllDistinctProcessor]]
    * over events with (event_type, user_id); rows missing either are
    * dropped (the HllDistinct null contract — a typed processor would
    * decode null user as 0L and register a phantom distinct).
    */
  def hllUsers(spark: SparkSession, events: DataFrame,
      seed: Long = 17L): Dataset[HllEmit] = {
    import spark.implicits._
    events
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"), col("user_id").cast("long").as("user_id"))
      .as[TypeUser]
      .groupByKey(_.event_type)
      .transformWithState(new HllDistinctProcessor(seed),
        TimeMode.None(), OutputMode.Update())
  }

  /** One current-leaderboard row emitted by [[TopKProcessor]]. */
  final case class TopEntry(event_type: String, user_id: Long, n_events: Long, rnk: Long)

  /** Streaming per-type top-k leaderboard on transformWithState MAP state —
    * the one state surface the st04/st11/st12/st13 processors leave
    * unexercised (ValueState + timers): each event type keeps a
    * MapState[user → count] (per-entry state-store cells, NOT one
    * serialized blob — RocksDB point-updates each arriving user, which is
    * the reason MapState exists), and after folding a batch the processor
    * emits the CURRENT top-k (count desc, user asc — a total order). Update
    * semantics: each batch re-emits the leaderboard; the single-batch
    * bounded replay makes the one emission the global exact top-k, so the
    * oracle is a plain grouped count + row_number. Scale posture: state is
    * one long per (type, user) — the exact heavy-hitter ledger; at 100 TB
    * cardinality the per-type map degrades to a08's CMS + a01's bounded
    * top-k Aggregator, which the registry already carries; emissions are
    * k rows per type per batch.
    */
  final class TopKProcessor(k: Int)
      extends StatefulProcessor[String, (String, Long), TopEntry] {
    @transient private var counts: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Long, Long](
        "counts", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(eventType: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[TopEntry] = {
      rows.foreach { case (_, user) =>
        val prev = if (counts.containsKey(user)) counts.getValue(user) else 0L
        counts.updateValue(user, prev + 1L)
      }
      counts.iterator().toSeq
        .sortBy { case (user, n) => (-n, user) }
        .take(k).zipWithIndex
        .map { case ((user, n), i) => TopEntry(eventType, user, n, i + 1L) }
        .iterator
    }
  }

  /** Streaming top-k users per event type via [[TopKProcessor]] over events
    * with columns (event_type, user_id); null keys are dropped.
    */
  def topkPerType(spark: SparkSession, events: DataFrame, k: Int = 3): Dataset[TopEntry] = {
    import spark.implicits._
    events
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new TopKProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  /** A completed view→click→purchase triple, keyed to its closing event. */
  final case class TripleHit(user_id: Long, event_id: Long)

  /** Streaming CONSECUTIVE-sequence detector on transformWithState LIST
    * state — with st14's MapState this completes the stateful API's state
    * surfaces (ValueState st12/st13, MapState st14, timers st11): each
    * user keeps the trailing 2 event types as a ListState suffix window
    * (appendList/put semantics, the bounded-recent-history pattern
    * ListState exists for — a per-user ring of recent events no single
    * value cell models naturally), and an arriving event completes a hit
    * when the carried suffix is exactly [view, click] and the event is a
    * purchase — q92's sequence-regex semantics for STRICTLY CONSECUTIVE
    * triples, evaluated incrementally. Within a batch events fold in
    * (ts, event_id) order (the st11/st13 determinism contract), and the
    * suffix carries ACROSS batches, so a triple spanning a batch boundary
    * still fires (spec-pinned). Scale posture: state is ≤ 2 short strings
    * per user; emissions are hit-sized.
    */
  final class ConsecutiveTripleProcessor(pattern: Seq[String])
      extends StatefulProcessor[Long, VsTyped, TripleHit] {
    require(pattern.length == 3)
    @transient private var suffix: ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      suffix = getHandle.getListState[String]("suffix", Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[VsTyped],
        timerValues: TimerValues): Iterator[TripleHit] = {
      var last2 = if (suffix.exists()) suffix.get().toList else Nil
      val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id)).flatMap { r =>
        val hit = last2 == List(pattern(0), pattern(1)) && r.event_type == pattern(2)
        last2 = (last2 :+ r.event_type).takeRight(2)
        if (hit) Some(TripleHit(user, r.event_id)) else None
      }
      suffix.put(last2.toArray)
      out.iterator
    }
  }

  /** A typed event for the sequence detector (no measure needed). */
  final case class VsTyped(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      event_type: String)

  /** Streaming view→click→purchase triple detection via
    * [[ConsecutiveTripleProcessor]]; rows missing user/event/ts/type drop.
    */
  def consecutiveTriples(spark: SparkSession, events: DataFrame): Dataset[TripleHit] = {
    import spark.implicits._
    events
      .filter(col("ts").isNotNull && col("event_id").isNotNull
        && col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[VsTyped]
      .groupByKey(_.user_id)
      .transformWithState(new ConsecutiveTripleProcessor(Seq("view", "click", "purchase")),
        TimeMode.None(), OutputMode.Append())
  }

  /** Session CLOSER on transformWithState EVENT-TIME TIMERS — the timer
    * surface of the Spark 4 stateful API, which st04 (no time mode) and
    * st05 (fMGWS, no timeout) leave unexercised: each user keeps ONE armed
    * timer at (last event + gap); a new batch for the user disarms and
    * re-arms it, and when the event-time watermark finally passes the
    * expiry, `handleExpiredTimer` emits the CLOSED session and evicts the
    * state — emit-on-silence, which no input-driven operator can express
    * (a user who stops sending is exactly the one with no rows to react
    * to). A gap WITHIN a batch closes inline in `handleInputRows` — the
    * two emission paths produce the same ClosedSession shape.
    *
    * Determinism contract (spec-tested, not oracle-backed: timer firing
    * depends on watermark progression, which is a property of the REPLAY,
    * not of the data): within a batch events fold in (ts, event_id) order;
    * late events behind the session frontier are dropped exactly as
    * [[statefulSessions]] documents. Scale posture: per-user state is
    * three longs + one registered timer, both in the state store (RocksDB
    * off-heap at 100 TB); timers are stored per shuffle partition, so
    * expiry scans never cross executors.
    */
  final class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, ClosedSession] {
    // (sessionStartUs, lastEventUs, nEvents)
    @transient private var sess: ValueState[(Long, Long, Long)] = _

    private def micros(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      val hadPrior = sess.exists()
      var (start, last, n) = if (hadPrior) sess.get() else (Long.MinValue, Long.MinValue, 0L)
      rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val t = micros(e.ts)
        if (start == Long.MinValue) { start = t; last = t; n = 1L }
        else if (t >= last) { // late events behind the frontier are dropped
          if (t - last > gapMs * 1000L) { // batch-internal gap: close inline
            closed += ClosedSession(user, n, last - start)
            start = t; n = 0L
          }
          last = t; n += 1L
        }
      }
      sess.update((start, last, n))
      // exactly one armed timer per user: disarm whatever was pending,
      // re-arm at the new frontier + gap
      // materialize before deleting: mutating the timer store while its
      // iterator is open is implementation-defined in the state-store API.
      // Timer armed ⟺ state existed (registered together here; expiry
      // clears both), so first-encounter users skip the timer-CF scan
      // (the r19 DocStreams guard).
      if (hadPrior)
        getHandle.listTimers().toList.foreach(exp => getHandle.deleteTimer(exp.asInstanceOf[Long]))
      getHandle.registerTimer(Math.floorDiv(last, 1000L) + gapMs)
      closed.iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // a firing timer means no event re-armed it since registration, so
      // the open session is silent past the gap: close and evict
      if (sess.exists()) {
        val (start, last, n) = sess.get()
        sess.clear()
        Iterator.single(ClosedSession(user, n, last - start))
      } else Iterator.empty
    }
  }

  /** Closed sessions via [[SessionTimerProcessor]] (event-time timers). */
  def timerSessions(spark: SparkSession, events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000, watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** One FIFO match emission per purchase event (demand in integer cents
    * of `value`; matched ≤ demand, the shortfall is LOST, not backlogged).
    */
  final case class FifoEmit(user_id: Long, event_id: Long,
      demand_units: Long, matched_units: Long)

  /** Streaming FIFO matcher on transformWithState LIST state — q120's
    * batch lot-matching semantics met INCREMENTALLY, with the one twist
    * only an online matcher has: a purchase consumes exclusively from
    * supply that has ALREADY ARRIVED, and unfilled demand is lost, not
    * backlogged (the matcher answers now; it cannot borrow from the
    * future). Each user carries the FIFO queue of remaining lot units as
    * ListState (the order-book / inventory-reservation state shape — a
    * genuine QUEUE, which neither a value cell nor a map models: lots
    * retire strictly head-first), 'view' events append lots of
    * greatest(0, cents(value)) units, 'purchase' events drain head-first
    * and emit (demand, matched). Within a batch events fold in µs-exact
    * (ts, event_id) order (the st11/st13 contract — ms-truncated getTime
    * would reorder sub-ms neighbors against the batch twin) and the queue
    * carries ACROSS batches. The batch twin is the min-plus unrolling of
    * the recurrence M_p = min(S_p, M_{p−1} + d_p): total matched =
    * D + min(0, min over purchases of (S_j − D_j)) — one user-partitioned
    * running-sum window, which is how the oracle replays an inherently
    * sequential state machine declaratively. Scale posture: per-user
    * state is the open-lot queue (bounded by unconsumed supply LOTS, not
    * events — drained lots leave); emissions are purchase-sized.
    */
  final class FifoMatcherProcessor extends StatefulProcessor[Long, Event, FifoEmit] {
    @transient private var lots: ListState[Long] = _

    private def micros(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    private def units(value: Double): Long =
      math.max(0L, math.floor(value * 100 + 0.5).toLong)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lots = getHandle.getListState[Long]("lots", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[FifoEmit] = {
      var queue = if (lots.exists()) lots.get().toVector else Vector.empty[Long]
      val out = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).flatMap { e =>
        e.event_type match {
          case "view" =>
            val u = units(e.value)
            if (u > 0) queue :+= u
            None
          case "purchase" =>
            val demand = units(e.value)
            var need = demand
            while (need > 0 && queue.nonEmpty) {
              val take = math.min(queue.head, need)
              need -= take
              queue = if (take == queue.head) queue.tail
                      else (queue.head - take) +: queue.tail
            }
            Some(FifoEmit(user, e.event_id, demand, demand - need))
          case _ => None
        }
      }
      if (queue.nonEmpty) lots.put(queue.toArray) else if (lots.exists()) lots.clear()
      out.iterator
    }
  }

  /** Per-purchase FIFO matches via [[FifoMatcherProcessor]]. */
  def fifoMatches(spark: SparkSession, events: Dataset[Event]): Dataset[FifoEmit] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new FifoMatcherProcessor(),
        TimeMode.None(), OutputMode.Append())
  }

  /** Custom stateful sessionization via flatMapGroupsWithState — the escape
    * hatch when session logic outgrows `session_window` (reference has no
    * stateful ops at all; this is the M3/M4 pattern-setter). Emits the
    * *running* cumulative summary for each user present in a micro-batch;
    * downstream consumers keep the latest row per user (the tests take
    * `max(n_sessions)`).
    *
    * Ordering contract: events are sorted within a batch; an event arriving
    * in a LATER batch with an earlier timestamp than the user's frontier is
    * **dropped** (watermark-style at-most-once attribution) — folding it in
    * would regress `lastTs` and split sessions that the ordered stream
    * would have merged. Per-user state is three longs; a production variant
    * adds an event-time timeout to emit and evict closed sessions.
    */
  def statefulSessions(spark: SparkSession, events: Dataset[Event],
      gapMicros: Long = 30L * 60 * 1000000): Dataset[SessionSummary] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        case (user, it, state: GroupState[(Long, Long, Long)]) =>
          // state = (lastTsMicros, nSessions, nEvents)
          // full microsecond precision: Timestamp.getTime is ms-truncated,
          // so `getTime * 1000` silently floors sub-ms gap arithmetic —
          // a gap landing within 1 ms above the 30-min boundary would
          // merge sessions the µs-exact batch twin (q62 / st05's oracle,
          // both epoch_us-based) splits
          def micros(ts: java.sql.Timestamp): Long =
            Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
          var (lastTs, nSessions, nEvents) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val t = micros(e.ts)
            if (t >= lastTs || lastTs == Long.MinValue) { // late events dropped
              if (lastTs == Long.MinValue || t - lastTs > gapMicros) nSessions += 1
              nEvents += 1
              lastTs = t
            }
          }
          state.update((lastTs, nSessions, nEvents))
          Iterator(SessionSummary(user, nSessions, nEvents))
      }
  }
}
