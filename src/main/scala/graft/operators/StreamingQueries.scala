package graft.operators

import graft.GraftQuery
import graft.GraftQuery.sql
import graft.sources.Tables
import graft.streaming.{DocStreams, EventStreams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Registry-level evidence for the streaming operator set: each entry runs a
  * REAL `StreamingQuery` (bounded file stream → watermarked streaming
  * transform → memory sink, `Trigger.AvailableNow`) and returns the
  * materialized result, which the driver then hash-compares against a DuckDB
  * oracle over the same fixture. The streaming ScalaTest suite already
  * asserts stream == batch over `MemoryStream`; these entries put the same
  * equivalence behind the per-round correctness gate.
  *
  * Complete output mode keeps the result independent of micro-batch
  * boundaries and watermark timing for a bounded replay: the final state is
  * exactly the batch aggregation, so the batch-twin SQL is a valid oracle.
  */
object StreamingQueries {

  /** Bounded streaming read of `events.parquet` with the same event-time
    * normalization as the batch path — [[graft.sources.Tables.normalizeEventTs]]
    * handles whichever `ts` encoding the current corpus generation used
    * (legacy INT64 nanos, timestamp, or timestamp_ntz).
    */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // TIMESTAMP (not _ntz): withWatermark only accepts event time on
    // TIMESTAMP. Session TZ is UTC, so casting the result columns back to
    // timestamp_ntz (for the DuckDB compare) is an identity round-trip.
    //
    // Path shape depends on the corpus layout:
    //  - canonical corpus: events.parquet is a single FILE. For a non-glob
    //    path FileStreamSource force-sets basePath to the path itself and
    //    then requires a directory, so a trailing glob is needed (partition
    //    inference falls back to the matched files' parent dir).
    //  - partitioned layout (graft.sources.Layout): events.parquet is a
    //    DIRECTORY with event_type=... hive subdirs. Here the glob is what
    //    breaks: it matches the leaf files w/o a basePath, so the reader
    //    expects the partition column INSIDE the files and fails. The plain
    //    directory path makes FileStreamSource discover partitions exactly
    //    like the batch reader.
    val src = if (new java.io.File(path).isDirectory) path else s"$path*"
    Tables.normalizeEventTs(s.readStream.schema(schema).parquet(src))
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Bounded streaming read of `documents.parquet` for st12. Documents
    * carry no event time, so the stream assigns a deterministic synthetic
    * one — epoch 2024-01-01 UTC + doc_id seconds — which makes watermark
    * and timer arithmetic replayable (and irrelevant to the single-batch
    * oracle, which sees the whole corpus inside the horizon).
    */
  private def docStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = s.read.parquet(path).schema
    val src = if (new java.io.File(path).isDirectory) path else s"$path*"
    s.readStream.schema(schema).parquet(src)
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
  }

  /** Typed event ingest for the stateful processors (st04/st05): rows
    * without an event time are dropped (the production watermark path never
    * admits event-time-less rows either) and a null measure is zero-filled —
    * `Event`'s primitive `Long`/`Double` fields otherwise throw
    * NOT_NULL_ASSERT_VIOLATION at the encoder on dirty input (AnsiEdgeSpec).
    * Clean fixtures carry neither, so the batch-twin oracles are unaffected.
    */
  private def typedEventStream(s: SparkSession, dir: String):
      org.apache.spark.sql.Dataset[EventStreams.Event] = {
    import s.implicits._
    eventStream(s, dir)
      .filter(col("ts").isNotNull && col("event_id").isNotNull && col("user_id").isNotNull)
      .withColumn("value", coalesce(col("value"), lit(0.0)))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
  }

  /** Runs a streaming frame to completion into a memory sink and returns
    * the final table. Aggregations use `complete` (final state == batch
    * result regardless of batch boundaries); stream-stream inner joins use
    * `append` (matches emit eagerly, so a bounded replay emits exactly the
    * batch join).
    */
  private def runToMemory(s: SparkSession, agg: DataFrame, name: String,
      mode: String = "complete", partitions: Int = 4,
      requireSingleBatch: Boolean = false): DataFrame = {
    // Scale state to the fixture: every state-store instance is per-shuffle-
    // partition overhead (open/commit per micro-batch), so 32 partitions for
    // a ~15k-row bounded replay is ~8× pure bookkeeping. 4 keeps the same
    // multi-partition code path the 100 TB setting exercises; partition
    // count is read at stream start, so only this query is affected, and
    // the session value is restored before the (batch) result is consumed.
    // The count is per-query overridable; a r6 standalone sweep of the
    // stream-stream join (st03, the heaviest entry) measured steady-state
    // wall 2.7 s / 3.0 s / 5.4 s at 4 / 8 / 16 partitions, so 4 stands for
    // every entry. (The r5 in-bench st03 "regression" to 12.7 s was cold
    // first-touch cost — every partition count pays the same ~13-16 s first
    // take — i.e. JIT/code-cache pressure in a 116-query bench JVM, fixed
    // by raising ReservedCodeCacheSize, not a partitioning problem.)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try {
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // st06's batch-DISTINCT oracle is only valid while the whole bounded
      // replay lands in ONE micro-batch: across batches the advancing
      // watermark could evict state (re-admitting late duplicates) or drop
      // late rows outright — dropDuplicatesWithinWatermark guarantees
      // dedup only within the watermark. Fail loudly if the source ever
      // splits (multi-file fixture, a maxFilesPerTrigger default change)
      // instead of silently drifting from the oracle.
      if (requireSingleBatch) {
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches == 1,
          s"$name: bounded replay split into $dataBatches data micro-batches; " +
            "the batch-twin oracle is only exact for a single-batch replay")
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  val all: Seq[GraftQuery] = Seq(
    sql(
      "st01_stream_tumbling",
      "streaming tumbling 1-hour window counts (EventStreams.tumblingCounts) executed as a real StreamingQuery over a bounded file stream; oracle = the batch-twin SQL (complete mode ⇒ final state == batch aggregation)",
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |       event_type, count(*) AS n_events
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""") { (s, dir) =>
      val out = runToMemory(s,
        EventStreams.tumblingCounts(eventStream(s, dir)), "st01_out")
      out.select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"))
        .orderBy("window_start", "event_type")
    },

    sql(
      "st02_stream_sessions",
      "streaming built-in session windows (EventStreams.sessionCounts, 30-min gap) executed as a real StreamingQuery; oracle = gap-based sessionization via window cumsum (the q62 construction, aggregated per session)",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         -- >= (not >): session_window merges only strictly-overlapping
        |         -- windows, so a gap of exactly 30 min starts a new session
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start, count(*) AS n_events
        |FROM sessions
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""") { (s, dir) =>
      // complete mode is RETAINED deliberately (r6 verdict #4 explored the
      // st05 update-mode trick): Spark rejects update mode for session-
      // window aggregations outright (STREAMING_OUTPUT_MODE.UNSUPPORTED_
      // OPERATION — merging windows can't emit incremental updates), and
      // append mode only emits sessions the watermark has CLOSED, so a
      // bounded replay would drop every session ending within the final
      // watermark horizon. Complete's whole-state re-emit is the price of
      // the gate device; cost is bounded by the single-batch replay (r7
      // standalone: 2.7 s wall / 7.3 s executor warm — the 7.1 s in-bench
      // reading was first-touch). The 100 TB production path is the
      // watermarked append-mode stream with state eviction, not this gate.
      val out = runToMemory(s,
        EventStreams.sessionCounts(eventStream(s, dir)), "st02_out")
      out.select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    sql(
      "st03_stream_stream_join",
      "watermarked stream-stream interval join (EventStreams.purchaseClickJoin: purchases x clicks, same user, click within the preceding hour) executed as a real StreamingQuery; append mode — inner-join matches emit eagerly, so a bounded replay emits exactly the batch join",
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |       CAST(p.ts AS TIMESTAMP) AS p_ts, CAST(c.ts AS TIMESTAMP) AS c_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""") { (s, dir) =>
      val out = runToMemory(s,
        EventStreams.purchaseClickJoin(eventStream(s, dir)), "st03_out",
        mode = "append")
      out.select(col("user_id"), col("purchase_id"), col("click_id"),
          col("p_ts").cast("timestamp_ntz").as("p_ts"),
          col("c_ts").cast("timestamp_ntz").as("c_ts"))
        .orderBy("purchase_id", "click_id")
    },

    sql(
      "st04_stream_tws_counts",
      "Spark 4 transformWithState per-user running counts (EventStreams.RunningCountProcessor, RocksDB state store) executed as a real StreamingQuery; update mode emits the running total per batch, so max(n) per user is the final count regardless of batch boundaries",
      """SELECT user_id, count(*) AS n
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        val events = typedEventStream(s, dir)
        val out = runToMemory(s,
          EventStreams.runningCounts(s, events).toDF("user_id", "n"),
          "st04_out", mode = "update")
        out.groupBy("user_id").agg(max("n").as("n")).orderBy("user_id")
      }
    },

    sql(
      "st05_stream_fmgws_sessions",
      "arbitrary stateful sessionization via flatMapGroupsWithState (EventStreams.statefulSessions, 30-min gap) executed as a real StreamingQuery; the emitted summaries are cumulative, so max per user is the final state — oracle = the q62 gap-cumsum construction",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      val events = typedEventStream(s, dir)
      val out = runToMemory(s,
        EventStreams.statefulSessions(s, events).toDF(),
        "st05_out", mode = "append")
      out.groupBy("user_id")
        .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
        .orderBy("user_id")
    },

    sql(
      "st07_stream_static_enrich",
      "stream-static broadcast enrichment (EventStreams.enrichedSegmentStats: streaming events joined to the static customer dim, rolled up to segment x type with exact decimal sums) executed as a real StreamingQuery; the static side re-reads and re-broadcasts per micro-batch — the dimension-refresh contract — and complete mode makes the final state equal the batch join+aggregate",
      s"""SELECT c.c_mktsegment, e.event_type, count(*) AS n_events,
        |       ${graft.operators.Det.s2("e.value")} AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment, e.event_type
        |ORDER BY c_mktsegment, event_type""") { (s, dir) =>
      val out = runToMemory(s,
        EventStreams.enrichedSegmentStats(eventStream(s, dir),
          graft.sources.Tables.customer(s, dir)), "st07_out")
      out.select(col("c_mktsegment"), col("event_type"), col("n_events"),
          (floor(col("sum_dec").cast("double") * 100 + lit(0.5)) / 100).as("sum_value"))
        .orderBy("c_mktsegment", "event_type")
    },

    sql(
      "st08_stream_sliding",
      "streaming sliding windows (EventStreams.slidingCounts, 10-min width / 5-min slide — each event lands in two overlapping windows) executed as a real StreamingQuery; oracle = q61's arithmetic derivation of the two covering window starts, shared verbatim (complete mode ⇒ final state == batch aggregation)",
      EventQueries.SlidingWindowOracle) { (s, dir) =>
      val out = runToMemory(s,
        EventStreams.slidingCounts(eventStream(s, dir)), "st08_out")
      out.select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("n_events"))
        .orderBy("window_start")
    },

    sql(
      "st06_stream_dedup",
      "streaming exactly-once dedup (EventStreams.dedupWithinWatermark: dropDuplicatesWithinWatermark on user/type/minute, state evicted as the watermark passes) executed as a real StreamingQuery in append mode — dedup passes rows through, so a bounded replay emits exactly one row per key; the output keeps only the key columns, making the result independent of which physical duplicate survived. Oracle = batch DISTINCT over the same keys",
      """SELECT DISTINCT user_id, event_type,
        |       CAST(date_trunc('minute', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS minute_bucket
        |FROM events
        |ORDER BY user_id, event_type, minute_bucket""") { (s, dir) =>
      val out = runToMemory(s,
        EventStreams.dedupWithinWatermark(eventStream(s, dir))
          .select(col("user_id"), col("event_type"), col("minute_bucket")),
        "st06_out", mode = "append", requireSingleBatch = true)
      out.select(col("user_id"), col("event_type"),
          col("minute_bucket").cast("timestamp_ntz").as("minute_bucket"))
        .orderBy("user_id", "event_type", "minute_bucket")
    },

    sql(
      "st09_stream_outer_join",
      "watermarked LEFT OUTER stream-stream join (EventStreams.purchaseClickLeftJoin: st03's interval join, null-padding purchases with no click in the preceding hour) executed as a real StreamingQuery in append mode — the drop-off stream st03's inner join silently discards. Outer emission is WATERMARK-GATED state eviction, not batch left-join semantics: matches emit eagerly, but a null-padded row emits only once the global watermark (min over both inputs of max event time - 1h delay) passes the purchase's event time — so purchases inside the final watermark horizon of a bounded replay stay unmatched-and-unemitted, and the oracle reproduces that cutoff arithmetic exactly rather than pretending the stream is a batch. Scale posture: same symmetric hash-join state as st03, keyed by user; the watermark bounds both state size and the outer-emission delay at any corpus rate",
      """WITH p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |wm AS (SELECT least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
        |              - INTERVAL 1 HOUR AS cutoff),
        |matched AS (SELECT p.user_id, p.purchase_id, c.click_id, p.p_ts, c.c_ts
        |            FROM p JOIN c ON c.user_id = p.user_id
        |             AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR),
        |unmatched AS (SELECT p.user_id, p.purchase_id, CAST(NULL AS BIGINT) AS click_id,
        |                     p.p_ts, CAST(NULL AS TIMESTAMP) AS c_ts
        |              FROM p, wm
        |              WHERE p.p_ts < wm.cutoff
        |                AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.purchase_id = p.purchase_id))
        |SELECT user_id, purchase_id, click_id, p_ts, c_ts FROM matched
        |UNION ALL
        |SELECT user_id, purchase_id, click_id, p_ts, c_ts FROM unmatched
        |ORDER BY purchase_id, click_id NULLS FIRST""") { (s, dir) =>
      val out = runToMemory(s,
        EventStreams.purchaseClickLeftJoin(eventStream(s, dir)), "st09_out",
        mode = "append")
      out.select(col("user_id"), col("purchase_id"), col("click_id"),
          col("p_ts").cast("timestamp_ntz").as("p_ts"),
          col("c_ts").cast("timestamp_ntz").as("c_ts"))
        .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
    },

    sql(
      "st10_stream_append_windows",
      "APPEND-mode streaming tumbling windows (st01's transform under the OTHER output contract: complete mode re-emits whole state each batch — fine for a memory sink, unpayable into an append-only lake; append mode emits each window EXACTLY ONCE, when the watermark closes it, which is how windowed aggregates actually land in files at scale): same 1-hour tumbling count as st01, but only windows whose end the final watermark (max event time − 1h delay) has passed emit — trailing open windows are withheld, and the oracle reproduces that closure predicate (window_end <= watermark) instead of pretending the bounded replay saw the stream end. The st09 watermark-cutoff discipline applied to aggregation state. Scale posture: identical state to st01; append additionally bounds what each micro-batch WRITES (closed windows only) — the exactly-once file-sink contract",
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       event_type, count(*) AS n_events
        |FROM e
        |GROUP BY window_start, event_type
        |HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        |ORDER BY window_start, event_type""") { (s, dir) =>
      val out = runToMemory(s,
        EventStreams.tumblingCounts(eventStream(s, dir)), "st10_out",
        mode = "append")
      out.select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"))
        .orderBy("window_start", "event_type")
    },

    sql(
      "st11_stream_timer_sessions",
      "EVENT-TIME TIMERS as a real StreamingQuery (EventStreams.SessionTimerProcessor behind the oracle gate — st04/st05 cover the stateful API's input-driven paths; this covers its CLOCK-driven path, emit-on-silence, which no input-driven operator can express): per user one armed timer at (last event + 30 min); batch-internal gaps close sessions inline, and the final watermark's no-data batch fires handleExpiredTimer for every user whose frontier has gone silent past the gap. The bounded single-batch replay (requireSingleBatch, st06's guard) makes firing DETERMINISTIC and SQL-expressible: a session closes iff it is not its user's last, OR its end's timer expiry (end_ms + 30 min) has passed the final watermark (max_ts_ms - 10 min) — millisecond arithmetic because Spark floors event-time stats and timer expiries to ms; the StreamingSpec boundary test pins the <= firing predicate exactly as st09/st10 pin their eviction/closure predicates. Report = per-user closed-session count, event and duration mass. Scale posture: per-user state is three longs + one registered timer in the RocksDB store; timers are partition-local (expiry scans never cross executors), and the no-data-batch firing cadence is the same mechanism production uses to flush idle keys at watermark pace",
      """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id
        |           FROM events WHERE ts IS NOT NULL),
        |wm AS (SELECT max(tus) // 1000 - 600000 AS wm_ms FROM ev),
        |flagged AS (
        |  SELECT user_id, tus, event_id,
        |         CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |numbered AS (
        |  SELECT user_id, tus,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |                min(tus) AS s_us, max(tus) AS e_us
        |         FROM numbered GROUP BY user_id, sid),
        |lastid AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id),
        |closed AS (SELECT s.user_id, s.n_events, s.e_us - s.s_us AS duration_us
        |           FROM sess s JOIN lastid l ON l.user_id = s.user_id CROSS JOIN wm
        |           WHERE s.sid < l.last_sid
        |              OR s.e_us // 1000 + 1800000 <= wm.wm_ms)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_closed,
        |       CAST(sum(n_events) AS BIGINT) AS total_events,
        |       CAST(sum(duration_us) AS BIGINT) AS total_duration_us
        |FROM closed GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        val events = typedEventStream(s, dir)
        val out = runToMemory(s,
          EventStreams.timerSessions(s, events).toDF(),
          "st11_out", mode = "append", requireSingleBatch = true)
        out.groupBy("user_id").agg(
            count(lit(1)).as("n_closed"),
            sum("n_events").as("total_events"),
            sum("duration_us").as("total_duration_us"))
          .orderBy("user_id")
      }
    },

    sql(
      "st12_stream_lsh_dedup",
      "STREAMING near-duplicate dedup (DocStreams.bandDedup) — the LLM-pipeline dedup family's streaming representative: batch near-dup (d04/d13/d15) is a banding self-join, but a stream cannot join its own history, so the history lives AS STATE — the same fused ShingleMinHash band-key kernel d04 runs (k=32, 3-gram shingles, 16 bands × 2 rows) feeds a transformWithState processor keyed by (band, key) whose one-long state remembers the smallest doc_id holding the key, flags every later-arriving larger doc_id (d04's candidate predicate a.doc_id < b.doc_id, evaluated incrementally), and evicts via an event-time timer once the watermark passes (newest occurrence + 30 min) — dropDuplicatesWithinWatermark's horizon contract generalized to NEAR-dup keys. The bounded single-batch replay (requireSingleBatch, st06's guard) makes the state minimum the GLOBAL minimum per key, so the oracle is d04's banding join: a document's n_dup_bands counts bands where a smaller document shares its band key, and is_near_dup flags any such band. Documents carry no event time, so the stream assigns a deterministic synthetic one (epoch + doc_id seconds) — replayable watermark arithmetic, irrelevant to the single-batch result. Scale posture: 16 state cells × one long per corpus document in RocksDB, timer-bounded to the dedup horizon; band keys shuffle-partition like any high-cardinality key — no broadcast, no all-pairs, the d04 join cost amortized to O(new docs) per batch",
      s"""${DedupQueries.bandKeySql},
        |dups AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_bands FROM (
        |           SELECT DISTINCT b.doc_id, b.band
        |           FROM keys a JOIN keys b
        |             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        |         GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(COALESCE(u.n_dup_bands, 0) AS BIGINT) AS n_dup_bands,
        |       CAST(CASE WHEN u.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_near_dup
        |FROM documents d LEFT JOIN dups u ON u.doc_id = d.doc_id
        |ORDER BY d.doc_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        val out = runToMemory(s,
          DocStreams.bandDedup(s, docStream(s, dir)).toDF(),
          "st12_out", mode = "append", requireSingleBatch = true)
        val dups = out.groupBy("doc_id").agg(count(lit(1)).as("n_dup_bands"))
        Tables.documents(s, dir).select("doc_id")
          .join(dups, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_dup_bands"), lit(0L)).as("n_dup_bands"),
            when(col("n_dup_bands").isNull, lit(0L)).otherwise(lit(1L)).as("is_near_dup"))
          .orderBy("doc_id")
      }
    },

    sql(
      "st13_stream_anomaly",
      "STREAMING prequential anomaly detection (EventStreams.prequentialAnomalies) — the monitoring family's streaming representative: q85's exact-integer 2σ test evaluated ONLINE, each event judged against the moments of the events seen before it (test-then-train — the only z-score a stream can actually compute, since full-population stats don't exist mid-stream), with a ≥10-predecessor warm-up. Per-user state is four longs (n, Σv, and Σv² split hi/lo around 10¹⁸ — the square sum outgrows Long on the 1e6 grid); the test stays (n·v − S)² > 4(n·Q − S²) in BigInt, no division, sqrt, or float compare. Within a batch, events fold in (ts, event_id) order (st11's determinism contract), so the bounded single-batch replay reproduces the exact PRECEDING-rows running-window oracle; across batches the carried moments keep the prequential fold seamless (MemoryStream spec pins the batch boundary). Scale posture: user-keyed state store entries of 32 B, shuffle-partitioned; emissions are final (Append); the report is one keyed aggregation over the flags",
      """WITH g AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tts,
        |                  CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vs
        |           FROM events
        |           WHERE value IS NOT NULL AND ts IS NOT NULL
        |             AND event_id IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT user_id, vs,
        |             CAST(count(*) OVER w AS BIGINT) AS np,
        |             CAST(coalesce(sum(vs) OVER w, 0) AS BIGINT) AS sp,
        |             CAST(coalesce(sum(CAST(vs AS HUGEINT) * vs) OVER w, 0) AS HUGEINT) AS qp
        |      FROM g WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN np >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |       CAST(sum(CASE WHEN np >= 10
        |                      AND (CAST(np AS HUGEINT) * vs - sp)
        |                          * (CAST(np AS HUGEINT) * vs - sp)
        |                          > 4 * (np * qp - CAST(sp AS HUGEINT) * sp)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM r GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        val out = runToMemory(s,
          EventStreams.prequentialAnomalies(s, eventStream(s, dir)).toDF(),
          "st13_out", mode = "append", requireSingleBatch = true)
        out.groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_events"),
            sum("scored").cast("long").as("n_scored"),
            sum("is_anom").cast("long").as("n_anomalies"))
          .orderBy("user_id")
      }
    },

    sql(
      "st14_stream_topk",
      "STREAMING per-type top-3 leaderboard (EventStreams.topkPerType) — the exact heavy-hitter ledger on transformWithState MAP state, the one state surface the st04/st11/st12/st13 processors leave unexercised: each event type keeps MapState[user → count] (per-entry RocksDB cells point-updated per arriving user — the access pattern MapState exists for; a serialized ValueState map would rewrite the whole blob per event), and after each batch the processor emits the CURRENT leaderboard under the (count DESC, user ASC) total order. The bounded single-batch replay (st06's guard) makes the one emission the exact global top-3, so the oracle is a plain grouped count + row_number — batch a01's semantics met incrementally. Scale posture: one long per (type, user) in the state store; at 100 TB user cardinality the exact map hands off to a08's CMS + a01's bounded top-k Aggregator, both already in the registry; emissions are k rows per type per batch",
      """SELECT event_type, user_id, n_events, rnk FROM (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |                                 ORDER BY count(*) DESC, user_id) AS BIGINT) AS rnk
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY event_type, user_id)
        |WHERE rnk <= 3 ORDER BY event_type, rnk""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        runToMemory(s,
          EventStreams.topkPerType(s, eventStream(s, dir)).toDF(),
          "st14_out", mode = "update", requireSingleBatch = true)
          .orderBy("event_type", "rnk")
      }
    },

    sql(
      "st15_stream_sequence",
      "STREAMING consecutive-sequence detection (EventStreams.consecutiveTriples) — q92's sequence-regex semantics for STRICTLY CONSECUTIVE view→click→purchase triples, evaluated incrementally on transformWithState LIST state, completing the stateful API's state surfaces (ValueState st12/st13, MapState st14, timers st11, ListState here): each user carries the trailing 2 event types as a ListState suffix window — the bounded-recent-history pattern ListState exists for — and a purchase fires when the carried suffix is exactly [view, click]. Within a batch events fold in (ts, event_id) order and the suffix carries ACROSS batches, so a triple spanning a batch boundary still fires (MemoryStream spec pins it). The bounded single-batch replay makes the emissions the exact batch answer, so the oracle is the lag-window formulation: lag2 = view, lag1 = click, current = purchase per (ts, event_id)-ordered user stream. Scale posture: ≤ 2 short strings per user in the state store; emissions are hit-sized; the report is one keyed count",
      """WITH g AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tts
        |           FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |             AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT user_id,
        |             lag(event_type, 2) OVER w AS t2,
        |             lag(event_type, 1) OVER w AS t1,
        |             event_type AS t0
        |      FROM g WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_triples
        |FROM r WHERE t2 = 'view' AND t1 = 'click' AND t0 = 'purchase'
        |GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        runToMemory(s,
          EventStreams.consecutiveTriples(s, eventStream(s, dir)).toDF(),
          "st15_out", mode = "append", requireSingleBatch = true)
          .groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_triples"))
          .orderBy("user_id")
      }
    },

    sql(
      "st16_stream_fifo",
      "STREAMING FIFO matcher (EventStreams.fifoMatches) — q120's lot-matching semantics as an ONLINE state machine, the order-book/inventory-reservation pattern that is the canonical reason stateful streaming exists (a purchase consumes only supply that has ALREADY arrived, head-first, and unfilled demand is LOST, not backlogged — the matcher answers now and cannot borrow from the future; no batch operator exhibits this arrival-order dependence): each user's transformWithState ListState carries the FIFO queue of remaining lot units — a genuine QUEUE, the state shape ValueState (st12/st13), MapState (st14), and the st15 suffix ring all leave unexercised — with 'view' events appending greatest(0, cents(value)) lots and 'purchase' events draining and emitting (demand, matched). The oracle replays the inherently sequential recurrence M_p = min(S_p, M_{p-1} + d_p) DECLARATIVELY via its min-plus unrolling: total matched = D + min(0, min over purchase rows of (S_j - D_j)) — one user-partitioned running-sum window, exact integers end to end; the bounded single-batch replay (st06's guard) makes emissions the exact batch answer. Scale posture: per-user state is the open-lot queue (drained lots leave; bounded by unconsumed supply lots, not event history), emissions are purchase-sized, the rollup is one keyed count",
      """WITH g AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tts,
        |                  greatest(0, CAST(floor(coalesce(value, 0) * 100 + 0.5) AS BIGINT)) AS u
        |           FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |             AND user_id IS NOT NULL AND event_type IN ('view', 'purchase')),
        |r AS (SELECT user_id, event_type,
        |             CAST(sum(CASE WHEN event_type = 'view' THEN u ELSE 0 END)
        |                  OVER w AS BIGINT) AS s_j,
        |             CAST(sum(CASE WHEN event_type = 'purchase' THEN u ELSE 0 END)
        |                  OVER w AS BIGINT) AS d_j
        |      FROM g WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |             CAST(max(d_j) AS BIGINT) AS demand_units,
        |             least(CAST(0 AS BIGINT), CAST(min(s_j - d_j) AS BIGINT)) AS slack
        |      FROM r WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id, n_purchases, demand_units,
        |       demand_units + slack AS matched_units,
        |       -slack AS lost_units
        |FROM p ORDER BY user_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        runToMemory(s,
          EventStreams.fifoMatches(s, typedEventStream(s, dir)).toDF(),
          "st16_out", mode = "append", requireSingleBatch = true)
          .groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_purchases"),
            sum("demand_units").cast("long").as("demand_units"),
            sum("matched_units").cast("long").as("matched_units"))
          .select(col("user_id"), col("n_purchases"), col("demand_units"),
            col("matched_units"),
            (col("demand_units") - col("matched_units")).as("lost_units"))
          .orderBy("user_id")
      }
    },

    sql(
      "st17_stream_cusum",
      "STREAMING one-sided CUSUM monitor (EventStreams.cusumAlarms) — a20's Page control chart run ONLINE per user, the drift-family's streaming representative beside st13's per-point prequential z-test (st13 flags single spikes against running moments; this integrates SUSTAINED small excess — a user whose values run persistently above target trips CUSUM while never tripping a z-test): S_n = max(0, S_{n-1} + (v_n - k)) on the 1e6 value grid with FIXED config parameters k = 60e6, h = 150e6 (unlike a20's self-calibrated batch form — an online monitor cannot know the mean of data it has not seen; shipping k/h as configuration IS the production control-chart deployment shape). Per-user state is two longs (S_n and the fold index) on transformWithState ValueState; within a batch events fold in µs-exact (ts, event_id) order and S_n carries ACROSS batches (MemoryStream spec pins the carry and the strict S > h alarm boundary), so the inherently sequential recursion replays declaratively through the SAME min-plus identity st16 machine-checks: S_n = cum_n - min(0, min_{j<=n} cum_j) over the running (v - k) sum — two user-partitioned windows, exact integers end to end; the bounded single-batch replay (st06's guard) makes emissions the exact batch answer. Output: per user n_events, max CUSUM, alarm count, first-alarm fold index (-1 = never, a20's sentinel discipline). Scale posture: 16 B per user in the state store, emissions per event, one keyed rollup",
      """WITH g AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tts,
        |                  CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vs
        |           FROM events
        |           WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |             AND user_id IS NOT NULL AND value IS NOT NULL),
        |c AS (SELECT user_id, event_id, tts,
        |             CAST(sum(vs - 60000000) OVER w AS BIGINT) AS cum,
        |             CAST(row_number() OVER (PARTITION BY user_id ORDER BY tts, event_id) AS BIGINT) AS rn
        |      FROM g WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT user_id, rn,
        |             cum - least(CAST(0 AS BIGINT), CAST(min(cum) OVER w2 AS BIGINT)) AS s_n
        |      FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY tts, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(max(s_n) AS BIGINT) AS max_cusum,
        |       CAST(sum(CASE WHEN s_n > 150000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |       CAST(coalesce(min(CASE WHEN s_n > 150000000 THEN rn END), -1) AS BIGINT) AS first_alarm_rn
        |FROM s GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        runToMemory(s,
          EventStreams.cusumAlarms(s, eventStream(s, dir)).toDF(),
          "st17_out", mode = "append", requireSingleBatch = true)
          .groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_events"),
            max("s_n").cast("long").as("max_cusum"),
            sum("is_alarm").cast("long").as("n_alarms"),
            coalesce(min(when(col("is_alarm") === 1, col("rn"))), lit(-1L))
              .cast("long").as("first_alarm_rn"))
          .orderBy("user_id")
      }
    },

    sql(
      "st18_stream_hll",
      "STREAMING approximate distinct-count (EventStreams.hllUsers) — a06's deterministic 512-register HyperLogLog carried as per-event-type ValueState, the rolling-uniques sketch a monitoring dashboard keeps ONLINE (an exact per-key distinct set grows with history; the register array is 512 bytes per key FOREVER — the state-boundedness argument st12's dedup horizon and st13's four-long moments make, at the sketch grain): every arriving user folds through the IDENTICAL Aggregators.HllDistinct reduce the batch a06 runs — one shared implementation, so stream and batch cannot drift — and each batch emits the key's CURRENT estimate with its cumulative event count; registers are commutative duplicate-insensitive maxes, so this is the one stateful entry with NO in-batch sort contract (fold order provably cannot matter). The oracle replays registers AND the fixed-order double estimator bit-exactly in HUGEINT (a06's no-carve-out result, re-keyed by event type under seed 17); the bounded single-batch replay makes the one emission per key the exact batch sketch. MemoryStream spec pins the cross-batch register carry (streamed-in-two-batches == batch-aggregator-over-the-union) and duplicate insensitivity. Scale posture: 512 B + one long per key; emissions one row per key per batch; the report is a plain orderBy",
      s"""WITH d AS (SELECT event_type AS g, CAST(user_id AS BIGINT) AS k FROM events
        |           WHERE event_type IS NOT NULL AND user_id IS NOT NULL GROUP BY 1, 2),
        |${graft.functions.HashFunctions.priorityHashCtes("d", "k", 17L, "g, k")},
        |regs0 AS (SELECT g, CAST(pri >> 54 AS BIGINT) AS idx, pri % 18014398509481984 AS w FROM ph4),
        |buckets AS (SELECT g, idx, min(w) AS wmin FROM regs0 GROUP BY g, idx),
        |bits AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, 54)),
        |rhos AS (
        |  SELECT g, idx, 54 - max(b) AS mj FROM buckets, bits
        |  WHERE wmin > 0 AND (CAST(1 AS HUGEINT) << CAST(b AS INTEGER)) <= wmin GROUP BY g, idx
        |  UNION ALL
        |  SELECT g, idx, 55 AS mj FROM buckets WHERE wmin = 0),
        |present AS (SELECT g, CAST(count(*) AS BIGINT) AS np,
        |                   sum(CAST(1 AS HUGEINT) << CAST(55 - mj AS INTEGER)) AS sp
        |            FROM rhos GROUP BY g),
        |est AS (SELECT g, 512 - np AS vz,
        |               CAST(sp + (512 - np) * (CAST(1 AS HUGEINT) << 55) AS DOUBLE) AS sd
        |        FROM present),
        |raw AS (SELECT g, vz,
        |               (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 512) * 512 * 512)
        |               * CAST(36028797018963968 AS DOUBLE) / sd AS r FROM est),
        |fin AS (SELECT g,
        |               CAST(floor(CASE WHEN r <= 1280 AND vz > 0 THEN 512 * ln(CAST(512 AS DOUBLE) / vz) ELSE r END + 0.5) AS BIGINT) AS hll_users
        |        FROM raw),
        |ev AS (SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n_events FROM events
        |       WHERE event_type IS NOT NULL AND user_id IS NOT NULL GROUP BY 1)
        |SELECT f.g AS event_type, ev.n_events, f.hll_users
        |FROM fin f JOIN ev ON ev.g = f.g ORDER BY event_type""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        runToMemory(s,
          EventStreams.hllUsers(s, eventStream(s, dir)).toDF(),
          "st18_out", mode = "update", requireSingleBatch = true)
          .orderBy("event_type")
      }
    },

    sql(
      "st19_stream_substring_dup",
      "STREAMING exact-substring duplication monitor (DocStreams.substringDupMonitor — r16 verdict #6, d20's window-keyed counting as the d13/d15 incremental shape): batch d20 counts every word-anchored 32-char window corpus-wide, but an INGESTION pipeline needs the question answered per arriving document — 'does this doc embed verbatim runs the corpus already holds?' — so the corpus window index lives AS STATE: each window STRING (the same anchoredWindowsSql kernel d20 compiles, one grammar for batch and stream; raw strings, not hashes — a fingerprint collision would flag an innocent doc and be unreplayable) owns one transformWithState cell remembering the smallest doc_id carrying it, an arriving doc emits one evidence row per distinct window a smaller doc already holds, and the single armed event-time timer evicts the key once the watermark passes (newest occurrence + 30 min — the st12 horizon contract at substring grain). The bounded single-batch replay (st06's guard) makes each state minimum the GLOBAL minimum per window, so the oracle is d20's window-keyed inverted index with the predicate mindoc < doc_id: per doc its distinct-window count, how many of those windows a smaller doc holds, and the stale-coverage ppm. Documents carry no event time, so the stream assigns the st12 deterministic synthetic one (epoch + doc_id seconds). Scale posture: one long per distinct in-horizon corpus window in RocksDB (the d20 inverted index held incrementally, timer-bounded); window keys shuffle-partition like any high-cardinality key; per-batch cost is O(new docs' chars) — d20's corpus pass amortized to the arrival rate",
      """WITH win0 AS (SELECT doc_id,
        |                    unnest(list_filter(list_transform(generate_series(1, length(text) - 32),
        |                      i -> CASE WHEN substring(text, i, 1) = ' '
        |                                THEN substring(text, i + 1, 32) END),
        |                      x -> x IS NOT NULL)) AS wd
        |             FROM documents WHERE length(text) >= 33),
        |win AS (SELECT DISTINCT doc_id, wd FROM win0),
        |mind AS (SELECT wd, CAST(min(doc_id) AS BIGINT) AS mindoc FROM win GROUP BY wd),
        |per AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |               CAST(sum(CASE WHEN m.mindoc < w.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_windows
        |        FROM win w JOIN mind m USING (wd) GROUP BY w.doc_id)
        |SELECT doc_id, n_windows, n_stale_windows,
        |       CAST(n_stale_windows * 1000000 // n_windows AS BIGINT) AS stale_ppm
        |FROM per ORDER BY doc_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        val stale = runToMemory(s,
          DocStreams.substringDupMonitor(s, docStream(s, dir)).toDF(),
          "st19_out", mode = "append", requireSingleBatch = true)
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_stale_windows"))
        Tables.documents(s, dir)
          .filter(length(col("text")) >= 33)
          .select(col("doc_id"),
            explode(expr(DedupQueries.anchoredWindowsSql)).as("wd"))
          .groupBy("doc_id")
          .agg(countDistinct("wd").cast("long").as("n_windows"))
          .join(stale, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_windows"),
            coalesce(col("n_stale_windows"), lit(0L)).as("n_stale_windows"),
            expr("(coalesce(n_stale_windows, 0) * 1000000) div n_windows").as("stale_ppm"))
          .orderBy("doc_id")
      }
    },

    sql(
      "st20_stream_image_neardup",
      "STREAMING perceptual-hash image near-dup detection (DocStreams.imageBandDedup — r17 verdict ask #4, m15's streaming twin completing the batch<->stream discipline for the image member: every other dedup family member already has one, d04<->st12, d20<->st19): m15's aHash band keys are exactly the st12 BandMinDedupProcessor shape at perceptual grain, so the streaming form REUSES both kernels verbatim — the SAME Multimodal.imageBandHashes mapPartitions pass (proportional 64-block byte means, exact cross-multiply bits, four 16-bit band keys; one hash grammar via the shared imageBandSql oracle block, batch and stream cannot drift) and the SAME BandMinDedupProcessor st12 runs (per-(band, key) min-doc ValueState, single armed event-time timer evicting at newest + 30 min). An arriving image emits one evidence row per band where a SMALLER image already holds its key — m15's banding-join candidate predicate a.doc_id < b.doc_id ON (band, key) evaluated incrementally — and the bounded single-batch replay (st06's guard) makes each state minimum the global band minimum, so the oracle is m15's bands CTE + the min-doc predicate: per in-domain image, how many of its 4 bands collide with a smaller image, and the any-band flag. The per-image LEDGER grain (every in-domain image reports, -0 rows for collision-free ones — the m15/a20 discipline) rather than m15's full pair rerank: the stream answers the INGESTION question ('does this image's perceptual neighborhood already exist?'); exact-Hamming reranking of flagged candidates is the batch twin's job, downstream. MemoryStream spec pins cross-batch band carry and the post-eviction re-admission boundary. Scale posture: 4 state cells x one long per in-horizon image in RocksDB, timer-bounded; 16-bit band keys shuffle-partition; per-batch cost is O(new images' bytes) — m15's corpus hash pass amortized to the arrival rate; a blank-image band flood stays one long of state per key and one emission per arrival (the incremental shape is its own flood defence)",
      s"""${MultimodalQueries.imageBandSql},
        |dups AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_bands FROM (
        |           SELECT DISTINCT b.doc_id, b.band
        |           FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        |         GROUP BY doc_id)
        |SELECT i.doc_id,
        |       CAST(coalesce(u.n_dup_bands, 0) AS BIGINT) AS n_dup_bands,
        |       CAST(CASE WHEN u.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_near_dup
        |FROM img i LEFT JOIN dups u ON u.doc_id = i.doc_id
        |ORDER BY i.doc_id""") { (s, dir) =>
      EventStreams.withRocksDBStateStore(s) {
        val out = runToMemory(s,
          DocStreams.imageBandDedup(s, docStream(s, dir)).toDF(),
          "st20_out", mode = "append", requireSingleBatch = true)
        val dups = out.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_dup_bands"))
        Tables.documents(s, dir)
          .filter(col("doc_id") % 3 === 0 && length(col("text")) >= 72)
          .select("doc_id")
          .join(dups, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_dup_bands"), lit(0L)).as("n_dup_bands"),
            when(col("n_dup_bands").isNull, lit(0L)).otherwise(lit(1L)).as("is_near_dup"))
          .orderBy("doc_id")
      }
    }
  )
}
