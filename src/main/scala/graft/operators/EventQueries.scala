package graft.operators

import graft.GraftQuery
import graft.GraftQuery.sql
import graft.sources.Tables
import graft.operators.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / event analytics over the `events` table — the batch
  * analogues of the streaming operator set (SURVEY.md §7 M3). Each query's
  * streaming twin (windowed agg over `MemoryStream`, watermarks, dedup
  * within watermark) is exercised in the streaming ScalaTest suite; the
  * batch forms here carry the DuckDB oracle.
  *
  * Event time is `timestamp_ntz` (see [[graft.sources.Tables.events]] for
  * the nanosecond-parquet handling); all bucketing is done with arithmetic
  * both engines evaluate identically.
  */
object EventQueries {

  /** Sliding-window oracle shared verbatim by q61 (batch) and st08 (the
    * streaming registry twin): each event's two covering 10-min/5-min
    * window starts derived arithmetically.
    */
  val SlidingWindowOracle: String =
    """SELECT window_start, count(*) AS n_events
      |FROM (SELECT unnest([make_timestamp(b), make_timestamp(b - 300000000)]) AS window_start
      |      FROM (SELECT epoch_us(CAST(ts AS TIMESTAMP))
      |                   - epoch_us(CAST(ts AS TIMESTAMP)) % 300000000 AS b
      |            FROM events))
      |GROUP BY window_start
      |ORDER BY window_start""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    sql(
      "q60_tumbling_window",
      "tumbling 1-hour event-time window: count + exact value sum per type",
      s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |       event_type, count(*) AS n_events,
        |       ${s2("value")} AS sum_value
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
        .orderBy("window_start", "event_type")
    },

    sql(
      "q61_sliding_window",
      "sliding window (10 min width, 5 min slide) via Spark window(); oracle derives the two covering starts arithmetically",
      SlidingWindowOracle) { (s, dir) =>
      Tables.events(s, dir)
        .select(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .groupBy(col("w.start").as("window_start"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("window_start")
    },

    sql(
      "q62_sessionization",
      "batch sessionization: 30-min inactivity gap → session ids via window cumsum",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
        |       floor((count(*) * 1.0 / count(DISTINCT session_id)) * 10000 + 0.5) / 10000 AS events_per_session
        |FROM sessions
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // event_id tie-break: duplicate (user, ts) rows would otherwise sort
      // in engine-chosen order and shift session ids by one between engines
      val wc = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts").cast("timestamp")) - unix_micros(col("prev_ts").cast("timestamp"))) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(wc))
        .groupBy("user_id")
        .agg(countDistinct("session_id").as("n_sessions"),
          r4(count(lit(1)) * lit(1.0) / countDistinct("session_id")).as("events_per_session"))
        .orderBy("user_id")
    },

    sql(
      "q63_event_dedup",
      "exact dedup on (user, type, minute bucket) — batch twin of dropDuplicatesWithinWatermark",
      """SELECT user_id, count(*) AS n_raw,
        |       CAST(count(DISTINCT (event_type, date_trunc('minute', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS n_deduped
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_raw"),
          countDistinct(col("event_type"), date_trunc("minute", col("ts"))).as("n_deduped"))
        .orderBy("user_id")
    },

    sql(
      "q64_event_type_share",
      "per-user event-type share via count / window total",
      """SELECT user_id, event_type, n,
        |       floor((n * 1.0 / sum(n) OVER (PARTITION BY user_id)) * 1000000 + 0.5) / 1000000 AS share
        |FROM (SELECT user_id, event_type, count(*) AS n
        |      FROM events GROUP BY user_id, event_type)
        |ORDER BY user_id, event_type""") { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("share", r6(col("n") * lit(1.0) / sum(col("n")).over(w)))
        .orderBy("user_id", "event_type")
    },

    sql(
      "q65_top_purchasers",
      "filtered aggregate + deterministic top-5 by exact purchase value",
      s"""SELECT user_id, ${s2("value")} AS purchase_value, count(*) AS n_purchases
        |FROM events
        |WHERE event_type = 'purchase'
        |GROUP BY user_id
        |ORDER BY purchase_value DESC, user_id
        |LIMIT 5""") { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(dsum2(col("value")).as("purchase_value"), count(lit(1)).as("n_purchases"))
        .orderBy(desc("purchase_value"), col("user_id"))
        .limit(5)
    },

    sql(
      "q66_json_props",
      "semi-structured JSON column: extract, cast, bucket, aggregate",
      s"""SELECT TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) // 10 AS k_bucket,
        |       count(*) AS n, ${a4("value")} AS avg_value
        |FROM events
        |GROUP BY k_bucket
        |ORDER BY k_bucket""") { (s, dir) =>
      Tables.events(s, dir)
        // try_cast: a JSON feed can carry $.k as a non-numeric string, and
        // ANSI cast(string AS long) throws; null matches the oracle's
        // TRY_CAST
        .withColumn("k_bucket",
          floor(expr("try_cast(get_json_object(props, '$.k') as bigint)") / 10).cast("long"))
        .groupBy("k_bucket")
        .agg(count(lit(1)).as("n"),
          r4(dsum(col("value")) / count(col("value"))).as("avg_value"))
        .orderBy("k_bucket")
    },

    sql(
      "q73_variant_extract",
      "Spark 4 VARIANT type for semi-structured data: parse_json once into a variant column, typed variant_get extraction, aggregate — the open-schema path where a fixed from_json schema can't be declared up front",
      """SELECT event_type, count(*) AS n,
        |       min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""") { (s, dir) =>
      Tables.events(s, dir)
        // try_parse_json: plain parse_json is FAILFAST — one malformed
        // props row (inevitable in real semi-structured feeds) kills the
        // whole query; null variant → null extraction matches the
        // oracle's json_extract_string(garbage) → NULL. try_variant_get:
        // a non-numeric $.k would otherwise throw on the bigint cast.
        .withColumn("v", expr("try_parse_json(props)"))
        .withColumn("k", expr("try_variant_get(v, '$.k', 'bigint')"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("k").as("min_k"),
          max("k").as("max_k"),
          sum("k").as("sum_k"))
        .orderBy("event_type")
    },

    sql(
      "q68_asof_attribution",
      "as-of join (operator Spark lacks; composed union+window form): each purchase attributed to the latest prior click",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  -- dedup concurrent clicks to the max event_id: ASOF leaves the
        |  -- pick among equal timestamps unspecified, the engine tie-breaks
        |  -- deterministically, so the oracle must too
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |                                              ORDER BY event_id DESC) AS rn
        |                 FROM events WHERE event_type = 'click') WHERE rn = 1) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
      AsOfJoin.backward(purchases, clicks, key = "user_id",
          leftTs = "ts", rightTs = "ts", tieBreak = "event_id")
        .select(col("left.event_id").as("purchase_id"),
          col("right.event_id").as("click_id"),
          (unix_micros(col("left.ts").cast("timestamp")) -
            unix_micros(col("right.ts").cast("timestamp"))).as("gap_us"))
        .orderBy("purchase_id")
    },

    sql(
      "q94_nearest_event",
      "nearest as-of join with tolerance (AsOfJoin.nearest — the symmetric completion of q68's backward-only as-of: sensor/trade alignment wants the click CLOSEST to each purchase in either direction, not just the latest prior one): each purchase matches the click minimizing |Δt| within ±30 min for the same user; equidistant candidates resolve backward, concurrent clicks resolve to the greatest event_id backward / least forward (the window scan order, pinned in both engines), and out-of-tolerance purchases keep a null match. delta_us is signed (positive = click before purchase). Scale posture: ONE shuffle on the join key — the forward candidate is a first() over the mirrored frame of the same union+window pass that computes the backward one, so nearest costs exactly what backward does (no inequality join, no per-key collect, AQE-skew-splittable)",
      """WITH u AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, 0 AS side, event_id
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, CAST(ts AS TIMESTAMP), 1, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT *,
        |        last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER win_p AS prev_ts,
        |        last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER win_p AS prev_id,
        |        first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER win_n AS next_ts,
        |        first_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER win_n AS next_id
        |      FROM u
        |      WINDOW win_p AS (PARTITION BY user_id
        |                       ORDER BY ts, side, CASE WHEN side = 0 THEN event_id END NULLS FIRST
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             win_n AS (PARTITION BY user_id
        |                       ORDER BY ts, side, CASE WHEN side = 0 THEN event_id END NULLS FIRST
        |                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |ch AS (SELECT event_id AS purchase_id,
        |              epoch_us(ts) - epoch_us(prev_ts) AS d_prev,
        |              epoch_us(next_ts) - epoch_us(ts) AS d_next,
        |              prev_id, next_id
        |       FROM w WHERE side = 1)
        |SELECT purchase_id,
        |       CASE WHEN prev_id IS NOT NULL AND d_prev <= 1800000000
        |                 AND (next_id IS NULL OR d_next > 1800000000 OR d_prev <= d_next)
        |            THEN prev_id
        |            WHEN next_id IS NOT NULL AND d_next <= 1800000000 THEN next_id END AS click_id,
        |       CASE WHEN prev_id IS NOT NULL AND d_prev <= 1800000000
        |                 AND (next_id IS NULL OR d_next > 1800000000 OR d_prev <= d_next)
        |            THEN d_prev
        |            WHEN next_id IS NOT NULL AND d_next <= 1800000000 THEN -d_next END AS delta_us
        |FROM ch
        |ORDER BY purchase_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
      AsOfJoin.nearest(purchases, clicks, key = "user_id",
          leftTs = "ts", rightTs = "ts", tieBreak = "event_id",
          toleranceUs = 1800000000L)
        .select(col("left.event_id").as("purchase_id"),
          col("right.event_id").as("click_id"),
          (unix_micros(col("left.ts").cast("timestamp")) -
            unix_micros(col("right.ts").cast("timestamp"))).as("delta_us"))
        .orderBy("purchase_id")
    },

    sql(
      "q95_sliding_distinct",
      "sliding distinct cardinality — trailing 7-day active users per observed day (the DAU/WAU rolling-uniques metric): the variant q61's sliding COUNTS cannot express, because count(DISTINCT) is not a window function in either engine and a naive per-day re-scan is O(days × corpus). Both engines compute it as distinct (day, user) pairs expanded to the ≤7 window days each pair serves (bounded explode — the q70 banded-join trick in generator form), then a keyed exact distinct per day, restricted to days that actually observed events. Scale posture: the 7× expansion is of the DISTINCT day-user pair set (already ≤ users × days, tiny vs raw events), the final aggregation is the standard two-phase distinct on a (day, user) key with map-side partials, and no day ever re-scans raw history — at 100 TB this is the textbook rolling-uniques shape (pair dedup once, bounded fan-out, keyed count)",
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day, user_id
        |  FROM events),
        |obs AS (SELECT DISTINCT day FROM pairs)
        |SELECT o.day,
        |       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users_7d,
        |       CAST(count(*) AS BIGINT) AS n_active_pairs
        |FROM obs o JOIN pairs p ON p.day >= o.day - 6 AND p.day <= o.day
        |GROUP BY o.day
        |ORDER BY o.day""") { (s, dir) =>
      val pairs = Tables.events(s, dir)
        .select(to_date(col("ts").cast("timestamp")).as("day"), col("user_id"))
        .distinct()
      val obs = pairs.select("day").distinct()
      // each pair serves window days day..day+6; joining back to observed
      // days replaces the range join with an equi-join on the exploded key
      pairs
        .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
          col("user_id"))
        .join(obs, "day")
        .groupBy("day")
        .agg(countDistinct("user_id").cast("long").as("n_users_7d"),
          count(lit(1)).cast("long").as("n_active_pairs"))
        .orderBy("day")
    },

    sql(
      "q69_map_columns",
      "MapType columns: per-user event-type→count map built, carried, and read back (map projected to hashable scalars for the oracle; pivot equivalence also asserted in ScalaTest)",
      """WITH counts AS (
        |  -- coalesce mirrors the engine's null-key sentinel (a null map key
        |  -- is illegal in Spark), keeping both sides aligned if nulls ever
        |  -- reach this table
        |  SELECT user_id, coalesce(event_type, '(null)') AS event_type, count(*) AS n
        |  FROM events GROUP BY user_id, coalesce(event_type, '(null)'))
        |SELECT user_id,
        |       string_agg(event_type, ',' ORDER BY event_type) AS types,
        |       max(CASE WHEN event_type = 'click' THEN n END) AS clicks,
        |       count(*) AS n_types
        |FROM counts
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      Tables.events(s, dir)
        // coalesce BEFORE grouping: a null event_type is a legal group but
        // an ILLEGAL map key (NULL_MAP_KEY throws); folding at group time
        // also merges a null group with a literal "(null)" group instead of
        // producing a duplicate-key map (which would equally throw) — the
        // oracle applies the same coalesce in its counts CTE
        .groupBy(col("user_id"), coalesce(col("event_type"), lit("(null)")).as("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(map_from_entries(sort_array(collect_list(struct(col("event_type"), col("n")))))
          .as("type_counts"))
        .select(col("user_id"),
          // map_keys over a sorted-entry map is already sorted; the CSV
          // projection keeps the driver's pandas hash-compare happy (a raw
          // array<string> column is unhashable on the pandas side)
          concat_ws(",", map_keys(col("type_counts"))).as("types"),
          // try_element_at, not element_at: under ANSI mode a user with no
          // click events would otherwise throw MAP_KEY_DOES_NOT_EXIST;
          // NULL matches the oracle's max(CASE ...) semantics
          try_element_at(col("type_counts"), lit("click")).as("clicks"),
          size(col("type_counts")).cast("long").as("n_types"))
        .orderBy("user_id")
    },

    sql(
      "q70_range_join",
      "banded range join (operator Spark lacks; bucketed equi-join form): ALL clicks in the 5 minutes before each purchase, aggregated — contrast q68's as-of (latest only)",
      """SELECT p.event_id AS purchase_id,
        |       count(c.event_id) AS n_clicks_5m,
        |       max(epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))) AS max_gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        | AND CAST(c.ts AS TIMESTAMP) > CAST(p.ts AS TIMESTAMP) - INTERVAL 5 MINUTE
        |GROUP BY p.event_id
        |ORDER BY purchase_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
      val w = 5L * 60 * 1000000
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("pts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts").cast("timestamp")).as("cts"))
      val matched = RangeJoin.preceding(purchases, clicks,
          key = "user_id", leftTsUs = "pts", rightTsUs = "cts", windowUs = w)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks_5m"),
          max(col("pts") - col("cts")).as("max_gap_us"))
      purchases.select("purchase_id")
        .join(matched, Seq("purchase_id"), "left")
        .select(col("purchase_id"),
          coalesce(col("n_clicks_5m"), lit(0L)).as("n_clicks_5m"),
          col("max_gap_us"))
        .orderBy("purchase_id")
    },

    sql(
      "q71_gap_fill",
      "time-spine gap filling: hourly spine per user over their active range, zero-filled counts + running total (the resampling primitive time-series features need)",
      """WITH bounds AS (
        |  SELECT user_id,
        |         date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS t0,
        |         date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS t1
        |  FROM events GROUP BY user_id),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds),
        |obs AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, count(*) AS n
        |  FROM events GROUP BY user_id, hour)
        |SELECT s.user_id, s.hour,
        |       coalesce(n, 0) AS n_events,
        |       CAST(sum(coalesce(n, 0)) OVER (PARTITION BY s.user_id ORDER BY s.hour) AS BIGINT)
        |         AS cum_events
        |FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.hour = o.hour
        |ORDER BY s.user_id, s.hour""") { (s, dir) =>
      // The spine explodes from a per-user (t0, t1) pair — O(users) input
      // rows fan out map-side, so no shuffle grows with the spine; the
      // left join and the running total shuffle on user_id only.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("hour", col("ts").cast("timestamp")).as("hour"))
      val bounds = ev.groupBy("user_id")
        .agg(min("hour").as("t0"), max("hour").as("t1"))
      // Explicit-width repartition before the explode: AQE sees only the
      // ~|users|-row bounds exchange and coalesces it to ONE task, blind to
      // the ~700x hour fan-out that follows (measured at sf0.1: the 1M-row
      // spine built serially, wall ≈ executor-seconds ≈ 3 s). Pinning the
      // width spreads the fan-out across the cluster — the same fix a
      // 100 TB spine needs, where the generator side must scale with the
      // OUTPUT size, not the input's.
      val spine = bounds
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("user_id"))
        .select(col("user_id"),
          explode(sequence(col("t0"), col("t1"), expr("interval 1 hour"))).as("hour"))
      val obs = ev.groupBy("user_id", "hour").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      spine.join(obs, Seq("user_id", "hour"), "left")
        .select(col("user_id"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .withColumn("cum_events", sum("n_events").over(w))
        .orderBy("user_id", "hour")
    },

    sql(
      "q82_funnel",
      "sessionized conversion funnel (the product-analytics staple): sessions form by 30-min inactivity gap (the q62 construction, event_id tie-broken), each session reports the stages it reached — viewed, clicked after viewing, purchased after clicking (stage order enforced on min event times; ties count as converted so the comparison is deterministic without sub-microsecond ordering) — and the funnel is the session count per reached stage. Integer/window logic only, engine-exact. Scale posture: two user-keyed windows + one keyed aggregation + a 4-row final rollup; no global sort of raw events",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id,
        |         min(tus) FILTER (WHERE event_type = 'view') AS t_view,
        |         min(tus) FILTER (WHERE event_type = 'click') AS t_click,
        |         min(tus) FILTER (WHERE event_type = 'purchase') AS t_purchase
        |  FROM sessions GROUP BY user_id, session_id),
        |staged AS (
        |  SELECT CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS s1,
        |         CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_click >= t_view THEN 1 ELSE 0 END AS s2,
        |         CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_click >= t_view
        |                   AND t_purchase IS NOT NULL AND t_purchase >= t_click THEN 1 ELSE 0 END AS s3
        |  FROM per_session)
        |SELECT * FROM (
        |  SELECT 'all_sessions' AS stage, CAST(count(*) AS BIGINT) AS n_sessions FROM staged
        |  UNION ALL SELECT 'viewed', CAST(sum(s1) AS BIGINT) FROM staged
        |  UNION ALL SELECT 'view_then_click', CAST(sum(s2) AS BIGINT) FROM staged
        |  UNION ALL SELECT 'view_click_purchase', CAST(sum(s3) AS BIGINT) FROM staged)
        |ORDER BY stage""") { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val perSession = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts").cast("timestamp")) - unix_micros(col("prev_ts").cast("timestamp"))) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(wc))
        .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
        .groupBy("user_id", "session_id")
        .agg(
          min(when(col("event_type") === "view", col("tus"))).as("t_view"),
          min(when(col("event_type") === "click", col("tus"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("tus"))).as("t_purchase"))
      val staged = perSession.select(
        when(col("t_view").isNotNull, 1).otherwise(0).as("s1"),
        when(col("t_view").isNotNull && col("t_click").isNotNull &&
          col("t_click") >= col("t_view"), 1).otherwise(0).as("s2"),
        when(col("t_view").isNotNull && col("t_click").isNotNull &&
          col("t_click") >= col("t_view") && col("t_purchase").isNotNull &&
          col("t_purchase") >= col("t_click"), 1).otherwise(0).as("s3"))
      staged.agg(count(lit(1)).cast("long").as("n")).select(lit("all_sessions").as("stage"), col("n").as("n_sessions"))
        .unionAll(staged.agg(sum("s1").cast("long").as("n")).select(lit("viewed").as("stage"), col("n").as("n_sessions")))
        .unionAll(staged.agg(sum("s2").cast("long").as("n")).select(lit("view_then_click").as("stage"), col("n").as("n_sessions")))
        .unionAll(staged.agg(sum("s3").cast("long").as("n")).select(lit("view_click_purchase").as("stage"), col("n").as("n_sessions")))
        .orderBy("stage")
    },

    sql(
      "q83_retention_cohorts",
      "cohort retention matrix (the second product-analytics staple beside q82's funnel): users cohort by the UTC day of their first event, and each (cohort-day, day-offset) cell counts distinct users active that many days later. Day indices are pure integer arithmetic on epoch micros (epoch_us div 86400e6 — no date truncation or interval math that could diverge between engines) and cells are exact distinct counts. Scale posture: the raw table collapses to distinct (user, day) FIRST (the only pass over raw events), then a per-user min and a user-keyed join both run on day-grain rows — at 100 TB the join input is |users|×|active days|, not |events|",
      """WITH am AS (SELECT DISTINCT user_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        |     FROM events WHERE ts IS NOT NULL),
        |coh AS (SELECT user_id, min(d) AS cd FROM am GROUP BY user_id)
        |SELECT CAST(c.cd AS BIGINT) AS cohort_epoch_day,
        |       CAST(a.d - c.cd AS BIGINT) AS day_offset,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        |FROM am a JOIN coh c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""") { (s, dir) =>
      val am = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
        .distinct()
      val coh = am.groupBy("user_id").agg(min("d").as("cd"))
      am.join(coh, "user_id")
        .groupBy(col("cd").as("cohort_epoch_day"), (col("d") - col("cd")).as("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_active"))
        .orderBy("cohort_epoch_day", "day_offset")
    },

    sql(
      "q84_markov_transitions",
      "first-order Markov transition matrix over per-user event sequences (session-modeling / anomaly-scoring primitive): consecutive event pairs (ordered by ts, event_id tie-broken) count into a from-type × to-type matrix, and each row also carries its transition probability in ppm — numerator widened through DECIMAL(38,0)/HUGEINT before the integer divide (the p04 pattern) so the matrix replays bit-exactly. Scale posture: one user-keyed window (lead) + one keyed count + a ppm normalization over the tiny |types|² matrix; raw events are never globally sorted",
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events WHERE ts IS NOT NULL),
        |cnt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
        |        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |       CAST(CAST(n_transitions AS HUGEINT) * 1000000
        |            // sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
        |FROM cnt
        |ORDER BY from_type, to_type""") { (s, dir) =>
      val seq = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .select(col("event_type").as("from_type"),
          lead(col("event_type"), 1)
            .over(Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
            .as("to_type"))
      seq.filter(col("to_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n_transitions"))
        .withColumn("p_ppm",
          expr("cast(n_transitions AS DECIMAL(38,0)) * 1000000 div " +
            "sum(n_transitions) OVER (PARTITION BY from_type)"))
        .orderBy("from_type", "to_type")
    },

    sql(
      "q85_anomaly_zscore",
      "per-user 2σ anomaly counts with the z-test done in EXACT integer arithmetic — the monitoring primitive without the float-boundary hazard: |v − μ| > 2σ is algebraically rearranged to (n·v − S)² > 4·(n·Q − S²) over 1e6-grid-snapped values (S = Σv, Q = Σv², both integers), so no division, sqrt, or float compare ever happens and a value sitting exactly on the threshold classifies identically in both engines. Intermediates ride DECIMAL(38,0)/HUGEINT (the p04 widening, squared terms reach ~1e24). Scale posture: one user-keyed aggregation for (n, S, Q) + a broadcast-back join to flag rows, then a second keyed count — no window, no sort over raw events",
      """WITH g AS (
        |  SELECT user_id, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vs
        |  FROM events WHERE value IS NOT NULL),
        |stats AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(vs) AS BIGINT) AS s,
        |         CAST(sum(CAST(vs AS HUGEINT) * vs) AS HUGEINT) AS q
        |  FROM g GROUP BY user_id)
        |SELECT g.user_id, min(st.n) AS n_events,
        |       CAST(sum(CASE WHEN (CAST(st.n AS HUGEINT) * g.vs - st.s)
        |                          * (CAST(st.n AS HUGEINT) * g.vs - st.s)
        |                          > 4 * (st.n * st.q - CAST(st.s AS HUGEINT) * st.s)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM g JOIN stats st USING (user_id)
        |GROUP BY g.user_id
        |ORDER BY g.user_id""") { (s, dir) =>
      val g = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("user_id"), floor(col("value") * 1000000 + lit(0.5)).cast("long").as("vs"))
      val stats = g.groupBy("user_id").agg(
        count(lit(1)).as("n"), sum("vs").as("s"),
        sum(expr("cast(vs AS DECIMAL(38,0)) * vs")).as("q"))
      g.join(stats, "user_id")
        .withColumn("dev", expr("cast(n AS DECIMAL(38,0)) * vs - s"))
        .withColumn("is_anom",
          expr("CASE WHEN dev * dev > 4 * (n * q - cast(s AS DECIMAL(38,0)) * s) THEN 1 ELSE 0 END"))
        .groupBy("user_id")
        .agg(min("n").as("n_events"), sum("is_anom").cast("long").as("n_anomalies"))
        .orderBy("user_id")
    },

    sql(
      "q81_twap",
      "time-weighted average (TWAP) per user — the time-series primitive for irregularly-sampled readings (sensor means, position-weighted prices): each reading's value is weighted by its holding duration (lead(ts) - ts; the final reading holds no time), computed entirely on integer grids — values snap to a 1e6 grid (floor(v*1e6+0.5), IEEE-identical in both engines), durations are exact integer micros, the weighted sum rides DECIMAL(38,0)/HUGEINT (the p04 widening pattern), and the final division is integer div — so TWAP replays bit-exactly. Single-reading users drop (zero holding time) in both engines. Scale posture: one user-keyed window + one keyed aggregation, no global sort; the 1e6-grid weighted sum overflows DECIMAL(38) only past ~1e38 micro-value-seconds per user",
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vs
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |d AS (SELECT user_id, vs,
        |             lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS dur
        |      FROM ev),
        |agg AS (SELECT user_id,
        |               sum(CAST(vs AS HUGEINT) * dur) AS num,
        |               CAST(sum(dur) AS BIGINT) AS den
        |        FROM d WHERE dur IS NOT NULL GROUP BY user_id)
        |SELECT user_id, den AS span_us, CAST(num // den AS BIGINT) AS twap_micro
        |FROM agg WHERE den > 0
        |ORDER BY user_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("tus"),
          floor(col("value") * 1000000 + lit(0.5)).cast("long").as("vs"))
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      ev.withColumn("dur", lead(col("tus"), 1).over(w) - col("tus"))
        .filter(col("dur").isNotNull)
        .groupBy("user_id")
        .agg(sum(col("vs").cast("decimal(38,0)") * col("dur")).as("num"),
          sum(col("dur")).cast("long").as("den"))
        .filter(col("den") > 0)
        .select(col("user_id"), col("den").as("span_us"),
          expr("num div den").as("twap_micro"))
        .orderBy("user_id")
    },

    sql(
      "q80_interval_coverage",
      "interval union / coverage (gaps-and-islands): each event opens a 5-minute activity interval; overlapping intervals per user merge into islands via a running-max-end window, then per-user island count, total covered time, and longest island — the coverage-accounting primitive behind crawl-window dedup and per-source activity budgeting. All arithmetic is integer micros, so both engines agree bit-exactly. Scale posture: one user_id-keyed window (no global sort) + one keyed aggregation; at 100 TB the window partitions by user and AQE handles per-user skew",
      """WITH iv AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |         epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |                OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM iv),
        |islands AS (
        |  SELECT user_id, s, e,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY s, e
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flagged),
        |merged AS (
        |  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
        |  FROM islands GROUP BY user_id, island)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(i_end - i_start) AS BIGINT) AS covered_us,
        |       CAST(max(i_end - i_start) AS BIGINT) AS longest_us
        |FROM merged GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      // Duplicate (user, ts) rows are island-invariant: ties in (s, e) may
      // order either way inside the window, but the second duplicate can
      // never open an island (its s <= the first's e), so the merged set —
      // and everything aggregated from it — is deterministic.
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("s"))
        .withColumn("e", col("s") + lit(300000000L))
        .withColumn("prev_max", max(col("e")).over(wPrev))
        .withColumn("is_new",
          when(col("prev_max").isNull || col("s") > col("prev_max"), 1).otherwise(0))
        .withColumn("island", sum(col("is_new")).over(wCum))
        .groupBy("user_id", "island")
        .agg(min("s").as("i_start"), max("e").as("i_end"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("i_end") - col("i_start")).as("covered_us"),
          max(col("i_end") - col("i_start")).as("longest_us"))
        .orderBy("user_id")
    },

    sql(
      "q67_first_last_event",
      "argmin/argmax by event time via row_number windows",
      """WITH ranked AS (
        |  SELECT user_id, event_type, ts,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_asc,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_desc
        |  FROM events)
        |SELECT f.user_id, f.event_type AS first_type, l.event_type AS last_type
        |FROM (SELECT user_id, event_type FROM ranked WHERE rn_asc = 1) f
        |JOIN (SELECT user_id, event_type FROM ranked WHERE rn_desc = 1) l USING (user_id)
        |ORDER BY user_id""") { (s, dir) =>
      val asc = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val dsc = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      val ranked = Tables.events(s, dir)
        .withColumn("rn_asc", row_number().over(asc))
        .withColumn("rn_desc", row_number().over(dsc))
      val first = ranked.filter(col("rn_asc") === 1).select(col("user_id"), col("event_type").as("first_type"))
      val last = ranked.filter(col("rn_desc") === 1).select(col("user_id"), col("event_type").as("last_type"))
      first.join(last, Seq("user_id")).orderBy("user_id")
    },

    sql(
      "q88_ewma_smoothing",
      "dyadic EWMA time-series smoothing: per user, an 8-tap exponentially-weighted moving average of the reading stream (halving weights 128,64,...,1 over the current + 7 preceding values), reported at each user's latest event — the standard sensor/price smoother, made engine-exact by keeping EVERYTHING integer: values snap to the q81 1e6 grid, the dyadic weights are integers, the weighted sum and the available-tap weight total are BIGINT, and the final normalization is integer div. Early rows with fewer than 8 taps normalize by the weights actually present. Scale posture: one user-keyed window computes all 8 lags in a single WindowExec pass (one shuffle, no iteration), the latest-row pick is a second frame over the same partitioning, and state per row is 8 BIGINTs regardless of series length",
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vs
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |sm AS (
        |  SELECT user_id, tus, event_id,
        |         lag(vs, 0) OVER w AS v0, lag(vs, 1) OVER w AS v1,
        |         lag(vs, 2) OVER w AS v2, lag(vs, 3) OVER w AS v3,
        |         lag(vs, 4) OVER w AS v4, lag(vs, 5) OVER w AS v5,
        |         lag(vs, 6) OVER w AS v6, lag(vs, 7) OVER w AS v7,
        |         row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn_desc,
        |         count(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |wsum AS (
        |  SELECT user_id, n_events,
        |         coalesce(v0,0)*128 + coalesce(v1,0)*64 + coalesce(v2,0)*32 + coalesce(v3,0)*16
        |           + coalesce(v4,0)*8 + coalesce(v5,0)*4 + coalesce(v6,0)*2 + coalesce(v7,0) AS num,
        |         CASE WHEN v0 IS NULL THEN 0 ELSE 128 END + CASE WHEN v1 IS NULL THEN 0 ELSE 64 END
        |           + CASE WHEN v2 IS NULL THEN 0 ELSE 32 END + CASE WHEN v3 IS NULL THEN 0 ELSE 16 END
        |           + CASE WHEN v4 IS NULL THEN 0 ELSE 8 END + CASE WHEN v5 IS NULL THEN 0 ELSE 4 END
        |           + CASE WHEN v6 IS NULL THEN 0 ELSE 2 END + CASE WHEN v7 IS NULL THEN 0 ELSE 1 END AS den
        |  FROM sm WHERE rn_desc = 1)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(num // den AS BIGINT) AS ewma_micro
        |FROM wsum ORDER BY user_id""") { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("tus"),
          floor(col("value") * 1000000 + lit(0.5)).cast("long").as("vs"))
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val dsc = Window.partitionBy("user_id").orderBy(col("tus").desc, col("event_id").desc)
      val taps = (0 to 7).map(k => lag(col("vs"), k).over(w).as(s"v$k"))
      val weights = (0 to 7).map(k => 1L << (7 - k))
      val num = (0 to 7).map(k => coalesce(col(s"v$k"), lit(0L)) * weights(k))
        .reduce(_ + _)
      val den = (0 to 7).map(k =>
        when(col(s"v$k").isNull, 0L).otherwise(weights(k))).reduce(_ + _)
      ev.select(col("user_id") +: col("tus") +: col("event_id") +: taps: _*)
        .withColumn("rn_desc", row_number().over(dsc))
        .withColumn("n_events", count(lit(1)).over(Window.partitionBy("user_id")))
        .filter(col("rn_desc") === 1)
        .select(col("user_id"), col("n_events").cast("long").as("n_events"),
          num.as("num"), den.as("den"))
        .select(col("user_id"), col("n_events"),
          expr("num div den").as("ewma_micro"))
        .orderBy("user_id")
    },

    sql(
      "q90_session_paths",
      "session path mining — the top-10 most common 3-step event-type journeys inside q62's 30-minute-gap sessions (the navigation/sequence-mining primitive product analytics builds funnels FROM: q82 checks one fixed path, this discovers which paths exist). Each in-session window of three consecutive events contributes one 'a>b>c' path; paths count corpus-wide with a (count desc, path asc) deterministic top-10. All strings/integers — engine-exact. Scale posture: sessionization + the two leads are THREE frames over ONE user-keyed window partitioning (one shuffle, no iteration), the path count is a map-side-combinable keyed aggregation, and the top-10 is the q30 bounded-k pattern — per-partition partial top-k before the single-row merge, never a global sort of all paths",
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |paths AS (
        |  SELECT event_type || '>' || lead(event_type, 1) OVER s || '>' || lead(event_type, 2) OVER s AS path
        |  FROM sessions
        |  WINDOW s AS (PARTITION BY user_id, session_id ORDER BY ts, event_id))
        |SELECT path, CAST(count(*) AS BIGINT) AS n
        |FROM paths WHERE path IS NOT NULL
        |GROUP BY path ORDER BY n DESC, path LIMIT 10""") { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sessions = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts").cast("timestamp")) - unix_micros(col("prev_ts").cast("timestamp"))) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(wc))
      val sw = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      sessions
        .select(concat(col("event_type"), lit(">"),
          lead(col("event_type"), 1).over(sw), lit(">"),
          lead(col("event_type"), 2).over(sw)).as("path"))
        .filter(col("path").isNotNull)
        .groupBy("path").agg(count(lit(1)).cast("long").as("n"))
        .orderBy(desc("n"), col("path"))
        .limit(10)
    },

    sql(
      "q91_conversion_latency",
      "signup→purchase conversion latency by signup-day cohort — the funnel-LATENCY metric beside q82's conversion counts and q83's retention: per user, the first signup and the first purchase AT OR AFTER it; per signup epoch-day cohort, signups, conversions, and the exact median latency in whole seconds. Engine-exact: event times are integer micros, the cohort day is integer division, the median of integers is a dyadic rational both engines interpolate identically (the q37 contract), and its floor-to-seconds is exact; non-converted cohorts report median NULL in both engines. Scale posture: the per-user firsts are ONE map-side-combinable conditional-min aggregation over the fact scan (no window), the cohort rollup keys on ~365·years values, and the exact median would relax to the q38 sketch at 100 TB — per-cohort state is the binding cost, not shuffle width",
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events WHERE ts IS NOT NULL AND event_type IN ('signup', 'purchase')),
        |su AS (SELECT user_id, min(tus) AS s_us FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT su.user_id, su.s_us, min(e.tus) AS p_us
        |  FROM su LEFT JOIN ev e
        |    ON e.user_id = su.user_id AND e.event_type = 'purchase' AND e.tus >= su.s_us
        |  GROUP BY su.user_id, su.s_us)
        |SELECT CAST(s_us // 86400000000 AS BIGINT) AS cohort_day,
        |       CAST(count(*) AS BIGINT) AS n_signups,
        |       CAST(count(p_us) AS BIGINT) AS n_converted,
        |       CAST(floor(quantile_cont(p_us - s_us, 0.5) / 1000000) AS BIGINT) AS median_latency_s
        |FROM conv GROUP BY cohort_day ORDER BY cohort_day""") { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("tus"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("tus").as("s_us"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("tus").as("p_tus"))
      su.join(pu, col("p_user") === col("user_id") && col("p_tus") >= col("s_us"), "left")
        .groupBy("user_id", "s_us").agg(min("p_tus").as("p_us"))
        .groupBy(expr("s_us div 86400000000").as("cohort_day"))
        .agg(count(lit(1)).cast("long").as("n_signups"),
          count(col("p_us")).cast("long").as("n_converted"),
          floor(expr("percentile(p_us - s_us, 0.5)") / 1000000).cast("long").as("median_latency_s"))
        .orderBy("cohort_day")
    },

    sql(
      "q92_sequence_match",
      "MATCH_RECOGNIZE-lite event-sequence pattern matching — regex semantics over per-user event streams, the Flink/Snowflake MATCH_RECOGNIZE surface Spark lacks, composed Spark-first: encode each user's time-ordered events as one character per type (c/e/p/s/v), then count NON-OVERLAPPING regex matches with codegen'd regexp_count. Two patterns beyond what fixed-step funnels (q82) or 3-step paths (q90) can express: 'v[ce]*p' = a view converting to a purchase across ANY number of intervening clicks/errors (Kleene-star gaps, not fixed offsets), and 's[^p]*p' = a signup eventually converting. Both regex dialects (Java, RE2) agree on this feature subset (char classes + star, no backrefs), and the left-to-right non-overlapping scan is identical — engine-exact. Scale posture: ONE user-keyed aggregation builds the sequence (array_sort(collect_list) inside the agg — no window, map-side partials); per-user state is bounded by events-per-user (an unbounded user would be segmented by q62 session first); the regex count is a codegen'd per-row expression over the compact encoded string, never the raw events",
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id,
        |         substr(event_type, 1, 1) AS ch
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |seqs AS (
        |  SELECT user_id, string_agg(ch, '' ORDER BY tus, event_id) AS seq,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM ev GROUP BY user_id)
        |SELECT user_id, n_events,
        |       CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT) AS n_funnels,
        |       CAST(len(regexp_extract_all(seq, 's[^p]*p')) AS BIGINT) AS n_signup_conv,
        |       len(regexp_extract_all(seq, 'v[ce]*p')) > 0 AS converted
        |FROM seqs ORDER BY user_id""") { (s, dir) =>
      val seqs = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("tus"),
          col("event_id"),
          substring(col("event_type"), 1, 1).as("ch"))
        .groupBy("user_id")
        .agg(
          // sort AFTER collecting (collect_list order is partition-dependent;
          // the struct sorts (tus, event_id, ch) lexicographically, and
          // event_id breaks ts ties) — the q90 determinism contract without
          // paying a window
          array_join(transform(
            array_sort(collect_list(struct(col("tus"), col("event_id"), col("ch")))),
            x => x("ch")), "").as("seq"),
          count(lit(1)).cast("long").as("n_events"))
      seqs.select(col("user_id"), col("n_events"),
          regexp_count(col("seq"), lit("v[ce]*p")).cast("long").as("n_funnels"),
          regexp_count(col("seq"), lit("s[^p]*p")).cast("long").as("n_signup_conv"))
        .withColumn("converted", col("n_funnels") > 0)
        .orderBy("user_id")
    },

    sql(
      "q98_autocorrelation",
      "lag-1 autocorrelation per event-type series — the time-series self-dependence diagnostic (is the metric a random walk, mean-reverting, or i.i.d.?) that monitoring stacks run before alerting thresholds, done in EXACT integer co-moments: values snap to a 1e6 grid (the q85 contract), consecutive pairs come from lag(1) over the deterministic (ts, event_id) order, and Pearson r over the pairs is assembled from integer sums n/Sx/Sy/Sxx/Syy/Sxy — every sum exact in DECIMAL(38,0)/HUGEINT (squares of 1e6-snapped values reach ~1e22 over the corpus, past BIGINT — the p04 widening), so the only floating-point steps are one cast, two sqrt's, and one division on identical inputs in both engines. Scale posture: the lag is SEGMENTED — consecutive pairs assemble from day-bounded (type, day) windows (parallel across the corpus; a naive per-type window would sort each whole series in one task) plus one boundary pair per adjacent segment from a per-segment endpoint summary whose stitch window spans day-COUNT rows (dimension-sized at any scale); the pair set is provably the global consecutive set, so the oracle keeps the single-window form; then one keyed aggregation with map-side partials — co-moment accumulation is associative/commutative so it distributes, the textbook distributed-Pearson shape with no per-partition float accumulation order anywhere",
      """WITH g AS (
        |  SELECT event_type,
        |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vs,
        |         lag(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
        |           OVER (PARTITION BY event_type
        |                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS ls
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cm AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(vs) AS HUGEINT) AS sx, CAST(sum(ls) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(vs AS HUGEINT) * vs) AS HUGEINT) AS sxx,
        |         CAST(sum(CAST(ls AS HUGEINT) * ls) AS HUGEINT) AS syy,
        |         CAST(sum(CAST(vs AS HUGEINT) * ls) AS HUGEINT) AS sxy
        |  FROM g WHERE ls IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_pairs,
        |       CASE WHEN n_pairs * sxx - sx * sx = 0 OR n_pairs * syy - sy * sy = 0
        |            THEN 0.0
        |            ELSE floor((CAST(n_pairs * sxy - sx * sy AS DOUBLE)
        |                        / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
        |                           * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))) * 1000000 + 0.5)
        |                 / 1000000 END AS corr_lag1
        |FROM cm ORDER BY event_type""") { (s, dir) =>
      // SEGMENTED lag — the distributed form: a per-type window would sort
      // each whole series in ONE task (5 types = 5 tasks at any corpus
      // size). Instead consecutive pairs assemble from (a) lag inside
      // (type, day) segments — day-bounded frames, parallel across the
      // whole corpus — and (b) one boundary pair per adjacent segment
      // pair, from a per-segment first/last summary whose stitch window
      // spans segment COUNT rows (days — dimension-sized at any scale).
      // The union is exactly the global (ts, event_id)-consecutive pair
      // set, so the oracle keeps the simple single-window form.
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("tus"), col("event_id"),
          floor(col("value") * 1000000 + lit(0.5)).cast("long").as("vs"))
        .withColumn("seg", expr("tus div 86400000000"))
      val wSeg = Window.partitionBy("event_type", "seg").orderBy("tus", "event_id")
      val intra = ev.withColumn("ls", lag("vs", 1).over(wSeg))
        .filter(col("ls").isNotNull)
        .select("event_type", "vs", "ls")
      // windowless per-segment endpoints: (tus, event_id) is unique, so the
      // lexicographic struct min/max carry the endpoint's value exactly
      val summ = ev.groupBy("event_type", "seg").agg(
        min(struct(col("tus"), col("event_id"), col("vs"))).as("first"),
        max(struct(col("tus"), col("event_id"), col("vs"))).as("last"))
      val wDays = Window.partitionBy("event_type").orderBy("seg")
      val bounds = summ.withColumn("prev_last", lag("last", 1).over(wDays))
        .filter(col("prev_last").isNotNull)
        .select(col("event_type"), col("first.vs").as("vs"),
          col("prev_last.vs").as("ls"))
      val g = intra.unionAll(bounds)
      val d38 = "decimal(38,0)"
      val cm = g.groupBy("event_type").agg(
        count(lit(1)).as("n_pairs"),
        sum(col("vs").cast(d38)).as("sx"), sum(col("ls").cast(d38)).as("sy"),
        sum(col("vs").cast(d38) * col("vs")).as("sxx"),
        sum(col("ls").cast(d38) * col("ls")).as("syy"),
        sum(col("vs").cast(d38) * col("ls")).as("sxy"))
      // zero-variance guard (the g06 contract): a constant series or a
      // single pair makes a denominator term exactly 0 — DuckDB's 0/0
      // renders NaN while Spark's floor collapses NaN to 0, so the guard
      // must be the EXACT decimal compare in both engines, not the float
      cm.withColumn("vxx", col("n_pairs").cast(d38) * col("sxx") - col("sx") * col("sx"))
        .withColumn("vyy", col("n_pairs").cast(d38) * col("syy") - col("sy") * col("sy"))
        .select(col("event_type"), col("n_pairs"),
          when(col("vxx") === 0 || col("vyy") === 0, lit(0.0))
            .otherwise(
              r6((col("n_pairs").cast(d38) * col("sxy") - col("sx") * col("sy")).cast("double")
                / (sqrt(col("vxx").cast("double")) * sqrt(col("vyy").cast("double")))))
            .as("corr_lag1"))
        .orderBy("event_type")
    },

    sql(
      "q100_ab_lift",
      "A/B experiment lift analysis — the experimentation primitive (arm assignment + per-arm metric + relative lift) this registry's curation/analytics surface lacked: users assign to control/treatment by the parity of the SAME splitmix priority hash p03/p05/p08 sample with (retry/replica-stable, no RNG, and the DuckDB oracle replays the assignment bit-exactly in HUGEINT via the shared priorityHashCtes), per-(event_type, arm) means come from exact integer sums of 1e6-grid-snapped values, and the lift (mean_t − mean_c)/mean_c is assembled as one exact DECIMAL/HUGEINT cross-difference (Sv_t·n_c − Sv_c·n_t over Sv_c·n_t) cast to DOUBLE for a single sign-safe IEEE division — deliberately NOT an integer div, whose truncate-vs-floor semantics DIVERGE between engines on negative lifts; a control arm whose snapped sum is exactly 0 short-circuits to lift 0.0 via the same exact-integer guard q98/q101 carry (never a float Infinity/NaN whose rendering differs per engine). Scale posture: assignment is one hash over the user dim (map-side), the metric is one (type, arm)-keyed aggregation with map-side partials over snapped integers, and the lift table is dimension-sized; at 100 TB this is a broadcast-joined assignment column plus the q01 aggregation shape — the standard experimentation pipeline",
      s"""WITH users AS (SELECT DISTINCT user_id FROM events),
        |${graft.functions.HashFunctions.priorityHashCtes("users", "user_id", 77L, "user_id")},
        |arms AS (SELECT user_id, CAST(pri % 2 AS BIGINT) AS arm FROM ph4),
        |m AS (SELECT e.event_type, a.arm, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CAST(floor(e.value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sv
        |      FROM events e JOIN arms a ON a.user_id = e.user_id
        |      WHERE e.value IS NOT NULL
        |      GROUP BY 1, 2)
        |SELECT c.event_type, c.n AS n_control, t.n AS n_treat,
        |       floor((c.sv * 1.0 / c.n / 1000000) * 10000 + 0.5) / 10000 AS mean_control,
        |       floor((t.sv * 1.0 / t.n / 1000000) * 10000 + 0.5) / 10000 AS mean_treat,
        |       CASE WHEN c.sv = 0 THEN 0.0
        |            ELSE floor((CAST(CAST(t.sv AS HUGEINT) * c.n - CAST(c.sv AS HUGEINT) * t.n AS DOUBLE)
        |                        / CAST(CAST(c.sv AS HUGEINT) * t.n AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |       END AS lift
        |FROM m c JOIN m t ON t.event_type = c.event_type AND c.arm = 0 AND t.arm = 1
        |ORDER BY c.event_type""") { (s, dir) =>
      import graft.functions.HashFunctions
      val arms = Tables.events(s, dir).select("user_id").distinct()
        .withColumn("arm", pmod(HashFunctions.priorityHash(col("user_id"), 77L), lit(2)))
      val m = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .join(arms, "user_id")
        .groupBy("event_type", "arm")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000000 + lit(0.5)).cast("long")).as("sv"))
      val c = m.filter(col("arm") === 0)
        .select(col("event_type"), col("n").as("n_control"), col("sv").as("sv_c"))
      val t = m.filter(col("arm") === 1)
        .select(col("event_type").as("et_t"), col("n").as("n_treat"), col("sv").as("sv_t"))
      c.join(t, col("et_t") === col("event_type"))
        .select(col("event_type"), col("n_control"), col("n_treat"),
          r4(col("sv_c") * lit(1.0) / col("n_control") / lit(1000000)).as("mean_control"),
          r4(col("sv_t") * lit(1.0) / col("n_treat") / lit(1000000)).as("mean_treat"),
          when(col("sv_c") === 0, lit(0.0))
            .otherwise(
              r6(expr("cast(cast(sv_t AS DECIMAL(38,0)) * n_control - cast(sv_c AS DECIMAL(38,0)) * n_treat AS DOUBLE)")
                / expr("cast(cast(sv_c AS DECIMAL(38,0)) * n_treat AS DOUBLE)")))
            .as("lift"))
        .orderBy("event_type")
    },

    sql(
      "q101_trend_slope",
      "per-series OLS trend slope (value vs event day) — the monitoring primitive that turns q98's 'is it self-correlated' into 'how fast is it moving, in units per day': the slope (nΣxy − ΣxΣy)/(nΣxx − Σx²) assembles from exact integer co-moments over (epoch-day, 1e6-snapped value) pairs, widened DECIMAL(38,0)/HUGEINT (day·value products reach ~1e18 over the corpus), with the q98/g06 zero-variance guard on the denominator (a single-day series has no trend — exact-integer compare, never a float 0/0 whose NaN the engines render differently); the one IEEE division happens on identical exact inputs and rounds r6 after rescaling off the value grid. Scale posture: one keyed aggregation with map-side partials — co-moments are associative/commutative, the distributed-regression textbook shape; no window, no sort",
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS x,
        |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |              CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |              CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |       FROM g GROUP BY event_type)
        |SELECT event_type, n,
        |       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
        |            ELSE floor((CAST(n * sxy - sx * sy AS DOUBLE)
        |                        / CAST(n * sxx - sx * sx AS DOUBLE) / 1000000) * 1000000 + 0.5)
        |                 / 1000000 END AS slope_per_day
        |FROM cm ORDER BY event_type""") { (s, dir) =>
      val d38 = "decimal(38,0)"
      val g = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("x"),
          floor(col("value") * 1000000 + lit(0.5)).cast("long").as("y"))
      val cm = g.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("x").cast(d38) * col("y")).as("sxy"))
      cm.withColumn("den", col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
        .select(col("event_type"), col("n"),
          when(col("den") === 0, lit(0.0))
            .otherwise(r6((col("n").cast(d38) * col("sxy") - col("sx") * col("sy")).cast("double")
              / col("den").cast("double") / lit(1000000)))
            .as("slope_per_day"))
        .orderBy("event_type")
    },

    sql(
      "q102_drift_detection",
      "two-sample distribution drift per series — the data-drift monitor every production feature pipeline runs (has this metric's DISTRIBUTION changed, not just its mean?): each event_type's history splits at its midpoint timestamp (the exact integer compare 2·t <= min+max — no division, no float), values bin on a fixed 50-unit grid clamped to [0, 11] (the lower clamp is load-bearing: Spark's `div` truncates toward zero while DuckDB's `//` floors, so an unclamped negative value would land in different bins per engine — clamping to 0 collapses every negative onto one agreed bin), and the two halves compare via the q87 χ² machinery — the full half×observed-bin grid (zero cells included via the grid join, because a bin present in only one half is exactly the drift signal), every cell contribution the exact integer (O·N − rt·ct)²·1e6 div (N·rt·ct) with rt=0 guarded, summed as BIGINTs. Output per series: half sizes, observed-bin count, and the scaled χ² drift score — engine-exact end to end. Scale posture: one keyed count builds the (type, half, bin) cells; everything after runs on the cells table (≤ 2×12 per type — dimension-sized windows, the q87 shape); the raw corpus is touched once",
      """WITH ev AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vs
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |rng AS (SELECT event_type, min(tus) AS mn, max(tus) AS mx FROM ev GROUP BY event_type),
        |binned AS (
        |  SELECT e.event_type,
        |         CASE WHEN 2 * e.tus <= r.mn + r.mx THEN 0 ELSE 1 END AS half,
        |         greatest(least(e.vs // 50000000, 11), 0) AS bin
        |  FROM ev e JOIN rng r ON r.event_type = e.event_type),
        |cells AS (SELECT event_type, half, bin, CAST(count(*) AS BIGINT) AS o
        |          FROM binned GROUP BY 1, 2, 3),
        |grid AS (SELECT b.event_type, h.half, b.bin, COALESCE(c.o, 0) AS o
        |         FROM (SELECT DISTINCT event_type, bin FROM cells) b
        |         CROSS JOIN (SELECT 0 AS half UNION ALL SELECT 1) h
        |         LEFT JOIN cells c ON c.event_type = b.event_type
        |                          AND c.half = h.half AND c.bin = b.bin),
        |tot AS (SELECT event_type, half, bin, o,
        |               sum(o) OVER (PARTITION BY event_type, half) AS rt,
        |               sum(o) OVER (PARTITION BY event_type, bin) AS ct,
        |               sum(o) OVER (PARTITION BY event_type) AS n
        |        FROM grid)
        |SELECT event_type,
        |       CAST(max(CASE WHEN half = 0 THEN rt ELSE 0 END) AS BIGINT) AS n_first,
        |       CAST(max(CASE WHEN half = 1 THEN rt ELSE 0 END) AS BIGINT) AS n_second,
        |       CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
        |       CAST(sum(CASE WHEN rt = 0 THEN 0
        |                     ELSE (CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
        |                          * (CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
        |                          * 1000000 // (CAST(n AS HUGEINT) * rt * ct) END) AS BIGINT)
        |         AS chi2_scaled
        |FROM tot GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("tus"),
          floor(col("value") * 1000000 + lit(0.5)).cast("long").as("vs"))
      val rng = ev.groupBy("event_type").agg(min("tus").as("mn"), max("tus").as("mx"))
      val cells = ev.join(broadcast(rng), "event_type")
        .select(col("event_type"),
          when(lit(2) * col("tus") <= col("mn") + col("mx"), lit(0L)).otherwise(lit(1L)).as("half"),
          greatest(least(expr("vs div 50000000"), lit(11L)), lit(0L)).as("bin"))
        .groupBy("event_type", "half", "bin").agg(count(lit(1)).as("o"))
      val halves = s.range(2).toDF("half")
      val grid = cells.select("event_type", "bin").distinct()
        .crossJoin(broadcast(halves))
        .join(cells, Seq("event_type", "half", "bin"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
      val tot = grid
        .withColumn("rt", sum("o").over(Window.partitionBy("event_type", "half")))
        .withColumn("ct", sum("o").over(Window.partitionBy("event_type", "bin")))
        .withColumn("n", sum("o").over(Window.partitionBy("event_type")))
      tot.groupBy("event_type").agg(
          max(when(col("half") === 0, col("rt")).otherwise(lit(0L))).as("n_first"),
          max(when(col("half") === 1, col("rt")).otherwise(lit(0L))).as("n_second"),
          countDistinct("bin").as("n_bins"),
          sum(when(col("rt") === 0, lit(0L)).otherwise(
            expr("""(cast(o AS DECIMAL(38,0)) * n - cast(rt AS DECIMAL(38,0)) * ct)
                   |* (cast(o AS DECIMAL(38,0)) * n - cast(rt AS DECIMAL(38,0)) * ct)
                   |* 1000000 div (cast(n AS DECIMAL(38,0)) * rt * ct)""".stripMargin)))
            .cast("long").as("chi2_scaled"))
        .orderBy("event_type")
    },

    sql(
      "q104_survival_km",
      "Kaplan-Meier survival curves — time-to-first-ERROR per signup-day cohort with right-censoring (the reliability/churn staple no retention matrix replaces: q83 counts who was active, KM estimates the survival FUNCTION when some subjects are censored — here a 5-day administrative follow-up horizon, the fixed-window convention product reliability reviews use; a user whose follow-up (least of horizon, activity span) passes without an error is CENSORED at that time, not counted as failed — dropping them instead would bias every survival number down, which is the whole reason KM exists): per user, birth = first-event epoch day, dur = days to first error if it lands inside the follow-up (event), else the follow-up length (censored). At each distinct event duration t within a cohort: at_risk = users with dur >= t (censored users count until their censor time — the deaths-before-censorings convention), deaths = first-errors at exactly t, hazard_ppm = deaths*1e6 div at_risk (exact integer), and the product-limit estimate carried in LOG space: per-step li = floor(ln((at_risk-deaths)/at_risk)*1e6 + 0.5) — one exact integer ratio into one IEEE division into ln, the t22/t14 ULP-parity contract — summed by a cohort-PARTITIONED running window (BIGINT, order-fixed by duration), so log_surv_ppm is exact-integer end to end and monotone non-increasing by construction; the degenerate step (deaths == at_risk, S -> 0, ln -> -inf) clamps to the grid's resolution floor -13815511 (= ln(1e-6)*1e6: survival below one ppm) identically in both engines via a shared literal, BEFORE ln is evaluated. Scale posture: the corpus collapses to the per-user (birth, last, first_error) table in ONE user-keyed pass (the only event-scale shuffle — q83's discipline); every later step — the step x member KM join, the running window — runs on cohort-grain rows (|users| not |events|), and the windows are cohort-partitioned, never global; at 100 TB the curve tables are dashboard-sized",
      """WITH ud AS (SELECT user_id, event_type,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        |            FROM events WHERE ts IS NOT NULL),
        |u AS (SELECT user_id, min(d) AS birth, max(d) AS last,
        |             min(CASE WHEN event_type = 'error' THEN d END) AS ferr
        |      FROM ud GROUP BY user_id),
        |lab AS (SELECT user_id, birth AS cohort_day,
        |               CASE WHEN ferr IS NOT NULL AND ferr - birth <= least(last - birth, 5)
        |                    THEN ferr - birth ELSE least(last - birth, 5) END AS dur,
        |               CASE WHEN ferr IS NOT NULL AND ferr - birth <= least(last - birth, 5)
        |                    THEN 1 ELSE 0 END AS failed
        |        FROM u),
        |steps AS (SELECT DISTINCT cohort_day, dur AS t FROM lab WHERE failed = 1),
        |km AS (SELECT s.cohort_day, s.t,
        |              CAST(sum(CASE WHEN l.dur >= s.t THEN 1 ELSE 0 END) AS BIGINT) AS at_risk,
        |              CAST(sum(CASE WHEN l.failed = 1 AND l.dur = s.t THEN 1 ELSE 0 END) AS BIGINT) AS deaths
        |       FROM steps s JOIN lab l ON l.cohort_day = s.cohort_day
        |       GROUP BY s.cohort_day, s.t),
        |li AS (SELECT cohort_day, t, at_risk, deaths,
        |              CAST(CASE WHEN deaths = at_risk THEN -13815511
        |                        ELSE floor(ln((at_risk - deaths) * 1.0 / at_risk) * 1000000 + 0.5)
        |                   END AS BIGINT) AS li
        |       FROM km)
        |SELECT CAST(cohort_day AS BIGINT) AS cohort_day, CAST(t AS BIGINT) AS dur_days,
        |       at_risk, deaths,
        |       CAST(deaths * 1000000 // at_risk AS BIGINT) AS hazard_ppm,
        |       CAST(sum(li) OVER (PARTITION BY cohort_day ORDER BY t
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS log_surv_ppm
        |FROM li ORDER BY cohort_day, dur_days""") { (s, dir) =>
      val ud = Tables.events(s, dir).filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"))
      val u = ud.groupBy("user_id").agg(min("d").as("birth"), max("d").as("last"),
        min(when(col("event_type") === "error", col("d"))).as("ferr"))
      val fup = least(col("last") - col("birth"), lit(5L))
      val isEvent = col("ferr").isNotNull && (col("ferr") - col("birth")) <= fup
      val lab = u.select(col("user_id"), col("birth").as("cohort_day"),
        when(isEvent, col("ferr") - col("birth")).otherwise(fup).as("dur"),
        when(isEvent, 1L).otherwise(0L).as("failed"))
      val steps = lab.filter(col("failed") === 1)
        .select(col("cohort_day"), col("dur").as("t")).distinct()
      val km = steps.join(lab, "cohort_day")
        .groupBy("cohort_day", "t")
        .agg(sum(when(col("dur") >= col("t"), 1).otherwise(0)).cast("long").as("at_risk"),
          sum(when(col("failed") === 1 && col("dur") === col("t"), 1).otherwise(0))
            .cast("long").as("deaths"))
      km.withColumn("li",
          when(col("deaths") === col("at_risk"), lit(-13815511L))
            .otherwise(floor(log((col("at_risk") - col("deaths")) * lit(1.0) / col("at_risk"))
              * 1000000 + lit(0.5)).cast("long")))
        .select(col("cohort_day").cast("long").as("cohort_day"),
          col("t").cast("long").as("dur_days"), col("at_risk"), col("deaths"),
          expr("deaths * 1000000 div at_risk").as("hazard_ppm"),
          sum("li").over(Window.partitionBy("cohort_day").orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long").as("log_surv_ppm"))
        .orderBy("cohort_day", "dur_days")
    },

    sql(
      "q106_multitouch_attribution",
      "U-shaped (position-based) multi-touch attribution — the marketing-analytics standard beside q68's last-touch as-of join: per user, each purchase closes a journey; the clicks/views since the previous purchase split the conversion's credit 40/40/20 (first/last/middles), solo touches take 100%, touches after the final purchase stay unattributed. Journey segmentation is a running purchase count over (ts, event_id) — the event_id tiebreak makes the order total in both engines — and credit is integer ppm (middles get 200000 div (n−2), flooring on positive operands, so Spark div == DuckDB //). Output is the position × touch-type credit report. Scale posture: two user-partitioned windows and one keyed aggregation — journeys never leave their user partition, the per-user journey count joins back as a 150-row (users-sized) broadcast, and the report is dimension-sized; no global window, no self-join",
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM events WHERE event_type IN ('purchase', 'click', 'view')),
        |np AS (SELECT user_id, CAST(max(cum) AS BIGINT) AS n_conv FROM seq GROUP BY user_id),
        |touch AS (
        |  SELECT s.user_id, s.event_id, s.event_type, s.ts, s.cum + 1 AS journey
        |  FROM seq s WHERE s.event_type <> 'purchase'),
        |att AS (
        |  SELECT t.event_type,
        |         row_number() OVER (PARTITION BY t.user_id, t.journey
        |                            ORDER BY t.ts, t.event_id) AS rn,
        |         count(*) OVER (PARTITION BY t.user_id, t.journey) AS n
        |  FROM touch t JOIN np ON np.user_id = t.user_id
        |  WHERE t.journey <= np.n_conv),
        |credited AS (
        |  SELECT event_type,
        |         CASE WHEN n = 1 THEN 'solo'
        |              WHEN rn = 1 THEN 'first'
        |              WHEN rn = n THEN 'last' ELSE 'middle' END AS position,
        |         CASE WHEN n = 1 THEN 1000000
        |              WHEN rn = 1 OR rn = n THEN 400000
        |              ELSE 200000 // (n - 2) END AS credit_ppm
        |  FROM att)
        |SELECT event_type, position,
        |       CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_sum
        |FROM credited GROUP BY event_type, position
        |ORDER BY event_type, position""") { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click", "view"))
      val wCum = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val seq = ev.withColumn("cum",
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).over(wCum))
      val np = seq.groupBy("user_id").agg(max("cum").cast("long").as("n_conv"))
      val wJourney = Window.partitionBy("user_id", "journey")
      val att = seq.filter(col("event_type") =!= "purchase")
        .withColumn("journey", col("cum") + 1)
        .join(np, "user_id")
        .filter(col("journey") <= col("n_conv"))
        .withColumn("rn", row_number().over(wJourney.orderBy("ts", "event_id")))
        .withColumn("n", count(lit(1)).over(wJourney))
      att.select(col("event_type"),
          when(col("n") === 1, "solo")
            .when(col("rn") === 1, "first")
            .when(col("rn") === col("n"), "last")
            .otherwise("middle").as("position"),
          when(col("n") === 1, lit(1000000L))
            .when(col("rn") === 1 || col("rn") === col("n"), lit(400000L))
            .otherwise(expr("200000 div (n - 2)")).as("credit_ppm"))
        .groupBy("event_type", "position")
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum("credit_ppm").cast("long").as("credit_ppm_sum"))
        .orderBy("event_type", "position")
    },

    sql(
      "q110_psi_drift",
      "population-stability-index drift per series — the model-monitoring standard beside q102's χ² (PSI weights each bin's share shift by its log-ratio, so it reads in interpretable 'stability' units with industry cut-offs at 0.1/0.25 where χ² scales with N): the split and binning are EXACTLY q102's (midpoint timestamp via the exact integer compare, 50-unit value bins clamped both sides), the full 12-bin grid joins in so empty bins contribute through add-one smoothing (c+1 over n+12 — PSI is undefined on bare zeros), each bin's log-ratio ln((c1+1)(n2+12)/((c2+1)(n1+12))) lands on the 1e6 ln grid from ONE exact HUGEINT/DECIMAL(38,0) product per side of a single double division (the t29/p13 shape), shares snap to flooring ppm on non-negative operands, and the PSI total is the exact BIGINT sum Σ(p_ppm − q_ppm)·lr_ppm in PICO units — deliberately NO final division, because summands straddle zero and a trunc-vs-floor divide would diverge (each true term is ≥ 0 but ppm snapping can push a tiny term negative). drifted flags the standard 0.1 threshold (1e11 pico). Scale posture: one keyed count builds the cells; everything after runs on the type×12 grid — dimension-sized, the q102 shape",
      """WITH ev AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vs
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |rng AS (SELECT event_type, min(tus) AS mn, max(tus) AS mx FROM ev GROUP BY event_type),
        |binned AS (
        |  SELECT e.event_type,
        |         CASE WHEN 2 * e.tus <= r.mn + r.mx THEN 0 ELSE 1 END AS half,
        |         greatest(least(e.vs // 50000000, 11), 0) AS bin
        |  FROM ev e JOIN rng r ON r.event_type = e.event_type),
        |halves AS (SELECT event_type, half, CAST(count(*) AS BIGINT) AS n FROM binned GROUP BY 1, 2),
        |cells AS (SELECT event_type, half, bin, CAST(count(*) AS BIGINT) AS o FROM binned GROUP BY 1, 2, 3),
        |grid AS (SELECT t.event_type, b.bin,
        |                COALESCE(c1.o, 0) AS c1, COALESCE(c2.o, 0) AS c2,
        |                COALESCE(h1.n, 0) AS n1, COALESCE(h2.n, 0) AS n2
        |         FROM (SELECT DISTINCT event_type FROM binned) t
        |         CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS bin) b
        |         LEFT JOIN cells c1 ON c1.event_type = t.event_type AND c1.bin = b.bin AND c1.half = 0
        |         LEFT JOIN cells c2 ON c2.event_type = t.event_type AND c2.bin = b.bin AND c2.half = 1
        |         LEFT JOIN halves h1 ON h1.event_type = t.event_type AND h1.half = 0
        |         LEFT JOIN halves h2 ON h2.event_type = t.event_type AND h2.half = 1),
        |terms AS (SELECT event_type, n1, n2,
        |                 ((c1 + 1) * 1000000) // (n1 + 12) AS p_ppm,
        |                 ((c2 + 1) * 1000000) // (n2 + 12) AS q_ppm,
        |                 CAST(floor(ln(CAST(CAST(c1 + 1 AS HUGEINT) * (n2 + 12) AS DOUBLE)
        |                              / CAST(CAST(c2 + 1 AS HUGEINT) * (n1 + 12) AS DOUBLE))
        |                            * 1000000 + 0.5) AS BIGINT) AS lr_ppm
        |          FROM grid)
        |SELECT event_type, CAST(min(n1) AS BIGINT) AS n_first, CAST(min(n2) AS BIGINT) AS n_second,
        |       CAST(sum((p_ppm - q_ppm) * lr_ppm) AS BIGINT) AS psi_pico,
        |       CAST(CASE WHEN sum((p_ppm - q_ppm) * lr_ppm) >= 100000000000 THEN 1 ELSE 0 END
        |            AS BIGINT) AS drifted
        |FROM terms GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val d38 = "decimal(38,0)"
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("tus"),
          floor(col("value") * 1000000 + lit(0.5)).cast("long").as("vs"))
      val rng = ev.groupBy("event_type").agg(min("tus").as("mn"), max("tus").as("mx"))
      val binned = ev.join(rng, "event_type")
        .select(col("event_type"),
          when(lit(2) * col("tus") <= col("mn") + col("mx"), 0).otherwise(1).as("half"),
          greatest(least(expr("vs div 50000000"), lit(11L)), lit(0L)).as("bin"))
      val halves = binned.groupBy("event_type", "half").agg(count(lit(1)).cast("long").as("n"))
      val cells = binned.groupBy("event_type", "half", "bin")
        .agg(count(lit(1)).cast("long").as("o"))
      def side(h: Int, as: String) = cells.filter(col("half") === h)
        .select(col("event_type"), col("bin"), col("o").as(as))
      def hn(h: Int, as: String) = halves.filter(col("half") === h)
        .select(col("event_type"), col("n").as(as))
      val grid = binned.select("event_type").distinct()
        .crossJoin(broadcast(s.range(0, 12).toDF("bin")))
        .join(side(0, "c1"), Seq("event_type", "bin"), "left")
        .join(side(1, "c2"), Seq("event_type", "bin"), "left")
        .join(hn(0, "n1"), Seq("event_type"), "left")
        .join(hn(1, "n2"), Seq("event_type"), "left")
        .na.fill(0L, Seq("c1", "c2", "n1", "n2"))
      grid
        .withColumn("p_ppm", expr("((c1 + 1) * 1000000) div (n1 + 12)"))
        .withColumn("q_ppm", expr("((c2 + 1) * 1000000) div (n2 + 12)"))
        .withColumn("lr_ppm",
          floor(log(((col("c1") + 1).cast(d38) * (col("n2") + 12)).cast("double")
            / ((col("c2") + 1).cast(d38) * (col("n1") + 12)).cast("double"))
            * 1000000 + lit(0.5)).cast("long"))
        .groupBy("event_type")
        .agg(min("n1").cast("long").as("n_first"),
          min("n2").cast("long").as("n_second"),
          sum((col("p_ppm") - col("q_ppm")) * col("lr_ppm")).cast("long").as("psi_pico"))
        .withColumn("drifted",
          when(col("psi_pico") >= 100000000000L, 1L).otherwise(0L))
        .orderBy("event_type")
    },

    sql(
      "q111_dow_seasonality",
      "day-of-week seasonality profile per event type (the calendar-structure diagnostic beside q101's trend and q102/q110's drift: traffic analytics read this table before comparing any two windows, because a Mon-vs-Sun compare without the weekly index is a seasonality artifact, not a finding): events bucket by an engine-independent day-of-week — (epoch_days + 4) % 7, i.e. Sunday=0 (day 0 = Thursday 1970-01-01 → 4; the spec pins Monday 2024-01-01 → 1), computed from epoch MICROS by flooring division on non-negative operands, never from locale-dependent dayofweek()/dow() whose week-start conventions differ across engines — and each (type, dow) cell reports its count plus the seasonal index n_dow*7e6 div n_type in ppm (1e6 = exactly uniform traffic; the full 7-day grid is emitted with zero-filled cells so missing days read as index 0, the q83 epoch-grid discipline). Scale posture: one map-side-combinable (type, dow) count plus a type count, the grid a |types|x7 dimension frame built from a broadcast cross join — no windows, no data-sized anything",
      """WITH e AS (SELECT event_type,
        |                 CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS BIGINT) AS dow
        |           FROM events),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type FROM e GROUP BY 1),
        |d AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |g AS (SELECT t.event_type, g.dow FROM tot t CROSS JOIN generate_series(0, 6) g(dow))
        |SELECT g.event_type, CAST(g.dow AS BIGINT) AS dow,
        |       COALESCE(d.n, 0) AS n_events,
        |       CAST(COALESCE(d.n, 0) * 7000000 // t.n_type AS BIGINT) AS seasonal_ppm
        |FROM g JOIN tot t USING (event_type)
        |LEFT JOIN d ON d.event_type = g.event_type AND d.dow = g.dow
        |ORDER BY event_type, dow""") { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          expr("(unix_micros(cast(ts AS timestamp)) div 86400000000 + 4) % 7").as("dow"))
      val tot = e.groupBy("event_type").agg(count(lit(1)).cast("long").as("n_type"))
      val d = e.groupBy("event_type", "dow").agg(count(lit(1)).cast("long").as("n"))
      val dows = s.range(0, 7).select(col("id").as("dow"))
      tot.crossJoin(broadcast(dows))
        .join(d, Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("dow"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          expr("coalesce(n, 0L) * 7000000 div n_type").as("seasonal_ppm"))
        .orderBy("event_type", "dow")
    },

    sql(
      "q113_cumulative_uniques",
      "cumulative-unique-users growth curve (the north-star chart of every product dashboard: per active day, new users — first-ever-seen that day — and the running total of users seen so far): first-seen days are one user-keyed min, the day spine is the observed distinct-day set, and the cumulative count is DELIBERATELY window-free — a day x first-seen-day inequality join over two DAY-GRAIN frames (calendar-bounded: |days|² rows of 16 B — q71's spine discipline; the obvious global running-sum window would land a partition-less WindowExec, the exact plan shape PlanAudit's whitelist exists to keep out of data paths), so 'cumulative users at day d' = count of users with first_day <= d, exact integers end to end. Scale posture: one user-keyed min (the only corpus-scale shuffle), then dimension-frame joins; the curve is |days| rows regardless of corpus size",
      """WITH fs AS (SELECT user_id,
        |                  CAST(min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS BIGINT) AS first_day
        |           FROM events GROUP BY user_id),
        |days AS (SELECT DISTINCT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
        |         FROM events),
        |nu AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY 1)
        |SELECT d.day,
        |       CAST(COALESCE(max(CASE WHEN n.day = d.day THEN n.n_new END), 0) AS BIGINT) AS n_new_users,
        |       CAST(COALESCE(sum(n.n_new), 0) AS BIGINT) AS cum_users
        |FROM days d LEFT JOIN nu n ON n.day <= d.day
        |GROUP BY d.day
        |ORDER BY d.day""") { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(cast(ts AS timestamp)) div 86400000000").as("day"))
      val fs = e.groupBy("user_id").agg(min("day").as("first_day"))
      val days = e.select("day").distinct()
      val nu = fs.groupBy(col("first_day").as("nday"))
        .agg(count(lit(1)).cast("long").as("n_new"))
      days.join(nu, col("nday") <= col("day"), "left")
        .groupBy("day")
        .agg(coalesce(max(when(col("nday") === col("day"), col("n_new"))), lit(0L))
            .cast("long").as("n_new_users"),
          coalesce(sum("n_new"), lit(0L)).cast("long").as("cum_users"))
        .orderBy("day")
    },

    sql(
      "q114_user_concentration",
      "per-event-type top-decile user concentration (the audience-concentration screen beside a13's revenue Gini and q109's ABC classes: an event type whose volume comes from a sliver of users is bot traffic, a power-user feature, or an instrumentation bug — three different decisions, all starting from this table): users rank per type by event count under a (count DESC, user_id) total order, the top-decile cut is the exact integer k = (n+9) div 10, and the share is one flooring division of exact counts. Scale posture: one (type, user)-keyed map-side-combinable count, a type-PARTITIONED rank window (the q103/q109 discipline — never a global sort), one type rollup — |types| output rows",
      """WITH uc AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, c,
        |              CAST(row_number() OVER (PARTITION BY event_type
        |                                      ORDER BY c DESC, user_id) AS BIGINT) AS i,
        |              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |       FROM uc)
        |SELECT event_type, max(n) AS n_users,
        |       CAST((max(n) + 9) // 10 AS BIGINT) AS k_top,
        |       CAST(sum(c) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN i <= (n + 9) // 10 THEN c ELSE 0 END) AS BIGINT) AS top_events,
        |       CAST(sum(CASE WHEN i <= (n + 9) // 10 THEN c ELSE 0 END) * 1000000 // sum(c) AS BIGINT)
        |         AS top_decile_share_ppm
        |FROM rk GROUP BY event_type
        |ORDER BY event_type""") { (s, dir) =>
      val uc = Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).cast("long").as("c"))
      val w = Window.partitionBy("event_type").orderBy(desc("c"), col("user_id"))
      val wn = Window.partitionBy("event_type")
      uc
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn).cast("long"))
        .groupBy("event_type")
        .agg(max("n").as("n_users"),
          expr("(max(n) + 9) div 10").as("k_top"),
          sum("c").cast("long").as("n_events"),
          sum(when(expr("i <= (n + 9) div 10"), col("c")).otherwise(0L))
            .cast("long").as("top_events"))
        .select(col("event_type"), col("n_users"), col("k_top"), col("n_events"),
          col("top_events"),
          expr("top_events * 1000000 div n_events").as("top_decile_share_ppm"))
        .orderBy("event_type")
    }
  )
}
