package graft.operators

import graft.GraftQuery
import graft.GraftQuery.{rowsOnly, sql}
import graft.functions.Aggregators
import graft.sources.Tables
import graft.operators.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Custom-aggregate coverage: typed `Aggregator` UDAFs (top-k, reservoir)
  * and approximate sketches (`approx_count_distinct` HLL++,
  * `approx_percentile`). Sketch outputs are engine-specific, so those
  * queries are rows-only with accuracy asserted in ScalaTest against exact
  * values.
  */
object AggregateQueries {

  val all: Seq[GraftQuery] = Seq(
    sql(
      "a01_topk_aggregator",
      "typed Aggregator UDAF: bounded-state top-2 order prices per customer",
      """SELECT o_custkey,
        |       floor((max(CASE WHEN rn = 1 THEN o_totalprice END)) * 100 + 0.5) / 100 AS top1,
        |       floor((max(CASE WHEN rn = 2 THEN o_totalprice END)) * 100 + 0.5) / 100 AS top2
        |FROM (SELECT o_custkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 2
        |GROUP BY o_custkey
        |ORDER BY o_custkey""") { (s, dir) =>
      val top2 = udaf(new Aggregators.TopK(2))
      Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(top2(col("o_totalprice")).as("tops"))
        .select(col("o_custkey"),
          r2(try_element_at(col("tops"), lit(1))).as("top1"),
          r2(try_element_at(col("tops"), lit(2))).as("top2"))
        .orderBy("o_custkey")
    },

    rowsOnly(
      "a02_approx_distinct",
      "HLL++ sketch (approx_count_distinct at rsd 0.02); no oracle: sketch estimates are engine-specific — AggregatorSpec asserts <5% relative error per group vs exact at sf0.001 and sf0.01")(
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
            approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
          .orderBy("l_returnflag")
      }),

    sql(
      "a06_hll_replay",
      "deterministic HyperLogLog (custom 512-register Aggregator, a02's oracle-exact twin): the sketch is pure integer arithmetic on the splitmix priority hash and a fixed-order double estimator, so the DuckDB oracle replays registers AND estimate bit-exactly in HUGEINT — no 'sketches are engine-specific' carve-out. Scale posture: 512-byte state per group, elementwise-max merge → map-side partial aggregation; a 1000-executor rollup ships bytes per group, not rows",
      s"""WITH d AS (
        |  SELECT CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS g, 'part' AS kt, CAST(l_partkey AS BIGINT) AS k FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS g, 'order' AS kt, CAST(l_orderkey AS BIGINT) AS k FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1, 2, 3),
        |${graft.functions.HashFunctions.priorityHashCtes("d", "k", 11L, "g, kt, k")},
        |regs0 AS (SELECT g, kt, CAST(pri >> 54 AS BIGINT) AS idx, pri % 18014398509481984 AS w FROM ph4),
        |buckets AS (SELECT g, kt, idx, min(w) AS wmin FROM regs0 GROUP BY g, kt, idx),
        |bits AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, 54)),
        |rhos AS (
        |  SELECT g, kt, idx, 54 - max(b) AS mj FROM buckets, bits
        |  WHERE wmin > 0 AND (CAST(1 AS HUGEINT) << CAST(b AS INTEGER)) <= wmin GROUP BY g, kt, idx
        |  UNION ALL
        |  SELECT g, kt, idx, 55 AS mj FROM buckets WHERE wmin = 0),
        |present AS (SELECT g, kt, CAST(count(*) AS BIGINT) AS np,
        |                   sum(CAST(1 AS HUGEINT) << CAST(55 - mj AS INTEGER)) AS sp
        |            FROM rhos GROUP BY g, kt),
        |est AS (SELECT g, kt, 512 - np AS vz,
        |               CAST(sp + (512 - np) * (CAST(1 AS HUGEINT) << 55) AS DOUBLE) AS sd
        |        FROM present),
        |raw AS (SELECT g, kt, vz,
        |               (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 512) * 512 * 512)
        |               * CAST(36028797018963968 AS DOUBLE) / sd AS r FROM est),
        |fin AS (SELECT g, kt,
        |               CAST(floor(CASE WHEN r <= 1280 AND vz > 0 THEN 512 * ln(CAST(512 AS DOUBLE) / vz) ELSE r END + 0.5) AS BIGINT) AS hll_est
        |        FROM raw),
        |ex AS (SELECT CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS g, 'part' AS kt, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact FROM lineitem GROUP BY 1, 2
        |       UNION ALL
        |       SELECT CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS g, 'order' AS kt, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact FROM lineitem GROUP BY 1, 2)
        |SELECT f.g AS ship_month, f.kt AS key_type, e.n_exact, f.hll_est,
        |       floor((((CAST(f.hll_est AS DOUBLE) - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE)) * 100) * 10000 + 0.5) / 10000 AS rel_err_pct
        |FROM fin f JOIN ex e ON f.g = e.g AND f.kt = e.kt
        |ORDER BY ship_month, key_type""") { (s, dir) =>
      val hll = udaf(new Aggregators.HllDistinct(seed = 11L))
      // One lineitem scan (posexplode fans each row into its two key
      // types), then dedup (g, kt, k) BEFORE aggregating — mirroring the
      // oracle's `GROUP BY 1, 2, 3` in its d CTE. HLL registers are
      // duplicate-insensitive, so hll(k) over the deduped keys is
      // bit-identical, n_exact becomes a plain count, and the plan loses
      // the countDistinct Expand (which doubled every row) plus a second
      // parquet scan: r6 measured executor CPU 6.5 s → 1.6-2.8 s, wall
      // 2.4 s → 1.4-2.0 s standalone.
      Tables.lineitem(s, dir)
        .select(month(col("l_shipdate").cast("date")).cast("long").as("g"),
          posexplode(array(
            struct(lit("part").as("kt"), col("l_partkey").cast("long").as("k")),
            struct(lit("order").as("kt"), col("l_orderkey").cast("long").as("k")))))
        .select(col("g"), col("col.kt").as("kt"), col("col.k").as("k"))
        .where(col("k").isNotNull) // HllDistinct's null contract (scaladoc)
        .distinct()
        .groupBy("g", "kt")
        .agg(hll(col("k")).as("hll_est"),
          count(lit(1)).cast("long").as("n_exact"))
        .select(col("g").as("ship_month"), col("kt").as("key_type"),
          col("n_exact"), col("hll_est"),
          r4((col("hll_est").cast("double") - col("n_exact").cast("double"))
            / col("n_exact").cast("double") * 100).as("rel_err_pct"))
        .orderBy("ship_month", "key_type")
    },

    sql(
      "a07_sample_quantile",
      "approximate percentile via DETERMINISTIC bottom-k priority sampling (a04's oracle-exact twin): the 200 smallest-priority keys per group form the sample, the estimate is the in-sample linear-interpolation median — no RNG, so the DuckDB oracle replays sample selection (HUGEINT hash) and estimate bit-exactly. Scale posture: shown as a partitioned window at fixture scale; at 100 TB the sample IS a03's bottom-k aggregator (O(k) state, exact merge), so no global sort ever exists",
      s"""WITH src AS (SELECT o_orderpriority AS g, CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS v FROM orders),
        |${graft.functions.HashFunctions.priorityHashCtes("src", "k", 5L, "g, k, v")},
        |ranked AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY pri, k) AS rn FROM ph4),
        |est AS (SELECT g, quantile_cont(v, 0.5) AS est_p50, CAST(count(*) AS BIGINT) AS n_sample
        |        FROM ranked WHERE rn <= 200 GROUP BY g),
        |ex AS (SELECT g, quantile_cont(v, 0.5) AS exact_p50 FROM src GROUP BY g)
        |SELECT e.g AS o_orderpriority,
        |       floor(e.est_p50 * 100 + 0.5) / 100 AS est_p50,
        |       floor(x.exact_p50 * 100 + 0.5) / 100 AS exact_p50,
        |       e.n_sample,
        |       floor(((e.est_p50 - x.exact_p50) / x.exact_p50 * 100) * 10000 + 0.5) / 10000 AS rel_err_pct
        |FROM est e JOIN ex x ON e.g = x.g
        |ORDER BY o_orderpriority""") { (s, dir) =>
      import graft.functions.HashFunctions
      import org.apache.spark.sql.expressions.Window
      val src = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("g"),
          col("o_orderkey").cast("long").as("k"), col("o_totalprice").as("v"))
        .withColumn("pri", HashFunctions.priorityHash(col("k"), 5L))
      val w = Window.partitionBy("g").orderBy(col("pri"), col("k"))
      val est = src.withColumn("rn", row_number().over(w)).filter(col("rn") <= 200)
        .groupBy("g").agg(expr("percentile(v, 0.5)").as("est_p50"),
          count(lit(1)).cast("long").as("n_sample"))
      val ex = src.groupBy("g").agg(expr("percentile(v, 0.5)").as("exact_p50"))
      est.join(ex, "g")
        .select(col("g").as("o_orderpriority"),
          r2(col("est_p50")).as("est_p50"), r2(col("exact_p50")).as("exact_p50"),
          col("n_sample"),
          r4((col("est_p50") - col("exact_p50")) / col("exact_p50") * 100).as("rel_err_pct"))
        .orderBy("o_orderpriority")
    },

    sql(
      "a09_weighted_median",
      "exact weighted median (lower median: smallest value whose cumulative weight reaches ceil(W/2)) of l_quantity weighted by revenue cents per return flag — the robust-statistics primitive percentile() can't express. Deterministic by construction: weights pre-aggregate per (group, value) so the cumulative window never depends on intra-tie row order, weights are integer cents (floor(price*100+0.5), IEEE-identical), and the threshold is integer arithmetic. Scale posture: one keyed aggregation + a per-group window over the DISTINCT value domain (≤50 quantities here; at 100 TB the value domain per group stays small after the pre-aggregation, which is the point — the window never sees raw rows)",
      """WITH wq AS (SELECT l_returnflag AS flag, l_quantity AS q,
        |                  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS w
        |           FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT flag, CAST(sum(w) AS BIGINT) AS tw FROM wq GROUP BY flag),
        |cum AS (SELECT flag, q, sum(w) OVER (PARTITION BY flag ORDER BY q) AS cw FROM wq)
        |SELECT c.flag AS l_returnflag, min(c.q) AS weighted_median_qty
        |FROM cum c JOIN tot t USING (flag)
        |WHERE c.cw >= (t.tw + 1) // 2
        |GROUP BY c.flag
        |ORDER BY c.flag""") { (s, dir) =>
      val wq = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"), col("l_quantity").as("q"))
        .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")).as("w"))
      val tot = wq.groupBy("flag").agg(sum("w").as("tw"))
      val cum = wq.withColumn("cw",
        sum("w").over(Window.partitionBy("flag").orderBy("q")))
      cum.join(broadcast(tot), "flag")
        .filter(col("cw") >= expr("(tw + 1) div 2"))
        .groupBy("flag")
        .agg(min("q").as("weighted_median_qty"))
        .select(col("flag").as("l_returnflag"), col("weighted_median_qty"))
        .orderBy("l_returnflag")
    },

    sql(
      "a10_histogram",
      "fixed-width histogram of order totals in integer cents (the data-profiling primitive): bucket = cents div $25,000-width — a stateless integer binning that needs NO global min/max pre-pass, so at 100 TB it is a single map-side-combinable keyed count (vs quantile-based binning which needs a distribution pass first). Bucket bounds are derived arithmetic, counts and per-bucket cent sums are exact integers. Empty buckets are absent by construction in both engines",
      """WITH b AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 2500000 AS bucket,
        |                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |          FROM orders)
        |SELECT CAST(bucket AS BIGINT) AS bucket_id,
        |       CAST(bucket * 2500000 AS BIGINT) AS lo_cents,
        |       CAST((bucket + 1) * 2500000 AS BIGINT) AS hi_cents,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM b GROUP BY bucket ORDER BY bucket""") { (s, dir) =>
      Tables.orders(s, dir)
        .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .withColumn("bucket_id", expr("cents div 2500000"))
        .groupBy("bucket_id")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        .select(col("bucket_id"), (col("bucket_id") * 2500000L).as("lo_cents"),
          ((col("bucket_id") + 1) * 2500000L).as("hi_cents"), col("n_orders"), col("sum_cents"))
        .orderBy("bucket_id")
    },

    sql(
      "a11_mode",
      "deterministic per-group mode (most frequent l_quantity per return flag, ties broken toward the smallest value): built-in mode()/max_by() leave tie order engine-defined, so this composes the a09 pre-aggregation — collapse to (group, value, count) first — with a row_number window ordered (count DESC, value ASC), making the answer unique and engine-exact. Scale posture: one map-side-combinable keyed count, then a window over the DISTINCT value domain per group (≤50 values here) — raw rows never reach the window",
      """WITH c AS (SELECT l_returnflag AS flag, l_quantity AS q, CAST(count(*) AS BIGINT) AS n
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT flag, q, n, row_number() OVER (PARTITION BY flag ORDER BY n DESC, q ASC) AS rn
        |      FROM c)
        |SELECT flag AS l_returnflag, q AS mode_qty, n AS mode_count
        |FROM r WHERE rn = 1 ORDER BY flag""") { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"), col("l_quantity").as("q"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("flag").orderBy(col("n").desc, col("q").asc)))
        .filter(col("rn") === 1)
        .select(col("flag").as("l_returnflag"), col("q").as("mode_qty"), col("n").as("mode_count"))
        .orderBy("l_returnflag")
    },

    sql(
      "a08_cms_replay",
      "deterministic Count-Min sketch (custom 4×256 Aggregator): the counter matrix is pure integer arithmetic on the seeded priority-hash family, so the DuckDB oracle replays counters AND the min-over-rows point estimates bit-exactly in HUGEINT — the frequency-estimation sketch (heavy hitters) beside a06's cardinality sketch. Probes are the top-8 true-frequency keys; overcount = est - truth is the sketch's signed error, ≥ 0 by construction. Scale posture: 8 KB state per group, elementwise-sum merge → map-side partial aggregation; the probe side is a TakeOrdered top-k, never a global sort",
      s"""WITH keys AS (SELECT CAST(l_suppkey AS BIGINT) AS k FROM lineitem WHERE l_suppkey IS NOT NULL),
        |seeds AS (SELECT CAST(range AS BIGINT) AS j,
        |                 CAST(${Aggregators.CmsSketch.SeedBase} + ${Aggregators.CmsSketch.SeedStep} * range AS BIGINT) AS sd
        |          FROM range(0, ${Aggregators.CmsSketch.Depth})),
        |src AS (SELECT k, j, sd FROM keys CROSS JOIN seeds),
        |${graft.functions.HashFunctions.priorityHashCtes("src", "k", "sd", "k, j")},
        |hashed AS (SELECT k, j, pri % ${Aggregators.CmsSketch.Width} AS b FROM ph4),
        |buckets AS (SELECT j, b, CAST(count(*) AS BIGINT) AS c FROM hashed GROUP BY j, b),
        |truth AS (SELECT k, CAST(count(*) AS BIGINT) AS true_cnt FROM keys GROUP BY k),
        |probe AS (SELECT k, true_cnt FROM truth ORDER BY true_cnt DESC, k LIMIT 8),
        |pb AS (SELECT DISTINCT h.k, h.j, h.b FROM hashed h WHERE h.k IN (SELECT k FROM probe)),
        |est AS (SELECT pb.k, min(bu.c) AS cms_est
        |        FROM pb JOIN buckets bu ON bu.j = pb.j AND bu.b = pb.b GROUP BY pb.k)
        |SELECT p.k AS supp_key, p.true_cnt, e.cms_est, e.cms_est - p.true_cnt AS overcount
        |FROM probe p JOIN est e ON e.k = p.k
        |ORDER BY p.true_cnt DESC, supp_key""") { (s, dir) =>
      import graft.functions.HashFunctions
      import Aggregators.CmsSketch.{Depth, SeedBase, SeedStep, Width}
      val keys = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("k"))
        .where(col("k").isNotNull)
      val cms = udaf(Aggregators.CmsSketch.default)
      val counters = keys.agg(cms(col("k")).as("cnt")) // one row, Depth*Width longs
      val probe = keys.groupBy("k").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("k")).limit(8)
      // point estimate = min over the depth rows of the probed counter; the
      // bucket index replays the aggregator's hash per row (1-based
      // element_at into the flattened matrix). Plain element_at, not try_:
      // the index is provably in [1, Depth*Width] (priorityHash is
      // non-negative), so any future drift from the aggregator's bucket
      // math should fail loudly, not degrade to a null least() skips.
      val rowEsts = (0 until Depth).map { j =>
        element_at(col("cnt"),
          (lit(j * Width) + HashFunctions.priorityHash(col("k"), SeedBase + SeedStep * j) % Width + 1).cast("int"))
      }
      probe.crossJoin(broadcast(counters))
        .select(col("k").as("supp_key"), col("true_cnt"),
          least(rowEsts: _*).as("cms_est"))
        .withColumn("overcount", col("cms_est") - col("true_cnt"))
        .orderBy(col("true_cnt").desc, col("supp_key"))
    },

    sql(
      "a03_reservoir_sample",
      "typed Aggregator UDAF: O(k)-state bottom-k priority sample per segment. The priority is a splitmix/murmur-style integer hash — pure mod-2^64 arithmetic, so the oracle reproduces it exactly in DuckDB HUGEINT (the multiply by 0xff51afd7ed558ccd is split into 32-bit halves to stay inside INT128)",
      """WITH d AS (SELECT DISTINCT c_mktsegment, CAST(c_custkey AS BIGINT) AS k FROM customer),
        |p1 AS (SELECT c_mktsegment, k,
        |              (CAST(k AS HUGEINT) * 11400714819323198485 + 42) % 18446744073709551616 AS m1 FROM d),
        |p2 AS (SELECT c_mktsegment, k, xor(m1, m1 >> 33) AS h1 FROM p1),
        |p3 AS (SELECT c_mktsegment, k,
        |              (h1 * 3981806797 + ((h1 * 4283543511) % 4294967296) * 4294967296)
        |              % 18446744073709551616 AS m2 FROM p2),
        |p4 AS (SELECT c_mktsegment, k, xor(m2, m2 >> 33) AS h2 FROM p3),
        |topk AS (SELECT c_mktsegment, k,
        |                row_number() OVER (PARTITION BY c_mktsegment
        |                                   ORDER BY h2 % 9223372036854775808) AS rn FROM p4)
        |SELECT c_mktsegment,
        |       CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY k) AS BIGINT) AS sample_idx,
        |       k AS sampled_key
        |FROM (SELECT c_mktsegment, k FROM topk WHERE rn <= 10)
        |ORDER BY c_mktsegment, sample_idx""") { (s, dir) =>
      val sample = udaf(new Aggregators.ReservoirSample(k = 10, seed = 42L))
      Tables.customer(s, dir)
        .groupBy("c_mktsegment")
        .agg(sample(col("c_custkey")).as("sampled"))
        .select(col("c_mktsegment"), posexplode(col("sampled")).as(Seq("pos", "sampled_key")))
        .select(col("c_mktsegment"),
          (col("pos") + 1).cast("long").as("sample_idx"), col("sampled_key"))
        .orderBy("c_mktsegment", "sample_idx")
    },

    sql(
      "a05_stratified_sample",
      "deterministic stratified Bernoulli sampling (per-stratum fractions 1/2, 1/4, 1/10, 1/20, 1/50 on c_mktsegment) — the train/eval split primitive, promoted from engine-RNG sampleBy to hash-mod membership (r8 verdict #4): a row is kept when splitmix priorityHash(c_custkey, seed) % denom = 0, so the draw is a pure per-row integer decision — no RNG, no partition-layout dependence, retries/replicas sample identically, and the whole membership set replays bit-exactly in DuckDB HUGEINT (reported as count + key fold per stratum). Unlike p03/p05's exact-size bottom-k windows this is the WINDOWLESS sampler: zero shuffle before the final tiny aggregate, which is the right 100 TB shape when binomial-sized output is acceptable and exact quotas are not required. AggregatorSpec still asserts per-stratum rates",
      s"""WITH src AS (SELECT c_mktsegment, CAST(c_custkey AS BIGINT) AS k FROM customer),
        |${graft.functions.HashFunctions.priorityHashCtes("src", "k", 42L, "c_mktsegment, k")},
        |den AS (SELECT * FROM (VALUES ('AUTOMOBILE', 2), ('BUILDING', 4), ('FURNITURE', 10),
        |                              ('HOUSEHOLD', 20), ('MACHINERY', 50)) d(c_mktsegment, denom))
        |SELECT p.c_mktsegment, CAST(count(*) AS BIGINT) AS n_sampled,
        |       CAST(sum(p.k % 1000003) AS BIGINT) AS id_fold
        |FROM ph4 p JOIN den d USING (c_mktsegment)
        |WHERE p.pri % d.denom = 0
        |GROUP BY p.c_mktsegment
        |ORDER BY p.c_mktsegment""") { (s, dir) =>
      import graft.functions.HashFunctions
      import s.implicits._
      val den = Seq(("AUTOMOBILE", 2L), ("BUILDING", 4L), ("FURNITURE", 10L),
        ("HOUSEHOLD", 20L), ("MACHINERY", 50L)).toDF("c_mktsegment", "denom")
      Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_custkey").cast("long").as("k"))
        .withColumn("pri", HashFunctions.priorityHash(col("k"), 42L))
        .join(broadcast(den), "c_mktsegment")
        .filter(col("pri") % col("denom") === 0)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).cast("long").as("n_sampled"),
          sum(col("k") % 1000003L).cast("long").as("id_fold"))
        .orderBy("c_mktsegment")
    },

    rowsOnly(
      "a04_approx_percentile",
      "quantile sketch (approx_percentile); no oracle: sketch estimates are engine-specific — AggregatorSpec asserts <2% error vs exact percentile at sf0.001 and sf0.01")(
      (s, dir) => {
        Tables.orders(s, dir)
          .agg(approx_percentile(col("o_totalprice"), lit(0.5), lit(1000)).as("approx_median"),
            approx_percentile(col("o_totalprice"), lit(0.99), lit(1000)).as("approx_p99"))
      }),

    sql(
      "a12_higher_moments",
      "exact skewness and excess kurtosis per group — the distribution-shape profile q52's variance/correlation row stops short of (shape is what data-quality monitors alert on: a skew flip or kurtosis spike means the generating process changed even when mean/variance hold): quantities are exact integers, so the 1st–4th power sums accumulate as exact BIGINT/HUGEINT (DECIMAL(38,0)) totals, the central co-moment numerators assemble as EXACT integer polynomials — A2 = nS2−S1² (= n²m2), A3 = n²S3−3nS1S2+2S1³ (= n³m3), A4 = n³S4−4n²S1S3+6nS1²S2−3S1⁴ (= n⁴m4) — and the n-powers cancel algebraically so skew = A3/(A2·√A2) and excess kurtosis = A4/A2² − 3 need only one correctly-rounded sqrt, one or two multiplies and ONE division each (no libm pow, no float accumulation anywhere). The uniform fixture reads the theoretical −6/5 excess kurtosis. The doc records the 100 TB widening: S1⁴ approaches DECIMAL(38) around n ≈ 10⁹ rows·group⁻¹ at this value range — beyond that the streaming central-moment update replaces the raw-power form. Scale posture: one map-side-combinable keyed aggregation, group-sized output",
      """WITH s AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
        |         CAST(sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)
        |                  * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s3,
        |         CAST(sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)
        |                  * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s4
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY l_returnflag),
        |a AS (SELECT l_returnflag, n,
        |             CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS a2,
        |             CAST(n AS HUGEINT) * n * s3 - 3 * CAST(n AS HUGEINT) * s1 * s2
        |               + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS a3,
        |             CAST(n AS HUGEINT) * n * n * s4 - 4 * CAST(n AS HUGEINT) * n * s1 * s3
        |               + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
        |               - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS a4
        |      FROM s)
        |SELECT l_returnflag, n,
        |       floor((CAST(a3 AS DOUBLE) / (CAST(a2 AS DOUBLE) * sqrt(CAST(a2 AS DOUBLE))))
        |             * 1000000 + 0.5) / 1000000 AS skew_qty,
        |       floor((CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3)
        |             * 1000000 + 0.5) / 1000000 AS kurt_qty
        |FROM a ORDER BY l_returnflag""") { (s, dir) =>
      val d38 = "decimal(38,0)"
      val q = col("l_quantity").cast("long")
      val st = Tables.lineitem(s, dir)
        .filter(col("l_quantity").isNotNull)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(q).cast("long").as("s1"),
          sum(q * q).cast("long").as("s2"),
          sum(q.cast(d38) * q * q).as("s3"),
          sum(q.cast(d38) * q * q * q).as("s4"))
      val a = st.select(col("l_returnflag"), col("n"),
        (col("n").cast(d38) * col("s2") - col("s1").cast(d38) * col("s1")).as("a2"),
        (col("n").cast(d38) * col("n") * col("s3")
          - lit(3) * col("n").cast(d38) * col("s1") * col("s2")
          + lit(2) * col("s1").cast(d38) * col("s1") * col("s1")).as("a3"),
        (col("n").cast(d38) * col("n") * col("n") * col("s4")
          - lit(4) * col("n").cast(d38) * col("n") * col("s1") * col("s3")
          + lit(6) * col("n").cast(d38) * col("s1") * col("s1") * col("s2")
          - lit(3) * col("s1").cast(d38) * col("s1") * col("s1") * col("s1")).as("a4"))
      a.select(col("l_returnflag"), col("n"),
          r6(col("a3").cast("double")
            / (col("a2").cast("double") * sqrt(col("a2").cast("double")))).as("skew_qty"),
          r6(col("a4").cast("double")
            / (col("a2").cast("double") * col("a2").cast("double")) - 3).as("kurt_qty"))
        .orderBy("l_returnflag")
    },

    sql(
      "a13_gini",
      "Gini coefficient of customer revenue per region — the inequality/concentration audit beside a12's shape moments and q109's ABC classes (corpus curation reads the same statistic over per-source token mass to detect domain dominance; BI reads it over revenue): per region, customers rank by exact-cent revenue (custkey tie-break — a total order, so the rank-weighted sum is engine-independent even under revenue ties), and Gini = (2*Σ(i*x_i) - (n+1)*Σx) / (n*Σx) over the ascending ranks assembles from three exact integer sums. The rank-weighted sum Σ(i*x) is accumulated in HUGEINT/DECIMAL(38,0) (at 100 TB rank*cents passes 1e19 per ROW, so the p04 widening applies to the summand, not just the combination), the numerator/denominator combine exactly, and one flooring division lands gini_ppm (numerator provably >= 0 for ascending ranks, so Spark trunc == DuckDB floor). Scale posture: one customer-keyed revenue rollup, one region-partitioned rank window (region-parallel), one region rollup — the q103/q109 partitioned-window discipline, no global sort",
      """WITH cents AS (SELECT o_custkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders),
        |rev AS (SELECT n.n_regionkey AS region, cu.c_custkey, CAST(sum(ct.c) AS BIGINT) AS cents
        |        FROM cents ct JOIN customer cu ON cu.c_custkey = ct.o_custkey
        |        JOIN nation n ON n.n_nationkey = cu.c_nationkey
        |        GROUP BY 1, 2),
        |rk AS (SELECT region, cents,
        |              CAST(row_number() OVER (PARTITION BY region ORDER BY cents, c_custkey) AS BIGINT) AS i
        |       FROM rev),
        |agg AS (SELECT region, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS HUGEINT) AS s,
        |               CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS si
        |        FROM rk GROUP BY region)
        |SELECT CAST(region AS BIGINT) AS region, n, CAST(s AS BIGINT) AS total_cents,
        |       CAST((2 * si - (n + 1) * s) * 1000000 // (CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_ppm
        |FROM agg ORDER BY region""") { (s, dir) =>
      val cents = Tables.orders(s, dir)
        .select(col("o_custkey"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("c"))
      val rev = cents
        .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_regionkey").as("region"), col("c_custkey"))
        .agg(sum("c").cast("long").as("cents"))
      val w = Window.partitionBy("region").orderBy(col("cents"), col("c_custkey"))
      rev
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy("region")
        .agg(count(lit(1)).cast("long").as("n"),
          sum("cents").cast("decimal(38,0)").as("s"),
          sum(col("i").cast("decimal(38,0)") * col("cents")).as("si"))
        .select(col("region").cast("long").as("region"), col("n"),
          col("s").cast("long").as("total_cents"),
          expr("(2 * si - (n + 1) * s) * 1000000 div (cast(n AS DECIMAL(38,0)) * s)")
            .cast("long").as("gini_ppm"))
        .orderBy("region")
    },

    sql(
      "a14_category_entropy",
      "categorical-column Shannon entropy profile — the distribution-health metric beside q86's null/distinct profiling (drift monitors and feature stores track per-column entropy: a collapsing entropy means a category is flooding, the q102/q110 drift signals' cheaper always-on cousin): for four categorical columns across two tables, N, distinct count, and H = ln N − (Σ c·ln c)/N in nats — each ln integerized ONCE on the 1e6 grid (the t22/t26 ln-ULP-parity basis), the Σ c·ln(c) accumulated as an order-independent exact BIGINT, and the final H one double division of that exact numerator, r6-rounded. Overflow note: N·ln_grid(N) ≈ 8e12 at sf0.1 — exact in BIGINT and in the double cast (< 2^53); at 100 TB row counts (~1e12·14e6 ≈ 1.4e19) the numerator widens through DECIMAL(38,0)/HUGEINT before the one division, the p04 posture. Scale posture: per column one map-side-combinable value count (category-cardinality rows) and a scalar rollup; the four legs union into an 8 B×4 result",
      """WITH ent AS (
        |  SELECT column_name, CAST(sum(c) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_distinct,
        |         CAST(sum(c * CAST(floor(ln(c * 1.0) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS es
        |  FROM (
        |    SELECT 'l_linestatus' AS column_name, l_linestatus AS v, CAST(count(*) AS BIGINT) AS c
        |    FROM lineitem GROUP BY 2
        |    UNION ALL
        |    SELECT 'l_returnflag', l_returnflag, CAST(count(*) AS BIGINT) FROM lineitem GROUP BY 2
        |    UNION ALL
        |    SELECT 'o_orderpriority', o_orderpriority, CAST(count(*) AS BIGINT) FROM orders GROUP BY 2
        |    UNION ALL
        |    SELECT 'o_orderstatus', o_orderstatus, CAST(count(*) AS BIGINT) FROM orders GROUP BY 2)
        |  GROUP BY column_name)
        |SELECT column_name, n_rows, n_distinct,
        |       floor((CAST(n_rows * CAST(floor(ln(n_rows * 1.0) * 1000000 + 0.5) AS BIGINT) - es AS DOUBLE)
        |              / (CAST(n_rows AS DOUBLE) * 1000000)) * 1000000 + 0.5) / 1000000 AS entropy_nats
        |FROM ent ORDER BY column_name""") { (s, dir) =>
      def leg(df: org.apache.spark.sql.DataFrame, c: String) =
        df.groupBy(col(c).as("v")).agg(count(lit(1)).cast("long").as("c"))
          .select(lit(c).as("column_name"), col("v"), col("c"))
      val counts = leg(Tables.lineitem(s, dir), "l_linestatus")
        .unionAll(leg(Tables.lineitem(s, dir), "l_returnflag"))
        .unionAll(leg(Tables.orders(s, dir), "o_orderpriority"))
        .unionAll(leg(Tables.orders(s, dir), "o_orderstatus"))
      counts
        .groupBy("column_name")
        .agg(sum("c").cast("long").as("n_rows"),
          count(lit(1)).cast("long").as("n_distinct"),
          sum(col("c") * floor(log(col("c") * lit(1.0)) * 1000000 + lit(0.5)).cast("long"))
            .cast("long").as("es"))
        .select(col("column_name"), col("n_rows"), col("n_distinct"),
          r6((col("n_rows") * floor(log(col("n_rows") * lit(1.0)) * 1000000 + lit(0.5)).cast("long")
            - col("es")).cast("double")
            / (col("n_rows").cast("double") * 1000000)).as("entropy_nats"))
        .orderBy("column_name")
    },

    sql(
      "a15_ks_two_sample",
      "two-sample Kolmogorov-Smirnov distribution test, EXACT (the nonparametric drift test beside q110's binned PSI and q87's categorical chi-square — KS needs no bin choice and catches shape drift PSI's fixed grid can smear): D = max over the merged value domain of |F1(v) − F2(v)| between returned (R) and delivered (N) lineitem quantity distributions, computed with ZERO floats — the ECDF gap |c1(v)·n2 − c2(v)·n1| is an exact cross-multiplication (the q87/t30 trick) widened through DECIMAL(38,0)/HUGEINT (c·n brushes 1e22 at corpus scale), the argmax value tie-broken to the smallest, and ks_ppm = max_gap·1e6 div (n1·n2) one flooring division at the very end. The cumulative counts come from an inequality self-join on the PRE-AGGREGATED value grid (the q113 window-free spine — the quantity domain is dimension-sized, 50 values, so the O(V²) join is a constant-cost plan and keeps the global-window whitelist untouched). Scale posture: one value-keyed count over the corpus (map-side combinable), then pure dimension-sized arithmetic — at 100 TB the corpus pass is scan-bound and everything after is free",
      """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |                  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |                  CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |           FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM v),
        |cum AS (SELECT a.q, CAST(sum(b.c1) AS BIGINT) AS f1, CAST(sum(b.c2) AS BIGINT) AS f2
        |        FROM v a JOIN v b ON b.q <= a.q GROUP BY a.q),
        |gap AS (SELECT q, abs(CAST(f1 AS HUGEINT) * n.n2 - CAST(f2 AS HUGEINT) * n.n1) AS g
        |        FROM cum CROSS JOIN n),
        |mx AS (SELECT max(g) AS gm FROM gap)
        |SELECT n.n1, n.n2, min(gap.q) AS at_value,
        |       CAST(mx.gm * 1000000 // (CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT) AS ks_ppm
        |FROM gap CROSS JOIN n CROSS JOIN mx
        |WHERE gap.g = mx.gm
        |GROUP BY n.n1, n.n2, mx.gm""") { (s, dir) =>
      val v = Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("R", "N"))
        .groupBy(col("l_quantity").cast("long").as("q"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).cast("long").as("c1"),
          sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).cast("long").as("c2"))
      val n = v.agg(sum("c1").cast("long").as("n1"), sum("c2").cast("long").as("n2"))
      val cum = v.as("a")
        .join(v.as("b"), col("b.q") <= col("a.q"))
        .groupBy(col("a.q").as("q"))
        .agg(sum("b.c1").cast("long").as("f1"), sum("b.c2").cast("long").as("f2"))
      val gap = cum.crossJoin(broadcast(n))
        .select(col("q"), col("n1"), col("n2"),
          abs(expr("cast(f1 as decimal(38,0)) * n2 - cast(f2 as decimal(38,0)) * n1")).as("g"))
      val mx = gap.agg(max("g").as("gm"))
      gap.crossJoin(broadcast(mx))
        .filter(col("g") === col("gm"))
        .groupBy("n1", "n2", "gm")
        .agg(min("q").as("at_value"))
        .select(col("n1"), col("n2"), col("at_value"),
          expr("(gm * 1000000) div (cast(n1 as decimal(38,0)) * n2)").cast("long").as("ks_ppm"))
    },

    sql(
      "a16_benford_audit",
      "Benford first-digit audit of order totals (the forensic data-quality screen auditors and fraud teams run on any money column: naturally-grown multiplicative amounts follow P(d) = log10(1+1/d), while fabricated, capped, or uniform-generated amounts do not — THIS corpus's generator visibly fails it, observed d=1 at ~222k ppm vs Benford's 301k, which is exactly the synthetic-data signal the audit exists to raise): leading digit extracted via the cents-grid integer's DECIMAL STRING head (substring of CAST(cents AS VARCHAR) — exact in both engines over all magnitudes, where a log10/pow extraction would risk a 1-ULP boundary flip at exact powers of ten), per digit the count, flooring-ppm observed share, the Benford expectation as nine LITERAL ppm constants (mathematical constants summing to exactly 1e6 — no runtime log10, nothing to diverge), and the signed delta. Zero-filled 9-digit grid (the q111 discipline); sub-cent totals (cents = 0, possible on general data though not TPC-H) are excluded from the audit universe BEFORE the denominator, so a '0' head can never deflate the 1-9 shares (r14 advice). Scale posture: one map-side digit projection + a 9-key count against a broadcast total and a 9-row literal join — dimension-sized everything after the scan",
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
        |           WHERE o_totalprice > 0),
        |d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM c
        |      WHERE cents >= 1),
        |n AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM n),
        |exp AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |                              (6, 66947), (7, 57992), (8, 51153), (9, 45757)) AS e(digit, expected_ppm))
        |SELECT CAST(e.digit AS BIGINT) AS digit, CAST(coalesce(n.n, 0) AS BIGINT) AS n,
        |       CAST(coalesce(n.n, 0) * 1000000 // t.t AS BIGINT) AS observed_ppm,
        |       CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |       CAST(coalesce(n.n, 0) * 1000000 // t.t - e.expected_ppm AS BIGINT) AS delta_ppm
        |FROM exp e LEFT JOIN n ON n.digit = e.digit CROSS JOIN tot t
        |ORDER BY digit""") { (s, dir) =>
      import s.implicits._
      val benford = Seq((1L, 301030L), (2L, 176091L), (3L, 124939L), (4L, 96910L),
        (5L, 79181L), (6L, 66947L), (7L, 57992L), (8L, 51153L), (9L, 45757L))
        .toDF("digit", "expected_ppm")
      val n = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 0)
        .select(substring(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        // cents = 0 (0 < total < 0.005) would put its '0' head in the
        // denominator while the 1-9 grid excludes it, deflating every
        // observed_ppm (r14 advice); a sub-cent total has no Benford
        // leading digit, so it leaves the audit universe entirely
        .filter(col("digit") >= 1)
        .groupBy("digit").agg(count(lit(1)).cast("long").as("n"))
      val tot = n.agg(sum("n").cast("long").as("t"))
      benford.join(n, Seq("digit"), "left").na.fill(0L, Seq("n"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("(n * 1000000) div t").as("observed_ppm"),
          col("expected_ppm"),
          expr("(n * 1000000) div t - expected_ppm").as("delta_ppm"))
        .orderBy("digit")
    },

    sql(
      "a17_mannwhitney_auc",
      "Mann-Whitney rank-sum effect size, EXACT (the companion inference to a15's KS on the same two samples: KS answers 'do the distributions differ anywhere', this answers 'by HOW MUCH does one stochastically dominate' — U/(n1·n2) is the common-language effect size, identically the AUC of the one-feature classifier, the number an A/B readout or feature screen actually reports): doubled to kill the tie half-credit float (U2 = 2·#{x<y} + #{x=y}, all pair counts from the PRE-AGGREGATED value grid — Σ c1(v1)·c2(v2) over v1<v2 via the a15 inequality join plus a tie term, each product HUGEINT/DECIMAL(38,0)-widened because c·c brushes 1e22 at corpus scale), then auc_ppm = U2·1e6 div (2·n1·n2) and ties_ppm = #{x=y}·1e6 div (n1·n2) — only BOUNDED integers leave the query (U2 itself would overflow BIGINT at the advertised scale, so it stays an internal wide intermediate; the ppm outputs are ≤ 1e6 by construction). Scale posture: identical to a15 — one value-keyed corpus count, then dimension-sized (50-value grid) joins; zero windows",
      """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |                  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |                  CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |           FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM v),
        |lt AS (SELECT CAST(coalesce(sum(CAST(a.c1 AS HUGEINT) * b.c2), 0) AS HUGEINT) AS s_lt
        |       FROM v a JOIN v b ON a.q < b.q),
        |eq AS (SELECT CAST(coalesce(sum(CAST(c1 AS HUGEINT) * c2), 0) AS HUGEINT) AS s_eq FROM v)
        |SELECT n.n1, n.n2,
        |       CAST((2 * lt.s_lt + eq.s_eq) * 1000000 // (CAST(2 AS HUGEINT) * n.n1 * n.n2) AS BIGINT) AS auc_ppm,
        |       CAST(eq.s_eq * 1000000 // (CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT) AS ties_ppm
        |FROM n CROSS JOIN lt CROSS JOIN eq""") { (s, dir) =>
      val v = Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("R", "N"))
        .groupBy(col("l_quantity").cast("long").as("q"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).cast("long").as("c1"),
          sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).cast("long").as("c2"))
      val n = v.agg(sum("c1").cast("long").as("n1"), sum("c2").cast("long").as("n2"))
      val lt = v.as("a").join(v.as("b"), col("a.q") < col("b.q"))
        .agg(coalesce(sum(expr("cast(a.c1 as decimal(38,0)) * b.c2")),
          lit(0).cast("decimal(38,0)")).as("s_lt"))
      val eq = v.agg(coalesce(sum(expr("cast(c1 as decimal(38,0)) * c2")),
        lit(0).cast("decimal(38,0)")).as("s_eq"))
      n.crossJoin(broadcast(lt)).crossJoin(broadcast(eq))
        .select(col("n1"), col("n2"),
          expr("((2 * s_lt + s_eq) * 1000000) div (cast(2 as decimal(38,0)) * n1 * n2)")
            .cast("long").as("auc_ppm"),
          expr("(s_eq * 1000000) div (cast(n1 as decimal(38,0)) * n2)")
            .cast("long").as("ties_ppm"))
    },

    sql(
      "a18_randomization_test",
      "Monte-Carlo randomization test for the treatment effect, EXACT and retry-stable (the inference companion a15/a17 lack: KS says the distributions differ, AUC says by how much — this says whether the OBSERVED mean gap could be chance, the p-value an experimentation readout ships): treatment = urgent/high order priority, metric = o_totalprice on the cents grid, statistic = the cross-multiplied mean gap |s1*c2 - s2*c1| (exact, no float means). 100 replicates re-assign every order by Bernoulli(p = observed treated share) using the splitmix priority of (o_orderkey*128 + rep) — hash-randomization, so retries and partition layout replay the identical null draw and DuckDB replays it in HUGEINT (the p03/p05 discipline; Bernoulli re-assignment rather than a fixed-margin permutation is the randomization-design variant — group sizes vary binomially as part of the null, the classical conditioned-margins test would need a per-replicate global rank). Replicate extremeness compares FLOORED mean gaps on the 1e-4-cent grid (gap*10000 div (c1*c2), both sides — keeps every product inside DECIMAL(38,0)/HUGEINT at 1e9-order scale where the raw cross-product comparison gap*c*c would brush 1e42; equal-floor ties count extreme, the conservative direction), an empty replicate arm (possible only on degenerate corpora) is defined extreme rather than dividing by zero (the p19 advisory class — guarded identically in both dialects), the OBSERVED arm carries the same guard (c1 = 0 OR c2 = 0 pins gap to 0, so every replicate ties and p reports 1e6 — a one-armed corpus has no testable effect, and neither dialect divides by zero), and p_value_ppm = (1 + n_extreme)*1e6 div 101, the add-one Monte-Carlo estimator that can never report zero. Scale posture: one scan exploded x100 map-side with partial aggregation keyed by rep — the shuffle carries 100 rows per partition, no window, no join beyond two broadcast 1-row scalars; R is a constant, so the 100 TB cost is one fact pass with a constant map amplification",
      s"""WITH o AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS t
        |           FROM orders),
        |obs AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS c1,
        |               CAST(count(*) - sum(t) AS BIGINT) AS c2,
        |               CAST(coalesce(sum(CASE WHEN t = 1 THEN cents END), 0) AS HUGEINT) AS s1,
        |               CAST(coalesce(sum(CASE WHEN t = 0 THEN cents END), 0) AS HUGEINT) AS s2
        |        FROM o),
        |og AS (SELECT n, c1, c2,
        |              CASE WHEN c1 = 0 OR c2 = 0 THEN 0
        |                   ELSE CAST(abs(s1 * c2 - s2 * c1) * 10000 // (CAST(c1 AS HUGEINT) * c2) AS BIGINT) END AS obs_gap_x10k,
        |              CAST(c1 AS HUGEINT) * 1000000 // n AS p_ppm
        |       FROM obs),
        |src AS (SELECT o.o_orderkey * 128 + r.rep AS k, r.rep, o.cents
        |        FROM o CROSS JOIN (SELECT unnest(generate_series(1, 100)) AS rep) r),
        |${graft.functions.HashFunctions.priorityHashCtes("src", "k", 27L, "rep, cents")},
        |rep AS (SELECT ph4.rep,
        |               CAST(sum(CASE WHEN pri % 1000000 < og.p_ppm THEN 1 ELSE 0 END) AS BIGINT) AS rc1,
        |               CAST(sum(CASE WHEN pri % 1000000 < og.p_ppm THEN 0 ELSE 1 END) AS BIGINT) AS rc2,
        |               CAST(coalesce(sum(CASE WHEN pri % 1000000 < og.p_ppm THEN cents END), 0) AS HUGEINT) AS rs1,
        |               CAST(coalesce(sum(CASE WHEN pri % 1000000 >= og.p_ppm THEN cents END), 0) AS HUGEINT) AS rs2
        |        FROM ph4 CROSS JOIN og GROUP BY ph4.rep),
        |gaps AS (SELECT rep, CASE WHEN rc1 = 0 OR rc2 = 0 THEN og.obs_gap_x10k
        |                          ELSE CAST(abs(rs1 * rc2 - rs2 * rc1) * 10000
        |                                    // (CAST(rc1 AS HUGEINT) * rc2) AS BIGINT) END AS gap_x10k
        |         FROM rep CROSS JOIN og)
        |SELECT og.n, og.c1, og.c2, og.obs_gap_x10k,
        |       CAST(sum(CASE WHEN gaps.gap_x10k >= og.obs_gap_x10k THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
        |       CAST((1 + sum(CASE WHEN gaps.gap_x10k >= og.obs_gap_x10k THEN 1 ELSE 0 END)) * 1000000 // 101 AS BIGINT) AS p_value_ppm
        |FROM gaps CROSS JOIN og
        |GROUP BY og.n, og.c1, og.c2, og.obs_gap_x10k""") { (s, dir) =>
      import graft.functions.HashFunctions
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L).as("t"))
      val og = o.agg(count(lit(1)).cast("long").as("n"),
          sum("t").cast("long").as("c1"),
          (count(lit(1)) - sum("t")).cast("long").as("c2"),
          coalesce(sum(when(col("t") === 1, col("cents"))), lit(0L))
            .cast("decimal(38,0)").as("s1"),
          coalesce(sum(when(col("t") === 0, col("cents"))), lit(0L))
            .cast("decimal(38,0)").as("s2"))
        .select(col("n"), col("c1"), col("c2"),
          // an all-treated / all-untreated corpus has no gap to test: gap 0
          // (=> every replicate extreme, p 1e6) identically in both dialects
          // — DuckDB // raises on /0 while Spark div yields NULL, the same
          // divergence class the replicate arms already guard
          when(col("c1") === 0 || col("c2") === 0, lit(0L))
            .otherwise(
              expr("(abs(s1 * c2 - s2 * c1) * 10000) div (cast(c1 as decimal(38,0)) * c2)")
                .cast("long")).as("obs_gap_x10k"),
          expr("(cast(c1 as decimal(38,0)) * 1000000) div n").cast("long").as("p_ppm"))
      val rep = o.select(col("o_orderkey"), col("cents"),
          explode(expr("sequence(1L, 100L)")).as("rep"))
        .withColumn("pri",
          HashFunctions.priorityHash(col("o_orderkey") * 128 + col("rep"), 27L))
        .crossJoin(broadcast(og))
        .withColumn("g1", (col("pri") % 1000000) < col("p_ppm"))
        .groupBy("rep")
        .agg(sum(when(col("g1"), 1L).otherwise(0L)).cast("long").as("rc1"),
          sum(when(col("g1"), 0L).otherwise(1L)).cast("long").as("rc2"),
          coalesce(sum(when(col("g1"), col("cents"))), lit(0L))
            .cast("decimal(38,0)").as("rs1"),
          coalesce(sum(when(!col("g1"), col("cents"))), lit(0L))
            .cast("decimal(38,0)").as("rs2"))
      rep.crossJoin(broadcast(og))
        .withColumn("gap_x10k",
          when(col("rc1") === 0 || col("rc2") === 0, col("obs_gap_x10k"))
            .otherwise(expr("(abs(rs1 * rc2 - rs2 * rc1) * 10000) div (cast(rc1 as decimal(38,0)) * rc2)")
              .cast("long")))
        .groupBy("n", "c1", "c2", "obs_gap_x10k")
        .agg(sum(when(col("gap_x10k") >= col("obs_gap_x10k"), 1L).otherwise(0L))
          .cast("long").as("n_extreme"))
        .select(col("n"), col("c1"), col("c2"), col("obs_gap_x10k"), col("n_extreme"),
          expr("((1 + n_extreme) * 1000000) div 101").as("p_value_ppm"))
    },

    sql(
      "a19_poisson_bootstrap",
      "Poisson-bootstrap confidence interval for the mean, EXACT and retry-stable (a18 tests a hypothesis; this puts the ERROR BAR on the estimate — and the Poisson bootstrap is THE distributed form: classical resampling draws n times WITH replacement, which needs global coordination, while Poisson(1) per-row copy counts approximate the same multinomial with zero coordination — each row decides its own replicate weights, the trick every large-scale A/B platform runs): 100 replicates, row r's copy count in replicate b = the count of LITERAL cumulative-Poisson(1) ppm thresholds [367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989] at or below the splitmix priority of (key*128 + b) mod 1e6 — capped at 8 copies (P(k>8) ~ 1.1e-6, documented truncation like the grid's <= 1 ppm quantization; mathematical constants, no runtime exp(), nothing to diverge). Replicate means on the 1e-2-cent grid (sum*10000 div count, DECIMAL(38,0)/HUGEINT-widened — an 8x-weighted cents sum times 1e4 brushes 1e21 at 1e9-order scale), an empty replicate (degenerate corpora only) pinned to the observed mean identically in both dialects, and the LONG hot-path sum carries a [0, 8*total] DECIMAL trip-wire on the 100-row replicate table — exact sums live inside that envelope by construction, so a 2^63 wrap (possible only beyond the ~4x expected-sum headroom at 1.5e11 orders) raises loudly instead of hash-mismatching the exact oracle; the 95% percentile CI reads ranks 3 and 98 of the (mean, rep) total order — ranks from a 100x100 inequality SELF-JOIN on the replicate table, NOT a global window (the a15 spine: the one partition-less-window shape that cannot scale stays out of the plan; 100 rows make the join constant-cost). Scale posture: one scan exploded x100 with map-side partial aggregation keyed by rep (the a18 shape — 100-row shuffle), then constant-size arithmetic; B is a constant so 100 TB cost is one fact pass with constant amplification",
      s"""WITH o AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(CAST(sum(cents) AS HUGEINT) * 10000 // count(*) AS BIGINT) AS obs_mean_x100
        |        FROM o),
        |src AS (SELECT o.o_orderkey * 128 + r.rep AS k, r.rep, o.cents
        |        FROM o CROSS JOIN (SELECT unnest(generate_series(1, 100)) AS rep) r),
        |${graft.functions.HashFunctions.priorityHashCtes("src", "k", 31L, "rep, cents")},
        |draw AS (SELECT rep, cents,
        |                (CASE WHEN pri % 1000000 >= 367879 THEN 1 ELSE 0 END) +
        |                (CASE WHEN pri % 1000000 >= 735758 THEN 1 ELSE 0 END) +
        |                (CASE WHEN pri % 1000000 >= 919698 THEN 1 ELSE 0 END) +
        |                (CASE WHEN pri % 1000000 >= 981011 THEN 1 ELSE 0 END) +
        |                (CASE WHEN pri % 1000000 >= 996340 THEN 1 ELSE 0 END) +
        |                (CASE WHEN pri % 1000000 >= 999405 THEN 1 ELSE 0 END) +
        |                (CASE WHEN pri % 1000000 >= 999916 THEN 1 ELSE 0 END) +
        |                (CASE WHEN pri % 1000000 >= 999989 THEN 1 ELSE 0 END) AS cnt
        |         FROM ph4),
        |reps AS (SELECT rep, CAST(sum(cnt) AS BIGINT) AS c,
        |                CAST(coalesce(sum(CAST(cnt AS HUGEINT) * cents), 0) AS HUGEINT) AS s
        |         FROM draw GROUP BY rep),
        |means AS (SELECT rep, CASE WHEN c = 0 THEN obs.obs_mean_x100
        |                           ELSE CAST(s * 10000 // c AS BIGINT) END AS m
        |          FROM reps CROSS JOIN obs),
        |rk AS (SELECT a.rep, a.m, CAST(count(*) AS BIGINT) AS rnk
        |       FROM means a JOIN means b
        |         ON b.m < a.m OR (b.m = a.m AND b.rep <= a.rep)
        |       GROUP BY a.rep, a.m),
        |ci AS (SELECT max(CASE WHEN rnk = 3 THEN m END) AS lo_mean_x100,
        |              max(CASE WHEN rnk = 98 THEN m END) AS hi_mean_x100
        |       FROM rk)
        |SELECT obs.n, obs.obs_mean_x100, ci.lo_mean_x100, ci.hi_mean_x100,
        |       ci.hi_mean_x100 - ci.lo_mean_x100 AS ci_width_x100,
        |       CAST(CASE WHEN obs.obs_mean_x100 BETWEEN ci.lo_mean_x100 AND ci.hi_mean_x100
        |                 THEN 1 ELSE 0 END AS BIGINT) AS covered
        |FROM obs CROSS JOIN ci""") { (s, dir) =>
      import graft.functions.HashFunctions
      val thresholds = Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L,
        999916L, 999989L)
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val obs = o.agg(count(lit(1)).cast("long").as("n"),
          sum("cents").cast("decimal(38,0)").as("sc"))
        .select(col("n"), col("sc"),
          expr("(sc * 10000) div n").cast("long").as("obs_mean_x100"))
      val reps = o.select(col("o_orderkey"), col("cents"),
          explode(expr("sequence(1L, 100L)")).as("rep"))
        .withColumn("u",
          HashFunctions.priorityHash(col("o_orderkey") * 128 + col("rep"), 31L) % 1000000)
        .withColumn("cnt",
          thresholds.map(t => when(col("u") >= t, 1L).otherwise(0L)).reduce(_ + _))
        .groupBy("rep")
        // the weighted sum stays LONG in the hot path. Bound at the
        // ADVERTISED 100 TB scale (~1.5e11 orders): E[cnt] = 1, so the
        // expected replicate sum is ~1.5e7 cents x 1.5e11 ~ 2.3e18 — ~4x
        // headroom under 2^63 ~ 9.2e18 (the worst case 8x that CAN wrap,
        // at probability ~8^-n); the [0, 8*total] trip-wire in `means`
        // below turns any silent wrap into a loud raise_error instead of
        // a quiet oracle hash-mismatch — and once 8*total itself exceeds
        // LONG range (where a wrapped sum could land back inside the
        // envelope) `means` refuses the whole regime loudly rather than
        // certify it (r16 ADVICE #1).
        // Only the x10000 mean step below needs the DECIMAL widening.
        // A per-row DECIMAL multiply here measured 4.3 s cpu at sf0.1 vs
        // ~0.6 s for the identical-shape a18 — codegen'd long arithmetic
        // is the difference
        .agg(sum("cnt").cast("long").as("c"),
          coalesce(sum(col("cnt") * col("cents")), lit(0L))
            .cast("decimal(38,0)").as("s"))
      // the wrap trip-wire the LONG hot path owes the exact oracle: every
      // exact replicate sum lies in [0, 8*total] by construction (cnt <= 8),
      // so a sum outside that envelope IS a silent 2^63 wrap — raise LOUDLY
      // on the 100-row table (constant cost, DECIMAL compare, folded into a
      // used column so pruning cannot drop it) instead of hash-mismatching.
      // COMPLETENESS boundary (r16 ADVICE #1): while 8*total <= 2^63-1 no
      // LONG wrap is even possible, so the envelope check is vacuously
      // complete; once 8*total exceeds LONG range a true sum in
      // [2^64, 8*total] wraps back INSIDE the envelope and would pass
      // silently — so the guard below refuses that regime outright (same
      // loud raise_error, same used column), turning the blind spot into a
      // hard contract: below the boundary exact-or-loud, at the boundary
      // loud, never silent. The fix at that scale is widening the hot-path
      // sum to DECIMAL, which the inner comment prices (~7x cpu).
      val means = reps.crossJoin(broadcast(obs))
        .select(col("rep"),
          when(expr("sc * 8 > 9223372036854775807"),
            expr("raise_error('a19: 8*total exceeds LONG range — the wrap " +
              "trip-wire cannot certify the hot-path sum; widen it to DECIMAL')").cast("long"))
            .when(col("s") < 0 || col("s") > expr("sc * 8"),
              expr("raise_error('a19: replicate sum outside [0, 8*total] — " +
                "LONG hot-path sum wrapped; widen to DECIMAL')").cast("long"))
            .otherwise(when(col("c") === 0, col("obs_mean_x100"))
              .otherwise(expr("(s * 10000) div c").cast("long"))).as("m"))
      val rk = means.as("a")
        .join(means.as("b"),
          col("b.m") < col("a.m") || (col("b.m") === col("a.m") && col("b.rep") <= col("a.rep")))
        .groupBy(col("a.rep").as("rep"), col("a.m").as("m"))
        .agg(count(lit(1)).cast("long").as("rnk"))
      val ci = rk.agg(
        max(when(col("rnk") === 3, col("m"))).as("lo_mean_x100"),
        max(when(col("rnk") === 98, col("m"))).as("hi_mean_x100"))
      obs.crossJoin(broadcast(ci))
        .select(col("n"), col("obs_mean_x100"), col("lo_mean_x100"), col("hi_mean_x100"),
          (col("hi_mean_x100") - col("lo_mean_x100")).as("ci_width_x100"),
          when(col("obs_mean_x100").between(col("lo_mean_x100"), col("hi_mean_x100")), 1L)
            .otherwise(0L).as("covered"))
    },

    sql(
      "a20_cusum_alarm",
      "CUSUM sequential change-point detector (Page 1954 — the control chart that catches a SUSTAINED SMALL mean shift the per-point tests structurally miss: q85's 2-sigma flags single spikes, a15/q110 compare two closed windows, but a 5% drift spread over weeks never trips either, while its cumulative excess grows linearly and CUSUM integrates exactly that): upper one-sided S_n = max(0, S_{n-1} + x_n - (target + allowance)) over the DAY-grain order-revenue series, with the inherently sequential recursion made declarative by the SAME min-plus unrolling st16's streaming matcher machine-checks — S_n = max(0, max over prior days j (cum_n - cum_j - (idx_n - idx_j)*(target+allowance))), including the virtual origin (idx 0, cum 0) so day 1 scores against an empty prefix. Self-calibrated integer parameters (target = mean daily cents, allowance = target div 20, threshold h = target div 2 — derived broadcast scalars, no tuning floats); day index and cumulative revenue come from the q113 inequality-join day spine, NOT a global window (the partition-less WindowExec stays whitelisted out of data paths; the |days|^2 pair join is calendar-bounded 16 B metadata). Output: series length, the three parameters, max CUSUM, first alarm day (epoch-day; -1 = never — epoch day 0 is a legitimate date, 1970-01-01, so silence gets a sentinel no real alarm can collide with), alarm-day count; everything exact cents. Scale posture: one day-keyed corpus rollup (map-side combinable) is the only data-sized pass; all CUSUM arithmetic lives on the |days|-row frame",
      """WITH d0 AS (SELECT CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderdate IS NOT NULL),
        |daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS x FROM d0 GROUP BY day),
        |parms AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |                 CAST(sum(x) // count(*) AS BIGINT) AS target,
        |                 CAST(sum(x) // count(*) + (sum(x) // count(*)) // 20 AS BIGINT) AS tk,
        |                 CAST((sum(x) // count(*)) // 2 AS BIGINT) AS h
        |          FROM daily),
        |cum AS (SELECT a.day, CAST(count(*) AS BIGINT) AS idx, CAST(sum(b.x) AS BIGINT) AS cum
        |        FROM daily a JOIN daily b ON b.day <= a.day GROUP BY a.day),
        |cum0 AS (SELECT day, idx, cum FROM cum
        |         UNION ALL SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |s AS (SELECT n.day,
        |             greatest(CAST(0 AS BIGINT),
        |                      CAST(max(CAST(n.cum AS HUGEINT) - j.cum - (n.idx - j.idx) * p.tk) AS BIGINT)) AS s_n
        |      FROM cum n JOIN cum0 j ON j.idx < n.idx CROSS JOIN parms p
        |      GROUP BY n.day)
        |SELECT p.nd AS n_days, p.target AS target_cents, p.tk - p.target AS allowance_cents,
        |       p.h AS threshold_cents,
        |       CAST(max(s.s_n) AS BIGINT) AS max_cusum_cents,
        |       CAST(coalesce(min(CASE WHEN s.s_n > p.h THEN s.day END), -1) AS BIGINT) AS first_alarm_day,
        |       CAST(sum(CASE WHEN s.s_n > p.h THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days
        |FROM s CROSS JOIN parms p
        |GROUP BY p.nd, p.target, p.tk, p.h""") { (s, dir) =>
      import s.implicits._
      val daily = Tables.orders(s, dir)
        .filter(col("o_orderdate").isNotNull)
        .select(expr("unix_micros(cast(o_orderdate AS timestamp)) div 86400000000").as("day"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy("day").agg(sum("cents").cast("long").as("x"))
      val parms = daily
        .agg(count(lit(1)).cast("long").as("nd"), sum("x").cast("long").as("tot"))
        .select(col("nd"), expr("tot div nd").as("target"),
          expr("tot div nd + (tot div nd) div 20").as("tk"),
          expr("(tot div nd) div 2").as("h"))
      val cum = daily.as("a").join(daily.as("b"), col("b.day") <= col("a.day"))
        .groupBy(col("a.day").as("day"))
        .agg(count(lit(1)).cast("long").as("idx"), sum(col("b.x")).cast("long").as("cum"))
      val cum0 = cum.unionAll(Seq((-1L, 0L, 0L)).toDF("day", "idx", "cum"))
      val sN = cum.as("n").join(cum0.as("j"), col("j.idx") < col("n.idx"))
        .crossJoin(broadcast(parms))
        .groupBy(col("n.day").as("day"))
        .agg(max(expr("cast(n.cum as decimal(38,0)) - j.cum - (n.idx - j.idx) * tk"))
          .cast("long").as("mx"))
        .select(col("day"), greatest(lit(0L), col("mx")).as("s_n"))
      sN.crossJoin(broadcast(parms))
        .groupBy("nd", "target", "tk", "h")
        .agg(max("s_n").cast("long").as("max_cusum_cents"),
          // -1 = never alarmed: epoch day 0 is 1970-01-01, a real date
          coalesce(min(when(col("s_n") > col("h"), col("day"))), lit(-1L))
            .cast("long").as("first_alarm_day"),
          sum(when(col("s_n") > col("h"), 1L).otherwise(0L)).cast("long").as("n_alarm_days"))
        .select(col("nd").as("n_days"), col("target").as("target_cents"),
          (col("tk") - col("target")).as("allowance_cents"), col("h").as("threshold_cents"),
          col("max_cusum_cents"), col("first_alarm_day"), col("n_alarm_days"))
    },

    sql(
      "a21_mann_kendall",
      "Mann-Kendall trend test (Mann 1945 / Kendall's tau numerator — the monitoring family's TREND member, completing the triptych: a20 catches a level SHIFT, a15/q110 compare closed windows, q101 fits a PARAMETRIC slope that one outlier quarter drags, while MK asks the distribution-free question 'is the series monotonically drifting AT ALL' from nothing but pairwise orderings): over the day-grain order-revenue series, S = Sigma_{i<j} sign(x_j - x_i) counts concordant minus discordant day pairs, the tie-corrected variance numerator var18 = n(n-1)(2n+5) - Sigma_ties t(t-1)(2t+5) (= 18*Var(S), kept as the exact integer numerator), and the ~2-sigma verdict is EXACT WITHOUT SQRT by the q85/a15 squared-compare discipline: |z| > 2 iff 9*(|S|-1)^2 > 2*var18 (both sides exact integers widened through HUGEINT/DECIMAL(38,0) — S brushes n^2/2 and var18 brushes 2n^3, so the square needs the widening at 30-year histories). Output: day count, S, var18, trend sign, and the significance verdict; a flat series is the spec-pinned edge (S = 0 AND var18 = 0 when every day ties — the test correctly reports nothing rather than dividing by zero). Scale posture: one day-keyed corpus rollup is the only data-sized pass (a20's argument); the |days|^2 pair join is calendar-bounded 16 B metadata and the tie rollup is value-domain-sized",
      """WITH d0 AS (SELECT CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderdate IS NOT NULL),
        |daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS x FROM d0 GROUP BY day),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
        |s AS (SELECT CAST(coalesce(sum(CASE WHEN a.x > b.x THEN 1
        |                                    WHEN a.x < b.x THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
        |      FROM daily a JOIN daily b ON b.day < a.day),
        |ties AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tsum
        |         FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x) tg),
        |v AS (SELECT n.nd, n.nd * (n.nd - 1) * (2 * n.nd + 5) - ties.tsum AS var18
        |      FROM n CROSS JOIN ties)
        |SELECT v.nd AS n_days, s.s_stat, CAST(v.var18 AS BIGINT) AS var18,
        |       CAST(CASE WHEN s.s_stat > 0 THEN 1 WHEN s.s_stat < 0 THEN -1 ELSE 0 END AS BIGINT) AS trend,
        |       CAST(CASE WHEN s.s_stat = 0 THEN 0
        |                 WHEN 9 * (CAST(abs(s.s_stat) AS HUGEINT) - 1) * (abs(s.s_stat) - 1)
        |                      > 2 * CAST(v.var18 AS HUGEINT) THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM s CROSS JOIN v""") { (s, dir) =>
      val daily = Tables.orders(s, dir)
        .filter(col("o_orderdate").isNotNull)
        .select(expr("unix_micros(cast(o_orderdate AS timestamp)) div 86400000000").as("day"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy("day").agg(sum("cents").cast("long").as("x"))
      val n = daily.agg(count(lit(1)).cast("long").as("nd"))
      val sStat = daily.as("a").join(daily.as("b"), col("b.day") < col("a.day"))
        .agg(coalesce(sum(when(col("a.x") > col("b.x"), 1L)
          .when(col("a.x") < col("b.x"), -1L).otherwise(0L)), lit(0L))
          .cast("long").as("s_stat"))
      val ties = daily.groupBy("x").agg(count(lit(1)).cast("long").as("t"))
        .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).cast("long").as("tsum"))
      n.crossJoin(broadcast(ties)).crossJoin(broadcast(sStat))
        .select(col("nd").as("n_days"), col("s_stat"),
          expr("nd * (nd - 1) * (2 * nd + 5) - tsum").cast("long").as("var18"),
          when(col("s_stat") > 0, 1L).when(col("s_stat") < 0, -1L).otherwise(0L)
            .cast("long").as("trend"),
          when(col("s_stat") === 0, 0L)
            .otherwise(when(
              expr("9 * (cast(abs(s_stat) as decimal(38,0)) - 1) * (abs(s_stat) - 1)")
                > expr("2 * cast(nd * (nd - 1) * (2 * nd + 5) - tsum as decimal(38,0))"), 1L)
              .otherwise(0L))
            .cast("long").as("significant"))
    },

    sql(
      "a22_autocorrelation",
      "lag-1..7 autocorrelation profile of the day-grain revenue series (the MEMORY diagnostic completing the monitoring family — a20 asks 'did the level shift', a21 'is there a trend', q111 'is there a weekly index'; the ACF is what an analyst reads BEFORE trusting any of them, because autocorrelated residuals invalidate the iid assumptions every per-point test makes, and a lag-7 spike IS q111's seasonality read off the raw series): devs are the exact integer n*x_t - S (mean subtraction cross-multiplied through, the a13/a15 discipline — no fractional mean ever exists), lag pairs come from ONE equi-join on the gap-free row index (the q113 inequality-join spine; lag-k rides idx + k as a plain join key after a 7-way bounded explode, never 7 window passes), num_k = Sigma dev_t * dev_{t+k} and den = Sigma dev_t^2 are exact HUGEINT/DECIMAL(38,0) sums (dev^2 brushes 5e34 at 30-year 1000x-volume histories — inside DECIMAL(38,0) with ~3 decades headroom, documented), and acf is assembled as ONE sign-safe IEEE double division r4-rounded (the q100 rule: num straddles zero, so integer div's trunc-vs-floor divergence is structurally avoided), with den = 0 (flat series) and empty-lag rows pinned to exact 0.0 through the zero-filled 1..7 lag grid (the q83/q111 grid discipline). Scale posture: one day-keyed corpus rollup is the only data-sized pass; the spine join and the 7x explode live on the calendar-bounded day table",
      """WITH d0 AS (SELECT CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderdate IS NOT NULL),
        |daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS x FROM d0 GROUP BY day),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM daily),
        |ix AS (SELECT a.day, CAST(count(*) AS BIGINT) AS idx, max(a.x) AS x
        |       FROM daily a JOIN daily b ON b.day <= a.day GROUP BY a.day),
        |dv AS (SELECT idx, CAST(st.n AS HUGEINT) * x - st.s AS dev FROM ix CROSS JOIN st),
        |den AS (SELECT sum(dev * dev) AS den FROM dv),
        |pr AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |              sum(a.dev * b.dev) AS num
        |       FROM (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)) l
        |       JOIN dv a ON true JOIN dv b ON b.idx = a.idx + l.lag
        |       GROUP BY l.lag)
        |SELECT g.lag, CAST(coalesce(pr.n_pairs, 0) AS BIGINT) AS n_pairs,
        |       CASE WHEN den.den > 0 AND pr.num IS NOT NULL
        |            THEN floor(CAST(pr.num AS DOUBLE) / CAST(den.den AS DOUBLE) * 10000 + 0.5) / 10000
        |            ELSE 0.0 END AS acf
        |FROM (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)) g
        |LEFT JOIN pr ON pr.lag = g.lag CROSS JOIN den
        |ORDER BY g.lag""") { (s, dir) =>
      import s.implicits._
      val daily = Tables.orders(s, dir)
        .filter(col("o_orderdate").isNotNull)
        .select(expr("unix_micros(cast(o_orderdate AS timestamp)) div 86400000000").as("day"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy("day").agg(sum("cents").cast("long").as("x"))
      val st = daily.agg(count(lit(1)).cast("long").as("n"), sum("x").cast("long").as("s"))
      val ix = daily.as("a").join(daily.as("b"), col("b.day") <= col("a.day"))
        .groupBy(col("a.day").as("day"))
        .agg(count(lit(1)).cast("long").as("idx"), max(col("a.x")).as("x"))
      val dv = ix.crossJoin(broadcast(st))
        .select(col("idx"), expr("cast(n as decimal(38,0)) * x - s").as("dev"))
      val den = dv.agg(sum(expr("dev * dev")).as("den"))
      val pr = dv.withColumn("lag", explode(expr("sequence(1L, 7L)")))
        .select(col("lag"), col("dev"), (col("idx") + col("lag")).as("j"))
        .join(dv.select(col("idx").as("j"), col("dev").as("dev2")), Seq("j"))
        .groupBy("lag")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(expr("dev * dev2")).as("num"))
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("lag")
        .join(pr, Seq("lag"), "left")
        .crossJoin(broadcast(den))
        .select(col("lag"),
          coalesce(col("n_pairs"), lit(0L)).cast("long").as("n_pairs"),
          when(col("den") > 0 && col("num").isNotNull,
            r4(col("num").cast("double") / col("den").cast("double")))
            .otherwise(lit(0.0)).as("acf"))
        .orderBy("lag")
    },

    sql(
      "a23_dow_anova",
      "weekday variance decomposition of the day-grain revenue series (one-way ANOVA eta-squared — the DESEASONALIZE-FIRST screen the monitoring family reads before trusting its own verdicts: q111 profiles COUNTS per weekday, but a20's CUSUM and a21's MK trend run on revenue, and a strong weekly revenue cycle inflates both tests' variance or masquerades as drift — eta2 = SS_between/SS_total says what share of daily-revenue variance the weekday alone explains, THE number that decides whether the a20-a22 inputs need a seasonal adjustment pass): all sums exact integers with fractional means cross-multiplied away (the a13/a15 devs discipline) — SST*N^2 = Sigma (N*x - S)^2, SSB*N^2 = Sigma_g (N*S_g - n_g*S)^2 / n_g with the per-group division FLOORED identically in both dialects (7 flooring ops on ~1e26-magnitude terms — sub-ppm and bit-identical), eta2_ppm one final flooring division with the zero-variance corpus pinned to 0 (the a21 flat-series discipline: a constant series has no variance to decompose, the audit reports nothing rather than dividing by zero); per weekday the exact day count, revenue sum, floored mean_x100, and the q111-style revenue seasonal index (S_g*N*1e6) div (n_g*S) on the zero-filled 7-row grid (epoch-day (day+4) % 7, Sunday=0 — q111's engine-independent convention, never locale dayofweek()). DECIMAL(38,0)/HUGEINT widening holds to 30-year 1000x-volume histories (dev^2 ~ 5e28, summed ~ 5e31 — three decades inside 1e38, documented). Scale posture: ONE day-keyed corpus rollup (map-side combinable) is the only data-sized pass — the a20/a21/a22 argument; everything downstream lives on the calendar-bounded |days| table and a 7-row grid",
      """WITH d0 AS (SELECT CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderdate IS NOT NULL),
        |daily AS (SELECT day, CAST((day + 4) % 7 AS BIGINT) AS dow, CAST(sum(cents) AS BIGINT) AS x
        |          FROM d0 GROUP BY day),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM daily),
        |sst AS (SELECT CAST(sum((CAST(t.n AS HUGEINT) * d.x - t.s)
        |                      * (CAST(t.n AS HUGEINT) * d.x - t.s)) AS HUGEINT) AS sst_n
        |        FROM daily d CROSS JOIN tot t),
        |grp AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days, CAST(sum(x) AS BIGINT) AS s_g
        |        FROM daily GROUP BY dow),
        |ssb AS (SELECT CAST(sum((CAST(t.n AS HUGEINT) * g.s_g - g.n_days * t.s)
        |                      * (CAST(t.n AS HUGEINT) * g.s_g - g.n_days * t.s) // g.n_days) AS HUGEINT) AS ssb_n
        |        FROM grp g CROSS JOIN tot t),
        |eta AS (SELECT CASE WHEN sst.sst_n = 0 THEN 0
        |               ELSE CAST(ssb.ssb_n * 1000000 // sst.sst_n AS BIGINT) END AS eta2_ppm
        |        FROM ssb CROSS JOIN sst)
        |SELECT CAST(gg.dow AS BIGINT) AS dow,
        |       CAST(coalesce(g.n_days, 0) AS BIGINT) AS n_days,
        |       CAST(coalesce(g.s_g, 0) AS BIGINT) AS sum_cents,
        |       CAST(CASE WHEN coalesce(g.n_days, 0) = 0 THEN 0
        |            ELSE g.s_g * 100 // g.n_days END AS BIGINT) AS mean_x100,
        |       CAST(CASE WHEN coalesce(g.n_days, 0) = 0 OR t.s = 0 THEN 0
        |            ELSE (CAST(g.s_g AS HUGEINT) * t.n * 1000000) // (g.n_days * CAST(t.s AS HUGEINT)) END AS BIGINT) AS rev_index_ppm,
        |       CAST(e.eta2_ppm AS BIGINT) AS eta2_ppm
        |FROM generate_series(0, 6) gg(dow)
        |LEFT JOIN grp g ON g.dow = gg.dow
        |CROSS JOIN tot t CROSS JOIN eta e
        |ORDER BY dow""") { (s, dir) =>
      import s.implicits._
      val daily = Tables.orders(s, dir)
        .filter(col("o_orderdate").isNotNull)
        .select(expr("unix_micros(cast(o_orderdate AS timestamp)) div 86400000000").as("day"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy("day").agg(sum("cents").cast("long").as("x"))
        .withColumn("dow", expr("(day + 4) % 7"))
      val tot = daily.agg(count(lit(1)).cast("long").as("n"), sum("x").cast("long").as("s"))
      val sst = daily.crossJoin(broadcast(tot))
        .select(expr("cast(n as decimal(38,0)) * x - s").as("dev"))
        .agg(sum(expr("dev * dev")).cast("decimal(38,0)").as("sst_n"))
      val grp = daily.groupBy("dow")
        .agg(count(lit(1)).cast("long").as("n_days"), sum("x").cast("long").as("s_g"))
      // NOT `(b*b) div n_days`: Spark's IntegralDivide always RETURNS LONG,
      // and the per-group quotient brushes 1e26 — ARITHMETIC_OVERFLOW under
      // ANSI. Subtract the remainder first, then the decimal division is
      // exact (an integer value, so the result scale cannot round it) and
      // stays decimal end to end — bit-identical to DuckDB's HUGEINT `//`
      // on these non-negative operands.
      val ssb = grp.crossJoin(broadcast(tot))
        .select(expr("cast(n as decimal(38,0)) * s_g - cast(n_days as decimal(38,0)) * s").as("b"),
          col("n_days"))
        .select(expr("cast((b * b - (b * b) % n_days) / n_days as decimal(38,0))").as("q"))
        .agg(sum(col("q")).cast("decimal(38,0)").as("ssb_n"))
      val eta = ssb.crossJoin(broadcast(sst))
        .select(when(col("sst_n") === 0, 0L)
          .otherwise(expr("(ssb_n * 1000000) div sst_n").cast("long")).as("eta2_ppm"))
      Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L).toDF("dow")
        .join(grp, Seq("dow"), "left")
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(eta))
        .select(col("dow"),
          coalesce(col("n_days"), lit(0L)).cast("long").as("n_days"),
          coalesce(col("s_g"), lit(0L)).cast("long").as("sum_cents"),
          when(coalesce(col("n_days"), lit(0L)) === 0, 0L)
            .otherwise(expr("(s_g * 100) div n_days")).cast("long").as("mean_x100"),
          when(coalesce(col("n_days"), lit(0L)) === 0 || col("s") === 0, 0L)
            .otherwise(expr("(cast(s_g as decimal(38,0)) * n * 1000000) " +
              "div (cast(n_days as decimal(38,0)) * s)").cast("long")).as("rev_index_ppm"),
          col("eta2_ppm"))
        .orderBy("dow")
    }
  )
}
