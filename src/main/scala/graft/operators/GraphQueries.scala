package graft.operators

import graft.{GraftQuery, Materialize}
import graft.GraftQuery.{sql, sqlEager}
import graft.sources.Tables
import graft.operators.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the trade-derived graphs (r13 split out of
  * DedupQueries, which had grown to 1905 lines spanning two families —
  * code bodies moved verbatim and WITHIN-family declaration order is
  * unchanged, but the family's position in SparkEntry.registry moved:
  * the g-entries previously sat mid-DedupQueries.all and now follow the
  * whole dedup family, so bench sweep order and PLANS/JSON key order
  * shifted at the split (r13 advice — behavior per entry is identical,
  * global ordering is not).
  *
  * Two graphs back the family:
  *   - the support-thresholded co-purchase graph ([[copurchasePairs]] —
  *     u < v part pairs sharing >= 2 orders), used by g02-g08, g10, g11;
  *   - the symmetrized customer<->supplier bipartite trade graph
  *     ([[tradeEdges]]), used by g01/g09 PageRank.
  *
  * Shared iterative discipline: edge lists cache through the entry's
  * [[Materialize]] scope (`compact`, data-derived partition count), every
  * bounded-round loop checkpoint-truncates its lineage through the same
  * scope, which releases caches and checkpoints once the result fills,
  * and each round is an edge-keyed equi-/semi-join plus keyed aggregation — the
  * Pregel superstep shape, O(rounds x E) shuffle rows. The pointer-jumping
  * connected-components twin lives with its dedup consumer (d08
  * [[DedupQueries.dupClusters]]).
  */
object GraphQueries {

  /** Support-thresholded co-purchase edge list (u < v part pairs sharing
    * ≥ 2 orders) — the graph g02 (triangles) and g03 (k-core) both run on.
    * DuckDB side of [[copurchasePairs]]; pre-stripped, callers append
    * their own CTEs after a comma (the bandKeySql convention).
    */
  private val copurchasePairsSql: String =
    """pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** Spark side of [[copurchasePairsSql]]: per-order sorted part array
    * expanded to i<j combinations — one orderkey shuffle of bounded
    * (≤7-element) arrays, no fact-table self-join/SMJ; measured 1.6× the
    * self-join form at sf0.1, and the multiset of (u,v) instances is
    * identical (x<y filter drops same-part repeats exactly as the join's
    * u<v did). Un-persisted: every caller compacts it through its scope.
    */
  private def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(sort_array(collect_list("l_partkey")).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"))
        .as("p"))
      .select(col("p.u"), col("p.v"))
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .select("u", "v")

  /** DuckDB side of the HyperBall loop, shared by the g16 ANF curve and
    * the g19 harmonic centrality so the register machinery cannot drift
    * between them (the copurchasePairsSql sharing discipline): sym edges,
    * splitmix r0 registers at the relational (node, idx, min w) grain
    * (min w ⟺ elementwise max-rho — a06's duplicate-insensitive
    * semantics), three neighbor-merge rounds r1..r3, and the per-node
    * estimator tables fin0..fin3 replaying a06's fixed-order HUGEINT
    * estimator bit-exactly. Consumers add their own final SELECT over
    * fin0..fin3.
    */
  private val hyperballCtesSql: String = {
    val mergeRounds = (1 to 3).map { h =>
      val prev = s"r${h - 1}"
      s"""r$h AS MATERIALIZED (
         |  SELECT node, idx, min(w) AS w FROM (
         |    SELECT node, idx, w FROM $prev
         |    UNION ALL
         |    SELECT s.src AS node, r.idx, r.w FROM sym s JOIN $prev r ON r.node = s.dst)
         |  GROUP BY node, idx)""".stripMargin
    }.mkString(",\n")
    val estimators = (0 to 3).map { h =>
      s"""rho$h AS (
         |  SELECT node, idx, 54 - max(b) AS mj FROM r$h, bits
         |  WHERE w > 0 AND (CAST(1 AS HUGEINT) << CAST(b AS INTEGER)) <= w GROUP BY node, idx
         |  UNION ALL
         |  SELECT node, idx, 55 AS mj FROM r$h WHERE w = 0),
         |pres$h AS (SELECT node, CAST(count(*) AS BIGINT) AS np,
         |                  sum(CAST(1 AS HUGEINT) << CAST(55 - mj AS INTEGER)) AS sp
         |           FROM rho$h GROUP BY node),
         |fin$h AS MATERIALIZED (
         |  SELECT node, CAST(floor(CASE WHEN r <= 1280 AND vz > 0
         |                               THEN 512 * ln(CAST(512 AS DOUBLE) / vz)
         |                               ELSE r END + 0.5) AS BIGINT) AS est
         |  FROM (SELECT node, 512 - np AS vz,
         |               (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 512) * 512 * 512)
         |               * CAST(36028797018963968 AS DOUBLE)
         |               / CAST(sp + (512 - np) * (CAST(1 AS HUGEINT) << 55) AS DOUBLE) AS r
         |        FROM pres$h))""".stripMargin
    }.mkString(",\n")
    s"""$copurchasePairsSql,
       |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
       |                     UNION ALL SELECT v, u FROM pairs),
       |nodesrc AS (SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS k FROM sym),
       |${graft.functions.HashFunctions.priorityHashCtes("nodesrc", "k", 13L, "node")},
       |bits AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, 54)),
       |r0 AS MATERIALIZED (SELECT node, CAST(pri >> 54 AS BIGINT) AS idx,
       |                           pri % 18014398509481984 AS w FROM ph4),
       |$mergeRounds,
       |$estimators""".stripMargin
  }

  /** DuckDB side of the customer↔supplier bipartite trade graph (suppliers
    * offset by 1e6 into a disjoint id space): `e0`/`edges`/`nodes`/`deg`
    * CTEs shared by the g01 (global PageRank) and g09 (personalized
    * PageRank) oracles — the edge derivation and the degree table live in
    * one string exactly as [[orientedEdgesSql]] does for g02/g08.
    */
  private val tradeGraphSql: String =
    """e0 AS (
      |  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c, CAST(l.l_suppkey AS BIGINT) + 1000000 AS s
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |edges AS (SELECT c AS src, s AS dst FROM e0 UNION ALL SELECT s AS src, c AS dst FROM e0),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src)""".stripMargin

  /** Spark side of [[tradeGraphSql]]: the symmetrized customer↔supplier
    * edge list (suppliers offset 1e6), shared by g01 and g09 so the graph
    * definition cannot drift between them. NOT persisted deliberately
    * (g01's r7 measured A/B: the columnar cache build + cached-scan decode
    * costs ~3× the recompute — warm executor CPU 13-17 s unpersisted vs
    * 43-92 s persisted — because AQE's ReuseExchange already shares the
    * one expensive shuffle under multiple consumers); callers cache
    * downstream where it pays (g01's row-format edgeRdd, g09's keyed
    * compact).
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        (col("l_suppkey").cast("long") + 1000000L).as("s"))
      .distinct()
    e0.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(e0.select(col("s").as("src"), col("c").as("dst")))
  }

  /** g09's body. r19 (guide §2.4 establish-the-partitioning-once): the
    * rounds equi-join the edge list on src, deg groups by src, and nodes
    * is distinct-on-src — so the edge cache materializes KEYED
    * (`m.compact` by src) and all five consumers read
    * its partitioning instead of re-exchanging the full edge list
    * (before: one full-edge Exchange per round + the deg and nodes
    * exchanges + the two-step compact's double cache build). |sym edges| =
    * 2·|e0| ≤ 2·|lineitem| bounds the cache sizing from parquet row-count
    * metadata (counted by the eager scope only), so the wide first build
    * disappears too.
    */
  private def personalizedPagerank(s: SparkSession, dir: String, m: Materialize): DataFrame = {
    val (edges, edgeParts) =
      m.compact(tradeEdges(s, dir), Some("src"), 2L * Tables.lineitem(s, dir).count())
    val deg = m.fill(edges.groupBy("src").agg(count(lit(1)).as("d")), edgeParts)
    val nodes = m.fill(edges.select(col("src").as("node")).distinct(), edgeParts)
    val seeds = nodes.filter(col("node") >= 1000001L && col("node") <= 1000003L)
    val ns = broadcast(seeds.agg(count(lit(1)).as("n")))
    def restart(pct: Long) =
      when(col("is_seed"), expr(s"$pct div n")).otherwise(lit(0L))
    val base = m.checkpoint(nodes.crossJoin(ns)
      .join(seeds.select(col("node"), lit(true).as("is_seed")), Seq("node"), "left")
      .withColumn("is_seed", coalesce(col("is_seed"), lit(false))), edgeParts)
    var r = m.checkpoint(base.select(col("node"), restart(1000000000000L).as("r")), edgeParts)
    for (_ <- 1 to 2) {
      // sparse-frontier push: only r > 0 rows probe the edge join
      val contrib = edges
        .join(r.filter(col("r") > 0).select(col("node").as("src"), col("r"))
          .hint("shuffle_hash"), "src")
        .join(deg.hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r div d")).as("m"))
      r = m.checkpoint(base
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (restart(150000000000L)
            + expr("85 * coalesce(m, 0) div 100")).as("r")), edgeParts)
    }
    m.result(r.filter(col("r") > 0)
      .select(col("node"), col("r").as("rank_scaled"))
      .orderBy(desc("rank_scaled"), col("node")).limit(20))
  }

  /** DuckDB side of the degree-ordered orientation: `deg` + `ori` CTEs
    * over [[copurchasePairsSql]]'s `pairs`. Shared by the g02 and g08
    * oracles exactly as [[orientedTriangles]] is shared by their Spark
    * bodies — the tie-break lives in ONE string. MATERIALIZED because both
    * consumers reference `ori` three times (the wedge join's e1/e2/e3).
    */
  private val orientedEdgesSql: String =
    """deg AS MATERIALIZED (SELECT x AS node, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS x FROM pairs UNION ALL SELECT v AS x FROM pairs) GROUP BY x),
      |ori AS MATERIALIZED (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v) THEN p.u ELSE p.v END AS src,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v) THEN p.v ELSE p.u END AS dst
      |  FROM pairs p JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v)""".stripMargin

  /** Cached support-2 pairs and degree table, and the two-phase shuffle
    * wedge-close triangle triples (a, b, c) over the cached degree-ordered
    * oriented edges — the machinery g02 (global count) and g08 (per-node
    * credit) share, so the orientation tie-break and the shuffle_hash hints
    * cannot drift between them (the compact-cache lesson applied one level
    * up; r10's g06 wart was exactly a sibling skipping the shared pattern).
    *
    * Two-step compact caches (see [[Materialize.compact]]): each fill
    * count() is a materialization barrier — downstream branches launch
    * together, and an un-populated cache makes each of them run the full
    * fact-table pair build (measured 5× the whole query at 10× sf0.1). deg
    * feeds ori twice plus the callers' degree branches; the wedge join is
    * two SHUFFLE equi-joins (O(wedges) 16 B rows, no broadcast of E — valid
    * at any edge-list size; shuffle_hash keeps AQE from re-planning tiny
    * bench-scale sides back into broadcasts). Each triangle closes exactly
    * once under the orientation. pairs/deg/ori cache in the caller's scope.
    */
  private def orientedTriangles(s: SparkSession, dir: String, m: Materialize)
      : (DataFrame, DataFrame, DataFrame) = {
    val (pairs, edgeParts) = m.compact(copurchasePairs(s, dir))
    val deg = m.fill(pairs.select(col("u").as("node")).unionAll(pairs.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d")), edgeParts)
    val lower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val ori = m.fill(pairs
      .join(deg.select(col("node").as("u"), col("d").as("du")).hint("shuffle_hash"), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")).hint("shuffle_hash"), "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("src"),
        when(lower, col("v")).otherwise(col("u")).as("dst")), edgeParts)
    val e1 = ori.select(col("src").as("a"), col("dst").as("b"))
    val e2 = ori.select(col("src").as("b2"), col("dst").as("c"))
    val e3 = ori.select(col("src").as("a3"), col("dst").as("c3"))
    val tris = e1.join(e2.hint("shuffle_hash"), col("b2") === col("b"))
      .join(e3.hint("shuffle_hash"), col("a3") === col("a") && col("c3") === col("c"))
      .select(col("a"), col("b"), col("c"))
    (pairs, deg, tris)
  }

  /** g03's bounded-round 2-core peel; returns (result, roundsRun) so
    * KCoreSpec can assert the 16-round oracle budget has margin. The loop
    * stops on a data-dependent fixpoint, so it owns an eager scope and has
    * no lazy twin.
    */
  private[graft] def kcorePeel(s: SparkSession, dir: String): (DataFrame, Int) = {
    val m = Materialize.eager()
    // KEYED compact cache (r19, §2.4): every peel round's FIRST semi-join
    // probes the edge list on u, so the cache materializes under
    // hashpartitioning(u) and all ≤16 rounds read its partitions directly
    // (the v-side semi-join exchanges the already-filtered live set, which
    // shrinks with peeling). Sizing bound: |pairs| ≤ 3·|lineitem| (≤7-part
    // order arrays), parquet metadata — no wide first build.
    val (edges, parts) = m.compact(
      copurchasePairs(s, dir), Some("u"), 3L * Tables.lineitem(s, dir).count())
    // Each round is checkpointed EAGERLY: the loop references `alive`
    // twice per round, so carrying the logical plan forward doubles the
    // tree every iteration — by round 8 plan traversal (Catalyst rules,
    // explain/telemetry walks) is 2^8 copies of the full edge build and
    // the driver, not the data, becomes the bottleneck. localCheckpoint
    // truncates lineage to a LogicalRDD of the (tiny, cacheParts-sized)
    // round output — the d08/g01 RDD-iteration lesson in DataFrame form.
    // At 100 TB: same loop with reliable checkpoint(dir) instead of
    // executor-local blocks, rounds are edge-keyed semi-joins either way.
    var alive = m.checkpoint(edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .distinct(), parts)
    var aliveCount = alive.count()
    var result: DataFrame = alive.withColumn("d_core", lit(0L)) // replaced in round 1
    var round = 0
    var converged = false
    while (round < 16 && !converged) {
      round += 1
      val live = edges
        .join(alive.select(col("node").as("u")).hint("shuffle_hash"), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")).hint("shuffle_hash"), Seq("v"), "left_semi")
      val next = m.checkpoint(live.select(col("u").as("node"))
        .unionAll(live.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).cast("long").as("d_core"))
        .filter(col("d_core") >= 2), parts)
      val c = next.count()
      // peeling only shrinks the alive set, so equal count == equal set
      // == this round's d_core equals every later round's (incl. a16)
      converged = c == aliveCount
      aliveCount = c
      alive = next.select("node")
      result = next
    }
    (m.result(result.select("node", "d_core").orderBy("node")), round)
  }

  val all: Seq[GraftQuery] = Seq(
    sql(
      "g01_pagerank",
      "graph centrality (PageRank, 2 unrolled iterations) over the customer↔supplier bipartite trade graph — the source-authority signal a curation pipeline uses to weight domains. Ranks live on a 1e12 integer grid and every step is integer division/sum, so both engines compute bit-identical ranks (no float drift across iterations). Scale posture: each iteration is one edge-keyed join + dst-keyed aggregation (the d08 shape — at 100 TB the edge list is hash-partitioned once and every round joins narrowly against it); the node-count scalar is a broadcast",
      s"""WITH $tradeGraphSql,
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, (1000000000000 // n) AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS node, sum(r.r // d.d) AS m
        |       FROM edges e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n0.node,
        |              (150000000000 // nn.n) + (85 * coalesce(c1.m, 0)) // 100 AS r
        |       FROM nodes n0 CROSS JOIN nn LEFT JOIN c1 ON c1.node = n0.node),
        |c2 AS (SELECT e.dst AS node, sum(r.r // d.d) AS m
        |       FROM edges e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n0.node,
        |              (150000000000 // nn.n) + (85 * coalesce(c2.m, 0)) // 100 AS r
        |       FROM nodes n0 CROSS JOIN nn LEFT JOIN c2 ON c2.node = n0.node)
        |SELECT node, CAST(r AS BIGINT) AS rank_scaled
        |FROM r2 ORDER BY rank_scaled DESC, node LIMIT 20""") { (s, dir) =>
      // r6: iteration ported onto the d08 partitioner-aligned pair-RDD loop
      // (the production path the r5 doc already named). The r5 pure-SQL
      // unrolling leaned on AQE ReuseExchange to share the ~40× re-derived
      // edge CTE, but still burned 16-19 s of real executor CPU standalone
      // (4.3-4.6 s wall); the RDD port builds the edge list ONCE as a
      // DataFrame plan, hash-partitions it once, and each iteration is a
      // narrow edges⋈ranks join + one (dst, contrib) shuffle — the exact
      // shuffle pattern a 1000-executor cluster wants, with no per-round
      // re-planning. All arithmetic stays on the 1e12 integer grid (Long
      // division truncates identically in Scala, Spark SQL and DuckDB for
      // the all-positive values here), so ranks remain bit-identical to the
      // oracle.
      // r7 (fresh-JVM QueryTime): the port's executor cpu was ≈ the SQL
      // form's (13-17 s vs 16-19 s); its win was wall (7.4 → ~2.8-4.0 s),
      // from partitioning the edge list once and keeping every join narrow.
      // r9 phase attribution (warm takes): of ~6-9 s
      // in-query cpu, the relational edge derivation (orders⋈lineitem →
      // distinct → degree join) is ~2.6-2.8 s, the .rdd pack + partitionBy
      // + persist ~2 s, nodeDeg ~0.5 s, and the 2-iteration loop itself
      // only ~1.3-1.4 s — NOT RDD row serde. The dominant term is the one
      // fact-table pass, and it is already minimal: forcing
      // broadcast(orders) with a pre-distinct on (l_orderkey, l_suppkey)
      // measured 3× WORSE (8-10 s for that phase — the pre-distinct is an
      // extra fact-sized shuffle and AQE already broadcasts the small
      // side). Irreducible because the input scan IS the cost; per-row-of-
      // output expense is an artifact of emitting 20 rows from a
      // corpus-sized derivation, not of the iteration design.
      import s.implicits._
      import org.apache.spark.HashPartitioner
      val m = Materialize.eager()
      // shared edge derivation (tradeEdges — its scaladoc carries the r7
      // do-not-persist A/B); the RDD-side persist of edgeRdd below (row
      // format, loop-side) is the one that pays off.
      val edgesDf = tradeEdges(s, dir)
      // Size the loop partitioner by EDGE volume, not node count (r7): a
      // round moves ~|E| rows, and |E| ≈ |lineitem| is the cheap upper
      // bound (parquet row-count metadata). The r6 node-count rule
      // (customer+supplier ≈ 160k → always the 8-partition floor) left the
      // 10× nonlinearity probe at 8 partitions for 12M boxed edge tuples —
      // per-partition working sets grew 10× and the loop went
      // memory-bound (take-over-take cpu DEGRADED 640→981 s executor).
      // ~250k edges per partition keeps the per-task working set flat as
      // the corpus scales; clamped to [8, 1024] like d08.
      val eUpper = Tables.lineitem(s, dir).count()
      val part = new HashPartitioner(
        math.max(8L, math.min(1024L, eUpper / 250000L)).toInt)
      // Edge discovery AND the degree join (the data-heavy stages) run as
      // one DataFrame plan at ambient parallelism — Catalyst's codegen'd
      // hash join beats boxed RDD tuples for the bulk work. The result
      // lands keyed by src and hash-partitioned ONCE; the edge list never
      // moves again (at 100 TB: the edges shuffle once, not once per round).
      //
      // PRIMITIVE loop representation (r7): the 10× nonlinearity probe
      // caught the generic pair-RDD form (nested boxed tuples +
      // CoGroupedRDD joins) going memory-bound — 16 s → ~1200 s executor
      // CPU for 10× edges, take-over-take DEGRADING, and insensitive to
      // partition count: pure allocation/GC churn, the known reason GraphX
      // keeps primitive arrays. Fix: (dst, degree) packs into ONE Long
      // ((Long, Long) tuples are @specialized — no value boxing) and both
      // per-round joins become zipPartitions over the co-partitioned RDDs
      // with a value-specialized LongMap probe + local pre-combine —
      // same partitioner alignment, same integer arithmetic, a fraction
      // of the allocations. Measured warm: sf0.1 cpu 16.9 → 6.4-8.3 s
      // (wall 4.9 → 2.3-2.8 s); 10× probe best-take cpu ~1120 → ~102 s.
      // The residual ~16×-for-10×-data cpu at 7× wall is a single-JVM
      // memory-subsystem ceiling (rank maps leave L2 while 24-32 tasks
      // share one socket), not algorithmic — full analysis in README's
      // nonlinearity-probe section.
      val DegBits = 21 // degree < 2^21; node ids < 2^42 (guarded below)
      val DegMask = (1L << DegBits) - 1
      val degDf = edgesDf.groupBy("src").agg(count(lit(1)).cast("long").as("d"))
      val edgeRdd = m.persist(edgesDf.join(degDf, "src")
        .select(col("src"), col("dst"), col("d")).as[(Long, Long, Long)].rdd
        .map { case (src, dst, d) =>
          require(d <= DegMask && dst >= 0 && dst < (1L << (63 - DegBits)),
            s"g01 pack overflow: dst=$dst d=$d")
          (src, (dst << DegBits) | d)
        }
        .partitionBy(part))
      edgeRdd.count()
      // (node, degree), co-partitioned with the edges: narrow derivation
      // (keys already grouped by part), no extra shuffle.
      val nodeDeg = m.persist(edgeRdd.mapValues(_ & DegMask).reduceByKey(part, (a, _) => a))
      val n = nodeDeg.count()
      val base = 150000000000L / n
      var ranks = nodeDeg.mapValues(_ => 1000000000000L / n) // r0, co-partitioned
      for (_ <- 1 to 2) {
        // contrib round: rank lookup is a narrow zipPartitions against the
        // co-partitioned ranks (every src's rank lives in the same
        // partition index), contributions pre-combine into a local
        // LongMap, and the (dst, sum) spill is the round's ONE shuffle.
        // preservesPartitioning=false is LOAD-BEARING: the emitted keys are
        // dst (not this partition's src keys), so reduceByKey(part) must
        // see no partitioner and shuffle — with true it would skip the
        // exchange and leave partial sums uncombined in wrong partitions.
        val contrib = edgeRdd.zipPartitions(ranks, preservesPartitioning = false) {
          (es, rs) =>
            val rank = scala.collection.mutable.LongMap.empty[Long]
            rs.foreach { kv => rank(kv._1) = kv._2 }
            val acc = scala.collection.mutable.LongMap.empty[Long]
            es.foreach { case (src, packed) =>
              val r = rank(src) // src always has a rank: both derive from edgeRdd keys
              acc(packed >>> DegBits) = acc.getOrElse(packed >>> DegBits, 0L) + r / (packed & DegMask)
            }
            acc.iterator
        }.reduceByKey(part, _ + _)
        // rank update: contrib is part-partitioned by reduceByKey, so the
        // dangling-node left join is also a narrow zipPartitions
        ranks = nodeDeg.zipPartitions(contrib, preservesPartitioning = true) {
          (ns, cs) =>
            val got = scala.collection.mutable.LongMap.empty[Long]
            cs.foreach { kv => got(kv._1) = kv._2 }
            ns.map { kv => (kv._1, base + (85L * got.getOrElse(kv._1, 0L)) / 100L) }
        }
      }
      // the scope fills the result, then releases edgeRdd and nodeDeg
      m.result(ranks.toDF("node", "rank_scaled")
        .orderBy(desc("rank_scaled"), col("node"))
        .limit(20))
    },

    sqlEager(
      "g09_personalized_pagerank",
      "personalized PageRank from a seed set (2 unrolled iterations, restart mass on suppliers 1-3) over the same trade graph as g01 — SEEDED relevance vs g01's global authority: the recommendation/similar-entity primitive ('what is close to THESE nodes'), and the curation variant that scores documents by proximity to a trusted seed domain set rather than by global degree. Same 1e12 integer grid and integer-division contract as g01 (bit-identical ranks, no float drift), with the restart term (15% of the mass, split over |S| seeds) landing ONLY on seeds. Sparse-frontier shape: r0 is nonzero on 3 nodes, round 1 touches their neighborhoods, round 2 two hops — the Spark side filters r > 0 before the contribution join, so each round's join probe is frontier-sized, not graph-sized (semantically free: zero ranks contribute zero). Scale posture: this forward-push sparsity is exactly why production PPR (GraphX/Pregel personalized variants) scales as O(frontier x rounds) per seed batch while global PageRank pays O(V) per round; the edge list builds once (one order-keyed join) and each round is one edge-keyed join + dst-keyed sum, the g01 shape on a shrinking-from-sparse frontier",
      s"""WITH $tradeGraphSql,
        |seeds AS (SELECT node FROM nodes WHERE node >= 1000001 AND node <= 1000003),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds),
        |r0 AS (SELECT n0.node,
        |              CASE WHEN sd.node IS NOT NULL THEN (1000000000000 // ns.n) ELSE 0 END AS r
        |       FROM nodes n0 CROSS JOIN ns LEFT JOIN seeds sd ON sd.node = n0.node),
        |c1 AS (SELECT e.dst AS node, sum(r.r // d.d) AS m
        |       FROM edges e JOIN r0 r ON r.node = e.src AND r.r > 0
        |       JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n0.node,
        |              CASE WHEN sd.node IS NOT NULL THEN (150000000000 // ns.n) ELSE 0 END
        |              + (85 * coalesce(c1.m, 0)) // 100 AS r
        |       FROM nodes n0 CROSS JOIN ns
        |       LEFT JOIN seeds sd ON sd.node = n0.node
        |       LEFT JOIN c1 ON c1.node = n0.node),
        |c2 AS (SELECT e.dst AS node, sum(r.r // d.d) AS m
        |       FROM edges e JOIN r1 r ON r.node = e.src AND r.r > 0
        |       JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n0.node,
        |              CASE WHEN sd.node IS NOT NULL THEN (150000000000 // ns.n) ELSE 0 END
        |              + (85 * coalesce(c2.m, 0)) // 100 AS r
        |       FROM nodes n0 CROSS JOIN ns
        |       LEFT JOIN seeds sd ON sd.node = n0.node
        |       LEFT JOIN c2 ON c2.node = n0.node)
        |SELECT node, CAST(r AS BIGINT) AS rank_scaled
        |FROM r2 WHERE r > 0 ORDER BY rank_scaled DESC, node LIMIT 20""") { (s, dir, m) =>
      personalizedPagerank(s, dir, m)
    },

    sqlEager(
      "g10_neighborhood_anf",
      "sampled approximate-neighborhood-function (ANF / HyperBall shape) over the co-purchase graph: for a deterministic seed sample (nodes ≡ 0 mod 100) grow exact balls B(s,h) for h = 0..3 and report the neighborhood-function curve — seeds, Σ|B(s,h)|, mean ball size in ppm, and how many seeds SATURATED (ball stopped growing) at each radius; the curve is how effective-diameter and reachability profiles are read off web/citation-scale graphs. The expansion is frontier-only (g04's bounded-round contract, per-seed): each round joins ONLY last round's new (seed, node) pairs against the cached symmetric edge list, anti-joins the ball, and localCheckpoints — O(rounds × frontier × degree) shuffle rows of 16 B. Scale posture: at 100 TB the exact per-seed pair set is replaced by one b-bit HyperLogLog register per NODE, merged along edges per round (HyperBall — Boldi/Vigna WWW'13); the sampled exact legs here are precisely the truth column that calibrates those registers, and a06 already carries the engine's replayable HLL. Oracle unrolls the same three rounds as chained MATERIALIZED CTEs over the shared co-purchase edge SQL; every metric is a flooring division on non-negative integers",
      s"""WITH $copurchasePairsSql,
        |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
        |                     UNION ALL SELECT v, u FROM pairs),
        |seeds AS MATERIALIZED (SELECT DISTINCT src AS seed FROM sym WHERE src % 100 = 0),
        |b0 AS MATERIALIZED (SELECT seed, seed AS node FROM seeds),
        |f1 AS MATERIALIZED (
        |  SELECT DISTINCT p.seed, s.dst AS node FROM sym s JOIN b0 p ON p.node = s.src
        |  WHERE NOT EXISTS (SELECT 1 FROM b0 b WHERE b.seed = p.seed AND b.node = s.dst)),
        |b1 AS MATERIALIZED (SELECT seed, node FROM b0 UNION ALL SELECT seed, node FROM f1),
        |f2 AS MATERIALIZED (
        |  SELECT DISTINCT p.seed, s.dst AS node FROM sym s JOIN f1 p ON p.node = s.src
        |  WHERE NOT EXISTS (SELECT 1 FROM b1 b WHERE b.seed = p.seed AND b.node = s.dst)),
        |b2 AS MATERIALIZED (SELECT seed, node FROM b1 UNION ALL SELECT seed, node FROM f2),
        |f3 AS MATERIALIZED (
        |  SELECT DISTINCT p.seed, s.dst AS node FROM sym s JOIN f2 p ON p.node = s.src
        |  WHERE NOT EXISTS (SELECT 1 FROM b2 b WHERE b.seed = p.seed AND b.node = s.dst)),
        |b3 AS MATERIALIZED (SELECT seed, node FROM b2 UNION ALL SELECT seed, node FROM f3),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds)
        |SELECT CAST(0 AS BIGINT) AS h, ns.n AS n_seeds, c.n AS n_pairs,
        |       (1000000 * c.n) // ns.n AS avg_ball_ppm, CAST(0 AS BIGINT) AS n_saturated
        |FROM ns, (SELECT CAST(count(*) AS BIGINT) AS n FROM b0) c
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), ns.n, c.n, (1000000 * c.n) // ns.n, ns.n - f.n
        |FROM ns, (SELECT CAST(count(*) AS BIGINT) AS n FROM b1) c,
        |     (SELECT CAST(count(DISTINCT seed) AS BIGINT) AS n FROM f1) f
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), ns.n, c.n, (1000000 * c.n) // ns.n, ns.n - f.n
        |FROM ns, (SELECT CAST(count(*) AS BIGINT) AS n FROM b2) c,
        |     (SELECT CAST(count(DISTINCT seed) AS BIGINT) AS n FROM f2) f
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), ns.n, c.n, (1000000 * c.n) // ns.n, ns.n - f.n
        |FROM ns, (SELECT CAST(count(*) AS BIGINT) AS n FROM b3) c,
        |     (SELECT CAST(count(DISTINCT seed) AS BIGINT) AS n FROM f3) f
        |ORDER BY h""") { (s, dir, m) =>
      val (seeds, b0, fs) = seedFrontiers(s, dir, m)
      val nSeeds = seeds.agg(count(lit(1)).cast("long").as("n_seeds"))
      def curveRow(h: Int, ball: DataFrame, grew: DataFrame): DataFrame =
        ball.agg(count(lit(1)).cast("long").as("n_pairs"))
          .crossJoin(broadcast(nSeeds))
          .crossJoin(broadcast(grew))
          .select(lit(h.toLong).as("h"), col("n_seeds"), col("n_pairs"),
            expr("(1000000 * n_pairs) div n_seeds").as("avg_ball_ppm"),
            (col("n_seeds") - col("grew")).as("n_saturated"))
      val all0 = nSeeds.select(col("n_seeds").as("grew")) // h=0: every seed "grew"
      var out = curveRow(0, b0, all0)
      var ball = b0
      for (h <- 1 to 3) {
        ball = ball.unionAll(fs(h - 1)) // checkpointed pieces: cheap re-union
        out = out.unionAll(curveRow(h, ball,
          fs(h - 1).agg(countDistinct("seed").cast("long").as("grew"))))
      }
      m.result(out.orderBy("h"))
    },

    sql(
      "g11_truss",
      "truss decomposition by bounded-round edge peeling, run at k=3 — the cohesive-subgraph miner beside g03's k-core: each round enumerates ordered triangles u<v<w over the CURRENT edge set (one wedge join closed by the third edge), folds each triangle into its three edges' support counts, and semi-joins away edges below k−2 support; 4 unrolled rounds (the g03/g04 bounded contract). The peel loop is the general k-truss machinery — at k ≥ 4 edge deaths cascade through shared triangles — and at k=3 it provably settles in ONE round (a triangle supports all three of its own edges, so any edge in a triangle keeps it forever; the spec pins exactly this one-round fixpoint). The Spark loop exits on the converged edge count (g03's check — peeling only removes, so an unchanged count is an unchanged set, and every spare round provably recomputes the identical support); the oracle keeps all 4 unrolled rounds, which the fixpoint makes bit-identical — the hash gate machine-checks the equivalence. k=3 is the fixture-honest choice: the support-2 co-purchase graph carries a 273-edge 3-truss at sf0.01 but its 4-truss is EMPTY at sf0.1 — a registry entry that returns nothing at bench scale gates nothing. Output: the truss edges with their within-truss support, support recomputed over the settled set. Scale posture: per-round cost is O(wedges) shuffle rows over the SUPPORT-THRESHOLDED graph (g02's tractability lever), localCheckpoint truncates lineage per round; at 100 TB the wedge join takes g02's degree-ordered orientation (id-order suffices at fixture degrees and keeps the oracle a plain unrolled CTE chain)",
      {
        val rounds = (1 to 4).map { r =>
          val prev = s"e${r - 1}"
          s"""t$r AS MATERIALIZED (
             |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |  FROM $prev e1 JOIN $prev e2 ON e2.u = e1.v
             |                JOIN $prev e3 ON e3.u = e1.u AND e3.v = e2.v),
             |s$r AS MATERIALIZED (
             |  SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM (
             |    SELECT a AS u, b AS v FROM t$r
             |    UNION ALL SELECT b, c FROM t$r
             |    UNION ALL SELECT a, c FROM t$r) GROUP BY u, v),
             |e$r AS MATERIALIZED (SELECT u, v FROM s$r WHERE c >= 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $copurchasePairsSql,
          |e0 AS MATERIALIZED (SELECT u, v FROM pairs),
          |$rounds,
          |tf AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          |       FROM e4 e1 JOIN e4 e2 ON e2.u = e1.v
          |                  JOIN e4 e3 ON e3.u = e1.u AND e3.v = e2.v),
          |sf AS (SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM (
          |         SELECT a AS u, b AS v FROM tf
          |         UNION ALL SELECT b, c FROM tf
          |         UNION ALL SELECT a, c FROM tf) GROUP BY u, v)
          |SELECT e.u, e.v, CAST(coalesce(sf.c, 0) AS BIGINT) AS support
          |FROM e4 e LEFT JOIN sf ON sf.u = e.u AND sf.v = e.v
          |ORDER BY e.u, e.v"""
      }) { (s, dir) =>
      // the loop exits on a data-dependent fixpoint: an eager scope of its
      // own, no lazy twin
      val m = Materialize.eager()
      val (pairs, parts) = m.compact(copurchasePairs(s, dir))
      def triangles(edges: DataFrame): DataFrame = {
        def pfx(p: String) = edges.select(col("u").as(p + "u"), col("v").as(p + "v"))
        pfx("x").join(pfx("y"), col("yu") === col("xv"))
          .join(pfx("z"), col("zu") === col("xu") && col("zv") === col("yv"))
          .select(col("xu").as("a"), col("xv").as("b"), col("yv").as("c"))
      }
      def support(tri: DataFrame): DataFrame =
        tri.select(col("a").as("u"), col("b").as("v"))
          .unionAll(tri.select(col("b").as("u"), col("c").as("v")))
          .unionAll(tri.select(col("a").as("u"), col("c").as("v")))
          .groupBy("u", "v").agg(count(lit(1)).cast("long").as("c"))
      var edges = m.checkpoint(pairs, parts)
      // Early exit on fixpoint (r18 optimization; g03's converged check —
      // a pure optimization under the bounded-round contract): peeling
      // only removes edges, so an unchanged count == unchanged set ==
      // every later round's edge set and support are identical. Each
      // round's support table checkpoints (edge-sized) so the settled
      // round's support is REUSED as the final report instead of
      // re-enumerating triangles a fifth time: at k=3 the fixpoint is
      // round 1 (spec-pinned), so the wedge join runs once, not five
      // times; a corpus that peels all 4 rounds recomputes the final
      // support exactly as before.
      var eCount = edges.count()
      var converged = false
      var round = 0
      var lastSup: DataFrame = null
      while (round < 4 && !converged) {
        round += 1
        val sup = m.checkpoint(support(triangles(edges)), parts)
        val next = m.checkpoint(edges
          .join(sup.filter(col("c") >= 1).select("u", "v").hint("shuffle_hash"),
            Seq("u", "v"), "left_semi"), parts)
        val c = next.count()
        converged = c == eCount
        eCount = c
        edges = next
        lastSup = sup
      }
      // at a fixpoint the last round's support was computed over a set
      // identical to the settled one, so it IS the final support
      val supF = if (converged) lastSup else support(triangles(edges))
      m.result(edges.join(supF, Seq("u", "v"), "left")
        .select(col("u"), col("v"), coalesce(col("c"), lit(0L)).as("support"))
        .orderBy("u", "v"))
    },

    sqlEager(
      "g02_triangle_count",
      "exact triangle counting with degree-ordered orientation over the frequent co-purchase graph (the clustering-coefficient / community-density primitive beside g01's centrality): part pairs sharing an order (TPC-H caps lines per order at 7, so per-order pair fan-out is bounded ≤21, never quadratic) become edges only at co-occurrence support ≥ 2 — the frequent-itemset support threshold that is ALSO the scale lever: the raw pair graph at sf0.1 is 1.2M edges with an 83M-row wedge set, the support-2 graph is ~4k edges, and at 100 TB a support threshold is the only thing keeping a co-occurrence graph tractable at all. Edges orient from the (degree, id)-smaller endpoint — the classic trick bounding out-degree to O(√E) so the wedge join is O(E^1.5) worst-case — and each triangle appears as exactly ONE directed path a→b→c closed by a→c: exact count, no /3 correction. Wholly oracle-replayed integers. Scale posture: edge build = one order-keyed self-join + support-filtered keyed count (the one pass over facts); everything after runs on the support-thresholded edge list via two-phase SHUFFLE wedge joins — O(wedges) 16-byte shuffle rows, no broadcast of E, valid at any edge-list size",
      s"""WITH $copurchasePairsSql,
        |$orientedEdgesSql,
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |        FROM ori e1
        |        JOIN ori e2 ON e2.src = e1.dst
        |        JOIN ori e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |vs  AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |               CAST(max(d) AS BIGINT) AS max_degree
        |        FROM deg),
        |es  AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
        |SELECT vs.n_nodes, es.n_edges, vs.max_degree, tri.n_triangles
        |FROM vs CROSS JOIN es CROSS JOIN tri""") { (s, dir, m) =>
      // Edge/degree/orientation/wedge machinery lives in orientedTriangles
      // (shared with g08 — tie-break and hints in one place; its scaladoc
      // carries the r7/r8/r10 history: full-parallel support aggregation,
      // the two-phase shuffle wedge join, the compact-cache barriers).
      val (pairs, deg, tris) = orientedTriangles(s, dir, m)
      val tri = tris.agg(count(lit(1)).as("n_triangles"))
      val vs = deg.agg(count(lit(1)).as("n_nodes"), max("d").as("max_degree"))
      val es = pairs.agg(count(lit(1)).as("n_edges"))
      m.result(vs.crossJoin(es).crossJoin(tri)
        .select("n_nodes", "n_edges", "max_degree", "n_triangles"))
    },

    sql(
      "g03_kcore",
      "2-core decomposition of the co-purchase graph (iterative peeling — the graph-density filter beside g01's centrality and g02's triangles; k-cores are how graph-shaped corpora prune low-connectivity noise before community detection): repeatedly delete nodes with fewer than 2 live neighbors until a fixpoint; output every surviving node with its in-core degree. Bounded-round contract: both engines run the SAME ≤16 peel rounds (KCoreSpec measures fixpoint at ≤9 rounds across all three scale factors, so the bound has margin and early-exit-on-no-change is a pure optimization); the oracle unrolls the rounds as chained CTEs over the shared co-purchase edge SQL. Scale posture: each round is two edge-keyed semi-joins + one keyed degree count over the SHRINKING alive set — O(rounds × E) shuffle rows of 8-16 B, the standard distributed peel (Pregel-style); the support-2 threshold already bounds E corpus-proportionally (see g02), caches are cacheParts-sized, and the round count is data-bounded (degeneracy ordering converges in O(log n) rounds on power-law graphs)",
      {
        // every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
        // reference, and each round references its predecessor twice —
        // un-materialized, the unrolled chain expands 2^16 lineitem scans
        val rounds = (1 to 16).map { i =>
          val prev = s"a${i - 1}"
          s"""a$i AS MATERIALIZED (SELECT x AS node, CAST(count(*) AS BIGINT) AS d_core FROM (
             |  SELECT e.u AS x FROM ep e JOIN $prev p ON p.node = e.u JOIN $prev q ON q.node = e.v
             |  UNION ALL
             |  SELECT e.v FROM ep e JOIN $prev p ON p.node = e.u JOIN $prev q ON q.node = e.v
             |) GROUP BY x HAVING count(*) >= 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH $copurchasePairsSql,
          |ep AS MATERIALIZED (SELECT u, v FROM pairs),
          |a0 AS MATERIALIZED (SELECT DISTINCT x AS node FROM (SELECT u AS x FROM ep UNION ALL SELECT v AS x FROM ep)),
          |$rounds
          |SELECT node, d_core FROM a16 ORDER BY node"""
      }) { (s, dir) => kcorePeel(s, dir)._1 },

    sqlEager(
      "g04_bfs_distance",
      "multi-source BFS distance over the co-purchase graph (the reachability / neighborhood-expansion primitive beside g01 centrality, g02 density, and g03 coreness — graph-shaped corpora use bounded BFS for 'everything within k hops of a seed set' expansion queries): seeds = graph nodes with partkey % 50 = 0, distances computed frontier-by-frontier for 4 rounds; output every reached node with its hop distance. Bounded-round contract (the g03 pattern): both engines run the SAME 4 expansion rounds, the oracle unrolls them as chained MATERIALIZED CTEs over the shared co-purchase edge SQL, and the frontier/visited sets are exact (anti-join, not min-dist relaxation — BFS frontiers on an unweighted graph ARE the min distances). Scale posture: each round is one edge-keyed semi-join (frontier against the cached symmetric edge list) + one anti-join against visited — O(rounds × E) shuffle rows of 8 B, the Pregel superstep shape; frontiers are localCheckpoint-truncated so round r's plan never re-derives rounds 1..r-1 (the kcorePeel lineage lesson), and at 100 TB the same loop runs on reliable checkpoints with the visited set growing monotonically (never the full node set per round)",
      {
        val rounds = (1 to 4).map { i =>
          val (pf, pv) = (s"f${i - 1}", s"v${i - 1}")
          s"""f$i AS MATERIALIZED (
             |  SELECT DISTINCT s.dst AS node FROM sym s JOIN $pf p ON p.node = s.src
             |  WHERE s.dst NOT IN (SELECT node FROM $pv)),
             |v$i AS MATERIALIZED (
             |  SELECT node, dist FROM $pv
             |  UNION ALL SELECT node, CAST($i AS BIGINT) FROM f$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH $copurchasePairsSql,
          |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
          |                     UNION ALL SELECT v, u FROM pairs),
          |f0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym WHERE src % 50 = 0),
          |v0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM f0),
          |$rounds
          |SELECT node, dist FROM v4 ORDER BY node"""
      }) { (s, dir, m) =>
      // Two-step compact cache (Materialize.compact): thresholded edges
      // re-persist at a data-derived partition count before the round loop.
      val (edges, parts) = m.compact(copurchasePairs(s, dir))
      val sym = edges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      // seeds restricted to graph nodes: BFS distance is defined on the
      // graph, and the oracle's f0 derives from sym the same way
      var frontier = m.checkpoint(sym.select("src").distinct()
        .filter(col("src") % 50 === 0).select(col("src").as("node")), parts)
      var visited = m.checkpoint(frontier.withColumn("dist", lit(0L)), parts)
      for (d <- 1 to 4) {
        val nbrs = sym
          .join(frontier.select(col("node").as("src")).hint("shuffle_hash"), Seq("src"), "left_semi")
          .select(col("dst").as("node")).distinct()
        frontier = m.checkpoint(nbrs
          .join(visited.select("node").hint("shuffle_hash"), Seq("node"), "left_anti"), parts)
        visited = m.checkpoint(
          visited.unionAll(frontier.withColumn("dist", lit(d.toLong))), parts)
      }
      m.result(visited.orderBy("node"))
    },

    sqlEager(
      "g05_common_neighbors",
      "common-neighbor link prediction over the co-purchase graph (the similarity/recommendation primitive the g-family was missing: 'parts bought with the same companions' — rank NON-adjacent node pairs by shared-neighbor structure): for every unordered non-edge pair with >= 2 common neighbors, the common-neighbor count and neighborhood Jaccard |N(a) ∩ N(b)| / |N(a) ∪ N(b)|. Integer wedge counts, r4 ratio; the oracle replays wedge join, degree join, and the existing-edge anti-join exactly. Scale posture: candidate pairs form ONLY through the wedge equi-join on the shared middle vertex (never nodes × nodes), the same O(Σ deg²) bound as g02's wedge phase, which the support-2 edge threshold keeps corpus-proportional; on the power-law degrees g13 measures a mega-hub middle alone contributes a quadratic term, and the join stays uncapped so this oracle replays it bit-exact",
      s"""WITH $copurchasePairsSql,
        |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
        |                     UNION ALL SELECT v, u FROM pairs),
        |deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |                     FROM sym GROUP BY src),
        |cn AS (SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common
        |       FROM sym e1 JOIN sym e2 ON e2.src = e1.src AND e1.dst < e2.dst
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |ne AS (SELECT cn.a, cn.b, cn.common FROM cn
        |       LEFT JOIN pairs p ON p.u = cn.a AND p.v = cn.b WHERE p.u IS NULL)
        |SELECT ne.a, ne.b, ne.common,
        |       floor(ne.common * 1.0 / (da.d + db.d - ne.common) * 10000 + 0.5) / 10000 AS jaccard
        |FROM ne JOIN deg da ON da.node = ne.a JOIN deg db ON db.node = ne.b
        |ORDER BY ne.a, ne.b""") { (s, dir, m) => commonNeighbors(s, dir, m = m) },

    sqlEager(
      "g06_assortativity",
      "degree assortativity of the co-purchase graph (Newman's r — the graph-profiling scalar that tells you whether hubs link to hubs (r>0, social-style) or to leaves (r<0, dependency-style), which decides whether g02-style wedge work concentrates or spreads and whether a hub degree cap is even needed): every moment (Σjk, Σ(j+k), Σ(j²+k²) over edge-endpoint degree pairs) is an EXACT integer aggregate the driver hash pins directly; floats appear only in the final Pearson assembly, built from the same shared subterms in the same order in both engines (b = S2/2M computed once, then b·b — never pow(), whose libm rounding is not contractual), rounded r6, with a zero-variance guard. Scale posture: one keyed degree aggregation + one edge-keyed degree join (the g02 ori shape) + a single scalar fold — no new join shapes beyond what g02 already pays",
      s"""WITH $copurchasePairsSql,
        |deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS x FROM pairs UNION ALL SELECT v AS x FROM pairs) GROUP BY x),
        |ed AS (SELECT du.d AS j, dv.d AS k
        |       FROM pairs p JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v),
        |sums AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |                CAST(sum(j * k) AS BIGINT) AS s1,
        |                CAST(sum(j + k) AS BIGINT) AS s2,
        |                CAST(sum(j * j + k * k) AS BIGINT) AS s3
        |         FROM ed),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |terms AS (SELECT m, s1, s2, s3, n_nodes,
        |                 CAST(s1 AS DOUBLE) / m AS a,
        |                 CAST(s2 AS DOUBLE) / (2 * m) AS b,
        |                 CAST(s3 AS DOUBLE) / (2 * m) AS c
        |          FROM sums, nn)
        |SELECT n_nodes, m AS n_edges, s1, s2, s3,
        |       floor((2.0 * m / n_nodes) * 10000 + 0.5) / 10000 AS avg_degree,
        |       CASE WHEN c - b * b = 0 THEN 0.0
        |            ELSE floor(((a - b * b) / (c - b * b)) * 1000000 + 0.5) / 1000000 END
        |         AS assortativity
        |FROM terms""") { (s, dir, m) =>
      // Two-step compact cache (Materialize.compact — r10's one weak flag
      // was this site skipping it: the wide cache, left at full shuffle
      // parallelism post-r10's full-parallel support agg, charged the deg
      // agg + two edge joins 51 s of near-empty executor tasks for a
      // one-row answer).
      val (pairs, _) = m.compact(copurchasePairs(s, dir))
      val deg = pairs.select(col("u").as("node")).unionAll(pairs.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).cast("long").as("d"))
      val nn = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
      val sums = pairs
        .join(deg.select(col("node").as("u"), col("d").as("j")).hint("shuffle_hash"), "u")
        .join(deg.select(col("node").as("v"), col("d").as("k")).hint("shuffle_hash"), "v")
        .agg(count(lit(1)).cast("long").as("m"),
          sum(col("j") * col("k")).cast("long").as("s1"),
          sum(col("j") + col("k")).cast("long").as("s2"),
          sum(col("j") * col("j") + col("k") * col("k")).cast("long").as("s3"))
      m.result(sums.crossJoin(nn)
        .withColumn("a", col("s1").cast("double") / col("m"))
        .withColumn("b", col("s2").cast("double") / (col("m") * 2))
        .withColumn("c", col("s3").cast("double") / (col("m") * 2))
        .select(col("n_nodes"), col("m").as("n_edges"), col("s1"), col("s2"), col("s3"),
          r4(lit(2.0) * col("m") / col("n_nodes")).as("avg_degree"),
          when(col("c") - col("b") * col("b") === 0, lit(0.0))
            .otherwise(r6((col("a") - col("b") * col("b")) / (col("c") - col("b") * col("b"))))
            .as("assortativity")))
    },

    sqlEager(
      "g07_label_prop",
      "synchronous label-propagation community detection over the co-purchase graph (the community-assignment primitive beside g01 centrality, g02 density, g03 coreness: which parts cluster into co-bought families — the graph analog of the d08/p06 duplicate-cluster representative step): labels start as node ids and for 4 synchronous rounds every node adopts its neighbors' MOST FREQUENT label, ties broken by smallest label — the classic LPA update made fully deterministic (no async sweep order, no RNG), so every round is an exact integer relation both engines reproduce; output = per final community its size and min/max member. Bounded-round contract (the g03/g04 pattern): both engines run the SAME 4 rounds, the oracle unrolls them as chained MATERIALIZED CTEs over the shared co-purchase edge SQL. Scale posture: each round is one edge-keyed equi-join (labels against the cached symmetric edge list) + two keyed aggregations — O(rounds x E) shuffle rows of 8-16 B, the Pregel superstep shape; labels are localCheckpoint-truncated per round (the kcorePeel lineage lesson), the edge list is the compact-cached support-2 graph (corpus-proportional, see g02), and at 100 TB the same loop runs on reliable checkpoints with a hub degree cap exactly as g05 documents",
      {
        // round k: per-node neighbor-label frequencies, then the
        // deterministic argmax (count DESC, label ASC). MATERIALIZED for
        // the same reason as g03/g04: each round's CTE is referenced by
        // the next, and DuckDB would otherwise inline the whole chain.
        val rounds = (1 to 4).map { i =>
          val prev = s"l${i - 1}"
          s"""n$i AS (SELECT s.src, l.label, CAST(count(*) AS BIGINT) AS c
             |        FROM sym s JOIN $prev l ON l.node = s.dst GROUP BY 1, 2),
             |l$i AS MATERIALIZED (
             |  SELECT src AS node, label FROM (
             |    SELECT src, label,
             |           row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
             |    FROM n$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $copurchasePairsSql,
          |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
          |                     UNION ALL SELECT v, u FROM pairs),
          |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym),
          |$rounds
          |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members,
          |       min(node) AS min_member, max(node) AS max_member
          |FROM l4 GROUP BY label ORDER BY community"""
      }) { (s, dir, m) =>
      // KEYED sym cache (r19, §2.4): every round joins sym on dst, so it
      // materializes under hashpartitioning(dst) and all four rounds read
      // the cache partitions directly instead of re-exchanging the full
      // edge list per round (symEdges scaladoc)
      val (sym, parts) = symEdges(s, dir, "dst", m)
      var labels = m.checkpoint(sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), parts)
      for (_ <- 1 to 4) {
        val nbr = sym
          .join(labels.select(col("node").as("dst"), col("label")).hint("shuffle_hash"), "dst")
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
        // deterministic argmax via struct ordering: min over (-count,
        // label) = highest frequency, then smallest label — no window,
        // no sort, one keyed aggregation
        labels = m.checkpoint(nbr
          .groupBy(col("src").as("node"))
          .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
          .select(col("node"), col("m.label").as("label")), parts)
      }
      m.result(labels.groupBy("label")
        .agg(count(lit(1)).as("n_members"),
          min("node").as("min_member"), max("node").as("max_member"))
        .select(col("label").as("community"), col("n_members"),
          col("min_member"), col("max_member"))
        .orderBy("community"))
    },

    sqlEager(
      "g08_clustering_coeff",
      "per-degree local clustering-coefficient profile of the co-purchase graph (the transitivity / local-density diagnostic that completes the g-family: g02 counts triangles globally, g08 asks WHERE the closure lives — do high-degree hub parts sit in closed co-bought families or in open stars, the structural signal a graph-curation pass uses to separate organic clusters from crawl/spam hubs): per-node triangle participation t(v) comes from the SAME degree-ordered oriented wedge-close join as g02 — each closed triangle a->b->c emits its three member nodes exactly once — and the report groups nodes by degree so the average coefficient avg(2t / d(d-1)) is computable as one exact expression 2*sum(t) / (d*(d-1)*n) per bucket: integers end-to-end until a single IEEE division, no per-node float averaging whose accumulation order could diverge between engines. Scale posture: identical to g02 (one order-keyed pair build, support-2 threshold bounding E, O(wedges) 16-byte shuffle rows through two shuffle_hash equi-joins), plus one node-keyed explode/count of the triangle triples and one degree-keyed aggregation over |V| rows — the output is degree-histogram-sized, never node-sized",
      s"""WITH $copurchasePairsSql,
        |$orientedEdgesSql,
        |tris AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |         FROM ori e1
        |         JOIN ori e2 ON e2.src = e1.dst
        |         JOIN ori e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS t
        |         FROM (SELECT unnest([a, b, c]) AS node FROM tris) GROUP BY node)
        |SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(t) AS BIGINT) AS tri_sum,
        |       CASE WHEN d >= 2
        |            THEN floor((2.0 * sum(t) / (d * (d - 1) * count(*))) * 1000000 + 0.5) / 1000000
        |            ELSE 0.0 END AS avg_local_cc
        |FROM (SELECT deg.node, deg.d, COALESCE(tc.t, 0) AS t
        |      FROM deg LEFT JOIN tcnt tc ON tc.node = deg.node)
        |GROUP BY d ORDER BY degree""") { (s, dir, m) =>
      // Shared edge/degree/orientation/wedge build (orientedTriangles, with
      // g02); the only new plan pieces are the triple explode (3 rows per
      // triangle — each triangle closes exactly once under the orientation,
      // so the explode credits every node once per triangle) and the
      // degree-keyed rollup.
      val (_, deg, tris) = orientedTriangles(s, dir, m)
      val tcnt = tris
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("t"))
      m.result(deg.join(tcnt, Seq("node"), "left")
        .select(col("d"), coalesce(col("t"), lit(0L)).as("t"))
        .groupBy(col("d").as("degree"))
        .agg(count(lit(1)).as("n_nodes"), sum("t").as("tri_sum"))
        .select(col("degree"), col("n_nodes"), col("tri_sum"),
          when(col("degree") >= 2,
            r6(lit(2.0) * col("tri_sum") /
              (col("degree") * (col("degree") - lit(1)) * col("n_nodes"))))
            .otherwise(lit(0.0)).as("avg_local_cc"))
        .orderBy("degree"))
    },

    sql(
      "g12_edge_jaccard",
      "co-occurrence edge strength (Jaccard of order sets) over the support-2 co-purchase graph — the edge-weighting step between raw co-occurrence counts and every weighted-graph consumer (g05's link prediction scores candidates by shared neighbors; this scores the EDGE itself, the neighborhood-overlap normalization that demotes popular-item edges whose raw support is high only because both endpoints are everywhere): for each co-purchase pair, |orders(u) ∩ orders(v)| is the pair count the basket kernel already produces, degrees are per-part distinct-order counts, and jaccard_ppm = n_common*1e6 div (n_u + n_v - n_common) is one flooring division on non-negative integers. The Spark side never self-joins the (order, part) table — pairs explode MAP-SIDE from each order's sorted part array (the q105 A-priori kernel at part grain instead of brand grain), so pair generation costs zero shuffle beyond the basket groupBy; the oracle keeps the classical self-join to prove the kernel equivalent. Scale posture: one shuffle to form baskets, combinations local, one (u,v)-keyed count, degree join keyed on part — O(pairs) 16-24 B rows throughout, the d04-class banding discipline: an order with B parts emits B(B−1)/2 pairs map-side, quadratic in the basket, bounded here by the DATA CONTRACT (a TPC-H order holds <= 7 lineitems at every scale factor, so <= 21 pairs/basket)",
      """WITH ob AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS nd FROM ob GROUP BY p),
        |pr AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS nuv
        |       FROM ob a JOIN ob b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
        |SELECT u, v, nuv AS n_common, du.nd AS n_u, dv.nd AS n_v,
        |       CAST(nuv * 1000000 // (du.nd + dv.nd - nuv) AS BIGINT) AS jaccard_ppm
        |FROM pr JOIN deg du ON du.p = u JOIN deg dv ON dv.p = v
        |WHERE nuv >= 2
        |ORDER BY u, v""") { (s, dir) => edgeJaccard(s, dir) },

    g13Entry,

    sqlEager(
      "g14_adamic_adar",
      "Adamic-Adar link prediction over the co-purchase graph (the hub-discounting upgrade of g05: a shared RARE companion is strong evidence two parts belong together, a shared EVERYWHERE-hub is weak — AA weights each common neighbor by 1/ln(degree) so mega-hubs stop dominating the candidate ranking, which is why recommender candidate-gen uses AA over raw counts on power-law graphs like g13 measures): for every non-adjacent pair with >= 2 common neighbors, common count and aa_score = Σ over shared middles of 1e12 div ln_grid(deg(m)) — each middle's weight ONE flooring division off the 1e6 ln grid (the t26/t31 idiom; a wedge middle always has degree >= 2 so ln > 0), the per-pair sum an order-independent exact BIGINT. Scale posture: g05's exact join shape (wedge equi-join on the middle, never nodes x nodes) plus one middle-keyed weight join: AA's 1/ln(deg) discount shrinks a hub's SCORE, not the join volume",
      s"""WITH $copurchasePairsSql,
        |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
        |                     UNION ALL SELECT v, u FROM pairs),
        |deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |                     FROM sym GROUP BY src),
        |w AS (SELECT node, CAST(1000000000000 // CAST(floor(ln(d * 1.0) * 1000000 + 0.5) AS BIGINT) AS BIGINT) AS w
        |      FROM deg WHERE d >= 2),
        |cn AS (SELECT e1.dst AS a, e2.dst AS b,
        |              CAST(count(*) AS BIGINT) AS common, CAST(sum(w.w) AS BIGINT) AS aa_score
        |       FROM sym e1 JOIN sym e2 ON e2.src = e1.src AND e1.dst < e2.dst
        |       JOIN w ON w.node = e1.src
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |ne AS (SELECT cn.a, cn.b, cn.common, cn.aa_score FROM cn
        |       LEFT JOIN pairs p ON p.u = cn.a AND p.v = cn.b WHERE p.u IS NULL)
        |SELECT a, b, common, aa_score FROM ne ORDER BY a, b""") { (s, dir, m) => adamicAdar(s, dir, m = m) },

    sqlEager(
      "g15_hits",
      "HITS hubs-and-authorities ranking (Kleinberg's dual of g01's PageRank on the DIRECTED bipartite trade graph — PageRank scores one stationary walk, HITS mutually recurses two roles: a good buyer (hub) is one who buys from good suppliers (authorities), and a good supplier is one good buyers buy from; the supplier-quality signal a marketplace or curation pipeline reads when endorsement direction matters): two unrolled iterations over the distinct customer->supplier edge set, every step an edge-keyed join + destination-keyed sum with L1 NORMALIZATION back to the 1e12 integer grid (score*1e12 div total — the grid absorbs HITS's scale-invariance, so no float norm exists to diverge; per-node sums widen through HUGEINT/DECIMAL(38,0) because 1e9 edges x 1e12-grid scores brush 1e21). Output: top-20 authorities under the (auth_scaled DESC, node) total order with in-degree carried — the rank-vs-degree gap IS the signal (an authority beats its in-degree when GOOD hubs point at it). Scale posture: the edge list derives once (one fact join + distinct) and persists compact; each half-iteration is one rank-join into the edges + one keyed aggregation; the three normalization TOTALS are broadcast 1-row scalars (g01's shape), and the NODE-sized rank tables broadcast into the cached edges too (the measured bench plan), so only the map-side-combined destination agg shuffles",
      """WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
        |                  CAST(l_suppkey + 1000000 AS BIGINT) AS s
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |nc AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS n FROM e),
        |h0 AS (SELECT c, 1000000000000 // n AS h FROM (SELECT DISTINCT c FROM e) CROSS JOIN nc),
        |a1r AS (SELECT e.s, CAST(sum(CAST(h0.h AS HUGEINT)) AS HUGEINT) AS r
        |        FROM e JOIN h0 USING (c) GROUP BY e.s),
        |a1t AS (SELECT CAST(sum(r) AS HUGEINT) AS t FROM a1r),
        |a1 AS (SELECT s, CAST(r * 1000000000000 // t AS BIGINT) AS a FROM a1r CROSS JOIN a1t),
        |h1r AS (SELECT e.c, CAST(sum(CAST(a1.a AS HUGEINT)) AS HUGEINT) AS r
        |        FROM e JOIN a1 USING (s) GROUP BY e.c),
        |h1t AS (SELECT CAST(sum(r) AS HUGEINT) AS t FROM h1r),
        |h1 AS (SELECT c, CAST(r * 1000000000000 // t AS BIGINT) AS h FROM h1r CROSS JOIN h1t),
        |a2r AS (SELECT e.s, CAST(sum(CAST(h1.h AS HUGEINT)) AS HUGEINT) AS r
        |        FROM e JOIN h1 USING (c) GROUP BY e.s),
        |a2t AS (SELECT CAST(sum(r) AS HUGEINT) AS t FROM a2r),
        |a2 AS (SELECT s, CAST(r * 1000000000000 // t AS BIGINT) AS a FROM a2r CROSS JOIN a2t),
        |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS in_deg FROM e GROUP BY s)
        |SELECT a2.s AS node, deg.in_deg, a2.a AS auth_scaled
        |FROM a2 JOIN deg ON deg.s = a2.s
        |ORDER BY auth_scaled DESC, node LIMIT 20""") { (s, dir, m) => hitsRanking(s, dir, m = m) },

    sqlEager(
      "g16_hyperball_anf",
      "HyperBall approximate neighborhood function (Boldi/Vigna WWW'13 — the 100 TB form g10's scaladoc promised: g10 grows EXACT per-seed balls, O(rounds x frontier x degree) pair rows that at web scale become the graph's full transitive neighborhood, while HyperBall replaces each node's ball with one 512-register HyperLogLog COUNTER merged along edges — state O(V x 512) regardless of ball size, every round one edge-keyed join + register-keyed min): each node starts with its own splitmix hash in one register, h rounds of neighbor-merge give counters covering B(v,h), and a06's PROVEN-replayable fixed-order estimator (HUGEINT register sums, one double division chain, linear counting below 2.5m with empty registers) reads each node's ball size — so the whole loop, registers to estimates, replays bit-exact in DuckDB with machinery already behind the gate (the oracle replays the relational (node, idx, min w) register grain — min w IS elementwise max-rho, a06's duplicate-insensitive semantics; the Spark side runs Boldi/Vigna's PACKED layout — one 512-byte blob per node folding through the IDENTICAL HllDistinct reduce/merge/finish the batch a06 runs — because the row-per-register grain multiplies each round's shuffle by registers-per-node: the 10x probe measured it ~100x cpu for 10x edges, while packed blobs carry exactly one <= 520 B message per edge with map-side blob combine, O(E) per round). Output: the h = 0..3 curve — node count, seed count (g10's node % 100 sample), Sigma-ball ANF estimate over ALL nodes AND over the seed sample (the column the error-envelope spec checks against g10's exact Sigma|B(s,h)|), mean ball ppm. Scale posture: one edge-keyed join + one node-keyed blob merge per round, 512 B of state per node regardless of ball size; the estimator is one map-side pass; no frontier, no pair explosion — THE neighborhood primitive that survives 1e9 nodes",
      {
        val curve = (0 to 3).map { h =>
          s"""SELECT CAST($h AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS n_nodes,
             |       CAST(sum(CASE WHEN node % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
             |       CAST(sum(est) AS BIGINT) AS anf_est,
             |       CAST(sum(CASE WHEN node % 100 = 0 THEN est ELSE 0 END) AS BIGINT) AS seed_anf_est,
             |       CAST((1000000 * CAST(sum(est) AS HUGEINT)) // count(*) AS BIGINT) AS avg_ball_ppm
             |FROM fin$h""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $hyperballCtesSql
           |$curve
           |ORDER BY h"""
      }) { (s, dir, m) =>
      val (rounds, readEst) = hyperballRounds(s, dir, m)
      def curveRow(h: Int, regsH: DataFrame): DataFrame =
        regsH
          .select(col("node"), readEst(col("blob")).as("est"))
          .agg(count(lit(1)).cast("long").as("n_nodes"),
            sum(when(col("node") % 100 === 0, 1L).otherwise(0L)).cast("long").as("n_seeds"),
            sum("est").cast("long").as("anf_est"),
            sum(when(col("node") % 100 === 0, col("est")).otherwise(0L)).cast("long").as("seed_anf_est"))
          .select(lit(h.toLong).as("h"), col("n_nodes"), col("n_seeds"),
            col("anf_est"), col("seed_anf_est"),
            expr("(1000000 * cast(anf_est as decimal(38,0))) div n_nodes")
              .cast("long").as("avg_ball_ppm"))
      m.result(rounds.zipWithIndex.map { case (r, h) => curveRow(h, r) }
        .reduce(_ unionAll _)
        .orderBy("h"))
    },

    sqlEager(
      "g17_weighted_pagerank",
      "strength-weighted PageRank (2 unrolled iterations) over the customer<->supplier trade graph with edge weight = DISTINCT shared orders — the repeat-business-weighted authority g01 cannot express: g01's uniform 1/deg walk scores a supplier by HOW MANY customers touch it, this scores by how much RECURRING business flows through each edge (one 50-order relationship outweighs fifty 1-order drive-bys — the domain-trust weighting a curation pipeline wants when edge strength, not mere adjacency, is the signal). Same 1e12 integer grid and bit-identical-ranks contract as g01: per-edge contribution = rank * w div strength (the flooring division per edge, summed exactly), strength = each node's total edge weight (replacing g01's degree), restart term (15% div n) identical. Output: top-20 nodes under (rank_scaled DESC, node) with strength carried — rank-vs-strength divergence is the signal (a node outranks its raw volume when its partners are themselves authoritative). Scale posture: the weighted edge list derives once (one fact join + (cust, supp)-keyed distinct-order count) and persists compact WITH the loop-invariant strength pre-joined, so each half-iteration is ONE rank join + one dst-keyed sum; node-sized rank tables broadcast as in g15 (the measured bench plan); the per-edge product rank * w stays LONG in the hot path (a DECIMAL product measured +25-30% cpu) under an a19-style LOUD bound — exact while max edge weight <= 8e6 distinct shared orders per (customer, supplier) pair, asserted via raise_error inside the used rank column so an exceeded bound fails the query instead of silently wrapping against the HUGEINT oracle",
      """WITH e0 AS (SELECT CAST(o.o_custkey AS BIGINT) AS c,
        |                  CAST(l.l_suppkey AS BIGINT) + 1000000 AS s,
        |                  CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS w
        |           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |           GROUP BY 1, 2),
        |edges AS (SELECT c AS src, s AS dst, w FROM e0 UNION ALL SELECT s, c, w FROM e0),
        |str AS (SELECT src, CAST(sum(w) AS BIGINT) AS wt FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS node,
        |              CAST(sum(CAST(r.r AS HUGEINT) * e.w // t.wt) AS BIGINT) AS m
        |       FROM edges e JOIN r0 r ON r.node = e.src JOIN str t ON t.src = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n0.node, (150000000000 // nn.n) + (85 * coalesce(c1.m, 0)) // 100 AS r
        |       FROM nodes n0 CROSS JOIN nn LEFT JOIN c1 ON c1.node = n0.node),
        |c2 AS (SELECT e.dst AS node,
        |              CAST(sum(CAST(r.r AS HUGEINT) * e.w // t.wt) AS BIGINT) AS m
        |       FROM edges e JOIN r1 r ON r.node = e.src JOIN str t ON t.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n0.node, (150000000000 // nn.n) + (85 * coalesce(c2.m, 0)) // 100 AS r
        |       FROM nodes n0 CROSS JOIN nn LEFT JOIN c2 ON c2.node = n0.node)
        |SELECT r2.node, str.wt AS strength, CAST(r2.r AS BIGINT) AS rank_scaled
        |FROM r2 JOIN str ON str.src = r2.node
        |ORDER BY rank_scaled DESC, node LIMIT 20""") { (s, dir, m) =>
      weightedPageRank(s, dir, m = m)
    },

    sqlEager(
      "g18_harmonic_centrality",
      "sampled harmonic centrality over the co-purchase graph (Boldi/Vigna's axiomatic pick — the closeness variant that SURVIVES DISCONNECTION: classic closeness 1/Sigma d(s,v) is undefined when any node is unreachable, harmonic Sigma 1/d(s,v) just scores the unreachable term 0, which is why it is THE centrality reported off web-scale crawls beside the g16 ANF curve it shares machinery with): for g10's deterministic seed sample, C_H(s) = Sigma_{h=1..3} |shell_h(s)| / h over the exact per-seed frontiers (the g04 bounded-round contract — both engines run the same 3 rounds), integerized per shell as n_h * 1e6 div h then summed exactly (flooring per shell, order-independent BIGINT sum). Output: every seed with its three shell sizes and harmonic_ppm, seed-ordered — the rank-vs-1-hop-degree gap is the signal (a seed with modest degree outranks a hub when its 2-3-hop reach is deeper). Scale posture: rides the seedFrontiers machinery g10 already pays for (frontier-only joins, localCheckpoint rounds); the per-seed rollup is three seed-keyed counts + a seed-sample-sized join, and at 100 TB the exact frontiers hand off to g16's per-node HLL registers exactly as the ANF curve does",
      s"""WITH $copurchasePairsSql,
        |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
        |                     UNION ALL SELECT v, u FROM pairs),
        |seeds AS MATERIALIZED (SELECT DISTINCT src AS seed FROM sym WHERE src % 100 = 0),
        |b0 AS MATERIALIZED (SELECT seed, seed AS node FROM seeds),
        |f1 AS MATERIALIZED (
        |  SELECT DISTINCT p.seed, s.dst AS node FROM sym s JOIN b0 p ON p.node = s.src
        |  WHERE NOT EXISTS (SELECT 1 FROM b0 b WHERE b.seed = p.seed AND b.node = s.dst)),
        |b1 AS MATERIALIZED (SELECT seed, node FROM b0 UNION ALL SELECT seed, node FROM f1),
        |f2 AS MATERIALIZED (
        |  SELECT DISTINCT p.seed, s.dst AS node FROM sym s JOIN f1 p ON p.node = s.src
        |  WHERE NOT EXISTS (SELECT 1 FROM b1 b WHERE b.seed = p.seed AND b.node = s.dst)),
        |b2 AS MATERIALIZED (SELECT seed, node FROM b1 UNION ALL SELECT seed, node FROM f2),
        |f3 AS MATERIALIZED (
        |  SELECT DISTINCT p.seed, s.dst AS node FROM sym s JOIN f2 p ON p.node = s.src
        |  WHERE NOT EXISTS (SELECT 1 FROM b2 b WHERE b.seed = p.seed AND b.node = s.dst)),
        |c1 AS (SELECT seed, CAST(count(*) AS BIGINT) AS n1 FROM f1 GROUP BY seed),
        |c2 AS (SELECT seed, CAST(count(*) AS BIGINT) AS n2 FROM f2 GROUP BY seed),
        |c3 AS (SELECT seed, CAST(count(*) AS BIGINT) AS n3 FROM f3 GROUP BY seed)
        |SELECT s.seed, CAST(coalesce(c1.n1, 0) AS BIGINT) AS n_1hop,
        |       CAST(coalesce(c2.n2, 0) AS BIGINT) AS n_2hop,
        |       CAST(coalesce(c3.n3, 0) AS BIGINT) AS n_3hop,
        |       CAST(coalesce(c1.n1, 0) * 1000000
        |            + (coalesce(c2.n2, 0) * 1000000) // 2
        |            + (coalesce(c3.n3, 0) * 1000000) // 3 AS BIGINT) AS harmonic_ppm
        |FROM seeds s LEFT JOIN c1 ON c1.seed = s.seed
        |             LEFT JOIN c2 ON c2.seed = s.seed
        |             LEFT JOIN c3 ON c3.seed = s.seed
        |ORDER BY s.seed""") { (s, dir, m) =>
      val (seeds, _, fs) = seedFrontiers(s, dir, m)
      val shells = fs.zipWithIndex.map { case (f, i) =>
        f.groupBy("seed").agg(count(lit(1)).cast("long").as(s"n${i + 1}"))
      }
      m.result(seeds
        .join(shells(0), Seq("seed"), "left")
        .join(shells(1), Seq("seed"), "left")
        .join(shells(2), Seq("seed"), "left")
        .na.fill(0L, Seq("n1", "n2", "n3"))
        .select(col("seed"), col("n1").as("n_1hop"), col("n2").as("n_2hop"),
          col("n3").as("n_3hop"),
          expr("n1 * 1000000 + (n2 * 1000000) div 2 + (n3 * 1000000) div 3")
            .cast("long").as("harmonic_ppm"))
        .orderBy("seed"))
    },

    sqlEager(
      "g19_hyperball_harmonic",
      "HyperBall-estimated harmonic centrality (Boldi/Vigna's actual use-case for HyperBall, and g18's promissory note made real — g18's scaladoc says the exact frontiers hand off to g16's per-node HLL registers at 100 TB; this IS that hand-off, closing the r16 verdict's ask #5): C_H(v) = Sigma_h (|B(v,h)| - |B(v,h-1)|)/h read ENTIRELY from the SAME packed 512-byte blobs the g16 ANF loop already carries (one shared hyperballRounds loop and one shared register-grain oracle CTE block, the seedFrontiers sharing discipline — the ball machinery cannot drift between the curve and the centrality), with per-shell estimates differenced as greatest(est_h - est_{h-1}, 0): register merges are monotone but the a06 estimator's linear-counting switchover is not STRICTLY so, and a negative estimated shell is noise, clamped identically in both dialects. Shells integerize as shell*1e6 div h, summed exactly (g18's flooring-per-shell contract). Output: g10/g18's deterministic seed sample (node % 100) with the four estimated ball sizes and harmonic_est_ppm; the error-envelope spec reads it against g18's exact shells on the shared seed set. Scale posture: identical to g16 — O(E) packed-blob messages per round, 512 B state per node, and the centrality read is a seed-filtered map over the ALREADY-checkpointed round frames plus three node-sized joins on the seed sample; no frontier, no pair explosion — the per-node centrality that survives 1e9 nodes, which g18's exact form cannot",
      s"""WITH $hyperballCtesSql
        |SELECT f0.node, f0.est AS ball_h0, f1.est AS ball_h1,
        |       f2.est AS ball_h2, f3.est AS ball_h3,
        |       CAST(greatest(f1.est - f0.est, 0) * 1000000
        |            + (greatest(f2.est - f1.est, 0) * 1000000) // 2
        |            + (greatest(f3.est - f2.est, 0) * 1000000) // 3 AS BIGINT) AS harmonic_est_ppm
        |FROM fin0 f0
        |JOIN fin1 f1 ON f1.node = f0.node
        |JOIN fin2 f2 ON f2.node = f0.node
        |JOIN fin3 f3 ON f3.node = f0.node
        |WHERE f0.node % 100 = 0
        |ORDER BY f0.node""") { (s, dir, m) =>
      val (rounds, readEst) = hyperballRounds(s, dir, m)
      val perRound = rounds.zipWithIndex.map { case (r, h) =>
        r.filter(col("node") % 100 === 0)
          .select(col("node"), readEst(col("blob")).as(s"ball_h$h"))
      }
      m.result(perRound.reduce((a, b) => a.join(b, Seq("node")))
        .select(col("node"), col("ball_h0"), col("ball_h1"), col("ball_h2"), col("ball_h3"),
          (greatest(col("ball_h1") - col("ball_h0"), lit(0L)) * 1000000L
            + expr("(greatest(ball_h2 - ball_h1, 0L) * 1000000) div 2")
            + expr("(greatest(ball_h3 - ball_h2, 0L) * 1000000) div 3"))
            .cast("long").as("harmonic_est_ppm"))
        .orderBy("node"))
    },
  )

  /** g16/g19's shared packed-register HyperBall loop (Boldi/Vigna's word
    * layout): each node's counter is ONE 512-byte blob — HllDistinct's
    * buffer, initialized with the node's own hash via the SAME reduce the
    * batch a06 runs, merged along edges by HllRegMerge's elementwise max,
    * and read by the SAME finish(). The relational row-per-register grain
    * the ORACLE replays is semantically identical (min-w rows ⟺ max-rho
    * bytes) but multiplies each round's shuffle by registers-per-node: the
    * 10× nonlinearity probe measured it at ~100× cpu for 10× edges, while
    * the packed form carries exactly one ≤520 B message per edge +
    * map-side-combined blob merges — O(E) per round, the posture both
    * registry docs claim. Returns the four per-round register frames
    * (h = 0..3, each checkpointed so downstream readers never re-run the
    * loop) plus the estimate-reading udf. The round frames are checkpoint
    * blocks of the caller's scope, released once its result fills, so g16
    * and g19 each run their own loop. The edge cache itself is released
    * before returning: every round is already eagerly checkpointed, so no
    * downstream reader needs it.
    */
  private def hyperballRounds(s: SparkSession, dir: String, m: Materialize):
      (Seq[DataFrame], org.apache.spark.sql.expressions.UserDefinedFunction) = {
    // KEYED sym cache (r19, §2.4): every merge round joins sym on dst, so
    // the cache materializes under hashpartitioning(dst) and the three
    // rounds read its partitions directly instead of re-exchanging the
    // full edge list each round (symEdges scaladoc).
    val (sym, parts) = symEdges(s, dir, "dst", m)
    val hll = new graft.functions.Aggregators.HllDistinct(13L)
    val init = udf((node: Long) => hll.reduce(hll.zero, node))
    val readEst = udf((blob: Array[Byte]) => hll.finish(blob))
    val mergeRegs = udaf(new graft.functions.Aggregators.HllRegMerge)
    var regs = m.checkpoint(sym.select(col("src").as("node")).distinct()
      .select(col("node"), init(col("node")).as("blob")), parts)
    val rounds = Seq.newBuilder[DataFrame]
    rounds += regs
    for (_ <- 1 to 3) {
      regs = m.checkpoint(regs.unionAll(
          sym.join(regs.select(col("node").as("dst"), col("blob"))
            .hint("shuffle_hash"), Seq("dst"))
            .select(col("src").as("node"), col("blob")))
        .groupBy("node").agg(mergeRegs(col("blob")).as("blob")), parts)
      rounds += regs
    }
    // every round is eagerly checkpointed above — the edge cache has no
    // remaining reader (r17 ADVICE #2)
    m.release(sym)
    (rounds.result(), readEst)
  }

  /** g15's body — see the registry doc for the semantics. The rank
    * tables (one ~16 B row per customer/supplier with edges) broadcast
    * into the cached edges: without the hint SMJ sorted the 600k-edge side
    * three times (r15 bench: 7.9 s wall / 17.9 cpu vs 4.65 s with).
    * Under [[Materialize.Lazy]] the same dataflow plans with no
    * materialization barriers, so PlanAudit reads the real join
    * strategies instead of InMemoryTableScan leaves.
    */
  private[graft] def hitsRanking(s: SparkSession, dir: String,
      m: Materialize = Materialize.eager()): DataFrame = {
    val (e, eParts) = m.compact(
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + 1000000L).as("s"))
        .distinct())
    // Per-level materialization (r18 optimization): every rank table is
    // node-sized, but un-materialized each level's NORMALIZATION reads its
    // raw sum twice (total + quotient) and each next level re-expands the
    // whole chain — the final g15 plan re-ran the e-join aggregation ~12×
    // (282 HashAggregate / 376 Exchange nodes in the audited before-plan,
    // plans/r18/g15_hits_before.txt). A persist + count barrier per level
    // (the g02 compact-cache fill discipline) makes each half-iteration
    // run exactly once; caches release after the result materializes.
    def normalize(raw0: DataFrame, key: String, out: String): DataFrame = {
      val raw = m.fill(raw0, eParts)
      val t = raw.agg(sum("r").cast("decimal(38,0)").as("t"))
      raw.crossJoin(broadcast(t))
        .select(col(key), expr("(r * 1000000000000) div t").cast("long").as(out))
    }
    val nc = e.agg(countDistinct("c").cast("long").as("n"))
    val h0 = e.select("c").distinct().crossJoin(broadcast(nc))
      .select(col("c"), expr("1000000000000 div n").as("h"))
    val a1 = normalize(
      e.join(broadcast(h0), Seq("c")).groupBy("s")
        .agg(sum(col("h").cast("decimal(38,0)")).as("r")), "s", "a")
    val h1 = normalize(
      e.join(broadcast(a1), Seq("s")).groupBy("c")
        .agg(sum(col("a").cast("decimal(38,0)")).as("r")), "c", "h")
    val a2 = normalize(
      e.join(broadcast(h1), Seq("c")).groupBy("s")
        .agg(sum(col("h").cast("decimal(38,0)")).as("r")), "s", "a")
    // deg stays unhinted: AQE's call, the r15 bench plan verbatim
    val deg = e.groupBy("s").agg(count(lit(1)).cast("long").as("in_deg"))
    // g01's lifecycle: materialize the (20-row) result, then release the
    // level caches and the edge cache — no reader remains
    m.result(a2.join(deg, Seq("s"))
      .select(col("s").as("node"), col("in_deg"), col("a").as("auth_scaled"))
      .orderBy(desc("auth_scaled"), col("node"))
      .limit(20))
  }

  /** Exact per-seed frontier expansion over the support-2 co-purchase
    * graph — the ball machinery shared by g10 (ANF curve) and g18
    * (harmonic centrality) so the two entries cannot drift on it: seeds
    * are nodes ≡ 0 mod 100, and each round joins ONLY last round's new
    * (seed, node) pairs against the cached symmetric edge list, anti-joins
    * the ball, and checkpoints (g04's bounded-round contract, per-seed)
    * in the caller's scope. Returns (seeds, the h = 0 ball, the h = 1..3
    * frontiers).
    */
  private def seedFrontiers(s: SparkSession, dir: String, m: Materialize)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    // KEYED sym cache (r19, §2.4): every expansion round joins sym on src,
    // so the cache materializes under hashpartitioning(src) and the three
    // rounds read its partitions directly instead of re-exchanging the
    // full edge list each round (symEdges scaladoc).
    val (sym, parts) = symEdges(s, dir, "src", m)
    // seeds checkpoints like the frontiers (r18 optimization): g10's four
    // curve rows each broadcast a seed-count scalar, and un-materialized
    // every one re-ran the sym distinct over the edge cache (41 cache
    // re-reads in the audited before-plan vs g18's 9)
    val seeds = m.checkpoint(sym.select("src").distinct().filter(col("src") % 100 === 0)
      .select(col("src").as("seed")), parts)
    var ball = m.checkpoint(seeds.select(col("seed"), col("seed").as("node")), parts)
    val b0 = ball
    var frontier = ball
    val fs = (1 to 3).map { _ =>
      val nbrs = sym
        .join(frontier.select(col("seed"), col("node").as("src")).hint("shuffle_hash"), Seq("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
      frontier = m.checkpoint(nbrs
        .join(ball.hint("shuffle_hash"), Seq("seed", "node"), "left_anti"), parts)
      ball = m.checkpoint(ball.unionAll(frontier), parts)
      frontier
    }
    // seeds/balls/frontiers are all eagerly checkpointed — the edge cache
    // has no remaining reader (the hyperballRounds lifecycle)
    m.release(sym)
    (seeds, b0, fs)
  }

  /** g17's body — g01's walk on the DISTINCT-shared-orders weighted edge
    * list. The loop-invariant strength (each node's total edge weight)
    * is pre-joined into the compact persisted edges so every iteration
    * is exactly one rank join + one destination-keyed sum; the node-sized
    * rank tables broadcast, as in [[hitsRanking]].
    * [[Materialize.Lazy]] plans the same dataflow with no caches.
    */
  private[graft] def weightedPageRank(s: SparkSession, dir: String,
      m: Materialize = Materialize.eager()): DataFrame = {
    val e00 = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").cast("long").as("c"),
        (col("l_suppkey").cast("long") + 1000000L).as("sk"))
      .agg(countDistinct("o_orderkey").cast("long").as("w"))
    // One fact pass (r18 optimization): e0 feeds sym TWICE (the two edge
    // directions) and str once more — un-cached, the compact cache's fill
    // below re-ran the orders⋈lineitem aggregation per consumer and every
    // later nodes/nn evaluation re-expanded it again (282 parquet scans in
    // the audited before-plan, plans/r18/g17_weighted_pagerank_before.txt).
    // e0 is (customer, supplier)-pair-sized; released once e fills.
    val e0 = m.fill(e00)
    val sym = e0.select(col("c").as("src"), col("sk").as("dst"), col("w"))
      .unionAll(e0.select(col("sk").as("src"), col("c").as("dst"), col("w")))
    val str = sym.groupBy("src").agg(sum("w").cast("long").as("wt"))
    // strength is loop-invariant: bake it into the cached edge list so
    // the per-round plan is one rank join + one keyed sum, nothing else.
    // The pre-join's str side stays UNHINTED (AQE's call — the measured
    // bench plan, as g15's deg)
    // r19 measured negative: a keyed compact cache here (src, the
    // d09/g09 pattern) read take-3 cpu 6.8 → 13.7 — without the two-step
    // wide persist the sym⋈str pre-join loses its AQE runtime broadcast
    // and replans as a full shuffle join under the keyed exchange; in the
    // broadcast plan the rounds never re-exchange e anyway, so the
    // keyed cache had nothing to save. Kept on the two-step compact.
    val (e, eParts) = m.compact(sym.join(str, Seq("src")))
    m.release(e0)
    // Per-level materialization (r18 optimization, the hitsRanking
    // discipline): nodes and each round's rank table are node-sized;
    // un-materialized, every broadcast/round consumer re-expanded their
    // full lineage. persist + count barrier per frame, released after the
    // result materializes.
    val nodes = m.fill(e.select("src").distinct(), eParts)
    // the per-edge contribution r * w stays LONG in the hot path (a
    // DECIMAL product here measured 23 s cpu vs 16-20 at sf0.1 — 25-30%
    // of the whole query): r < 1.1e12 on the grid, so the product is
    // exact while max(w) <= 8e6 — 8M distinct orders between ONE
    // (customer, supplier) pair, orders of magnitude beyond any real
    // corpus. The a19 discipline makes the bound LOUD instead of silent:
    // it is asserted inside r0's rank column (used, so never pruned),
    // and a corpus that exceeds it fails the query rather than
    // hash-mismatching the HUGEINT oracle.
    val nn = nodes.agg(count(lit(1)).cast("long").as("n"))
      .crossJoin(e.agg(max("w").cast("long").as("mw")))
    val r0 = nodes.crossJoin(broadcast(nn))
      .select(col("src"),
        when(col("mw") <= 8000000L, expr("1000000000000 div n"))
          .otherwise(expr("raise_error('g17: max edge weight exceeds the " +
            "LONG contribution bound — widen r * w to DECIMAL')").cast("long"))
          .as("r"))
    def round(r: DataFrame): DataFrame = {
      val contrib = e.join(broadcast(r), Seq("src"))
        .groupBy(col("dst").as("src"))
        .agg(sum(expr("(r * w) div wt")).cast("long").as("m"))
      nodes.crossJoin(broadcast(nn))
        .join(broadcast(contrib), Seq("src"), "left")
        .select(col("src"),
          (expr("150000000000 div n") + expr("(85 * coalesce(m, 0)) div 100")).as("r"))
    }
    // round 1 materializes so round 2's plan starts from the cached rank
    // table instead of re-expanding the whole first round; round 2 feeds
    // only the final join, so it stays lazy
    val r2 = round(m.fill(round(r0), eParts))
    // final strength column: read (src, wt) off the CACHED edge list (wt
    // is functionally determined by src there — it was joined in per src),
    // instead of re-deriving str from the raw fact pass
    val strOut = e.groupBy("src").agg(max("wt").cast("long").as("wt"))
    m.result(r2.join(broadcast(strOut), Seq("src"))
      .select(col("src").as("node"), col("wt").as("strength"),
        col("r").cast("long").as("rank_scaled"))
      .orderBy(desc("rank_scaled"), col("node"))
      .limit(20))
  }

  /** Symmetrized edge list (both directions of each u<v edge) — the wedge
    * join's base relation, shared by g05/g14 so the two entries cannot
    * drift on it.
    */
  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))

  /** Symmetrized co-purchase edge list compacted KEYED by `key` in `m`
    * (r19, guide §2.4 establish-the-partitioning-once), shared by g07, g10,
    * g16, g18 and g19: the pairs derivation compacts first (exact count;
    * building sym straight off the derivation re-runs its final
    * aggregation once per union branch — measured +2 cpu-s on g07), then
    * sym compacts under hashpartitioning(key) FROM the pairs cache, sized
    * at twice the pairs' partitions (its row bound is twice the pairs'
    * partition budget), and the pairs cache releases. Iterative consumers
    * that join sym on `key` every round read the cache partitions directly
    * instead of re-exchanging the full edge list per round.
    */
  private def symEdges(s: SparkSession, dir: String, key: String, m: Materialize)
      : (DataFrame, Int) = {
    val (pairs, parts) = m.compact(copurchasePairs(s, dir))
    val sym = m.compact(symmetrize(pairs), Some(key), 2L * parts * Materialize.RowsPerPartition)
    m.release(pairs)
    sym
  }

  /** g05's body — see the registry doc. */
  private[graft] def commonNeighbors(s: SparkSession, dir: String,
      m: Materialize = Materialize.eager()): DataFrame = {
    val (edges, _) = m.compact(copurchasePairs(s, dir))
    val sym = symmetrize(edges)
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("d"))
    // wedge join on the middle vertex; shuffle_hash keeps AQE from
    // broadcasting a side that is only small at bench scale
    val cn = sym.select(col("src").as("m"), col("dst").as("a"))
      .join(sym.select(col("src").as("m"), col("dst").as("b")).hint("shuffle_hash"), "m")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).cast("long").as("common"))
      .filter(col("common") >= 2)
    val ne = cn.join(edges.select(col("u").as("a"), col("v").as("b")).hint("shuffle_hash"),
      Seq("a", "b"), "left_anti")
    m.result(ne.join(deg.select(col("node").as("a"), col("d").as("da")).hint("shuffle_hash"), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")).hint("shuffle_hash"), "b")
      .select(col("a"), col("b"), col("common"),
        r4(col("common") * lit(1.0) / (col("da") + col("db") - col("common"))).as("jaccard"))
      .orderBy("a", "b"))
  }

  /** g14's body — see the registry doc. */
  private[graft] def adamicAdar(s: SparkSession, dir: String,
      m: Materialize = Materialize.eager()): DataFrame = {
    val (edges, _) = m.compact(copurchasePairs(s, dir))
    val sym = symmetrize(edges)
    val wdeg = sym.groupBy(col("src").as("m"))
      .agg(count(lit(1)).cast("long").as("d"))
      .filter(col("d") >= 2)
      .select(col("m"),
        expr("1000000000000 div cast(floor(ln(d * 1.0) * 1000000 + 0.5) as bigint)")
          .cast("long").as("w"))
    val cn = sym.select(col("src").as("m"), col("dst").as("a"))
      .join(sym.select(col("src").as("m"), col("dst").as("b")).hint("shuffle_hash"), "m")
      .filter(col("a") < col("b"))
      .join(wdeg.hint("shuffle_hash"), "m")
      .groupBy("a", "b")
      .agg(count(lit(1)).cast("long").as("common"), sum("w").cast("long").as("aa_score"))
      .filter(col("common") >= 2)
    m.result(cn
      .join(edges.select(col("u").as("a"), col("v").as("b")).hint("shuffle_hash"),
        Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("common"), col("aa_score"))
      .orderBy("a", "b"))
  }

  /** g12's body — see the registry doc. Pair emission is B(B−1)/2 per
    * basket; TPC-H's order contract bounds baskets at 7 lineitems
    * (<= 21 pairs) at every scale factor, and the DuckDB oracle replays
    * the kernel bit-exact.
    */
  private[graft] def edgeJaccard(s: SparkSession, dir: String): DataFrame = {
    val ob = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val deg = ob.groupBy("p").agg(count(lit(1)).cast("long").as("nd"))
    val baskets = ob.groupBy("o").agg(sort_array(collect_set(col("p"))).as("items"))
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(items, (x, i) -> " +
          "transform(slice(items, i + 2, size(items)), y -> struct(x AS u, y AS v))))"))
        .as("pr"))
      .groupBy(col("pr.u").as("u"), col("pr.v").as("v"))
      .agg(count(lit(1)).cast("long").as("n_common"))
      .filter(col("n_common") >= 2)
    pairs
      .join(deg.select(col("p").as("u"), col("nd").as("n_u")), "u")
      .join(deg.select(col("p").as("v"), col("nd").as("n_v")), "v")
      .select(col("u"), col("v"), col("n_common"), col("n_u"), col("n_v"),
        expr("n_common * 1000000 div (n_u + n_v - n_common)").as("jaccard_ppm"))
      .orderBy("u", "v")
  }

  private lazy val g13Entry =
    sqlEager(
      "g13_degree_powerlaw",
      "degree-distribution power-law fit over the support-2 co-purchase graph — the one-row graph-health dashboard (t26's Zipf diagnostic pointed at graph degrees: real co-occurrence graphs are heavy-tailed with exponent ~2-3, so a flat or broken slope flags a degenerate or flooded graph BEFORE the iterative family g01-g11 spends rounds on it): node/edge/max-degree counts plus an exact-integer OLS fit of ln(count-of-nodes-with-degree-d) on ln(d) over the degree histogram — log terms on the 1e3 grid (t26's ln-ULP-parity basis), all five co-moments BIGINT-exact and combined through DECIMAL(38,0)/HUGEINT (the p04 widening), slope and R² each one two-op IEEE chain on correctly-rounded double casts, r4-rounded, zero-variance short-circuited (the q98 guard). Scale posture: degrees are one edge-keyed count, the histogram a degree-keyed count (max-degree-sized), the fit a single rollup over that dimension frame — the corpus-scale cost is the shared cached edge build every graph entry amortizes",
      s"""WITH $copurchasePairsSql,
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |        GROUP BY node),
        |hist AS (SELECT d, CAST(count(*) AS BIGINT) AS nd FROM deg GROUP BY d),
        |xy AS (SELECT CAST(floor(ln(d * 1.0) * 1000 + 0.5) AS BIGINT) AS x,
        |              CAST(floor(ln(nd * 1.0) * 1000 + 0.5) AS BIGINT) AS y
        |       FROM hist),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |               CAST(sum(x*x) AS HUGEINT) AS sxx, CAST(sum(y*y) AS HUGEINT) AS syy,
        |               CAST(sum(x*y) AS HUGEINT) AS sxy
        |        FROM xy),
        |fit AS (SELECT k, k * sxy - sx * sy AS cov, k * sxx - sx * sx AS vx,
        |               k * syy - sy * sy AS vy
        |        FROM mom)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
        |       (SELECT max(d) FROM deg) AS max_degree,
        |       CAST(k AS BIGINT) AS n_degree_levels,
        |       CASE WHEN vx = 0 THEN 0.0
        |            ELSE floor((CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE)) * 10000 + 0.5) / 10000
        |            END AS slope,
        |       CASE WHEN vx = 0 OR vy = 0 THEN 0.0
        |            ELSE floor((CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE)
        |                        / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))) * 10000 + 0.5) / 10000
        |            END AS fit_r2
        |FROM fit""") { (s, dir, m) =>
      val (pairs, _) = m.compact(copurchasePairs(s, dir))
      val deg = pairs.select(col("u").as("node")).unionAll(pairs.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).cast("long").as("d"))
      val hist = deg.groupBy("d").agg(count(lit(1)).cast("long").as("nd"))
      val d38 = "decimal(38,0)"
      val mom = hist
        .select(floor(log(col("d") * lit(1.0)) * 1000 + lit(0.5)).cast("long").as("x"),
          floor(log(col("nd") * lit(1.0)) * 1000 + lit(0.5)).cast("long").as("y"))
        .agg(count(lit(1)).cast("long").as("k"),
          sum("x").cast(d38).as("sx"), sum("y").cast(d38).as("sy"),
          sum(col("x") * col("x")).cast(d38).as("sxx"),
          sum(col("y") * col("y")).cast(d38).as("syy"),
          sum(col("x") * col("y")).cast(d38).as("sxy"))
      val fit = mom.select(col("k"),
        (col("k").cast(d38) * col("sxy") - col("sx") * col("sy")).as("cov"),
        (col("k").cast(d38) * col("sxx") - col("sx") * col("sx")).as("vx"),
        (col("k").cast(d38) * col("syy") - col("sy") * col("sy")).as("vy"))
      val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
      val nEdges = pairs.agg(count(lit(1)).cast("long").as("n_edges"))
      val maxDeg = deg.agg(max("d").as("max_degree"))
      m.result(nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(maxDeg))
        .crossJoin(broadcast(fit))
        .select(col("n_nodes"), col("n_edges"), col("max_degree"),
          col("k").as("n_degree_levels"),
          when(col("vx") === 0, lit(0.0))
            .otherwise(r4(col("cov").cast("double") / col("vx").cast("double"))).as("slope"),
          when(col("vx") === 0 || col("vy") === 0, lit(0.0))
            .otherwise(r4(col("cov").cast("double") * col("cov").cast("double")
              / (col("vx").cast("double") * col("vy").cast("double")))).as("fit_r2")))
    }
}
