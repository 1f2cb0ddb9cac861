package graft

import java.nio.file.Files

import graft.operators.{DedupQueries, GraphQueries, TextQueries}
import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.functions._

/** Planted skew (r12 verdict #4: "measure the skew-defence claim
  * instead of arguing it").
  *
  * SURVEY §9's banding-join skew — a flood of identical documents whose
  * signatures collide in every band, the worst case for a banding join
  * (quadratic candidate blowup concentrated in single buckets) — has one
  * defence: AQE's skew-join handling, which at deployment-shaped
  * thresholds splits the oversized banding-join partition (plan shows
  * `skew=true` on the sort-merge join). This suite plants the flood and
  * pins that split, and pins the hand-traced answers d04, g05/g14 and p22
  * give on their planted flood, hub and single-source corpora.
  *
  * The measured numbers are recorded in README's skew-defence note.
  */
class SkewSpec extends SparkSpec {

  /** 64 identical docs (the flood), 200 distinct background docs, one
    * true near-dup pair (j = 16/18 ≈ 0.89) outside the flood.
    */
  private lazy val plantedDir: String = {
    import spark.implicits._
    val flood = (0 until 64).map(i =>
      (1000L + i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val background = (0 until 200).map(i =>
      (2000L + i, (0 until 12).map(j => s"bg${i}w$j").mkString(" ")))
    val base = (0 until 20).map(j => s"near$j")
    val nearDup = Seq(
      (3000L, base.mkString(" ")),
      (3001L, (base.dropRight(1) :+ "nearX").mkString(" ")))
    val dir = Files.createTempDirectory("graft-skew").toString
    (flood ++ background ++ nearDup).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")))
      .repartition(8)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("d04 on a planted flood: C(64,2) flood pairs and the near-dup pair outside it") {
    val pairs = pairSet(DedupQueries.lshNearDups(spark, plantedDir))
    val floodIds = (1000L until 1064L).toSet
    val floodPairs = pairs.filter { case (a, b) => floodIds(a) && floodIds(b) }
    // the flood contributes its full quadratic pair set
    assert(floodPairs.size === 64 * 63 / 2,
      s"expected C(64,2)=2016 flood pairs, got ${floodPairs.size}")
    assert(pairs.contains((3000L, 3001L)), "planted near-dup pair must be found")
  }

  test("AQE skew-join split engages on the flood bucket at deployment-shaped thresholds") {
    // A bigger flood for the runtime test: partition-level skew needs a
    // single reduce partition to dominate, and a flood class lands on 16
    // (band,key) buckets — so shuffle partitions ≫ 16 (each flood bucket
    // alone in its partition) and a 512-doc flood (512 band rows per
    // flood partition vs ~50-row background partitions).
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-skew-aqe").toString
    val flood = (0 until 512).map(i =>
      (1000L + i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val background = (0 until 200).map(i =>
      (9000L + i, (0 until 12).map(j => s"aq${i}w$j").mkString(" ")))
    (flood ++ background).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")))
      .repartition(8)
      .write.parquet(s"$dir/documents.parquet")
    // fresh session: AQE + skew-join thresholds scaled to the planted
    // corpus the way the 100 TB config scales them to real partitions
    // (factor/threshold/advisory are the knobs SURVEY §9 names)
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "64")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the exact d04 banding-join shape (band keys -> self-join on
    // (band, key)), built lazily so the optimizer — not a cache scan —
    // owns the exchanges the skew rule rewrites
    val toks = TextFunctions.tokens(col("text"))
    val banded = graft.sources.Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(HashFunctions.shingleMinHashBands(toks, k = 32, n = 3, bands = 16, rows = 2))
          .as(Seq("band", "key")))
    val joined = banded
      .join(banded.select(col("band"), col("key"), col("doc_id").as("id_b")), Seq("band", "key"))
      .filter(col("doc_id") < col("id_b"))
    // execute THIS frame's own QueryExecution without collecting the
    // ~2M-row join output (a count() would plan a separate aggregate
    // query and leave joined's adaptive plan unfinal)
    val n = joined.queryExecution.toRdd.count()
    // 16 all-band collisions for every flood pair
    assert(n >= 16L * (512L * 511 / 2), s"flood must dominate the join: $n rows")
    val plan = joined.queryExecution.executedPlan.toString
    val skewJoins = "skew=true".r.findAllIn(plan).size
    assert(skewJoins > 0,
      s"expected the banding self-join to be rewritten with skew=true; plan:\n$plan")
    info(s"AQE rewrote the banding join with skew=true ($skewJoins join leg(s) split); " +
      s"join rows=$n")
  }

  /** Planted HUB for g05/g14 (r14 verdict #1): one part (999) in EVERY
    * order, so its co-purchase degree is the whole part universe — the
    * mega-hub the g13 power-law fit says is the norm at corpus scale. 10 disjoint 6-part "cliques", 6 orders each:
    * orders 1-2 = {p0..p3}, 3-4 = {p0,p1,q0}, 5-6 = {p0,p1,q1} (+hub in
    * all). Hand-traced graph: in-clique degrees p0/p1=6, p2/p3=4,
    * q0/q1=3, hub=60; the 50 output pairs (5 per clique: (q0,q1),
    * (q0,p2), (q0,p3), (q1,p2), (q1,p3)) each have common middles
    * exactly {p0, p1, hub}.
    */
  private lazy val hubDir: String = {
    import spark.implicits._
    val hub = 999L
    val rows = for {
      c <- 0 until 10
      (ps, oix) <- Seq(
        Seq(0L, 1L, 2L, 3L) -> 0, Seq(0L, 1L, 2L, 3L) -> 1,
        Seq(0L, 1L, 4L) -> 2, Seq(0L, 1L, 4L) -> 3,
        Seq(0L, 1L, 5L) -> 4, Seq(0L, 1L, 5L) -> 5)
      o = (c * 6 + oix + 1).toLong
      p <- ps.map(i => (c + 1) * 10 + i) :+ hub
    } yield (o, p)
    val dir = Files.createTempDirectory("graft-skew-hub").toString
    rows.toDF("l_orderkey", "l_partkey")
      .repartition(8)
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("g05/g14 on a planted hub: hand-traced rows, every hub-centred wedge counted") {
    // g05: the 50 non-edge pairs, each with common middles {p0, p1, hub};
    // clique 0's (q0,q1)=(14,15): deg 3 and 3, common 3, jaccard 3/3=1.0;
    // (q0,p2)=(12,14): degs 4,3 -> 3/4=0.75
    val g05 = GraphQueries.commonNeighbors(spark, hubDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(g05.size === 50, s"expected 50 candidate pairs, got ${g05.size}")
    assert(g05((14L, 15L)) === ((3L, 1.0)))
    assert(g05((12L, 14L)) === ((3L, 0.75)))
    // g14: every pair's AA score is the two p0/p1 middles' ln-grid weight
    // w(6) plus the hub's w(60)
    def w(d: Long): Long = 1000000000000L / math.round(math.log(d.toDouble) * 1e6)
    val g14 = GraphQueries.adamicAdar(spark, hubDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(g14.keySet === g05.keySet)
    for ((pair, aa) <- g14)
      assert(aa === ((3L, 2 * w(6) + w(60))), s"$pair: $aa")
  }

  /** p22 single-source corpus: 160 docs of exactly 100 tokens each, all
    * in ONE source — the whole corpus flows through one packing
    * cumulative-sum window partition.
    */
  private lazy val packDir: String = {
    import spark.implicits._
    val docs = (0 until 160).map(i =>
      (i.toLong, (0 until 100).map(j => s"t$j").mkString(" ")))
    val dir = Files.createTempDirectory("graft-skew-p22").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .repartition(8)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("p22 on a single-source corpus: hand-traced windows and fill") {
    val got = TextQueries.contextPacking(spark, packDir).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(6))).toSeq
    // 160 docs x 100 tokens = 16000 tokens -> 32 windows of 512 (31 full +
    // a 128-token tail), fill 16000e6/(32*512) = 976562
    assert(got === Seq(("s0", 160L, 16000L, 32L, 976562L)))
  }
}
