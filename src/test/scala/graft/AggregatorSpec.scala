package graft

import graft.functions.Aggregators
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Accuracy / invariants for the custom-aggregate surface, plus SQL-path
  * registration through GraftExtensions.
  */
class AggregatorSpec extends SparkSpec {

  test("TopK aggregator == window-function top-k") {
    val top2 = udaf(new Aggregators.TopK(2))
    val got = Tables.orders(spark, sf0001)
      .groupBy("o_custkey").agg(top2(col("o_totalprice")).as("tops"))
      .select(col("o_custkey"), element_at(col("tops"), 1).as("t1"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Tables.orders(spark, sf0001)
      .groupBy("o_custkey").agg(max("o_totalprice").as("t1"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want)
  }

  test("BottomKLong == window-function bottom-k; partition-layout independent; state bounded") {
    // distributed equivalence on real data: 5 smallest orderkeys per
    // custkey via the aggregator == via a row_number window
    val bottom5 = udaf(new Aggregators.BottomKLong(5))
    val got = Tables.orders(spark, sf0001)
      .groupBy("o_custkey").agg(bottom5(col("o_orderkey")).as("heads"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val want = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy("o_orderkey")).as("rn"))
      .filter(col("rn") <= 5)
      .groupBy("o_custkey").agg(sort_array(collect_list("o_orderkey")).as("heads"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got == want)
    // unit invariants: fold order cannot matter, buffer never exceeds k,
    // duplicates and boundary ties behave like multiset bottom-k
    val agg = new Aggregators.BottomKLong(3)
    val vals = Seq(9L, 1L, 7L, 1L, 5L, 3L, 9L, 2L)
    val foldA = vals.foldLeft(agg.zero)(agg.reduce)
    val foldB = vals.reverse.foldLeft(agg.zero)(agg.reduce)
    assert(foldA.toList == List(1L, 1L, 2L) && foldB.toList == foldA.toList)
    val (l, r2) = vals.splitAt(3)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r2.foldLeft(agg.zero)(agg.reduce))
    assert(merged.toList == foldA.toList)
    assert(vals.scanLeft(agg.zero)(agg.reduce).forall(_.length <= 3))
  }

  test("HLL approx_count_distinct within 5% of exact") {
    val df = Tables.lineitem(spark, sf0001)
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx"),
        countDistinct("l_orderkey").as("exact")).head()
    val (approx, exact) = (df.getLong(0), df.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx=$approx exact=$exact")
  }

  Seq("sf0.001", "sf0.01").foreach { scale =>
    test(s"a02 per-group approx distinct counts within 5% of exact at $scale") {
      def byFlag(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
      val approx = byFlag(SparkEntry.queries("a02_approx_distinct")(spark, sf(scale)))
      val exact = byFlag(Tables.lineitem(spark, sf(scale)).groupBy("l_returnflag")
        .agg(countDistinct("l_partkey"), countDistinct("l_orderkey")))
      assert(approx.keySet == exact.keySet)
      for ((flag, ex) <- exact; (a, e) <- approx(flag).zip(ex))
        assert(math.abs(a - e).toDouble / e < 0.05, s"l_returnflag=$flag: approx=$a exact=$e")
    }

    test(s"a04 approx median and p99 within 2% of exact percentile at $scale") {
      val approx = SparkEntry.queries("a04_approx_percentile")(spark, sf(scale)).head()
      val exact = Tables.orders(spark, sf(scale))
        .agg(expr("percentile(o_totalprice, array(0.5, 0.99))")).head().getSeq[Double](0)
      Seq(0 -> "median", 1 -> "p99").foreach { case (i, q) =>
        val (a, e) = (approx.getDouble(i), exact(i))
        assert(math.abs(a - e) / e < 0.02, s"$q: approx=$a exact=$e")
      }
    }
  }

  test("HllDistinct: accuracy, partition-layout independence, linear-counting floor") {
    // accuracy on a real column (512 registers → ~4.6% std error; allow 15%)
    val hll = udaf(new Aggregators.HllDistinct(seed = 11L))
    val keys = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").cast("long").as("k"))
    val df = keys.agg(hll(col("k")).as("est"), countDistinct(col("k")).as("exact")).head()
    val (est, exact) = (df.getLong(0), df.getLong(1))
    assert(math.abs(est - exact).toDouble / exact < 0.15, s"est=$est exact=$exact")
    // merge is layout-independent: same estimate at 1 and 13 partitions
    val est1 = keys.repartition(1).agg(hll(col("k"))).head().getLong(0)
    val est13 = keys.repartition(13).agg(hll(col("k"))).head().getLong(0)
    assert(est1 == est && est13 == est, s"layout-dependent: $est1 / $est13 / $est")
    // tiny cardinalities hit the linear-counting branch and stay exact-ish
    // (±2: bucket collisions can shave the linear-counting estimate)
    val small = spark.range(20).select(col("id").as("k")).agg(hll(col("k"))).head().getLong(0)
    assert(math.abs(small - 20L) <= 2, s"linear counting should be ~exact at n=20, got $small")
  }

  test("HllDistinct linear-counting grid is engine-independent over its whole domain") {
    // ln is specified only to 1 ulp, so a different libm could flip the
    // a06 floor snap IF any input landed within an ulp of a boundary. The
    // linear-counting domain is exactly the 512 values 512/z, z=1..512 —
    // enumerate them all and assert the nearest boundary approach is ~9
    // orders of magnitude wider than a 1-ulp perturbation (|est| <= 3200
    // ⇒ ulp ~ 4.5e-13; measured min distance 3.7e-4 at z=152).
    val minDist = (1 to 512).map { z =>
      val x = 512 * math.log(512.0 / z) + 0.5
      math.abs(x - math.rint(x))
    }.min
    assert(minDist > 1e-6,
      f"a06 grid margin $minDist%.2e too small: floor(est+0.5) could flip on another libm")
  }

  test("approx_percentile median within 2% of exact percentile") {
    val df = Tables.orders(spark, sf0001)
      .agg(approx_percentile(col("o_totalprice"), lit(0.5), lit(1000)).as("approx"),
        expr("percentile(o_totalprice, 0.5)").as("exact")).head()
    assert(math.abs(df.getDouble(0) - df.getDouble(1)) / df.getDouble(1) < 0.02)
  }

  test("approx decile boundaries (q38) within 2% of exact percentiles") {
    val approx = SparkEntry.queries("q38_price_deciles_approx")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = Tables.orders(spark, sf0001)
      .agg(expr("percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"))
      .head().getSeq[Double](0)
    (1 to 9).foreach { i =>
      val e = exact(i - 1)
      assert(math.abs(approx(i.toLong) - e) / e < 0.02,
        s"decile $i: approx=${approx(i.toLong)} exact=$e")
    }
  }

  test("CmsSketch: never undercounts, counters conserve mass, layout-independent") {
    val keys = Tables.lineitem(spark, sf0001)
      .select(col("l_suppkey").cast("long").as("k")).where(col("k").isNotNull)
    val n = keys.count()
    import Aggregators.CmsSketch.{Depth, SeedBase, SeedStep, Width}
    val cms = udaf(Aggregators.CmsSketch.default)
    val matrix = keys.agg(cms(col("k"))).collect()(0).getSeq[Long](0)
    // mass conservation: every depth row saw every item exactly once
    (0 until Depth).foreach { j =>
      assert(matrix.slice(j * Width, (j + 1) * Width).sum == n, s"row $j loses mass")
    }
    // CMS guarantee: estimate >= true count for EVERY key, not just probes
    val truth = keys.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1))
    truth.foreach { case (k, cnt) =>
      val est = (0 until Depth).map { j =>
        matrix(j * Width + (graft.functions.HashOps.priorityHash(k, SeedBase + SeedStep * j) % Width).toInt)
      }.min
      assert(est >= cnt, s"key $k undercounted: est $est < true $cnt")
    }
    // partition-layout independence: merge is commutative+associative sum
    val repart = keys.repartition(13).agg(cms(col("k"))).collect()(0).getSeq[Long](0)
    assert(repart == matrix, "counter matrix depends on partition layout")
  }

  test("bloom filter: zero false negatives, low false-positive rate") {
    import graft.functions.{Aggregators, BloomOps}
    val NumBits = 1 << 14
    val NumHashes = 5
    val bloom = udaf(new Aggregators.BloomFilter(NumBits, NumHashes))
    val keys = Tables.orders(spark, sf0001)
      .filter(col("o_totalprice") > 400000).select("o_orderkey")
    val bits = keys.agg(bloom(col("o_orderkey")).as("bits"))
    val probed = Tables.orders(spark, sf0001).select("o_orderkey")
      .crossJoin(broadcast(bits))
      .withColumn("hit",
        BloomOps.bloomMightContain(col("bits"), col("o_orderkey"), NumBits, NumHashes))
      .select("o_orderkey", "hit")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    val truth = keys.collect().map(_.getLong(0)).toSet
    assert(truth.nonEmpty)
    probed.filter(kv => truth(kv._1)).foreach { case (k, hit) =>
      assert(hit, s"false negative for key $k")
    }
    val negatives = probed.filterNot(kv => truth(kv._1))
    val fpr = negatives.count(_._2).toDouble / negatives.length
    assert(fpr < 0.05, s"false-positive rate $fpr")
  }

  test("stratified sample hits per-stratum rates and is deterministic in-session") {
    val dir = sf("sf0.01")
    val fractions = Map(
      "AUTOMOBILE" -> 0.5, "BUILDING" -> 0.25, "FURNITURE" -> 0.1,
      "HOUSEHOLD" -> 0.05, "MACHINERY" -> 0.02)
    def run() = SparkEntry.queries("a05_stratified_sample")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run()
    assert(got == run(), "same seed + same session must resample identically")
    val totals = Tables.customer(spark, dir)
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fractions.foreach { case (seg, f) =>
      val rate = got.getOrElse(seg, 0L).toDouble / totals(seg)
      // ±5 percentage points ≈ >6σ for ~1000-row strata at these fractions
      assert(math.abs(rate - f) < 0.05, s"$seg sampled at $rate, wanted ≈ $f")
    }
  }

  test("co-moment statistics query matches Spark's builtin corr/stddev") {
    val got = SparkEntry.queries("q52_statistics")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(4))).toMap
    val want = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag")
      .agg(stddev_samp(col("l_quantity")).as("sd"),
        corr(col("l_quantity"), col("l_discount")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    got.foreach { case (k, (sd, c)) =>
      assert(math.abs(sd - want(k)._1) < 1e-3, s"stddev $k: $sd vs ${want(k)._1}")
      assert(math.abs(c - want(k)._2) < 1e-4, s"corr $k: $c vs ${want(k)._2}")
    }
  }

  test("map-column query agrees with the pivot form") {
    val fromMap = SparkEntry.queries("q69_map_columns")(spark, sf0001)
      .select("user_id", "clicks")
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)).toMap
    val fromPivot = SparkEntry.queries("q50_pivot")(spark, sf0001)
      .select("user_id", "click")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromMap == fromPivot)
  }

  test("reservoir sample has size k and draws from the group domain") {
    val sample = udaf(new Aggregators.ReservoirSample(k = 5, seed = 1L))
    val rows = Tables.customer(spark, sf0001)
      .groupBy("c_mktsegment").agg(sample(col("c_custkey")).as("s"))
      .collect()
    val keys = Tables.customer(spark, sf0001).select("c_custkey")
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val s = r.getSeq[Long](1)
      assert(s.size == 5 && s.toSet.subsetOf(keys))
    }
  }

  test("GraftExtensions registers SQL functions (cosine_sim, shingle_simhash)") {
    import org.apache.spark.sql.SparkSession
    val base = spark // force base session/context creation first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[8]")
      .withExtensions(new GraftExtensions).getOrCreate()
    try {
      val sim = s2.sql(
        "SELECT cosine_sim(array(CAST(3.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").head().getDouble(0)
      assert(math.abs(sim - 1.0) < 1e-12)
      assert(s2.sql("SELECT shingle_simhash(array('a','b','c'), 2)").head().getLong(0) != 0L)
      assert(s2.sql("SELECT size(shingle_minhash(array('a','b','c'), 8, 2))").head().getInt(0) == 8)
      assert(s2.sql("SELECT rolling_hash(array('a','b')) <> rolling_hash(array('b','a'))").head().getBoolean(0))
      assert(s2.sql(
        "SELECT nearest_centroid(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(struct(CAST(7 AS BIGINT) AS cent_id, array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)) AS centroid), " +
          "      struct(CAST(9 AS BIGINT) AS cent_id, array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)) AS centroid)))")
        .head().getLong(0) == 7L)
      // a key set on the build side must probe true: bit-identical hash family
      assert(s2.sql(
        "SELECT NOT bloom_might_contain(array(CAST(0 AS BIGINT)), CAST(42 AS BIGINT), 64, 3)")
        .head().getBoolean(0), "empty bitset must reject every key")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
