package graft

import graft.functions.VectorFunctions._
import graft.operators.{DedupQueries, SimilarityQueries}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality gates for the approximate (non-oracle) paths: ANN recall vs the
  * exact brute-force baseline, and LSH near-dup recall vs exact all-pairs
  * Jaccard.
  */
class SimilarityRecallSpec extends SparkSpec {

  private def neighborSets(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getLong(0)).map { case (q, rows) =>
      q -> rows.map(_.getLong(2)).toSet
    }

  private lazy val exact = neighborSets(SimilarityQueries.knnBrute(spark, sf0001))

  private def recall(approx: Map[Long, Set[Long]]): Double = {
    val hits = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    hits.sum / hits.size
  }

  // The fixture embeddings are near-random (top-neighbor cosine ≈ 0.4), so
  // these floors are what the tuned structures can honestly deliver here;
  // clustered real-world embeddings would score far higher.
  test("IVF (nprobe=4/10) recall@5 beats its probe-coverage baseline") {
    val r = recall(neighborSets(SimilarityQueries.knnIvf(spark, sf0001)))
    assert(r >= 0.5, s"IVF recall $r (random baseline would be 0.4)")
  }

  test("selection-centroid IVF (s08) recall@5 stays within reach of the mean-centroid variant") {
    // s08 trades centroid quality (a member vector instead of the mean)
    // for end-to-end oracle replayability; its recall floor documents the
    // cost of that trade on this fixture.
    val r = recall(neighborSets(SimilarityQueries.knnIvfSelect(spark, sf0001)))
    assert(r >= 0.4, s"selection-centroid IVF recall $r (random baseline would be 0.4)")
  }

  test("LSH (8x4 bits) recall@5 ≥ 0.5 vs brute force") {
    val r = recall(neighborSets(SimilarityQueries.knnLsh(spark, sf0001)))
    assert(r >= 0.5, s"LSH recall $r")
  }

  test("MLlib BucketedRandomProjectionLSH recall@5 ≥ 0.5 vs exact cosine baseline") {
    val r = recall(neighborSets(graft.operators.MlLsh.knn(spark, sf0001)))
    assert(r >= 0.5, s"MLlib LSH recall $r")
  }

  test("s09 int8 quantization: top-5 overlap vs the exact float-dot ranking ≥ 0.9") {
    // the quantized score approximates the raw INNER PRODUCT (not cosine),
    // so its reference is the exact float-dot top-5 — comparing against
    // the cosine baseline would conflate quantization error with the
    // dot-vs-cosine norm effect
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("d"), col("neighbor_id"))
    val exactDot = neighborSets(
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          dotProduct(col("q_emb"), col("embedding")).as("d"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("neighbor_id")))
    val approx = neighborSets(SimilarityQueries.knnQuantized(spark, sf0001))
    val overlaps = exactDot.map { case (qid, truth) =>
      approx.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.9, s"quantized overlap $mean — 255-level codes should barely perturb ranks")
  }

  test("s13 PQ/ADC: recall@5 vs the exact dot ranking far above chance, scores track true dots") {
    // ADC approximates DOT (s12's objective), not cosine — its baseline is
    // the exact MIPS top-5. 10-entry selection sub-codebooks over 4
    // subspaces are deliberately coarse (4 B/vector); on the near-random
    // fixture they deliver ~0.28 recall@5 vs a 5/500 = 0.01 random
    // baseline (real clustered embeddings + trained codebooks score far
    // higher — this pins the machinery, not state-of-the-art recall).
    def dotSets(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).map { case (q, rows) =>
        q -> rows.map(_.getLong(2)).toSet
      }
    val exactDot = dotSets(
      SparkEntry.queries("s12_mips")(spark, sf0001))
    val adc = dotSets(SimilarityQueries.pqAdc(spark, sf0001))
    val hits = exactDot.map { case (q, truth) =>
      adc.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val r = hits.sum / hits.size
    assert(r >= 0.15, s"ADC recall@5 $r (random baseline 0.01)")
  }

  test("s10 JL projection: mean pairwise squared-distance ratio ~ 1 (the lemma's expectation)") {
    // Rademacher/sqrt(k) satisfies E[||Px - Py||^2] = ||x - y||^2 per pair;
    // averaging over all pairs of the first 30 vectors must concentrate
    // near 1 even at k=8, and no single pair may distort pathologically.
    val orig = Tables.embeddings(spark, sf0001)
      .filter(size(col("embedding")) > 0).filter(col("vec_id") < 30)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val proj = SimilarityQueries.jlProject(spark, sf0001)
      .filter(col("vec_id") < 30).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      }
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted
    val ratios = for {
      i <- ids; j <- ids if i < j
      den = d2(orig(i), orig(j)) if den > 0
    } yield d2(proj(i), proj(j)) / den
    val mean = ratios.sum / ratios.size
    assert(ratios.nonEmpty && mean > 0.8 && mean < 1.25,
      s"mean distortion $mean over ${ratios.size} pairs")
    assert(ratios.forall(r => r > 0.05 && r < 5.0),
      s"pathological pair distortion: ${ratios.min} .. ${ratios.max}")
  }

  test("IVF cell assignment matches the window-form argmax with zero shuffles outside the broadcast index") {
    val savedAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // stable plan tree
    try {
      val e = Tables.embeddings(spark, sf0001)
      val cents = SimilarityQueries.labelCentroids(spark, sf0001)
        .select(col("label").cast("long").as("cent_id"), col("centroid"))
      val assigned = SimilarityQueries.assignCells(e, SimilarityQueries.centroidArray(cents))

      // the corpus side must be shuffle-free; the tiny index build under
      // the BroadcastExchange may aggregate however it likes
      def shuffles(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: BroadcastExchangeLike => Seq.empty
        case sh: ShuffleExchangeLike => sh +: sh.children.flatMap(shuffles)
        case other => other.children.flatMap(shuffles)
      }
      val found = shuffles(assigned.queryExecution.executedPlan)
      assert(found.isEmpty,
        s"corpus-side shuffle in assignment plan:\n${assigned.queryExecution.executedPlan}")

      val w = Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cent_id"))
      val want = e.crossJoin(broadcast(cents))
        .withColumn("csim", cosineSim(col("embedding"), col("centroid")))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cent_id")).toMap
      val got = assigned.select("vec_id", "cell")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
    } finally savedAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("multi-table SimHash blocking: precision 1.0 and high recall vs exact Hamming pairs at sf0.01") {
    val dir = sf("sf0.01")
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairSet(DedupQueries.simhashPairs(spark, dir))
    val truth = pairSet(DedupQueries.exactSimhashPairs(spark, dir))
    assert(truth.nonEmpty, "fixture should contain simhash near-dups")
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth).take(5)}")
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"simhash blocking recall $recall over ${truth.size} true pairs")
  }

  test("k-means improves the mean assigned cosine over its deterministic init") {
    val o0 = SimilarityQueries.kmeansObjective(spark, sf0001,
      SimilarityQueries.kmeansCentroids(spark, sf0001, iters = 0))
    val o3 = SimilarityQueries.kmeansObjective(spark, sf0001,
      SimilarityQueries.kmeansCentroids(spark, sf0001, iters = 3))
    assert(o3 > o0, s"3-iteration objective $o3 should beat init objective $o0")
  }

  test("dup clusters agree with the pairwise near-dup graph") {
    val pairs = SparkEntry.queries("d06_embedding_sim_pairs")(spark, sf0001)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val m = Materialize.eager()
    val clusters = m.result(DedupQueries.dupClusters(spark, sf0001, m))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl, s"cluster $lbl is not labeled by its min member")
    }
  }

  test("MinHash+LSH near-dup pairs == exact 3-gram-Jaccard pairs (full recall at j≥0.5)") {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairs(DedupQueries.lshNearDups(spark, sf0001))
    val truth = pairs(DedupQueries.exactNearDups(spark, sf0001))
    assert(truth.nonEmpty, "fixture should contain near-duplicates")
    assert(truth.subsetOf(lsh), s"missed pairs: ${truth.diff(lsh)}")
    assert(lsh == truth, s"false positives: ${lsh.diff(truth)}")
  }

  test("d15 bloom-shipped dedup survivors == d13's exact-join survivors (no false negatives)") {
    // the bloom is a shipping optimization, not a semantics change: its
    // no-false-negative contract means every true collision still reaches
    // the exact join, so the survivor sets must be identical
    def ids(name: String): Set[Long] =
      SparkEntry.queries(name)(spark, sf0001).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val exact = ids("d13_incremental_dedup")
    val bloom = ids("d15_bloom_index_dedup")
    assert(exact.nonEmpty)
    assert(bloom == exact,
      s"bloom path diverged: missing=${exact.diff(bloom)} extra=${bloom.diff(exact)}")
  }

  test("s15 triplet mining: per anchor exactly 3 label-crossing negatives + 1 same-label positive, and they brute-force-agree") {
    val labels = Tables.embeddings(spark, sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SparkEntry.queries("s15_hard_negatives")(spark, sf0001).collect()
    val byAnchor = rows.groupBy(_.getLong(0))
    byAnchor.foreach { case (q, rs) =>
      val negs = rs.filter(_.getString(1) == "neg")
      val pos = rs.filter(_.getString(1) == "pos")
      assert(negs.length == 3 && pos.length == 1, s"anchor $q: ${rs.length} rows")
      negs.foreach(r => assert(labels(r.getLong(3)) != labels(q),
        s"anchor $q: negative ${r.getLong(3)} shares its label"))
      assert(labels(pos.head.getLong(3)) == labels(q),
        s"anchor $q: positive ${pos.head.getLong(3)} label differs")
      // negatives arrive hardest-first; the hard positive is the FARTHEST
      // same-label vector, so it can never beat the top negative here
      val nsims = negs.sortBy(_.getLong(2)).map(_.getDouble(4))
      assert(nsims.zip(nsims.tail).forall { case (a, b) => a >= b }, s"anchor $q: $nsims")
    }
    assert(byAnchor.size == 10)
  }

  test("d16 banding audit: one row per config, shared truth, ppm arithmetic mirrors, production 16x2 trades precision for full recall") {
    val rows = SparkEntry.queries("d16_lsh_tuning_audit")(spark, sf0001).collect()
    assert(rows.length == 5)
    val trues = rows.map(_.getAs[Long]("n_true")).distinct
    assert(trues.toSeq == Seq(12L), s"truth leg must be config-independent: ${trues.toSeq}")
    rows.foreach { r =>
      val (nc, nt, nh) = (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_true"), r.getAs[Long]("n_hits"))
      assert(nh <= nc && nh <= nt, r.toString)
      assert(r.getAs[Long]("precision_ppm") == (if (nc == 0) 0L else nh * 1000000 / nc), r.toString)
      assert(r.getAs[Long]("recall_ppm") == (if (nt == 0) 0L else nh * 1000000 / nt), r.toString)
    }
    val byCfg = rows.map(r => r.getAs[Long]("rows_per_band") -> r).toMap
    // the S-curve the audit exists to show: 2-row bands catch every true
    // pair but admit false candidates; 6-row bands are pickier everywhere
    assert(byCfg(2L).getAs[Long]("recall_ppm") == 1000000L)
    assert(byCfg(2L).getAs[Long]("n_candidates") > byCfg(2L).getAs[Long]("n_hits"))
    assert(byCfg(6L).getAs[Long]("n_candidates") <= byCfg(2L).getAs[Long]("n_candidates"))
  }

  test("s14 integer-grid k-means == an independent driver-side Lloyd reimplementation, bit for bit") {
    // 40 synthetic 64-dim vectors in 4 planted clusters; the distributed
    // trainer must agree with a from-scratch sequential Lloyd on every
    // output cell: counts, scatter, centroid digests.
    import spark.implicits._
    val dim = 64
    val raw: Seq[(Long, Array[Float])] = (0 until 40).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(dim) { j =>
        val base = if (j % 4 == c) 0.4f else -0.1f
        base + ((i * 31 + j * 17) % 101 - 50) / 1000.0f
      })
    }
    val dir = java.nio.file.Files.createTempDirectory("s14spec").toString
    raw.map { case (id, v) => (id, v, (id % 10).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // reference: plain-Scala Lloyd with the identical integer contract
    val pts: Map[Long, Array[Long]] = raw.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000000 + 0.5).toLong)
    }.toMap
    def assign(cs: Seq[(Long, Array[Long])]): Seq[(Long, Long, Long)] =
      pts.toSeq.sortBy(_._1).map { case (vid, g) =>
        val (d, cid) = cs.map { case (cid, c) =>
          (g.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
        }.min
        (vid, cid, d)
      }
    var cents: Seq[(Long, Array[Long])] =
      pts.filter(_._1 < 8).toSeq.sortBy(_._1)
    for (_ <- 1 to 3) {
      val a = assign(cents)
      cents = a.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, mem) =>
        val gs = mem.map(m => pts(m._1))
        (cid, Array.tabulate(dim) { j =>
          math.floor(gs.map(_(j)).sum.toDouble / gs.size).toLong
        })
      }
    }
    val fin = assign(cents)
    val want = fin.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, mem) =>
      val c = cents.find(_._1 == cid).get._2
      (cid, mem.size.toLong, mem.map(_._3).sum, c.sum, c.map(x => x * x).sum)
    }
    val got = SimilarityQueries.kmeansGrid(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"got=$got\nwant=$want")
    // the planted structure actually exercises reassignment: some of the 8
    // seed cells must have emptied or absorbed satellites
    assert(got.map(_._2).max >= 6, s"cluster sizes ${got.map(_._2)}")
  }

  test("s16 nprobe audit: recall monotone in nprobe, cost strictly increasing, ppm exact") {
    // the audit is only trustworthy if it shows the trade-off it claims to
    // measure: more probes must admit strictly more candidates and never
    // lose recall (candidate sets are supersets by construction), and the
    // ppm column must be the exact integer ratio of its own count columns
    val rows = SparkEntry.queries("s16_ivf_nprobe_audit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    rows.foreach { case (np, nq, nCand, nRet, hits, ppm) =>
      assert(nRet == nq * 5, s"np=$np returned $nRet != ${nq * 5} (top-5 per query)")
      assert(hits <= nRet, s"np=$np hits $hits > returned $nRet")
      assert(ppm == hits * 1000000L / (nq * 5), s"np=$np ppm not the exact ratio")
      assert(nCand >= nRet, s"np=$np fewer candidates than returned rows")
    }
    rows.sliding(2).foreach { case Array((np1, _, c1, _, h1, _), (np2, _, c2, _, h2, _)) =>
      assert(c2 > c1, s"candidates not strictly increasing: np=$np1 c=$c1 -> np=$np2 c=$c2")
      assert(h2 >= h1, s"recall decreased: np=$np1 hits=$h1 -> np=$np2 hits=$h2")
    }
    // the knob must matter on this corpus, else the audit table is vacuous
    assert(rows.last._5 > rows.head._5,
      s"nprobe sweep flat: hits ${rows.head._5} -> ${rows.last._5}")
  }

  test("s17 rank-quality audit == independent mirror over the s01/s09 rankings") {
    // recompute every metric from the two rankings directly; the audit
    // entry must agree exactly (same joins, independent code path)
    val ex = graft.operators.SimilarityQueries.knnBrute(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap // (q, nbr) -> rank
    val qz = graft.operators.SimilarityQueries.knnQuantized(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val qids = ex.keys.map(_._1).toSeq.distinct.sorted
    val expected = qids.map { q =>
      val shared = ex.collect { case ((`q`, nbr), er) if qz.contains((q, nbr)) => (er, qz((q, nbr))) }
      val fr = shared.collectFirst { case (1L, qr) => qr }.getOrElse(0L)
      (q, shared.size.toLong, fr, if (fr == 0) 0L else 1000000L / fr,
        shared.map { case (er, qr) => math.abs(er - qr) }.sum)
    }
    val got = SparkEntry.queries("s17_rank_quality_audit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, s"got ${got.mkString(", ")}\nexp ${expected.mkString(", ")}")
    // vacuity guard: quantization must recover most of the exact top-5 here
    assert(got.map(_._2).sum >= got.size * 3, s"suspiciously low recall: $got")
  }

  test("s18 staleness audit: mass conserved under both codebooks, churn-in == churn-out, rates bounded") {
    val rows = SparkEntry.queries("s18_index_staleness_audit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val n = graft.sources.Tables.embeddings(spark, sf0001).count()
    // every vector is assigned under both codebooks: masses each sum to N
    assert(rows.map(_._2).sum == n, s"stale mass ${rows.map(_._2).sum} != $n")
    assert(rows.map(_._3).sum == n, s"fresh mass ${rows.map(_._3).sum} != $n")
    // a churned vector leaves exactly one cell and enters exactly one
    assert(rows.map(_._4).sum == rows.map(_._5).sum,
      s"churn-in ${rows.map(_._4).sum} != churn-out ${rows.map(_._5).sum}")
    rows.foreach { r =>
      assert(r._6 >= 0 && r._6 <= 1000000, s"churn_ppm out of range: $r")
      assert(r._4 <= r._3 && r._5 <= r._2, s"churn exceeds cell mass: $r")
    }
  }

  test("s19 filtered kNN matches an independent plain-Scala mirror (same fold order, same rounding)") {
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      // left-to-right double folds, exactly the codegen'd expression's order
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = emb.filter(_._1 < 10).flatMap { case (q, lbl, qe) =>
      emb.filter(e => e._2 == lbl && e._1 != q)
        .map(e => (e._1, cos(qe, e._3)))
        .sortBy { case (id, sim) => (-sim, id) }
        .take(5).zipWithIndex
        .map { case ((id, sim), i) =>
          (q, (i + 1).toLong, id, math.floor(sim * 1000000 + 0.5) / 1000000) }
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = SparkEntry.queries("s19_filtered_knn")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected, s"mirror mismatch: got ${got.take(3)}... want ${expected.take(3)}...")
    // vacuity: the filter actually binds — some unfiltered top-5 neighbor
    // of some query carries a different label
    val filteredSets = neighborSets(SparkEntry.queries("s19_filtered_knn")(spark, sf0001))
    assert(exact.exists { case (q, truth) => truth != filteredSets.getOrElse(q, Set.empty) },
      "label filter never changed any top-5 — fixture degenerate?")
  }

  test("s20 kNN graph restricted to the s04 query set IS knnLsh (same buckets, same rerank)") {
    val graph = SimilarityQueries.knnGraph(spark, sf0001, k = 5)
      .filter(col("q_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val lsh = SimilarityQueries.knnLsh(spark, sf0001, k = 5, nq = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(graph == lsh, s"graph slice diverges from knnLsh: ${graph.take(3)} vs ${lsh.take(3)}")
    // and the graph covers (nearly) every vector: each emitted vector has
    // rnk 1..m contiguous with non-increasing sims
    val all = SimilarityQueries.knnGraph(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    all.groupBy(_._1).foreach { case (q, rows) =>
      val byRnk = rows.sortBy(_._2)
      assert(byRnk.map(_._2).toSeq == (1L to byRnk.length).toSeq, s"q=$q ranks not contiguous")
      assert(byRnk.sliding(2).forall(w => w.length < 2 || w(0)._3 >= w(1)._3),
        s"q=$q sims not non-increasing")
    }
  }
}
