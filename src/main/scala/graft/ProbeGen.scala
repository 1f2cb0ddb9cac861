package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Nonlinearity-probe corpus: a K× replication of a fixture corpus with
  * entity-disjoint replicas, for measuring how the scale-sensitive
  * operators' cost grows with corpus size (r6 verdict #7 — a 10× corpus
  * should cost ~10×, not 100×).
  *
  * Replication must not distort the workload's JOIN/DUP structure, only
  * scale it — each replica is made DISJOINT from the others:
  *   - ids (doc/event/user/order/cust/supp keys) are offset per replica, so
  *     the g01/d08 graphs become K disjoint copies (linear work is then the
  *     correct expectation) and per-user streaming state grows K×;
  *   - document text gets a replica-salted prefix on every 5th token: every
  *     10-token shingle window crosses a salted token, so MinHash/SimHash
  *     similarity across replicas collapses to ~0 while pairs WITHIN a
  *     replica keep their original similarity (the same positional salting
  *     is applied to both members). Without this, d04's banded join would
  *     see every band bucket grow K× denser and pair candidates K²× — a
  *     data distortion, not an algorithmic nonlinearity.
  *   - event timestamps are kept (densification: K× events per window),
  *     which scales q71's per-user spine count and st06's key space
  *     linearly with K.
  *
  * Usage: `sbt "runMain graft.ProbeGen <inDir> <outDir> <K> [hub]"`.
  *
  * `hub` mode (r14 verdict #3): entity-disjoint replication holds every
  * node's degree CONSTANT by construction, which is exactly why the
  * 10×/100× tiers structurally cannot surface per-key quadratic growth —
  * the g05/g14 wedge middle's failure class. In hub mode ONE part (the
  * input corpus's highest-order-count part, deterministic) keeps its id
  * UN-offset across lineitem replicas, so its co-purchase degree grows
  * ~K× (each replica contributes a disjoint partner set) while every
  * other degree stays constant: wedges centered on the hub grow ~K², the
  * hub-growth signal QueryTime's g05/g14 timings over the probe corpus
  * measure (README's probe table).
  */
object ProbeGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || (args.length == 4 && args(3) == "hub"),
      "usage: ProbeGen <inDir> <outDir> <K> [hub]")
    val (inDir, outDir, k) = (args(0), args(1), args(2).toInt)
    val hubMode = args.length == 4
    // 32 shuffle partitions at any core count, as LayoutGen
    val spark = GraftSession.build(GraftSession.cpus(32), shufflePartitions = Some("32"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val off = 10000000L // replica id offset; far above any fixture key

    def replicate(t: String)(perReplica: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$inDir/$t.parquet")
      val out = (0 until k).map(i => perReplica(base, i)).reduce(_ unionAll _)
      // single file per table, mirroring the canonical corpus layout (and
      // st06's single-batch replay contract)
      out.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      println(s"[probegen] $t x$k")
    }

    replicate("documents") { (df, i) =>
      // EVERY token is replica-salted: d04's LSH runs 16 bands × 2 rows,
      // which catches j≈0.4 pairs with ~94% probability — an every-5th-token
      // salt left 2/5 of the 3-gram shingles intact across replicas
      // (j≈0.4), and the first probe run measured the resulting candidate
      // explosion as a phantom 58× cpu "nonlinearity". Prefixing all
      // tokens sends cross-replica similarity to 0 while keeping each
      // replica's internal pair structure exactly isomorphic to the
      // original (one shared prefix per replica shifts shingle VALUES,
      // not their equality relations or counts).
      df.withColumn("doc_id", col("doc_id") + lit(i * off))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            tok => concat(lit(s"r${i}x"), tok)), " "))
    }
    replicate("embeddings") { (df, i) =>
      // label blocks are replica-local (+100·i): d08's candidate pairs are
      // blocked on label equality, so identical vectors across replicas
      // must not share a block (they'd form cosine-1.0 pairs, K²× growth)
      df.withColumn("vec_id", col("vec_id") + lit(i * off))
        .withColumn("label", col("label") + lit(i * 100))
    }
    replicate("events") { (df, i) =>
      // normalize ts to the canonical timestamp_ntz form so the probe corpus
      // is encoding-stable regardless of the source corpus generation
      graft.sources.Tables.normalizeEventTs(df)
        .withColumn("event_id", col("event_id") + lit(i * off))
        .withColumn("user_id", col("user_id") + lit(i * off))
    }
    replicate("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * off))
        .withColumn("o_custkey", col("o_custkey") + lit(i * off))
    }
    // hub mode: the shared-hub part id = the max-DEGREE node of the
    // support-2 co-purchase graph (NOT the most-orders part — at sf0.1
    // that part has zero support-2 edges, so replicating it grows
    // nothing). Tie-break smallest key. A driver-side scalar, the
    // loop-control collect class.
    val hubKey: Long =
      if (!hubMode) -1L
      else {
        val ob = spark.read.parquet(s"$inDir/lineitem.parquet")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val pairs = ob.as("a")
          .join(ob.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("s")).filter(col("s") >= 2)
        pairs.select(col("u").as("x")).unionAll(pairs.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("d"))
          .orderBy(col("d").desc, col("x"))
          .limit(1).collect()(0).getAs[Number]("x").longValue()
      }
    if (hubMode) println(s"[probegen] hub mode: shared part $hubKey")

    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * off))
        // replicas stay suppkey-disjoint at any K, but the +1e6 supplier
        // node offset in g01's trade graph is only collision-free below
        // K=10 (at K=100, replica-99 supplier nodes reach 1.09e7 and land
        // inside replica-1's customer id space) — so the 100x probe tier
        // excludes the trade-graph queries (g01/g09); the co-purchase
        // family (partkey ids, offset i*off) is collision-free at any K
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * off / 100))
        .withColumn("l_partkey",
          if (hubMode)
            when(col("l_partkey") === hubKey, lit(hubKey))
              .otherwise(col("l_partkey") + lit(i * off))
          else col("l_partkey") + lit(i * off))
    }
    // remaining tables copied as-is (dims; not on any probe query's path)
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      spark.read.parquet(s"$inDir/$t.parquet")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      println(s"[probegen] $t copied")
    }
    println(s"[probegen] wrote ${k}x probe corpus: $inDir -> $outDir")
    spark.stop()
  }
}
