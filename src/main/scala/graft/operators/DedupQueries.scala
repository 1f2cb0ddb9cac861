package graft.operators

import graft.{GraftQuery, Materialize}
import graft.GraftQuery.{sql, sqlEager}
import graft.Materialize.cacheParts
import graft.functions.{HashFunctions, TextFunctions}
import graft.functions.VectorFunctions._
import graft.sources.Tables
import graft.operators.Det._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` — the north-star
  * dedup suite: exact (hash group-by), MinHash+LSH banding, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale notes (100 TB):
  *   - exact dedup shuffles once on the 128-bit content hash — never on the
  *     raw text;
  *   - MinHash signatures are computed map-side with direct token hashing
  *     (no vocabulary); only band keys shuffle, and candidate verification
  *     touches just the colliding pairs;
  *   - the dictionary-based MinHash twin (d03) exists because its pure
  *     arithmetic is DuckDB-checkable — the production path is d04's;
  *   - blocked pair generation (same `source` / same `label`) stands in for
  *     the banding/bucketing that bounds pair counts at scale.
  */
object DedupQueries {

  private def toks = TextFunctions.tokens(col("text"))

  // Fixed MinHash permutation constants, shared by the Spark impl and the
  // generated DuckDB oracle of d03.
  private val P = 2147483647L
  private val As = Seq(1103L, 12289L, 52361L, 75377L, 9419L, 31847L, 60689L, 81919L)
  private val Bs = Seq(12345L, 98765L, 54321L, 13579L, 24680L, 86420L, 11111L, 77777L)

  /** DuckDB HUGEINT replay of the fused ShingleMinHash band-key kernel
    * (fnv1a over 0x1f-joined 3-gram shingles → 32 xor-multiply avalanche
    * permutations → signed-long mins → fnv-fold 16×2 band keys), shared by
    * the d04 and d13 oracles. Ends with the `keys(doc_id, band, key)` CTE;
    * callers append their own CTEs after a comma. Pre-stripped — the sql()
    * helper's stripMargin leaves these lines untouched.
    */
  /** First half of [[bandKeySql]]: tokenize → 3-gram shingle fnv1a →
    * 32 xor-multiply avalanche permutations → signed-long minima. Ends
    * with the `sig(doc_id, j, sv)` CTE; [[bandKeySql]] appends the 16×2
    * band folds, and d16's banding audit consumes the raw signature
    * directly (its band keys are value tuples, not folds).
    */
  private[operators] val sigSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)-2),
      |           i -> tk[i] || chr(31) || tk[i+1] || chr(31) || tk[i+2])) AS s
      |  FROM tok WHERE len(tk) >= 3),
      |base AS (SELECT DISTINCT doc_id, list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |          list_transform(string_split(s,''), c -> CAST(ascii(c) AS HUGEINT))),
      |          (a,c) -> (xor(a,c) * 1099511628211) % 18446744073709551616) AS b FROM sh),
      |perm AS (SELECT doc_id, b, unnest(generate_series(0, 31)) AS j FROM base),
      |m0 AS (SELECT doc_id, j, xor(b, (CAST(j AS HUGEINT) * 11400714819323198485) % 18446744073709551616) AS x FROM perm),
      |m1 AS (SELECT doc_id, j, xor(x, x >> 33) AS x FROM m0),
      |m2 AS (SELECT doc_id, j, (x * 3981806797 + ((x * 4283543511) % 4294967296) * 4294967296) % 18446744073709551616 AS x FROM m1),
      |m3 AS (SELECT doc_id, j, xor(x, x >> 33) AS x FROM m2),
      |m4 AS (SELECT doc_id, j, (x * 444984403 + ((x * 3301882366) % 4294967296) * 4294967296) % 18446744073709551616 AS x FROM m3),
      |m5 AS (SELECT doc_id, j, xor(x, x >> 33) AS x FROM m4),
      |sig AS (SELECT doc_id, j,
      |          min(CAST(CASE WHEN x >= 9223372036854775808 THEN x - 18446744073709551616 ELSE x END AS BIGINT)) AS sv
      |        FROM m5 GROUP BY doc_id, j)""".stripMargin

  private[operators] val bandKeySql: String =
    s"""$sigSql,
      |bk0 AS (SELECT doc_id, j // 2 AS band, j % 2 AS r,
      |          CASE WHEN sv < 0 THEN CAST(sv AS HUGEINT) + 18446744073709551616 ELSE CAST(sv AS HUGEINT) END AS u
      |        FROM sig),
      |r0 AS (SELECT doc_id, band, xor(CAST(14695981039346656037 AS HUGEINT), u) AS x FROM bk0 WHERE r = 0),
      |r0m1 AS (SELECT doc_id, band, xor(x, x >> 33) AS x FROM r0),
      |r0m2 AS (SELECT doc_id, band, (x * 3981806797 + ((x * 4283543511) % 4294967296) * 4294967296) % 18446744073709551616 AS x FROM r0m1),
      |r0m3 AS (SELECT doc_id, band, xor(x, x >> 33) AS x FROM r0m2),
      |r0m4 AS (SELECT doc_id, band, (x * 444984403 + ((x * 3301882366) % 4294967296) * 4294967296) % 18446744073709551616 AS x FROM r0m3),
      |r0m5 AS (SELECT doc_id, band, xor(x, x >> 33) AS h FROM r0m4),
      |r1 AS (SELECT a.doc_id, a.band, xor(a.h, b.u) AS x
      |       FROM r0m5 a JOIN bk0 b ON b.doc_id = a.doc_id AND b.band = a.band AND b.r = 1),
      |r1m1 AS (SELECT doc_id, band, xor(x, x >> 33) AS x FROM r1),
      |r1m2 AS (SELECT doc_id, band, (x * 3981806797 + ((x * 4283543511) % 4294967296) * 4294967296) % 18446744073709551616 AS x FROM r1m1),
      |r1m3 AS (SELECT doc_id, band, xor(x, x >> 33) AS x FROM r1m2),
      |r1m4 AS (SELECT doc_id, band, (x * 444984403 + ((x * 3301882366) % 4294967296) * 4294967296) % 18446744073709551616 AS x FROM r1m3),
      |keys AS (SELECT doc_id, band, xor(x, x >> 33) AS key FROM r1m4)""".stripMargin

  /** Production near-dup path: MinHash(k=32) → LSH bands(16×2) → exact
    * Jaccard verification of colliding pairs.
    *
    * The banding self-join is uncapped, so the DuckDB oracle replays it
    * bit-exact; AQE's skew split is its one skew defence (SkewSpec plants
    * a flood bucket and measures the split).
    *
    * The eager scope (default) materializes the result and releases the
    * band/candidate caches before returning; [[Materialize.Lazy]] gives the
    * same expression tree with no persist/count, for plan audits.
    */
  def lshNearDups(s: SparkSession, dir: String, threshold: Double = 0.5,
      m: Materialize = Materialize.eager()): DataFrame = {
    // 3-gram shingles, not unigram token sets: with a small vocabulary every
    // document shares nearly all unigrams, so only shingle sets separate
    // near-duplicates from unrelated docs. The fused ShingleMinHash
    // expression computes shingling + 32 permutations in one codegen'd
    // kernel; k=32 as 16 bands × 2 rows gives P(candidate | j=0.5) ≈ 0.99,
    // while unrelated pairs (j ≈ 0.02 on shingles) almost never collide.
    //
    // The banding join carries only (band, key, doc_id) — shingle sets are
    // re-joined afterwards for just the candidate pairs, so the one shuffle
    // here moves 24 bytes/row, not 128-element string arrays.
    val docs = Tables.documents(s, dir)
    // persist band keys: the self-join would otherwise evaluate the fused
    // minhash kernel (the dominant map-side cost) once per join leg —
    // Spark has no cross-branch common-subexpression reuse. 24 bytes/row.
    val banded0 = docs
      .select(col("doc_id"),
        posexplode(HashFunctions.shingleMinHashBands(toks, k = 32, n = 3, bands = 16, rows = 2))
          .as(Seq("band", "key")))
    val banded = m.persist(banded0)
    // Materialization barrier (the g02 lesson): the self-join's two leg
    // stages submit concurrently, and against an unfilled cache each would
    // run the minhash kernel — exactly what the persist is here to avoid.
    // The barrier's count doubles as the size estimate for the candidate
    // cache below (band rows = 16 × docs bound the colliding-pair set in a
    // non-degenerate corpus).
    val bandedRows = m.count(banded)
    val candidates0 = banded
      .join(banded.select(col("band"), col("key"), col("doc_id").as("id_b")), Seq("band", "key"))
      .filter(col("doc_id") < col("id_b"))
      .select(col("doc_id").as("id_a"), col("id_b"))
      .distinct()
    // coalesce before persist (the g02 r8 lesson): cached plans keep their
    // materialized partitioning, so the ~dozens-of-rows candidate set would
    // cache as 32 near-empty shuffle partitions and charge every downstream
    // join a full round of empty tasks. Sized from the barrier's band-row
    // count, not a constant: 1 partition at bench scale, growing with the
    // corpus instead of funneling a 100 TB candidate set through one core.
    val candidates = m.persist(candidates0, cacheParts(bandedRows))
    // shingle sets only for documents appearing in some candidate pair, so
    // the exact-Jaccard verification cost scales with candidates, not corpus
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val sets = docs.join(candIds, "doc_id")
      .select(col("doc_id"), HashFunctions.shingleStrings(toks, 3).as("tokset"))
    // Materialize the verified pairs (Dataset persist — covered by
    // `spark.catalog.clearCache()`), then drop the band/candidate blocks:
    // returning a lazy frame over them would leak both caches into the
    // caller's session until the ContextCleaner got around to them.
    m.result(candidates
      .join(sets.select(col("doc_id").as("id_a"), col("tokset").as("ts_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("tokset").as("ts_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))))
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (size(col("ts_a")) + size(col("ts_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))
      .orderBy("id_a", "id_b"))
  }

  /** SimHash near-dup pairs within Hamming distance `maxHamming`,
    * multi-table blocked: a pair is a candidate if it agrees on ANY of the
    * top `tables` bytes of the fingerprint. Single-byte blocking misses
    * near-dups whose flipped bits happen to land in the block byte;
    * rotating the block position over several bytes recovers them (a
    * 64-bit fingerprint at distance ≤16 differs in ≤16 of 8 bytes, so
    * with 3 block bytes the miss probability collapses). Candidates are
    * per-block equi-joins — never all-pairs — and a pair colliding in
    * several tables is deduplicated before the Hamming check.
    * Recall vs exact all-pairs Hamming is asserted in ScalaTest.
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 16, tables: Int = 3): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), HashFunctions.shingleSimHash(toks, 3).as("sh"))
    val blocked = docs.select(col("doc_id"), col("sh"),
      posexplode(array((0 until tables).map(t =>
        shiftrightunsigned(col("sh"), 56 - 8 * t).bitwiseAND(lit(255L))): _*))
        .as(Seq("tbl", "blk")))
    val a = blocked.select(col("tbl"), col("blk"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = blocked.select(col("tbl"), col("blk"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("tbl", "blk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b")
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** Exact all-pairs Hamming over the simhash fingerprints — the recall
    * reference for [[simhashPairs]] (test-only: quadratic in corpus size).
    */
  def exactSimhashPairs(s: SparkSession, dir: String, maxHamming: Int = 16): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), HashFunctions.shingleSimHash(toks, 3).as("sh"))
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over the embedding-cosine near-dup graph (d06's
    * edge set): every document labeled with the smallest doc_id in its
    * duplicate cluster — the step that turns pairwise near-dup hits into
    * keep/drop decisions in a curation pipeline.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * takes the min over (a) neighbors' labels — one equi-join on the edge
    * list — and (b) the label's own label (`lbl(lbl(node))`) — a self-join
    * on the label set. (a) alone needs `diameter` rounds (a 20-round cap
    * failed on the sf0.1 graph's ~1000-node chain component); (b) halves
    * the remaining depth every round, so the loop converges in
    * O(log diameter) rounds (~16 at sf0.1). Convergence is detected by
    * the strictly-decreasing label sum going flat (labels only ever
    * decrease, so sum-unchanged ⇔ fixed point; the sum is exact while
    * n·maxId < 2^63 — beyond that, widen to BigInt before trusting it).
    * The driver only ever sees that scalar, never node data.
    *
    * Execution split, deliberate (r04 → r05): edge DISCOVERY — the only
    * data-heavy stage (blocked cosine all-pairs) — is a DataFrame plan at
    * ambient parallelism, where Catalyst's join/codegen machinery earns
    * its keep. The ITERATION runs on partitioner-aligned pair-RDDs
    * (GraphX-style, the canonical Spark idiom for iterative graph
    * algorithms): both the edge list and every round's labels are hashed
    * by the SAME `HashPartitioner(max(1, |V|/1e6))`, so the per-round
    * edge⋈labels join is narrow (zero shuffle — the edge side never moves
    * again, exactly the "reuse a partitioning across stages" rule that
    * SQL cannot express across separate actions), leaving one tiny
    * labels-wide shuffle per round for the jump + min-combine. The SQL
    * variant of this loop measured ~0.55 s/round of pure driver work at
    * sf0.1 — physical planning, per-round codegen, and AQE barriers for
    * single-task stages — ~5× its executor time; the RDD loop pays only
    * job launch (~50 ms/round) and runs the same shuffle pattern a 1000-
    * executor cluster would want. Every loop RDD persists through the
    * caller's scope `m`, and each round releases the superseded labels, so
    * at most two label generations hold storage at any time. The clusters
    * frame comes back filled through `m`; the loop's last blocks are
    * released once it is, and the caller's `m.result` releases the frame
    * (or hands it over, when it is the result).
    */
  def dupClusters(s: SparkSession, dir: String, m: Materialize): DataFrame = {
    val maxIters = 20
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("e_b"))
    val pairs = a.join(b, "label")
      .filter(col("id_a") < col("id_b"))
      .filter(cosineSim(col("e_a"), col("e_b")) > 0.3)
      .select("id_a", "id_b")
    // Emit both directions from ONE projection over the join output: a
    // `pairs union pairs.swapped` plan references the cosine join from two
    // branches and Spark evaluates it twice per materialization. No
    // persist: the frame is consumed exactly once, by the edgeRdd pull.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    import s.implicits._
    import org.apache.spark.HashPartitioner
    // |V| sizes the loop's partitioner (~1M labels per partition at scale;
    // 1 partition at fixture scale, where more is pure task overhead).
    val nV = e.count()
    val part = new HashPartitioner(math.max(1L, math.min(1024L, nV / 1000000L)).toInt)
    // Edge discovery (the one data-heavy stage) materializes HERE, as a
    // DataFrame plan at ambient parallelism. The result lands keyed by v —
    // the loop joins look up lbl(v) and propagate it to u — and is hash-
    // partitioned ONCE; every subsequent round joins against it narrowly
    // (the edge list never moves again — at 100 TB this is the difference
    // between shuffling the edges ~16 times and shuffling them once).
    val edgeRdd = m.persist(edges.select(col("v"), col("u")).as[(Long, Long)].rdd
      .partitionBy(part))
    edgeRdd.count()
    // Seed: lbl(u) = min(u, min over neighbors) — the first neighbor hop
    // fused with initialization (a pointer jump on fresh labels is the
    // identity, so round 0 needs no jump). reduceByKey(part, min) leaves
    // the labels co-partitioned with the edges for every later join.
    var labels = m.persist(e.select(col("vec_id"), col("vec_id")).as[(Long, Long)].rdd
      .union(edgeRdd)
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)))
    var prevSum = labels.values.fold(0L)(_ + _)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // (a) neighbor hop: narrow join on the co-partitioned edge list;
      // (b) pointer jump lbl(lbl(n)): re-key by lbl — the one label-wide
      // shuffle of the round; the trailing reduceByKey(part) is map-side
      // combined and restores the loop partitioning. No identity branch:
      // the jump emits every node (its key lbl(n) is itself a node) and
      // labels only decrease, so identity rows can never win the min.
      val next = m.persist(edgeRdd.join(labels, part)
        .map { case (_, (u, lbl)) => (u, lbl) }
        .union(labels.map { case (n, l) => (l, n) }
          .join(labels, part)
          .map { case (_, (n, ll)) => (n, ll) })
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)))
      // Convergence scalar: one tiny per-round action (cheap now that a
      // round is one RDD job, ~50 ms — the r04 check-every-2-rounds
      // batching existed to amortize ~0.5 s SQL-planning rounds).
      val nextSum = next.values.fold(0L)(_ + _)
      m.release(labels)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    // once the clusters frame is filled its rows live in the frame's cache,
    // so the loop's blocks go now rather than with the caller's result
    val out = m.fill(labels.toDF("doc_id", "cluster_id").orderBy("doc_id"))
    m.release(labels)
    m.release(edgeRdd)
    out
  }

  /** Exact all-pairs Jaccard over a block — the oracle/recall reference for
    * the LSH path (ScalaTest asserts lshNearDups ⊇ these pairs).
    */
  def exactNearDups(s: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), HashFunctions.shingleStrings(toks, 3).as("tokset"))
    val a = docs.select(col("doc_id").as("id_a"), col("tokset").as("ts_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("tokset").as("ts_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))))
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (size(col("ts_a")) + size(col("ts_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  val all: Seq[GraftQuery] = Seq(
    sql(
      "d01_exact_dedup",
      "exact dedup via content-hash group-by: keep lowest doc_id per text",
      """SELECT doc_id, source
        |FROM (SELECT doc_id, source,
        |             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM documents)
        |WHERE rn = 1
        |ORDER BY doc_id""") { (s, dir) =>
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    sql(
      "d02_ngram_jaccard",
      "word-3-gram Jaccard similarity between consecutive documents",
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(t) - 2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       floor((length(list_filter(a.grams, x -> list_contains(b.grams, x))) * 1.0
        |              / (length(a.grams) + length(b.grams)
        |                 - length(list_filter(a.grams, x -> list_contains(b.grams, x))))) * 10000 + 0.5) / 10000
        |         AS jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""") { (s, dir) =>
      val g = Tables.documents(s, dir)
        .select(col("doc_id"), HashFunctions.shingleStrings(toks, 3).as("grams"))
      val a = g.select(col("doc_id").as("id_a"), col("grams").as("g_a"))
      val b = g.select(col("doc_id").as("id_b"), col("grams").as("g_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .withColumn("inter", size(array_intersect(col("g_a"), col("g_b"))))
        .select(col("id_a"), col("id_b"),
          // try_divide: two empty gram sets (all-whitespace docs) make the
          // union size 0, and ANSI double division THROWS on divisor 0
          r4(try_divide(col("inter") * lit(1.0),
            size(col("g_a")) + size(col("g_b")) - col("inter"))).as("jaccard"))
        .orderBy("id_a")
    },

    sql(
      "d03_minhash_signature",
      "MinHash signatures (dictionary-arithmetic twin; DuckDB-checkable)",
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        |vocab AS (SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS tok_id
        |          FROM (SELECT DISTINCT tok FROM toks)),
        |ids AS (SELECT doc_id, list(tok_id) AS ids
        |        FROM toks JOIN vocab USING (tok) GROUP BY doc_id)
        |SELECT doc_id,
        |${As.zip(Bs).zipWithIndex.map { case ((a, bc), j) =>
           s"       list_min(list_transform(ids, t -> ($a * t + $bc) % $P)) AS h$j" }.mkString(",\n")}
        |FROM ids
        |ORDER BY doc_id""") { (s, dir) =>
      val tokens = Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(toks)).as("tok"))
      // Dictionary ids must be dense ranks in token sort order (the oracle
      // computes them the same way), but a global `row_number` window is a
      // single-partition sort — the one pattern that cannot scale. A
      // range-partitioned sort + RDD zipWithIndex assigns the identical
      // contiguous ids with every partition sorting in parallel.
      import s.implicits._
      val vocab = tokens.select("tok").distinct().orderBy("tok")
        .as[String].rdd.zipWithIndex()
        .toDF("tok", "tok_id")
      // no broadcast() hint: forcing it materializes the whole vocabulary
      // on the driver — at a 100 TB vocabulary that is a driver bottleneck.
      // AQE broadcasts small vocabularies on its own from runtime stats.
      val ids = tokens.join(vocab, "tok")
        .groupBy("doc_id").agg(collect_list("tok_id").as("ids"))
      ids.select(col("doc_id") +: As.zip(Bs).zipWithIndex.map { case ((a, bc), j) =>
          array_min(transform(col("ids"), t => (t * a + bc) % P)).as(s"h$j")
        }: _*)
        .orderBy("doc_id")
    },

    sqlEager(
      "d04_lsh_near_dups",
      "MinHash+LSH near-duplicate pairs (banding join), Jaccard-verified. The fused kernel is pure mod-2^64 arithmetic (fnv1a over 0x1f-joined 3-gram shingles, xor-multiply avalanche per permutation, signed-long mins, fnv-fold band keys), so the oracle replays it in DuckDB HUGEINT — large multiplies split into 32-bit halves to stay inside INT128; SimilarityRecallSpec additionally asserts exact equality with all-pairs 3-gram Jaccard",
      s"""$bandKeySql,
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |grams AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk)-2),
        |            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |          FROM tok WHERE len(tk) >= 3),
        |verified AS (
        |  SELECT c.id_a, c.id_b,
        |         length(list_filter(ga.g, x -> list_contains(gb.g, x))) AS inter,
        |         length(ga.g) + length(gb.g) AS tot
        |  FROM cand c JOIN grams ga ON ga.doc_id = c.id_a JOIN grams gb ON gb.doc_id = c.id_b)
        |SELECT id_a, id_b, floor((inter * 1.0 / (tot - inter)) * 10000 + 0.5) / 10000 AS jaccard
        |FROM verified
        |WHERE inter * 1.0 / (tot - inter) >= 0.5
        |ORDER BY id_a, id_b""") { (s, dir, m) => lshNearDups(s, dir, m = m) },

    sql(
      "d05_simhash_pairs",
      "SimHash-over-shingles fingerprints: multi-table byte-blocked pairs within Hamming distance 16. The simhash kernel (fnv1a shingle hashes, per-bit majority votes) is pure integer arithmetic, replayed in DuckDB HUGEINT; SimilarityRecallSpec additionally asserts precision 1.0 and recall vs exact Hamming pairs",
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)-2),
        |           i -> tk[i] || chr(31) || tk[i+1] || chr(31) || tk[i+2])) AS s
        |  FROM tok WHERE len(tk) >= 3),
        |base AS (SELECT doc_id, list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |          list_transform(string_split(s,''), c -> CAST(ascii(c) AS HUGEINT))),
        |          (a,c) -> (xor(a,c) * 1099511628211) % 18446744073709551616) AS h FROM sh),
        |votes AS (SELECT doc_id, b,
        |            sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM base, unnest(generate_series(0, 63)) AS u(b)
        |          GROUP BY doc_id, b),
        |fp AS (SELECT doc_id,
        |         sum(CASE WHEN v > 0 THEN (CAST(1 AS HUGEINT) << b) ELSE 0 END) AS u
        |       FROM votes GROUP BY doc_id),
        |blocked AS (SELECT doc_id, u, t, (u >> (56 - 8*t)) & 255 AS blk
        |            FROM fp, unnest(generate_series(0, 2)) AS g(t)),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.u AS ua, b.u AS ub
        |          FROM blocked a JOIN blocked b
        |            ON a.t = b.t AND a.blk = b.blk AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(ua, ub)) AS BIGINT) AS hamming
        |FROM pairs
        |WHERE bit_count(xor(ua, ub)) <= 16
        |ORDER BY id_a, id_b""") { (s, dir) => simhashPairs(s, dir) },

    sql(
      "d07_rolling_fingerprint",
      "order-sensitive rolling-hash fingerprint per document (exact-sequence identity): h = fold(h*31 + fnv1a(token)) in wrapping i64. Pure mod-2^64 arithmetic, so DuckDB reproduces it with nested list_reduce over HUGEINT (fixture text is ASCII: char codepoints == UTF-8 bytes)",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(toks, tok ->
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |                   list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS HUGEINT))),
        |      (acc, c) -> (xor(acc, c) * 1099511628211) % 18446744073709551616)) AS th
        |  FROM t),
        |r AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS HUGEINT), th),
        |              (acc, x) -> (acc * 31 + x) % 18446744073709551616) AS rh
        |  FROM h)
        |SELECT doc_id,
        |       CAST(CASE WHEN rh >= 9223372036854775808
        |                 THEN rh - 18446744073709551616 ELSE rh END AS BIGINT) AS fp
        |FROM r ORDER BY doc_id""") { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.HashFunctions.rollingHash(toks).as("fp"))
        .orderBy("doc_id")
    },

    sql(
      "d08_dup_clusters",
      "connected components over the embedding-cosine near-dup graph: doc_id → smallest doc_id in its duplicate cluster (iterative min-label propagation; oracle = DuckDB recursive CTE)",
      s"""WITH RECURSIVE
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE ${cosineSql("a.embedding", "b.embedding")} > 0.3),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
        |  WHERE r.lbl < e.u)
        |SELECT node AS doc_id, min(lbl) AS cluster_id
        |FROM reach GROUP BY node
        |ORDER BY doc_id""") { (s, dir) =>
      val m = Materialize.eager()
      m.result(dupClusters(s, dir, m))
    },

    sql(
      "p06_cluster_representative",
      "near-dup cluster representative selection — the curation step AFTER clustering (d08): per duplicate cluster keep exactly one document, the longest version (max n_chars, doc_id tie-break), and report what the collapse drops. This is the keep-best-duplicate policy every production dedup pipeline ends with (keeping the cluster-min doc_id, as d01/d08 do, silently prefers the EARLIEST crawl, which for truncated re-crawls is the worst member). Output per cluster: representative doc_id, member count, kept/dropped char mass — integers, engine-exact. Scale posture: reuses d08's pointer-jumping CC (O(log d) rounds, partitioner-aligned), then ONE cluster-keyed window over (cluster_id, n_chars, doc_id) rows — 16 B/row, never the text — and the join back to documents is doc_id-keyed; no new shuffle shape beyond d08 itself",
      s"""WITH RECURSIVE
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE ${cosineSql("a.embedding", "b.embedding")} > 0.3),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
        |  WHERE r.lbl < e.u),
        |clusters AS (SELECT node AS doc_id, min(lbl) AS cluster_id
        |             FROM reach GROUP BY node),
        |members AS (
        |  SELECT c.cluster_id, d.doc_id, coalesce(d.n_chars, 0) AS n_chars,
        |         row_number() OVER (PARTITION BY c.cluster_id
        |                            ORDER BY coalesce(d.n_chars, 0) DESC, d.doc_id) AS rn,
        |         CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_members,
        |         CAST(sum(coalesce(d.n_chars, 0)) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS total_chars
        |  FROM clusters c JOIN documents d USING (doc_id))
        |SELECT cluster_id, doc_id AS rep_doc_id, n_members,
        |       CAST(n_chars AS BIGINT) AS kept_chars,
        |       CAST(total_chars - n_chars AS BIGINT) AS dropped_chars
        |FROM members WHERE rn = 1
        |ORDER BY cluster_id""") { (s, dir) =>
      val m = Materialize.eager()
      val clusters = dupClusters(s, dir, m)
      val members = clusters
        .join(Tables.documents(s, dir)
          .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("n_chars")), "doc_id")
      val byCluster = Window.partitionBy("cluster_id")
      m.result(members
        .withColumn("rn", row_number().over(
          byCluster.orderBy(desc("n_chars"), col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(byCluster).cast("long"))
        .withColumn("total_chars", sum("n_chars").over(byCluster).cast("long"))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("rep_doc_id"), col("n_members"),
          col("n_chars").cast("long").as("kept_chars"),
          (col("total_chars") - col("n_chars")).cast("long").as("dropped_chars"))
        .orderBy("cluster_id"))
    },

    sql(
      "d09_fuzzy_join",
      "blocked fuzzy join: candidate pairs blocked on (lang, length band) — an equi-join, never all-pairs — verified by edit distance <= 5 over the 30-char head. The near-dup-title matcher shape: at 100 TB the block keys bound the candidate count and the quadratic levenshtein only touches in-block pairs",
      """WITH d AS (SELECT doc_id, lang, substr(text, 1, 30) AS head, n_chars // 20 AS band
        |           FROM documents),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.head AS h_a, b.head AS h_b
        |  FROM d a JOIN d b
        |    ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(levenshtein(h_a, h_b) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(h_a, h_b) <= 5
        |ORDER BY id_a, id_b""") { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), substring(col("text"), 1, 30).as("head"),
          floor(col("n_chars") / 20).cast("long").as("band"))
      val a = d.select(col("lang"), col("band"), col("doc_id").as("id_a"), col("head").as("h_a"))
      val b = d.select(col("lang"), col("band"), col("doc_id").as("id_b"), col("head").as("h_b"))
      a.join(b, Seq("lang", "band"))
        .filter(col("id_a") < col("id_b"))
        // bounded variant: the kernel early-exits (returns -1) once a row's
        // running minimum exceeds the threshold — O(len·k) instead of
        // O(len²) per pair, the dominant cost of this query (r04: 2.3 s,
        // all in the levenshtein stage)
        .withColumn("dist", levenshtein(col("h_a"), col("h_b"), 5).cast("long"))
        .filter(col("dist") >= 0)
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
    },

    sql(
      "d06_embedding_sim_pairs",
      "embedding-cosine near-dup candidates within label blocks (threshold 0.3)",
      s"""SELECT id_a, id_b, floor((sim) * 1000000 + 0.5) / 1000000 AS sim
        |FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |             ${cosineSql("a.embedding", "b.embedding")} AS sim
        |      FROM embeddings a JOIN embeddings b
        |        ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE sim > 0.3
        |ORDER BY id_a, id_b""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("e_a"))
      val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("e_b"))
      a.join(b, "label")
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", cosineSim(col("e_a"), col("e_b")))
        .filter(col("sim") > 0.3)
        .select(col("id_a"), col("id_b"), r6(col("sim")).as("sim"))
        .orderBy("id_a", "id_b")
    },

    sqlEager(
      "d10_contamination",
      "train/eval decontamination via n-gram containment: eval set = doc_id % 50 = 0, train = rest; 3-gram inverted-index equi-join on the gram value (never train × eval all-pairs), containment = |grams(train) ∩ grams(eval)| / |grams(train)|, flag pairs ≥ 0.3. Scale posture: the one shuffle is keyed by gram — the same banded-join shape as LSH; at 100 TB add a document-frequency cap to drop stop-grams before the join (skew + no discriminative value)",
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(t) - 2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |ex AS (SELECT doc_id, unnest(grams) AS gram, length(grams) AS n_grams FROM g),
        |hits AS (
        |  SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
        |         count(*) AS inter, any_value(t.n_grams) AS n_train
        |  FROM (SELECT * FROM ex WHERE doc_id % 50 <> 0) t
        |  JOIN (SELECT * FROM ex WHERE doc_id % 50 = 0) e ON e.gram = t.gram
        |  GROUP BY train_id, eval_id)
        |SELECT train_id, eval_id,
        |       floor((inter * 1.0 / n_train) * 10000 + 0.5) / 10000 AS containment
        |FROM hits
        |WHERE inter * 1.0 / n_train >= 0.3
        |ORDER BY train_id, eval_id""") { (s, dir, m) =>
      contamination(s, dir, m)
    },

    sql(
      "d11_semantic_dedup",
      "SemDeDup-shaped semantic deduplication: a deterministic 8-vector codebook (the smallest-priority-hash vec_ids — no RNG, no iterative training) partitions the corpus by nearest-cosine cluster; per cluster report the size, the closest non-seed representative, and the count of members above the near-dup threshold (0.2) — the set a semantic dedup pass would drop in favor of the representative. Scale posture: the codebook is a broadcast (8 rows), assignment is one codegen'd cosine scan (the s03 IVF shape), per-cluster stats are one keyed aggregation; at 100 TB the codebook comes from s07's k-means instead, same plan",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE len(embedding) > 0),
        |src AS (SELECT vec_id AS k, vec_id, embedding FROM e),
        |${HashFunctions.priorityHashCtes("src", "k", 3L, "vec_id, embedding")},
        |seeds AS (SELECT vec_id AS seed_id, embedding AS seed_emb
        |          FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY pri, vec_id) AS rn FROM ph4)
        |          WHERE rn <= 8),
        |sims AS (SELECT e.vec_id, s.seed_id, ${cosineSql("e.embedding", "s.seed_emb")} AS sim
        |         FROM e CROSS JOIN seeds s),
        |a1 AS (SELECT * FROM (SELECT vec_id, seed_id, sim,
        |                      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, seed_id) AS rn FROM sims)
        |       WHERE rn = 1),
        |reps AS (SELECT seed_id, vec_id AS rep_id, floor(sim * 1000000 + 0.5) / 1000000 AS rep_sim,
        |                row_number() OVER (PARTITION BY seed_id ORDER BY sim DESC, vec_id) AS rk
        |         FROM a1 WHERE vec_id != seed_id)
        |SELECT c.seed_id, c.n_members, r.rep_id, r.rep_sim, c.n_close
        |FROM (SELECT seed_id, CAST(count(*) AS BIGINT) AS n_members,
        |             CAST(count(CASE WHEN vec_id != seed_id AND sim >= 0.2 THEN 1 END) AS BIGINT) AS n_close
        |      FROM a1 GROUP BY seed_id) c
        |JOIN (SELECT seed_id, rep_id, rep_sim FROM reps WHERE rk = 1) r USING (seed_id)
        |ORDER BY seed_id""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .filter(size(col("embedding")) > 0)
        .select(col("vec_id"), col("embedding"))
      val seeds = e
        .withColumn("pri", HashFunctions.priorityHash(col("vec_id"), 3L))
        .orderBy("pri", "vec_id").limit(8) // TakeOrdered: no global sort materializes
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_emb"))
      val sims = e.crossJoin(broadcast(seeds))
        .withColumn("sim", cosineSim(col("embedding"), col("seed_emb")))
        .select("vec_id", "seed_id", "sim")
      val wAssign = Window.partitionBy("vec_id").orderBy(desc("sim"), col("seed_id"))
      val a1 = sims.withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      val counts = a1.groupBy("seed_id").agg(
        count(lit(1)).cast("long").as("n_members"),
        count(when(col("vec_id") =!= col("seed_id") && col("sim") >= 0.2, 1))
          .cast("long").as("n_close"))
      val wRep = Window.partitionBy("seed_id").orderBy(desc("sim"), col("vec_id"))
      val reps = a1.filter(col("vec_id") =!= col("seed_id"))
        .withColumn("rk", row_number().over(wRep)).filter(col("rk") === 1)
        .select(col("seed_id"), col("vec_id").as("rep_id"), r6(col("sim")).as("rep_sim"))
      counts.join(reps, "seed_id")
        .select("seed_id", "n_members", "rep_id", "rep_sim", "n_close")
        .orderBy("seed_id")
    },

    sql(
      "d12_paragraph_dedup",
      "paragraph-level exact dedup (C4/RefinedWeb-style duplicated-span removal): documents are chunked into fixed 10-token segments, every segment repeated anywhere in the corpus keeps only its first occurrence (ordered by doc_id, seg_idx), and each document is rebuilt from its surviving segments — docs whose every segment was seen earlier vanish entirely. Deterministic and byte-exact: the oracle rebuilds the same cleaned text. Scale posture: first-occurrence selection IS the groupBy(seg).agg(min(struct(doc_id, seg_idx))) + join-back this entry's note always promised (r18, graduated from a row_number window over the segment key — the window funneled a boilerplate segment's every occurrence into one unsplittable partition; the keyed min partially aggregates upstream and the join back is AQE-skew-splittable; the oracle keeps its row_number form, same semantics), then one doc_id-keyed rebuild aggregation — never doc×doc",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sized AS (SELECT doc_id, ts, CAST(ceil(len(ts)/10.0) AS BIGINT) AS n_segs FROM toks),
        |segs AS (SELECT doc_id, n_segs, CAST(unnest(range(n_segs)) AS BIGINT) AS seg_idx, ts FROM sized),
        |seg2 AS (SELECT doc_id, n_segs, seg_idx,
        |                array_to_string(ts[(seg_idx*10+1):(seg_idx*10+10)], ' ') AS seg FROM segs),
        |kept AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM seg2)
        |SELECT doc_id, min(n_segs) AS n_segs, CAST(count(*) AS BIGINT) AS n_kept,
        |       string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean
        |FROM kept WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      val sized = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .withColumn("n_segs", ceil(size(col("ts")) / lit(10.0)).cast("long"))
      // one codegen'd pass builds all of a doc's segments; posexplode
      // yields (seg_idx, seg) — split always returns >= 1 token, so
      // sequence(0, n_segs-1) is never descending
      val segs = sized.select(col("doc_id"), col("n_segs"),
        posexplode(expr(
          "transform(sequence(cast(0 as bigint), n_segs - 1)," +
            " i -> array_join(slice(ts, cast(i*10+1 as int), 10), ' '))"))
          .as(Seq("seg_idx", "seg")))
        .withColumn("seg_idx", col("seg_idx").cast("long"))
      // First-occurrence selection as a map-side-combinable min + equality
      // filter (the d21 discipline, and the form this entry's own scale
      // note always promised): a row_number window over the segment key
      // funnels a boilerplate segment's every occurrence into ONE window
      // partition — the m14-flood shape AQE cannot split — while the min
      // aggregates partially upstream and the join back is skew-splittable.
      // Semantics identical: kept occurrence ⟺ (doc_id, seg_idx) equals
      // the segment's global minimum (the oracle keeps its row_number
      // form — same semantics, mechanism divergence documented here).
      val firsts = segs.groupBy("seg")
        .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
      segs.join(firsts, Seq("seg"))
        .filter(col("doc_id") === col("f.doc_id") && col("seg_idx") === col("f.seg_idx"))
        .groupBy("doc_id")
        .agg(min("n_segs").as("n_segs"),
          count(lit(1)).cast("long").as("n_kept"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg)"),
            " ").as("text_clean"))
        .orderBy("doc_id")
    },

    sql(
      "d13_incremental_dedup",
      "incremental batch-vs-corpus dedup — the daily-crawl primitive: an incoming batch (doc_id % 10 = 0 stands in for today's crawl) is LSH-checked against the EXISTING corpus (the rest) and only non-colliding docs survive; a doc too short to shingle has no band keys and always survives. Same fused HUGEINT minhash kernel as d04, so the whole decision replays bit-exactly in DuckDB. Scale posture: unlike d04's all-pairs-candidate self-join this is one semi-join of batch keys against corpus keys on (band, key) — at 100 TB the corpus side is the PRECOMPUTED band index read back from storage (append-only, written once per batch), so daily cost is batch-sized, not corpus-sized; the kernel here recomputes it only because the fixture has no index to read",
      s"""$bandKeySql,
        |collided AS (SELECT DISTINCT n.doc_id
        |             FROM keys n JOIN keys o ON o.band = n.band AND o.key = n.key
        |             WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0)
        |SELECT d.doc_id, d.source
        |FROM documents d
        |WHERE d.doc_id % 10 = 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM collided)
        |ORDER BY d.doc_id""") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val banded = docs
        .select(col("doc_id"),
          posexplode(HashFunctions.shingleMinHashBands(toks, k = 32, n = 3, bands = 16, rows = 2))
            .as(Seq("band", "key")))
      // disjoint filters of one scan: each leg runs the kernel on its own
      // subset, so total kernel work is one corpus pass (no persist needed)
      val batchKeys = banded.filter(col("doc_id") % 10 === 0)
      val corpusKeys = banded.filter(col("doc_id") % 10 =!= 0)
        .select(col("band").as("o_band"), col("key").as("o_key"))
      val collided = batchKeys
        .join(corpusKeys, col("band") === col("o_band") && col("key") === col("o_key"),
          "left_semi")
        .select("doc_id").distinct()
      docs.filter(col("doc_id") % 10 === 0)
        .join(collided, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    sqlEager(
      "d15_bloom_index_dedup",
      "bloom-shipped incremental dedup — d13's daily-crawl check with the INDEX SHIPPING problem solved the q72 way: at 100 TB the corpus band-key index is corpus-sized, and joining a batch against it shuffles the batch across the whole index layout; instead the index folds into a 16 KB Bloom bitset (word-OR mergeable, built in one pass, broadcast to every executor), the batch's keys pre-filter MAP-SIDE against it, and only might-contain keys — true collisions plus a bounded false-positive trickle — reach the exact (band, key) semi-join that removes the FPs. The result is EXACTLY d13's survivor set (Bloom filters have no false negatives, so no collision escapes; a spec asserts set equality), which is why the oracle is the exact-join form: the bloom is a plan-side shipping optimization, invisible to semantics. Output adds each survivor's band-key count (0 = too short to shingle — survives vacuously). Scale posture: corpus pass builds the bitset once per index epoch (in production: read back, not rebuilt); daily cost = batch keys x one broadcast probe + an exact join over the pruned residue — batch-sized, never corpus-shuffle-sized",
      s"""$bandKeySql,
        |bk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_keys
        |       FROM keys WHERE doc_id % 10 = 0 GROUP BY doc_id),
        |collided AS (SELECT DISTINCT n.doc_id
        |             FROM keys n JOIN keys o ON o.band = n.band AND o.key = n.key
        |             WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0)
        |SELECT d.doc_id, d.source, COALESCE(bk.n_keys, 0) AS n_keys
        |FROM documents d LEFT JOIN bk ON bk.doc_id = d.doc_id
        |WHERE d.doc_id % 10 = 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM collided)
        |ORDER BY d.doc_id""") { (s, dir, m) =>
      import graft.functions.{Aggregators, BloomOps}
      val NumBits = 1 << 17
      val NumHashes = 5
      val docs = Tables.documents(s, dir)
      // persisted (the d04 pattern): four consumers read it — the bloom
      // build + the exact-join build side on the corpus leg, the bloom
      // probe + the n_keys count on the batch leg — and unpersisted the
      // fused shingle kernel would run for each (ReuseExchange can't dedup
      // them: different exchanges). The scope releases it once the result fills.
      val banded = m.persist(docs
        .select(col("doc_id"),
          posexplode(HashFunctions.shingleMinHashBands(toks, k = 32, n = 3, bands = 16, rows = 2))
            .as(Seq("band", "key"))))
      // fold (band, key) to one long for the bitset (xor with a
      // prime-scaled band — overflow-free under ANSI); both build and
      // probe use the same fold, and the exact join removes any fold- or
      // bloom-induced false positive
      def fp(band: Column, key: Column): Column =
        key.bitwiseXOR(band * lit(2654435761L))
      val bloom = udaf(new Aggregators.BloomFilter(NumBits, NumHashes))
      val corpus = banded.filter(col("doc_id") % 10 =!= 0)
      val bits = broadcast(corpus.agg(bloom(fp(col("band"), col("key"))).as("bits")))
      val batch = banded.filter(col("doc_id") % 10 === 0)
      val candidates = batch.crossJoin(bits)
        .filter(BloomOps.bloomMightContain(col("bits"),
          fp(col("band"), col("key")), NumBits, NumHashes))
        .drop("bits")
      val collided = candidates
        .join(corpus.select(col("band").as("o_band"), col("key").as("o_key")),
          col("band") === col("o_band") && col("key") === col("o_key"), "left_semi")
        .select("doc_id").distinct()
      val bk = batch.groupBy("doc_id").agg(count(lit(1)).as("n_keys"))
      m.result(docs.filter(col("doc_id") % 10 === 0)
        .join(bk, Seq("doc_id"), "left")
        .join(collided, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), coalesce(col("n_keys"), lit(0L)).as("n_keys"))
        .orderBy("doc_id"))
    },

    sql(
      "d14_ngram13_decontam",
      "exact 13-gram benchmark decontamination — the published GPT-3/PaLM rule (any single shared 13-gram with an eval document marks a training document contaminated), complementing d10's fuzzy 3-gram CONTAINMENT score with the strict ANY-overlap flag real eval suites use: eval set = doc_id % 5 = 0, train = rest; per dirty train doc report the distinct dirty grams and the distinct eval docs hit. Same inverted-index shape as d10 (one shuffle keyed by gram, never train × eval all-pairs), one shingle-kernel corpus pass split into disjoint train/eval legs (the d13 pattern — no persist needed). Scale posture: at 100 TB the gram key becomes a 64-bit hash (13-gram strings average ~90 B; a fingerprint join moves 8 B keys with negligible FP risk) and the eval side — benchmarks, thousands of docs, not billions — builds a broadcast-able index, turning the check into a map-side semi-join the daily crawl pays at batch size",
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, length(t) - 12),
        |                       i -> list_reduce(list_slice(t, i, i + 12), (a, b) -> a || ' ' || b))) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |ex AS (SELECT doc_id, unnest(grams) AS gram FROM g)
        |SELECT t.doc_id AS train_id,
        |       CAST(count(DISTINCT t.gram) AS BIGINT) AS n_dirty_grams,
        |       CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_hits
        |FROM (SELECT * FROM ex WHERE doc_id % 5 <> 0) t
        |JOIN (SELECT * FROM ex WHERE doc_id % 5 = 0) e ON e.gram = t.gram
        |GROUP BY train_id
        |ORDER BY train_id""") { (s, dir) =>
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(HashFunctions.shingleStrings(toks, 13)).as("gram"))
      // disjoint filters of one scan (the d13 pattern): each leg shingles
      // only its own subset, so total kernel work is one corpus pass
      val train = grams.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("train_id"), col("gram"))
      val eval_ = grams.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("eval_id"), col("gram"))
      train.join(eval_, "gram")
        .groupBy("train_id")
        .agg(countDistinct(col("gram")).cast("long").as("n_dirty_grams"),
          countDistinct(col("eval_id")).cast("long").as("n_eval_hits"))
        .orderBy("train_id")
    },

    sql(
      "d16_lsh_tuning_audit",
      "LSH banding-parameter audit — the MEASURE-DON'T-GUESS step that must run before any corpus-scale near-dup job commits to a (bands x rows) choice (d04/d13/d15 all hard-wire 16x2; this operator produces the empirical S-curve table that justifies or retunes it): on a deterministic 50% document sample (doc_id parity — retry-stable, the p03/p05 hash-sample discipline), evaluate five banding configurations of the SAME 32-hash MinHash signature — (16x2) production, (10x3), (8x4), (6x5), (4x6) — and report per config the candidate-pair count, the exact-Jaccard>=0.5 truth count, hits, and integer-ppm precision/recall. Band keys here are raw signature-value TUPLES (comma-joined in deterministic j order), not fnv folds — configs stay comparable and the oracle replays them with string_agg; the signature itself is the shared fused HUGEINT kernel (sigSql), so the WHOLE audit is bit-exact in DuckDB. Scale posture: the banding legs are pure keyed group-bys and (band,key) equi-joins on the SAMPLE (half the corpus here; at 100 TB the sample rate bounds the truth leg's budget — the audit is statistics, not production dedup, and its estimates are unbiased for the full-corpus S-curve); the truth leg is the d10/d14 inverted-index shape — a gram-keyed equi-join counting shared grams per pair (pairs sharing zero grams never materialize; measured 319k join rows vs 3.1M all-pairs on the sf0.1 sample, which is why the r12 rewrite dropped the original all-pairs array-intersect leg from 109 s to the d04 band) — with the Jaccard>=0.5 threshold as ONE exact integer cross-multiply 3*inter >= |A|+|B| (algebraically identical to inter/union >= 0.5, no float compare at the boundary)",
      s"""$sigSql,
        |cfg AS (SELECT * FROM (VALUES (16, 2), (10, 3), (8, 4), (6, 5), (4, 6)) AS t(b, r)),
        |bandkeys AS (
        |  SELECT c.b, c.r, s.doc_id, s.j // c.r AS band,
        |         string_agg(CAST(s.sv AS VARCHAR), ',' ORDER BY s.j) AS key
        |  FROM sig s JOIN cfg c ON s.j < c.b * c.r
        |  WHERE s.doc_id % 2 = 0
        |  GROUP BY c.b, c.r, s.doc_id, s.j // c.r),
        |cand AS (SELECT DISTINCT k1.b, k1.r, k1.doc_id AS id_a, k2.doc_id AS id_b
        |         FROM bandkeys k1 JOIN bandkeys k2
        |           ON k1.b = k2.b AND k1.r = k2.r AND k1.band = k2.band
        |          AND k1.key = k2.key AND k1.doc_id < k2.doc_id),
        |gx AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(tk)-2),
        |            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |       FROM tok WHERE len(tk) >= 3 AND doc_id % 2 = 0),
        |szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM gx GROUP BY doc_id),
        |pin AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        |        FROM gx a JOIN gx b ON b.g = a.g AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |tru AS (SELECT p.id_a, p.id_b
        |        FROM pin p JOIN szs sa ON sa.doc_id = p.id_a
        |                   JOIN szs sb ON sb.doc_id = p.id_b
        |        WHERE p.inter * 3 >= sa.ng + sb.ng),
        |nc AS (SELECT b, r, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY b, r),
        |hit AS (SELECT c.b, c.r, CAST(count(*) AS BIGINT) AS n_hits
        |        FROM cand c JOIN tru t ON c.id_a = t.id_a AND c.id_b = t.id_b GROUP BY c.b, c.r),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tru)
        |SELECT CAST(c.b AS BIGINT) AS bands, CAST(c.r AS BIGINT) AS rows_per_band,
        |       CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
        |       nt.n_true,
        |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |       CAST(CASE WHEN coalesce(nc.n_candidates, 0) = 0 THEN 0
        |            ELSE coalesce(h.n_hits, 0) * 1000000 // nc.n_candidates END AS BIGINT) AS precision_ppm,
        |       CAST(CASE WHEN nt.n_true = 0 THEN 0
        |            ELSE coalesce(h.n_hits, 0) * 1000000 // nt.n_true END AS BIGINT) AS recall_ppm
        |FROM cfg c
        |LEFT JOIN nc ON nc.b = c.b AND nc.r = c.r
        |LEFT JOIN hit h ON h.b = c.b AND h.r = c.r
        |CROSS JOIN nt
        |ORDER BY rows_per_band, bands""") { (s, dir) =>
      import s.implicits._
      val sample = Tables.documents(s, dir)
        .filter(col("doc_id") % 2 === 0 && size(toks) >= 3)
      val sig = sample
        .select(col("doc_id"),
          posexplode(HashFunctions.shingleMinHash(toks, k = 32, n = 3)).as(Seq("j", "sv")))
      val cfg = Seq((16, 2), (10, 3), (8, 4), (6, 5), (4, 6)).toDF("b", "r")
      val bandkeys = sig.join(broadcast(cfg), col("j") < col("b") * col("r"))
        .groupBy(col("b"), col("r"), col("doc_id"), expr("j div r").as("band"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("j"), col("sv")))),
            x => x.getField("sv").cast("string")), ",").as("key"))
      val cand = bandkeys.as("k1")
        .join(bandkeys.as("k2"),
          col("k1.b") === col("k2.b") && col("k1.r") === col("k2.r") &&
            col("k1.band") === col("k2.band") && col("k1.key") === col("k2.key") &&
            col("k1.doc_id") < col("k2.doc_id"))
        .select(col("k1.b").as("b"), col("k1.r").as("r"),
          col("k1.doc_id").as("id_a"), col("k2.doc_id").as("id_b"))
        .distinct()
      // truth leg as the d10/d14 inverted-index join: pairs sharing zero
      // grams never materialize (319k join rows vs 3.1M all-pairs on this
      // sample), and the threshold is one exact integer cross-multiply
      // shingleStrings is already per-document SET-valued (LinkedHashSet in
      // the kernel), so (doc_id, g) rows leave the explode unique — no
      // distinct needed (r13 advice: the defensive one added in r13 was a
      // semantic no-op costing the truth leg an extra shuffle). The
      // multiset twin is shingleStringsAll; a future switch to it here
      // must re-add the dedup.
      val gx = sample
        .select(col("doc_id"), explode(HashFunctions.shingleStrings(toks, 3)).as("g"))
      val szs = gx.groupBy("doc_id").agg(count(lit(1)).cast("long").as("ng"))
      val tru = gx.as("ga")
        .join(gx.as("gb"),
          col("gb.g") === col("ga.g") && col("ga.doc_id") < col("gb.doc_id"))
        .groupBy(col("ga.doc_id").as("id_a"), col("gb.doc_id").as("id_b"))
        .agg(count(lit(1)).cast("long").as("inter"))
        .join(szs.select(col("doc_id").as("id_a"), col("ng").as("na")), "id_a")
        .join(szs.select(col("doc_id").as("id_b"), col("ng").as("nb")), "id_b")
        .filter(col("inter") * 3 >= col("na") + col("nb"))
        .select("id_a", "id_b")
      val nc = cand.groupBy("b", "r").agg(count(lit(1)).cast("long").as("n_candidates"))
      val hit = cand.join(tru, Seq("id_a", "id_b"))
        .groupBy("b", "r").agg(count(lit(1)).cast("long").as("n_hits"))
      val nt = tru.agg(count(lit(1)).cast("long").as("n_true"))
      cfg
        .join(nc, Seq("b", "r"), "left")
        .join(hit, Seq("b", "r"), "left")
        .crossJoin(broadcast(nt))
        .select(col("b").cast("long").as("bands"), col("r").cast("long").as("rows_per_band"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("n_true"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          when(coalesce(col("n_candidates"), lit(0L)) === 0, lit(0L))
            .otherwise(expr("coalesce(n_hits, 0L) * 1000000 div n_candidates")).as("precision_ppm"),
          when(col("n_true") === 0, lit(0L))
            .otherwise(expr("coalesce(n_hits, 0L) * 1000000 div n_true")).as("recall_ppm"))
        .orderBy("rows_per_band", "bands")
    },

    sql(
      "d17_corpus_overlap",
      "cross-corpus MinHash overlap triage (the step BEFORE d10/d14 document-level decontamination: given two corpora, estimate how much shingle mass they share from two tiny sketches — if the estimate is near zero you skip the full cross-corpus dedup join entirely, which at 100 TB is the difference between a metadata compare and a corpus-by-corpus shuffle; the Broder resemblance-sketch application MinHash was invented for): corpora here are the language slices, and each corpus's k=32 signature is the PERMUTATION-WISE MIN over its documents' d04 signatures — min-over-docs of min-over-shingles IS min-over-the-corpus-shingle-set, so corpus sketches compose from the per-doc sketches the dedup pipeline already materializes (sketch maintenance is one keyed MIN aggregation, no second corpus pass; at 100 TB the sketch per corpus is 256 bytes and union-composes incrementally as batches land). For every lang pair: exact distinct-shingle counts and true Jaccard (the audit reference — the expensive leg the sketch replaces, kept here as d16 keeps its exact-Jaccard truth column), signature match count of 32, the estimate matches*1e6 div 32, and the absolute error — the measure-don't-guess evidence that k=32 suffices for triage. All counts exact integers; the signature replay is d04's sigSql avalanche in HUGEINT. Scale posture: gram sets are a lang-keyed distinct (the d14 inverted-index shape), the pair grid is |corpora|^2 dimension-sized, and the sketch compare is 32 rows per pair",
      s"""$sigSql,
        |ls AS (SELECT d.lang, s.j, min(s.sv) AS sv
        |       FROM sig s JOIN documents d USING (doc_id) GROUP BY d.lang, s.j),
        |gr AS (SELECT DISTINCT d.lang, sh.s AS g FROM sh JOIN documents d USING (doc_id)),
        |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS ng FROM gr GROUP BY lang),
        |com AS (SELECT a.lang AS lang_a, b.lang AS lang_b, CAST(count(*) AS BIGINT) AS n_common
        |        FROM gr a JOIN gr b ON b.g = a.g AND a.lang < b.lang GROUP BY 1, 2),
        |mt AS (SELECT x.lang AS lang_a, y.lang AS lang_b, CAST(count(*) AS BIGINT) AS sig_matches
        |       FROM ls x JOIN ls y ON y.j = x.j AND x.lang < y.lang AND y.sv = x.sv GROUP BY 1, 2),
        |pr AS (SELECT a.lang AS lang_a, b.lang AS lang_b, a.ng AS n_grams_a, b.ng AS n_grams_b
        |       FROM cnt a JOIN cnt b ON a.lang < b.lang),
        |rep AS (SELECT pr.lang_a, pr.lang_b, pr.n_grams_a, pr.n_grams_b,
        |               CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
        |               CAST(COALESCE(c.n_common, 0) * 1000000
        |                    // (pr.n_grams_a + pr.n_grams_b - COALESCE(c.n_common, 0)) AS BIGINT) AS j_exact_ppm,
        |               CAST(COALESCE(m.sig_matches, 0) AS BIGINT) AS sig_matches,
        |               CAST(COALESCE(m.sig_matches, 0) * 1000000 // 32 AS BIGINT) AS j_est_ppm
        |        FROM pr LEFT JOIN com c ON c.lang_a = pr.lang_a AND c.lang_b = pr.lang_b
        |                LEFT JOIN mt m ON m.lang_a = pr.lang_a AND m.lang_b = pr.lang_b)
        |SELECT lang_a, lang_b, n_grams_a, n_grams_b, n_common, j_exact_ppm,
        |       sig_matches, j_est_ppm,
        |       CAST(abs(j_est_ppm - j_exact_ppm) AS BIGINT) AS err_ppm
        |FROM rep ORDER BY lang_a, lang_b""") { (s, dir) =>
      val d = Tables.documents(s, dir)
      val toks = TextFunctions.tokens(col("text"))
      val base = d.filter(size(toks) >= 3)
      val grams = base
        .select(col("lang"), explode(HashFunctions.shingleStrings(toks, 3)).as("g"))
        .distinct()
      val cnt = grams.groupBy("lang").agg(count(lit(1)).cast("long").as("ng"))
      val com = grams.as("a").join(grams.as("b"),
          col("b.g") === col("a.g") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      val sigs = base
        .select(col("lang"),
          posexplode(HashFunctions.shingleMinHash(toks, 32, 3)).as(Seq("j", "v")))
        .groupBy("lang", "j").agg(min("v").as("sv"))
      val mt = sigs.as("x").join(sigs.as("y"),
          col("y.j") === col("x.j") && col("x.lang") < col("y.lang")
            && col("y.sv") === col("x.sv"))
        .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
        .agg(count(lit(1)).cast("long").as("sig_matches"))
      // the pair grid is |corpora|^2 — a dimension-sized inequality join
      val pr = cnt.select(col("lang").as("lang_a"), col("ng").as("n_grams_a"))
        .join(cnt.select(col("lang").as("lang_b"), col("ng").as("n_grams_b")),
          col("lang_a") < col("lang_b"))
      pr.join(com, Seq("lang_a", "lang_b"), "left")
        .join(mt, Seq("lang_a", "lang_b"), "left")
        .select(col("lang_a"), col("lang_b"), col("n_grams_a"), col("n_grams_b"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          expr("coalesce(n_common, 0L) * 1000000 div (n_grams_a + n_grams_b - coalesce(n_common, 0L))")
            .as("j_exact_ppm"),
          coalesce(col("sig_matches"), lit(0L)).as("sig_matches"),
          expr("coalesce(sig_matches, 0L) * 1000000 div 32").as("j_est_ppm"))
        .withColumn("err_ppm", abs(col("j_est_ppm") - col("j_exact_ppm")))
        .orderBy("lang_a", "lang_b")
    },

    sql(
      "d18_cluster_size_histogram",
      "duplicate-cluster size histogram — the dedup-health dashboard read after clustering and before collapse (d08 assigns clusters, p06 picks representatives; THIS is the one-glance table an operator checks first: a corpus whose mass sits in large clusters needs aggressive dedup and its token counts are inflated, one that is all singletons doesn't — the 'how duplicated is this crawl' number every corpus card reports): per cluster size, the number of clusters, the document count they hold, and that count's exact share of the corpus in ppm. Integers end to end (sizes are counts; the share is one flooring division on non-negative operands against the broadcast corpus total). Scale posture: reuses d08's pointer-jumping CC verbatim (O(log d) partitioner-aligned rounds), then two keyed counts — cluster-keyed then size-keyed — over 16 B rows; the histogram is at most max-cluster-size rows, dimension-sized",
      s"""WITH RECURSIVE
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE ${cosineSql("a.embedding", "b.embedding")} > 0.3),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
        |  WHERE r.lbl < e.u),
        |clusters AS (SELECT node AS doc_id, min(lbl) AS cluster_id
        |             FROM reach GROUP BY node),
        |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM clusters GROUP BY cluster_id),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM clusters)
        |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(sz * count(*) AS BIGINT) AS n_docs,
        |       CAST(sz * count(*) * 1000000 // t.n AS BIGINT) AS doc_share_ppm
        |FROM sizes CROSS JOIN tot t
        |GROUP BY sz, t.n
        |ORDER BY cluster_size""") { (s, dir) =>
      val m = Materialize.eager()
      val clusters = dupClusters(s, dir, m)
      val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).cast("long").as("sz"))
      val tot = clusters.agg(count(lit(1)).cast("long").as("n"))
      m.result(sizes.groupBy("sz")
        .agg(count(lit(1)).cast("long").as("n_clusters"))
        .crossJoin(broadcast(tot))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).cast("long").as("n_docs"),
          expr("sz * n_clusters * 1000000 div n").as("doc_share_ppm"))
        .orderBy("cluster_size"))
    },

    sql(
      "d19_containment_pairs",
      "asymmetric CONTAINMENT detection (Broder's other coefficient — resemblance/Jaccard is symmetric and collapses when sizes differ, so a short doc embedded whole inside a long one scores J = |A|/|B| ~ 0 and sails past every resemblance threshold d02/d04 enforce; containment C(A in B) = |A intersect B| / |A| scores it ~1e6 ppm, which is why quote-farms, boilerplate wrappers, and excerpt spam need this pass): word-3-gram distinct sets, candidates from the inverted-index gram join (the d14 shape) over the CONTRACTUAL rare-gram universe df <= 20 (stop-gram removal — a gram in >20 docs carries no pair signal and is exactly the df explosion the d04 cap class exists to kill; the filter is part of the metric's definition here, replayed identically in the oracle, NOT a default-off performance knob: per-doc denominators count the doc's grams inside the same capped universe so both dialects measure the same quantity), both direction ppms plus the Jaccard for contrast, top-20 under the (max containment DESC, id_a, id_b) total order. Scale posture: explode + one gram-keyed count + one gram-keyed self-join whose per-key fan-out is df-capped at 20 by construction + two broadcast-size per-doc count joins; at 100 TB grams travel as 64-bit fingerprints (the d14 note) and the cap keeps every join key sub-quadratic",
      """WITH t AS (SELECT doc_id,
        |                 list_distinct(list_transform(generate_series(1, length(tk) - 2),
        |                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS grams
        |          FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
        |e AS (SELECT doc_id, unnest(grams) AS gram FROM t),
        |df AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY gram),
        |keep AS (SELECT e.doc_id, e.gram FROM e JOIN df USING (gram) WHERE df.df <= 20),
        |dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_g FROM keep GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
        |          FROM keep a JOIN keep b ON b.gram = a.gram AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b, da.n_g AS n_a, db.n_g AS n_b, n_common,
        |       CAST(n_common * 1000000 // da.n_g AS BIGINT) AS cont_a_ppm,
        |       CAST(n_common * 1000000 // db.n_g AS BIGINT) AS cont_b_ppm,
        |       CAST(n_common * 1000000 // (da.n_g + db.n_g - n_common) AS BIGINT) AS jaccard_ppm
        |FROM inter JOIN dn da ON da.doc_id = id_a JOIN dn db ON db.doc_id = id_b
        |ORDER BY greatest(CAST(n_common * 1000000 // da.n_g AS BIGINT),
        |                  CAST(n_common * 1000000 // db.n_g AS BIGINT)) DESC, id_a, id_b
        |LIMIT 20""") { (s, dir) =>
      val g = Tables.documents(s, dir)
        .select(col("doc_id"), HashFunctions.shingleStrings(toks, 3).as("grams"))
      val e = g.select(col("doc_id"), explode(col("grams")).as("gram"))
      val df = e.groupBy("gram").agg(count(lit(1)).cast("long").as("df"))
      val keep = e.join(df.filter(col("df") <= 20).select("gram"), Seq("gram"))
      val dn = keep.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_g"))
      val inter = keep.select(col("doc_id").as("id_a"), col("gram"))
        .join(keep.select(col("doc_id").as("id_b"), col("gram")), Seq("gram"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).cast("long").as("n_common"))
      inter
        .join(dn.select(col("doc_id").as("id_a"), col("n_g").as("n_a")), Seq("id_a"))
        .join(dn.select(col("doc_id").as("id_b"), col("n_g").as("n_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("n_common"),
          expr("(n_common * 1000000) div n_a").as("cont_a_ppm"),
          expr("(n_common * 1000000) div n_b").as("cont_b_ppm"),
          expr("(n_common * 1000000) div (n_a + n_b - n_common)").as("jaccard_ppm"))
        .orderBy(greatest(col("cont_a_ppm"), col("cont_b_ppm")).desc,
          col("id_a"), col("id_b"))
        .limit(20)
    },

    sqlEager(
      "d20_substring_duplication",
      "exact-substring duplication coverage (the Lee et al. 2022 'Deduplicating Training Data' measurement — document-level dedup (d01/t05) and near-dup clustering (d04) both miss PARTIAL duplication: a doc that embeds a verbatim 500-char boilerplate block in otherwise-unique text is a dedup-policy decision the corpus card must surface, and the per-doc duplicated-substring share is THE number that policy reads): every WORD-ANCHORED 32-char window (window starts after each space — content-defined anchors make collision ALIGNMENT-ROBUST, the m06 CDC argument at character grain: two docs sharing a run at different byte offsets still produce identical windows, which fixed-stride windows structurally cannot guarantee) is counted corpus-wide; a window is DUPLICATED if its exact string occurs >= 2 times anywhere (within-doc repeats count — Lee et al. strip those too) and CROSS-DOC if >= 2 distinct docs carry it. Per doc: window count, both duplicated-window counts, and both coverage ppms (flooring; docs too short for one anchored window are out of the audit's domain, documented). Scale posture: the explode is O(total chars) rows pre-filter (~1/6 survive at English space density) — the same O(corpus) cost class as the suffix array the exact algorithm uses, but in three keyed passes: one window-keyed count (map-side combinable; a boilerplate window in 1e6 docs is ONE aggregation key, never a pair explosion), one window-keyed join back (doc-grain output), one doc-keyed rollup",
      """WITH win AS (SELECT doc_id,
        |                   unnest(list_filter(list_transform(generate_series(1, length(text) - 32),
        |                     i -> CASE WHEN substring(text, i, 1) = ' '
        |                               THEN substring(text, i + 1, 32) END),
        |                     x -> x IS NOT NULL)) AS wd
        |            FROM documents WHERE length(text) >= 33),
        |occ AS (SELECT wd, CAST(count(*) AS BIGINT) AS n_occ,
        |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |        FROM win GROUP BY wd),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |               CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |               CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_xdoc_windows
        |        FROM win JOIN occ USING (wd) GROUP BY doc_id)
        |SELECT doc_id, n_windows, n_dup_windows, n_xdoc_windows,
        |       CAST(n_dup_windows * 1000000 // n_windows AS BIGINT) AS dup_ppm,
        |       CAST(n_xdoc_windows * 1000000 // n_windows AS BIGINT) AS xdoc_ppm
        |FROM per ORDER BY doc_id""") { (s, dir, m) =>
      substringDup(s, dir, m)
    },

    sqlEager(
      "d21_span_removal",
      "duplicated-span REMOVAL (the action half of d20's measurement — Lee et al. 2022 dedups by REMOVING the duplicated spans, not just scoring them): every non-first occurrence of a duplicated word-anchored 32-char window (first occurrence = global minimum under (doc_id, position) — d12's first-occurrence-wins discipline at anchored-window grain; within-doc repeats count, matching d20's n_occ >= 2 predicate) marks its character range [p+1, p+32] for removal; per doc the marked ranges MERGE (overlapping-or-adjacent intervals union into maximal dropped runs — overlapping windows of one embedded run collapse to one span, so removal is span-at-a-time, not 32-chars-at-a-time) and the doc is rebuilt from the surviving character segments, byte-exact: the oracle rebuilds the same string and both engines report md5(text_clean). Docs too short for a window, and first occurrences themselves, pass through byte-identical; a doc that was entirely duplicated text rebuilds to the empty string rather than vanishing (the corpus keeps its row — dropping rows is d01's policy, not span removal's). Per doc: char mass, merged-span count, dropped/kept char mass, and the clean md5. Scale posture: first-occurrence selection is groupBy(window).agg(min(struct(doc_id, pos))) — a map-side-combinable min, NOT a row_number window over the window key, so a boilerplate window in 1e6 docs is one aggregation key with partial aggregation upstream (the flood-safe form); the join back's build side pre-filters to DUPLICATED windows only (n_occ >= 2 — a unique window's sole occurrence IS its first, so it cannot mark), shrinking it ~21x at sf0.1 (227k distinct -> 10.8k dup keys) to a broadcastable dup-set index — in that plan the corpus-side occurrence frame never shuffles at all, and past broadcast size the equi-join stays AQE-skew-splittable like d20's; interval merge and rebuild are doc-keyed windows over marked rows only (O(doc length / 6) rows per doc, gaps-and-islands with a running max) — never doc x doc, never a global sort",
      """WITH pos0 AS (
        |  SELECT doc_id, text, unnest(generate_series(1, length(text)-32)) AS i
        |  FROM documents WHERE length(text) >= 33),
        |win AS (
        |  SELECT doc_id, CAST(i+1 AS BIGINT) AS s, CAST(i+32 AS BIGINT) AS e,
        |         substring(text, CAST(i+1 AS INT), 32) AS wd
        |  FROM pos0 WHERE substring(text, CAST(i AS INT), 1) = ' '),
        |rk AS (
        |  SELECT doc_id, s, e, row_number() OVER (PARTITION BY wd ORDER BY doc_id, s) AS rn FROM win),
        |marked AS (SELECT doc_id, s, e FROM rk WHERE rn >= 2),
        |ord AS (
        |  SELECT doc_id, s, e,
        |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM marked),
        |isl AS (
        |  SELECT doc_id, s, e,
        |         sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl_id
        |  FROM ord),
        |spans AS (
        |  SELECT doc_id, isl_id, min(s) AS istart, max(e) AS iend FROM isl GROUP BY 1, 2),
        |kseg AS (
        |  SELECT doc_id,
        |         coalesce(lag(iend) OVER (PARTITION BY doc_id ORDER BY istart), 0) + 1 AS ks,
        |         istart - 1 AS ke
        |  FROM spans
        |  UNION ALL
        |  SELECT doc_id, max(iend) + 1 AS ks, NULL AS ke FROM spans GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT k.doc_id,
        |         string_agg(substring(d.text, CAST(k.ks AS INT),
        |                    CAST(coalesce(k.ke, length(d.text)) - k.ks + 1 AS INT)), '' ORDER BY k.ks) AS text_clean
        |  FROM kseg k JOIN documents d USING (doc_id)
        |  GROUP BY k.doc_id),
        |mass AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(iend - istart + 1) AS BIGINT) AS n_dropped
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |       CAST(coalesce(m.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(coalesce(m.n_dropped, 0) AS BIGINT) AS n_dropped,
        |       CAST(length(d.text) - coalesce(m.n_dropped, 0) AS BIGINT) AS n_kept,
        |       md5(coalesce(r.text_clean, d.text)) AS clean_md5
        |FROM documents d LEFT JOIN mass m USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""") { (s, dir, m) =>
      spanRemoval(s, dir, m)
    }
  )

  /** d20/st19/d21's shared word-anchored 32-char window kernel (requires
    * the document column to be named `text`): element i−1 (0-based) of the
    * array is the window anchored at character position i — the 32 chars
    * at positions i+1..i+32 when text[i] is a space, NULL otherwise. Two
    * docs sharing a run at different byte offsets still produce identical
    * window strings — the alignment-robust property the d20 registry doc
    * argues. One definition for the grammar: d20/st19 consume the
    * null-filtered window list ([[anchoredWindowsSql]]); d21 consumes this
    * raw positional form (posexplode index p ⇒ span start p+2, end p+33,
    * 1-based) because removal needs the character ranges back.
    */
  private[graft] val anchoredWindowsRawSql: String =
    "transform(sequence(1, length(text) - 32), " +
      "i -> CASE WHEN substring(text, i, 1) = ' ' " +
      "THEN substring(text, i + 1, 32) END)"

  /** Null-filtered window list — see [[anchoredWindowsRawSql]]. */
  private[graft] val anchoredWindowsSql: String =
    s"filter($anchoredWindowsRawSql, x -> x IS NOT NULL)"

  /** d20's body — see the registry doc. Both the window-keyed occurrence
    * count and the doc-grain join-back read the exploded `win` frame, so
    * the eager form persists it and the O(total chars) explode — the
    * query's dominant stage — runs ONCE per materialization, not once per
    * leg (r16 advisory #2; the [[contamination]] discipline — Spark
    * has no cross-branch common-subexpression reuse). Released after the
    * result materializes, like d04/d10.
    */
  private[graft] def substringDup(s: SparkSession, dir: String, m: Materialize): DataFrame = {
    val win0 = Tables.documents(s, dir)
      .filter(length(col("text")) >= 33)
      .select(col("doc_id"), explode(expr(anchoredWindowsSql)).as("wd"))
    // Materialization barrier (the g02 lesson): both leg stages submit
    // concurrently and an unfilled cache would run the explode per leg.
    val win = m.fill(win0)
    val occ = win.groupBy("wd")
      .agg(count(lit(1)).cast("long").as("n_occ"),
        countDistinct("doc_id").cast("long").as("n_docs"))
    m.result(win.join(occ, Seq("wd"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup_windows"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).cast("long").as("n_xdoc_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"), col("n_xdoc_windows"),
        expr("(n_dup_windows * 1000000) div n_windows").as("dup_ppm"),
        expr("(n_xdoc_windows * 1000000) div n_windows").as("xdoc_ppm"))
      .orderBy("doc_id"))
  }

  /** d21's body — see the registry doc. The Spark side picks each
    * window's first occurrence with `groupBy(wd).agg(min(struct(doc_id,
    * s)))` — a map-side-combinable min — where the oracle uses a
    * `row_number() OVER (PARTITION BY wd)` window: same semantics (the
    * global (doc_id, position) minimum per window string), different
    * mechanism, because a row_number over the window key funnels a
    * boilerplate window's every occurrence into ONE window partition —
    * the m15-flood shape — while the min aggregates partially upstream
    * (DuckDB at fixture scale has no such exposure). The positioned
    * explode feeds both the first-occurrence min and the join back, so
    * the eager form persists it (the [[substringDup]] discipline)
    * and releases it after the result materializes.
    */
  private def spanRemoval(s: SparkSession, dir: String, m: Materialize): DataFrame = {
    val docs = Tables.documents(s, dir)
    val win0 = docs
      .filter(length(col("text")) >= 33)
      .select(col("doc_id"),
        posexplode(expr(anchoredWindowsRawSql)).as(Seq("p0", "wd")))
      .filter(col("wd").isNotNull)
      .select(col("doc_id"), (col("p0") + lit(2L)).cast("long").as("s"),
        (col("p0") + lit(33L)).cast("long").as("e"), col("wd"))
    // Materialization barrier (the g02 lesson): the first-occurrence agg
    // and the join back both read this frame.
    val win = m.fill(win0)
    // Only DUPLICATED windows (n_occ >= 2) can mark anything — a unique
    // window's sole occurrence IS its first. Filtering the join's build
    // side to them shrinks it from |distinct windows| to the (typically
    // small) duplicated set, which both cuts the shuffle and lets AQE
    // broadcast the build side when the dup set is dimension-sized —
    // the win-side shuffle disappears entirely in that plan.
    // First occurrence per window as a PACKED long min (r18 optimization):
    // min(struct(doc_id, s)) plans as SortAggregate — a full sort of every
    // exploded window row around the wd exchange, twice (partial + final).
    // doc_id * 2^31 + s preserves the (doc_id, s) lexicographic order
    // because 2 <= s < 2^31 (s is a 1-based char offset; Spark strings are
    // < 2 GiB by engine limit), so min(packed) is the same first
    // occurrence and plans as a map-side-combinable HashAggregate. Exact
    // while doc_id < 2^32 — the a19/g17 discipline makes the bound LOUD:
    // it is asserted inside the aggregated column itself (used, never
    // pruned), so a corpus beyond 4.3e9 docs fails the query instead of
    // silently mis-packing against the oracle's window form.
    // ZERO-HEADROOM boundary (r18 ADVICE #4): doc_id = 2^32−1 with
    // s = 2^31−1 packs to exactly Long.MaxValue — the guard below and this
    // shift are COUPLED; widening either bound (doc_id < 2^32, s < 2^31)
    // or bumping PackBits overflows silently. Change them together or
    // revert to the struct min.
    val PackBits = 31
    val packed = when(
      col("doc_id") >= 0 && col("doc_id") < lit(1L << 32) &&
        col("s") >= 0 && col("s") < lit(1L << PackBits),
      shiftleft(col("doc_id"), PackBits) + col("s"))
      .otherwise(expr("raise_error('d21: doc_id/s exceed the packed " +
        "first-occurrence bound — widen to struct min')").cast("long"))
    val firsts = win.groupBy("wd")
      .agg(min(packed).as("fmin"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("wd"), shiftright(col("fmin"), PackBits).as("f_doc"),
        (col("fmin") % lit(1L << PackBits)).as("f_s"))
    val marked = win.join(firsts, Seq("wd"))
      .filter(!(col("doc_id") === col("f_doc") && col("s") === col("f_s")))
      .select("doc_id", "s", "e")
    // gaps-and-islands interval merge per doc: a marked range starts a new
    // dropped run unless it overlaps-or-abuts the running max end
    val wDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val spans0 = marked
      .withColumn("pmax", max("e").over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl_id",
        sum(when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L).otherwise(0L))
          .over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl_id")
      .agg(min("s").as("istart"), max("e").as("iend"))
    // spans feeds THREE consumers (the kept-segment lag window, the tail
    // row, and the dropped-mass rollup) — un-persisted, each re-ran the
    // join-back + island windows (r18 optimization; the g02 fill
    // discipline). Dropped-run-sized; released after the result
    // materializes.
    val spans = m.fill(spans0)
    // kept segments: the gap before each dropped run + the tail after the
    // last one (the first gap may be empty when a run starts at char 1 —
    // substring(text, 1, 0) = '' in both engines)
    val wSpan = Window.partitionBy("doc_id").orderBy("istart")
    val kseg = spans
      .withColumn("ks", coalesce(lag("iend", 1).over(wSpan), lit(0L)) + 1)
      .select(col("doc_id"), col("ks"), (col("istart") - 1).as("ke"))
      .unionByName(spans.groupBy("doc_id")
        .agg((max("iend") + 1).as("ks"))
        .withColumn("ke", lit(null).cast("long")))
    val rebuilt = kseg.join(docs.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), col("ks"),
        expr("substring(text, cast(ks as int), cast(coalesce(ke, length(text)) - ks + 1 as int))").as("seg"))
      .groupBy("doc_id")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(ks, seg))), x -> x.seg)"),
        "").as("text_clean"))
    val mass = spans.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("iend") - col("istart") + 1).cast("long").as("n_dropped"))
    m.result(docs.select("doc_id", "text")
      .join(mass, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (length(col("text")).cast("long") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
        md5(coalesce(col("text_clean"), col("text")).cast("binary")).as("clean_md5"))
      .orderBy("doc_id"))
  }

  private def contamination(s: SparkSession, dir: String, m: Materialize): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("doc_id"), HashFunctions.shingleStrings(toks, 3).as("grams"))
    // Both join legs derive from this frame; persist it so the shingle
    // kernel and explode run once per materialization, not once per leg
    // (Spark has no cross-branch common-subexpression reuse). Released
    // after the eager result materializes, like d04.
    val ex0 = g.select(col("doc_id"), explode(col("grams")).as("gram"),
      size(col("grams")).as("n_grams"))
    // Materialization barrier (the g02 lesson): both leg stages submit
    // concurrently and an unfilled cache would run the kernel per leg.
    val ex = m.fill(ex0)
    val train = ex.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_id"), col("gram"), col("n_grams"))
    val eval_ = ex.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), col("gram"))
    m.result(train.join(eval_, "gram")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("inter"), first("n_grams").as("n_train"))
      // the gate compares the RAW ratio (exact: small-int division) and
      // only the OUTPUT is rounded, mirroring the oracle exactly
      .filter(col("inter") * lit(1.0) / col("n_train") >= 0.3)
      .select(col("train_id"), col("eval_id"),
        r4(col("inter") * lit(1.0) / col("n_train")).as("containment"))
      .orderBy("train_id", "eval_id"))
  }
}
