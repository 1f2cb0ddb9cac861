package graft.operators

import graft.{GraftQuery, Materialize}
import graft.GraftQuery.{rowsOnly, sql}
import graft.functions.TextFunctions
import graft.functions.VectorFunctions._
import graft.sources.Tables
import graft.operators.Det._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star operator).
  *
  * Three tiers, in the shape a 100 TB deployment uses them:
  *   - `s01` brute-force exact top-k for a bounded query set — the
  *     correctness oracle. The query side is tiny and broadcast, so the scan
  *     side streams once with no shuffle; cost is O(|Q|·N) codegen'd cosine
  *     evaluations.
  *   - `s03` IVF: cluster centroids (here: label means, i.e. one Lloyd
  *     assignment step), nprobe=4 of 10 cells — candidates shrink ~2.5×;
  *     the candidate join is keyed on cluster id, so at scale it's a
  *     co-partitioned join instead of a cross join.
  *   - `s04` random-hyperplane LSH, 8 tables × 4 bits — candidate
  *     generation is a pure hash-bucket equi-join, no distance computation
  *     until the rerank step. The fixture's embeddings are near-random
  *     (top-neighbor cosine ≈ 0.4 ⇒ per-bit agreement only ≈ 0.63), so
  *     table/bit counts are tuned for recall over pruning; with real
  *     embedding clusters the same operator prunes far harder.
  * Recall of the approximate tiers vs `s01` is asserted in ScalaTest.
  */
object SimilarityQueries {

  private val K = 5
  private val NQueries = 10

  // s04 LSH geometry, shared by the Spark implementation (hyperplanes /
  // knnLsh) and the interpolated DuckDB oracle — a change on either side
  // reaches both, so the oracle cannot silently desync (r9 advisory).
  private val LshTables = 8
  private val LshBits = 4
  private val LshDim = 64
  private val LshSeed = 42L

  // s10 JL geometry, shared Spark-side and oracle-side the same way.
  // Declared BEFORE `all`: object vals initialize in declaration order,
  // and the registry's doc/oracle strings interpolate these eagerly.
  private val JlDims = 8
  private val JlSeed = 23L
  /** 1/sqrt(JlDims) as its exact shortest-round-trip double literal — the
    * same 17-digit constant is interpolated into the oracle SQL, so both
    * engines perform the identical IEEE multiply.
    */
  private val JlScale = 0.35355339059327373

  // s14 integer-grid Lloyd geometry, shared Spark-side and oracle-side
  // (declared before `all` — registry strings interpolate eagerly).
  private val KmK = 8
  private val KmRounds = 3
  private val KmDim = 64

  /** exact top-k: query set broadcast against the full collection. */
  def knnBrute(s: SparkSession, dir: String, k: Int = K, nq: Int = NQueries): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("neighbor_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), r6(col("sim")).as("sim"))
      .orderBy("q_id", "rnk")
  }

  /** Elementwise mean vectors per `keyCol`, rebuilt as array<float>
    * columns — shared by the label-mean index (s03) and the k-means
    * M-step (s07) so centroid assembly can never diverge between them.
    */
  private def meanCentroids(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(keyCol, "pos")
      .agg(avg("v").as("mv"))
      .groupBy(keyCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))), x => x.getField("mv"))
        .cast("array<float>").as("centroid"))

  /** Per-label elementwise mean vectors, rebuilt as array<float> columns. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    meanCentroids(Tables.embeddings(s, dir), "label")

  /** Collapse a (cent_id: long, centroid: array<float>) frame to ONE row
    * holding the sorted centroid array — the broadcast-able index shape
    * [[assignCells]] consumes (sorted so argmax ties resolve to the
    * smallest cent_id, matching the window-form ordering).
    */
  def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(col("cent_id"), col("centroid")))).as("cents"))

  /** Zero-shuffle IVF cell assignment: the centroid list rides along as a
    * single broadcast row and `nearest_centroid` picks the cell inside
    * whole-stage codegen. The naive alternative — crossJoin with the
    * centroid table + `row_number` over a per-vector window — shuffles
    * N×|cells| rows just to take a per-row argmax; at 100 TB that is a
    * |cells|×-corpus shuffle for a map-side decision.
    */
  def assignCells(e: DataFrame, centArr: DataFrame): DataFrame =
    e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"),
        nearestCentroid(col("embedding"), col("cents")).as("cell"))

  /** IVF search body shared by the mean-centroid (s03) and
    * selection-centroid (s08) variants: assign every vector to its nearest
    * centroid once (the index build), then probe the query's `nprobe`
    * nearest cells.
    */
  private def ivfSearch(e: DataFrame, cents0: DataFrame, k: Int, nq: Int,
      nprobe: Int): DataFrame = {
    val cents = broadcast(cents0)
    val assigned = assignCells(e, centroidArray(cents))

    val q = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probeW = Window.partitionBy(col("q_id")).orderBy(desc("csim"), col("cent_id"))
    val probes = q.crossJoin(cents)
      .withColumn("csim", cosineSim(col("q_emb"), col("centroid")))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cent_id").as("cell"))

    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("neighbor_id"))
    probes.join(assigned, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), r6(col("sim")).as("sim"))
      .orderBy("q_id", "rnk")
  }

  def knnIvf(s: SparkSession, dir: String, k: Int = K, nq: Int = NQueries, nprobe: Int = 4): DataFrame =
    ivfSearch(Tables.embeddings(s, dir),
      labelCentroids(s, dir).select(col("label").cast("long").as("cent_id"), col("centroid")),
      k, nq, nprobe)

  /** IVF with SELECTION centroids (the min-vec_id vector of each label):
    * zero float arithmetic in the index build, so — unlike s03's
    * order-sensitive float means — the whole search pipeline is
    * bit-reproducible in DuckDB and hash-checkable end-to-end.
    */
  def knnIvfSelect(s: SparkSession, dir: String, k: Int = K, nq: Int = NQueries,
      nprobe: Int = 4): DataFrame = {
    val e = Tables.embeddings(s, dir)
    ivfSearch(e, selectionCentroids(e), k, nq, nprobe)
  }

  /** SELECTION centroids (the min-vec_id vector per label) — zero float
    * arithmetic in the index build, shared by s08's search and s16's
    * nprobe audit so the two can never index differently.
    */
  private def selectionCentroids(e: DataFrame): DataFrame = {
    val minIds = e.groupBy("label").agg(min("vec_id").as("vec_id"))
    e.join(minIds, Seq("label", "vec_id"))
      .select(col("label").cast("long").as("cent_id"), col("embedding").as("centroid"))
  }

  /** Lloyd-style k-means over the embedding corpus, cosine assignment:
    * the E-step is the zero-shuffle [[assignCells]] argmax (centroids ride
    * along as one broadcast row), the M-step is one posexplode +
    * two-level mean aggregation — so an iteration costs one corpus scan
    * plus a dim×k-sized shuffle, never a corpus-sized one. Init is
    * deterministic (the k lowest vec_ids). Each iteration's centroid
    * frame is eagerly checkpointed in `m` so the lineage stays flat —
    * persist alone would re-embed every previous iteration's plan
    * (k rows — the materialization is k-row-sized, not a corpus collect);
    * the caller's `m.result` releases the checkpoints.
    *
    * This is the index-build step IVF (s03) presupposes; s03 keeps
    * label-mean centroids because its recall oracle is tuned to them.
    */
  def kmeansCentroids(s: SparkSession, dir: String, k: Int = 10, iters: Int = 3,
      m: Materialize = Materialize.eager()): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    var cents = m.checkpoint(e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centroid")))
    for (_ <- 1 to iters) {
      cents = m.checkpoint(meanCentroids(
          assignCells(e, centroidArray(cents))
            .select(col("cell").as("cent_id"), col("embedding")),
          "cent_id"))
    }
    cents
  }

  /** Mean cosine of every vector to its assigned centroid — the objective
    * the recall/quality spec tracks across iterations.
    */
  def kmeansObjective(s: SparkSession, dir: String, cents: DataFrame): Double = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    assignCells(e, centroidArray(cents))
      .join(cents.select(col("cent_id").as("cell"), col("centroid")), "cell")
      .agg(avg(cosineSim(col("embedding"), col("centroid"))))
      .head().getDouble(0)
  }

  /** Deterministic Rademacher (±1) hyperplanes: `tables` × `bits` planes of
    * dim 64, each component's sign the splitmix
    * [[graft.functions.HashOps.priorityHash]] parity of the flat plane
    * index. Sign-random-projection LSH only needs symmetrically distributed
    * components (±1 works as well as Gaussian for the sign-agreement /
    * angle relation), and integer-derived signs replay bit-exactly in
    * DuckDB HUGEINT — which is what moves s04 behind the hash-exact oracle
    * gate (r8 verdict #3; pre-r9 the planes came from an unreplayable
    * `scala.util.Random` float stream). ±1f is exact in float and double,
    * so each dot product is a pure signed left-to-right double sum of the
    * embedding components — the same accumulation `list_dot_product` uses,
    * making every sign-bit decision reproducible across engines.
    */
  private def hyperplanes(tables: Int, bits: Int, dim: Int = LshDim, seed: Long = LshSeed): Seq[Seq[Array[Float]]] =
    Seq.tabulate(tables)(t => Seq.tabulate(bits)(b => Array.tabulate(dim) { i =>
      val flat = ((t * bits + b) * dim + i).toLong
      if (graft.functions.HashOps.priorityHash(flat, seed) % 2L == 1L) -1f else 1f
    }))

  /** sign-bit signature of `emb` for one LSH table. */
  private def signature(emb: Column, planes: Seq[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotProduct(emb, lit(p)) >= 0, 1 << i).otherwise(0)
    }.reduce(_ + _)

  /** LSH search: candidates = union over tables of same-bucket vectors,
    * reranked by exact cosine. Bucket join is an equi-join on
    * (table, signature) — at 100 TB this is the only shuffle.
    */
  def knnLsh(s: SparkSession, dir: String, k: Int = K, nq: Int = NQueries,
      tables: Int = LshTables, bits: Int = LshBits): DataFrame = {
    val planes = hyperplanes(tables, bits)
    val e = Tables.embeddings(s, dir)

    def bucketed(df: DataFrame, idCol: String, embCol: String): DataFrame =
      df.select(Seq(col(idCol), col(embCol)) ++ planes.zipWithIndex.map { case (p, t) =>
        signature(col(embCol), p).as(s"sig_$t")
      }: _*)

    val base = bucketed(e, "vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        explode(array((0 until tables).map(t => struct(lit(t).as("t"), col(s"sig_$t").as("sig"))): _*)).as("b"))
      .select(col("vec_id"), col("embedding"), col("b.t").as("t"), col("b.sig").as("sig"))

    val q = bucketed(e.filter(col("vec_id") < nq), "vec_id", "embedding")
      .withColumnRenamed("vec_id", "q_id").withColumnRenamed("embedding", "q_emb")
      .select(col("q_id"), col("q_emb"),
        explode(array((0 until tables).map(t => struct(lit(t).as("t"), col(s"sig_$t").as("sig"))): _*)).as("b"))
      .select(col("q_id"), col("q_emb"), col("b.t").as("t"), col("b.sig").as("sig"))

    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("neighbor_id"))
    q.join(base, Seq("t", "sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("q_emb"), col("embedding"))
      .distinct()  // a pair can collide in several tables
      .select(col("q_id"), col("neighbor_id"), cosineSim(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), r6(col("sim")).as("sim"))
      .orderBy("q_id", "rnk")
  }

  val all: Seq[GraftQuery] = Seq(
    sql(
      "s01_knn_bruteforce",
      "exact cosine top-5 neighbors for 10 query vectors (codegen'd Catalyst expression)",
      s"""SELECT q_id, rnk, neighbor_id, floor((sim) * 1000000 + 0.5) / 1000000 AS sim
        |FROM (SELECT q_id, neighbor_id, sim,
        |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |      FROM (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |                   ${cosineSql("q.embedding", "e.embedding")} AS sim
        |            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |            WHERE q.vec_id < $NQueries))
        |WHERE rnk <= $K
        |ORDER BY q_id, rnk""") { (s, dir) => knnBrute(s, dir) },

    sql(
      "s02_embedding_norms",
      "per-label embedding statistics via dot-product expression",
      s"""SELECT label, count(*) AS n,
        |       floor((CAST(sum(CAST(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS DECIMAL(24,6))) AS DOUBLE)
        |              / count(*)) * 10000 + 0.5) / 10000 AS avg_sq_norm
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""") { (s, dir) =>
      Tables.embeddings(s, dir)
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          r4(dsum(dotProduct(col("embedding"), col("embedding"))) / count(lit(1))).as("avg_sq_norm"))
        .orderBy("label")
    },

    sql(
      "s05_zipwith_cosine",
      "builtin higher-order-function cosine (zip_with + aggregate) — the pure-composition twin of the codegen'd expression",
      s"""SELECT vec_id, floor((sim) * 1000000 + 0.5) / 1000000 AS sim
        |FROM (SELECT vec_id, ${cosineSql("embedding", "embedding")} AS sim
        |      FROM embeddings WHERE vec_id < 50)
        |ORDER BY vec_id""") { (s, dir) =>
      // zip_with multiplies elementwise; aggregate() folds left-to-right in
      // doubles — the same accumulation order as the custom expression and
      // the DuckDB formula. Kept as coverage of Spark's HOF surface; the
      // custom expression exists because HOF lambdas evaluate interpreted.
      def dotHof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v)
      Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50)
        .select(col("vec_id"),
          (dotHof(col("embedding"), col("embedding")) /
            (sqrt(dotHof(col("embedding"), col("embedding"))) *
              sqrt(dotHof(col("embedding"), col("embedding"))))).as("sim"))
        .select(col("vec_id"), r6(col("sim")).as("sim"))
        .orderBy("vec_id")
    },

    rowsOnly(
      "s03_knn_ivf",
      "IVF approximate nearest neighbors (nprobe=4 of 10 cells); no oracle: approximate result set — SimilarityRecallSpec asserts recall vs s01 and argmax-assignment equivalence")(
      (s, dir) => knnIvf(s, dir)),

    sql(
      "s08_knn_ivf_select",
      "IVF ANN with SELECTION centroids (the min-vec_id vector per label): zero float arithmetic in the index build, so the ENTIRE approximate search — argmax cell assignment, nprobe=4 probe choice, in-cell top-5 — replays bit-exactly in DuckDB. The oracle IS the algorithm, putting an approximate-nearest-neighbor operator behind the hash-exact gate (s03's mean-centroid variant stays rows-only: float means are accumulation-order-specific). Scale posture: identical to s03 — the codebook is a broadcast, assignment one codegen'd scan, candidates one cell-keyed join",
      s"""WITH minid AS (SELECT label, min(vec_id) AS mvid FROM embeddings GROUP BY label),
        |cents AS (SELECT CAST(e.label AS BIGINT) AS cent_id, e.embedding AS cemb
        |          FROM embeddings e JOIN minid m ON e.label = m.label AND e.vec_id = m.mvid),
        |asg AS (SELECT vec_id, embedding, cell FROM (
        |  SELECT e.vec_id, e.embedding, c.cent_id AS cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY ${cosineSql("e.embedding", "c.cemb")} DESC, c.cent_id) AS rn
        |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |probes AS (SELECT q_id, qemb, cell FROM (
        |  SELECT q.vec_id AS q_id, q.embedding AS qemb, c.cent_id AS cell,
        |         row_number() OVER (PARTITION BY q.vec_id
        |                            ORDER BY ${cosineSql("q.embedding", "c.cemb")} DESC, c.cent_id) AS prnk
        |  FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < $NQueries) WHERE prnk <= 4),
        |cand AS (SELECT p.q_id, a.vec_id AS neighbor_id, ${cosineSql("p.qemb", "a.embedding")} AS sim
        |         FROM probes p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.q_id)
        |SELECT q_id, rnk, neighbor_id, floor((sim) * 1000000 + 0.5) / 1000000 AS sim
        |FROM (SELECT q_id, neighbor_id, sim,
        |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |      FROM cand)
        |WHERE rnk <= $K
        |ORDER BY q_id, rnk""") { (s, dir) => knnIvfSelect(s, dir) },

    sql(
      "s04_knn_lsh",
      "random-hyperplane LSH ANN (8 tables x 4 bits), oracle-replayed end-to-end: the hyperplanes are Rademacher (+-1) with signs from the splitmix priority-hash parity of the flat plane index, so DuckDB regenerates the exact planes in HUGEINT, recomputes every sign bit (a +-1 dot product is a pure signed left-to-right double sum — bit-identical to list_dot_product), rebuilds the 4-bit bucket signatures, and replays the bucket equi-join + exact-cosine rerank hash-exactly (the s08 pattern applied to LSH; pre-r9 this was rows-only behind an unreplayable Random float stream). SimilarityRecallSpec still asserts recall vs s01. Scale posture unchanged: candidate generation is an equi-join on (table, signature) — the only shuffle; no distance computation before the rerank step",
      s"""WITH pidx AS (SELECT t.t, b.b, i.i, CAST((t.t * $LshBits + b.b) * $LshDim + i.i AS HUGEINT) AS k
        |              FROM generate_series(0, ${LshTables - 1}) t(t), generate_series(0, ${LshBits - 1}) b(b),
        |                   generate_series(0, ${LshDim - 1}) i(i)),
        |${graft.functions.HashFunctions.priorityHashCtes("pidx", "k", LshSeed, "t, b, i")},
        |planes AS (SELECT t, b,
        |                  list(CAST(CASE WHEN pri % 2 = 1 THEN -1 ELSE 1 END AS DOUBLE) ORDER BY i) AS plane
        |           FROM ph4 GROUP BY t, b),
        |dots AS (SELECT e.vec_id, p.t, p.b,
        |                list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) AS d
        |         FROM embeddings e CROSS JOIN planes p),
        |sigs AS (SELECT vec_id, t, CAST(sum(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS sig
        |         FROM dots GROUP BY vec_id, t),
        |cand AS (SELECT DISTINCT q.vec_id AS q_id, s.vec_id AS neighbor_id
        |         FROM sigs q JOIN sigs s ON s.t = q.t AND s.sig = q.sig AND s.vec_id <> q.vec_id
        |         WHERE q.vec_id < $NQueries),
        |scored AS (SELECT c.q_id, c.neighbor_id, ${cosineSql("qe.embedding", "ne.embedding")} AS sim
        |           FROM cand c
        |           JOIN embeddings qe ON qe.vec_id = c.q_id
        |           JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
        |SELECT q_id, rnk, neighbor_id, floor((sim) * 1000000 + 0.5) / 1000000 AS sim
        |FROM (SELECT q_id, neighbor_id, sim,
        |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |      FROM scored)
        |WHERE rnk <= $K
        |ORDER BY q_id, rnk""") { (s, dir) => knnLsh(s, dir) },

    rowsOnly(
      "s07_kmeans_centroids",
      "Lloyd k-means index build (3 iterations; cosine E-step is the zero-shuffle nearest_centroid argmax, M-step a dim x k mean); no oracle: iterative float means are accumulation-order-specific — SimilarityRecallSpec asserts the objective improves over the deterministic init")(
      (s, dir) => {
        val m = Materialize.eager()
        val cents = kmeansCentroids(s, dir, m = m)
        m.result(assignCells(Tables.embeddings(s, dir), centroidArray(cents))
          .groupBy("cell").agg(count(lit(1)).as("n_members"))
          .select(col("cell").as("cent_id"), col("n_members"))
          .orderBy("cent_id"))
      }),

    rowsOnly(
      "s06_knn_mllib_lsh",
      "MLlib BucketedRandomProjectionLSH ANN (library path); no oracle: approximate result set — SimilarityRecallSpec asserts recall vs s01")(
      (s, dir) => MlLsh.knn(s, dir)),

    sql(
      "s09_knn_quantized",
      "int8 scalar-quantized kNN: one global symmetric scale (amax = corpus max |component|) maps every component to an integer code floor((x*127)/amax + 0.5) in -127..127, and top-5 ranks by the INTEGER code dot product via the codegen'd quantized_dot expression — the memory lever ANN deployments pull first (4x smaller vectors, SIMD-friendly integer scoring). SYMMETRIC quantization is load-bearing: the per-dim affine 0..255 variant injects per-neighbor shift terms (sum mn_i*y_i) that swamp the tiny dots of near-random embeddings (measured overlap 0.06 vs 1.0 for symmetric on this corpus) — zero-preserving codes keep the integer dot monotone to the true dot up to quantization error. Oracle-replayed end-to-end: amax is an exact max of |float| values, the quantize expression is one fixed IEEE op sequence in both engines, and scoring is pure integer arithmetic with NO accumulation-order caveat (the only s-family entry whose scores are integer-exact, not rounded floats). SimilarityRecallSpec asserts top-5 overlap vs the exact float-dot ranking. Scale posture: amax is one tree-aggregated scalar broadcast; encoding is a map-side transform; scoring streams codes once against the broadcast query side (s01's shape at 1/4 the bytes); at 100 TB the codes persist as the compact index and float embeddings are never read at query time",
      s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |                   CAST(unnest(embedding) AS DOUBLE) AS v
        |            FROM embeddings),
        |amax AS (SELECT max(abs(v)) AS a FROM ex),
        |codes AS (SELECT e.vec_id, e.pos,
        |                 CASE WHEN x.a = 0 THEN 0
        |                      ELSE CAST(floor(((e.v * 127.0) / x.a) + 0.5) AS BIGINT)
        |                 END AS c
        |          FROM ex e CROSS JOIN amax x),
        |qd AS (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |              CAST(sum(q.c * e.c) AS BIGINT) AS qdot
        |       FROM codes q JOIN codes e ON e.pos = q.pos AND e.vec_id <> q.vec_id
        |       WHERE q.vec_id < $NQueries
        |       GROUP BY q_id, neighbor_id)
        |SELECT q_id, rnk, neighbor_id, qdot
        |FROM (SELECT q_id, neighbor_id, qdot,
        |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rnk
        |      FROM qd)
        |WHERE rnk <= $K
        |ORDER BY q_id, rnk""") { (s, dir) => knnQuantized(s, dir) },

    sql(
      "s10_jl_projection",
      s"random-projection dimensionality reduction (Johnson-Lindenstrauss / Achlioptas): project every embedding 64 -> $JlDims dims through a Rademacher +-1 matrix scaled by 1/sqrt($JlDims) — the standard pre-ANN compression step (shrink vectors before indexing; Rademacher satisfies the JL distance-preservation lemma with no Gaussian sampling, E[||Px-Py||^2] = ||x-y||^2 exactly). Deterministic end-to-end: plane signs come from the splitmix priority-hash parity of the flat (dim, component) index (the s04 machinery), the +-1 dot is a pure signed left-to-right double sum, and the 1/sqrt($JlDims) scale is one IEEE multiply by the same 17-digit literal in both engines — the whole projected matrix replays bit-exactly in DuckDB. SimilarityRecallSpec asserts the lemma's expectation (mean pairwise squared-distance ratio ~ 1). Scale posture: the matrix is $JlDims x 64 broadcast constants folded into codegen; projection is a zero-shuffle map-side transform — at 100 TB this is one pass that writes the 8x smaller column the ANN index builds on",
      s"""WITH pidx AS (SELECT j.j, i.i, CAST(j.j * 64 + i.i AS HUGEINT) AS k
        |              FROM generate_series(0, ${JlDims - 1}) j(j), generate_series(0, 63) i(i)),
        |${graft.functions.HashFunctions.priorityHashCtes("pidx", "k", JlSeed, "j, i")},
        |planes AS (SELECT j, list(CAST(CASE WHEN pri % 2 = 1 THEN -1 ELSE 1 END AS DOUBLE) ORDER BY i) AS plane
        |           FROM ph4 GROUP BY j)
        |SELECT e.vec_id, p.j AS dim,
        |       floor((list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) * $JlScale) * 1000000 + 0.5) / 1000000 AS proj
        |FROM (SELECT vec_id, embedding FROM embeddings WHERE len(embedding) > 0) e
        |CROSS JOIN planes p
        |ORDER BY vec_id, dim""") { (s, dir) => jlProject(s, dir) },

    sql(
      "s11_range_search",
      "cosine RANGE search — every vector within similarity >= 0.25 of each of the 10 query vectors (the radius-query complement of s01's top-k: dedup and recommendation ask 'everything this close', not 'the closest k', and the result set size is data-driven, not fixed). The threshold gates on the r6-ROUNDED similarity in BOTH engines, so a last-ulp disagreement in the raw cosine cannot flip a boundary row (the Det float-boundary discipline applied to a predicate, not just an output). Scale posture: query side broadcasts (s01's contract — the scan side never shuffles, one corpus pass serves all queries); at 100 TB the same predicate pushes into the s08 IVF cell-select or the s04 LSH bucket-probe shape, with this brute-force form as their recall oracle",
      s"""SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |       floor((${cosineSql("q.embedding", "e.embedding")}) * 1000000 + 0.5) / 1000000 AS sim
        |FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |WHERE q.vec_id < $NQueries
        |  AND floor((${cosineSql("q.embedding", "e.embedding")}) * 1000000 + 0.5) / 1000000 >= 0.25
        |ORDER BY q_id, neighbor_id""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          r6(cosineSim(col("q_emb"), col("embedding"))).as("sim"))
        .filter(col("sim") >= 0.25)
        .orderBy("q_id", "neighbor_id")
    },

    sql(
      "s12_mips",
      "maximum-inner-product search (MIPS) top-5 — the retrieval objective recommenders and two-tower rankers actually optimize: raw dot product, where vector NORM carries signal (item popularity / confidence), deliberately distinct from s01's cosine which normalizes it away; over the same 10 query vectors so the two rankings are directly comparable. Engine-exact by the s01 contract: both engines fold the identical IEEE double dot left-to-right (the codegen'd DotProduct expression vs list_dot_product over CAST DOUBLE[]), ranking is on the raw double with neighbor_id tie-break, output rounds r6. Scale posture: brute force is the recall oracle exactly as s01 is for s04/s08 — the query side broadcasts, the collection side never shuffles, one corpus pass serves all queries; at 100 TB MIPS reduces to cosine ANN by norm augmentation (append sqrt(M^2 - |x|^2) to each item, 0 to each query, M = max norm — inner products become monotone in the augmented cosine), after which the s08 IVF cell-select or s04 LSH bucket-probe machinery applies unchanged",
      s"""SELECT q_id, rnk, neighbor_id, floor((dot) * 1000000 + 0.5) / 1000000 AS dot
        |FROM (SELECT q_id, neighbor_id, dot,
        |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rnk
        |      FROM (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |                   list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS dot
        |            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |            WHERE q.vec_id < $NQueries))
        |WHERE rnk <= $K
        |ORDER BY q_id, rnk""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("dot"), col("neighbor_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          dotProduct(col("q_emb"), col("embedding")).as("dot"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= K)
        .select(col("q_id"), col("rnk"), col("neighbor_id"), r6(col("dot")).as("dot"))
        .orderBy("q_id", "rnk")
    },

    sql(
      "s13_pq_adc",
      "product-quantization ADC search — THE billion-scale ANN index format (FAISS IVFPQ's compression half): the 64-dim space splits into 4 x 16-dim subspaces, every vector encodes to 4 small codes (nearest sub-codebook entry per subspace — 4 bytes/vector here vs 256 raw, the memory lever that puts a 100 TB corpus's index in RAM), and query scoring is ASYMMETRIC DISTANCE COMPUTATION: one 10-entry dot-product table per (query, subspace), then every candidate scores by 4 table LOOKUPS + 3 adds — no full-width arithmetic per candidate, which is the entire point at scale. Deterministic end-to-end via the s08 selection-codebook trick (sub-codebooks = subslices of the min-vec_id-per-label vectors — zero float arithmetic in training), argmax codes tie-break (dot DESC, cent_id), and the ADC sum assembled as four conditionally-picked terms added in FIXED subspace order t0+t1+t2+t3 — never a float SUM() whose accumulation order could differ between engines. SimilarityRecallSpec asserts ADC@5 recall against s01's exact ranking. Scale posture: codebooks are a broadcast (10 x 4 slices), encoding is one codegen'd scan emitting 4 ints/vector, the score join is keyed on (subspace, code) against a 40-row broadcast table — the corpus side shuffles NOTHING and reads only codes, exactly how a PQ index scans",
      s"""WITH minid AS (SELECT label, min(vec_id) AS mvid FROM embeddings GROUP BY label),
        |cents AS (SELECT CAST(e.label AS BIGINT) AS cent_id, e.embedding AS cemb
        |          FROM embeddings e JOIN minid mi ON e.label = mi.label AND e.vec_id = mi.mvid),
        |subs AS (SELECT CAST(g.s AS INTEGER) AS s FROM generate_series(0, 3) g(s)),
        |csl AS (SELECT u.s, c.cent_id, CAST(c.cemb[u.s*16+1 : u.s*16+16] AS DOUBLE[]) AS cslice
        |        FROM cents c CROSS JOIN subs u),
        |vsl AS (SELECT e.vec_id, u.s, CAST(e.embedding[u.s*16+1 : u.s*16+16] AS DOUBLE[]) AS vslice
        |        FROM embeddings e CROSS JOIN subs u),
        |codes AS (SELECT vec_id, s, cent_id AS code FROM (
        |  SELECT v.vec_id, v.s, c.cent_id,
        |         row_number() OVER (PARTITION BY v.vec_id, v.s
        |                            ORDER BY list_dot_product(v.vslice, c.cslice) DESC, c.cent_id) AS rn
        |  FROM vsl v JOIN csl c ON c.s = v.s) WHERE rn = 1),
        |qt AS (SELECT v.vec_id AS q_id, v.s, c.cent_id AS qcent,
        |              list_dot_product(v.vslice, c.cslice) AS t
        |       FROM vsl v JOIN csl c ON c.s = v.s WHERE v.vec_id < $NQueries),
        |adc AS (SELECT q.q_id, k.vec_id AS neighbor_id,
        |               sum(CASE WHEN k.s = 0 THEN q.t END) AS t0,
        |               sum(CASE WHEN k.s = 1 THEN q.t END) AS t1,
        |               sum(CASE WHEN k.s = 2 THEN q.t END) AS t2,
        |               sum(CASE WHEN k.s = 3 THEN q.t END) AS t3
        |        FROM codes k JOIN qt q ON q.s = k.s AND q.qcent = k.code
        |        WHERE k.vec_id <> q.q_id
        |        GROUP BY q.q_id, k.vec_id)
        |SELECT q_id, rnk, neighbor_id, floor((t0 + t1 + t2 + t3) * 1000000 + 0.5) / 1000000 AS adc
        |FROM (SELECT q_id, neighbor_id, t0, t1, t2, t3,
        |             CAST(row_number() OVER (PARTITION BY q_id
        |                                     ORDER BY t0 + t1 + t2 + t3 DESC, neighbor_id) AS BIGINT) AS rnk
        |      FROM adc)
        |WHERE rnk <= $K
        |ORDER BY q_id, rnk""") { (s, dir) => pqAdc(s, dir) },

    sql(
      "s14_kmeans_grid",
      s"s07's Lloyd k-means TRAINER put behind the hash-exact oracle gate — the same move s08 made for s03's float index build: snap every coordinate onto the 1e6 integer grid ONCE (one correctly-rounded float->double->floor chain per value), and from there the ENTIRE training loop is integer arithmetic — BIGINT squared-L2 E-step with (distance, cent_id) lexicographic tie-break, floor-division M-step means (exact: the true quotient is >= 1/n from any integer while the correctly-rounded double quotient errs by <1 ulp, so floor cannot straddle) — so $KmRounds full Lloyd rounds + the final assignment replay bit-exactly in DuckDB, putting an ITERATIVE trainer's every centroid coordinate, membership count and within-cluster scatter behind the driver's hash compare (t24's argmax-loop discipline extended from one scalar per round to the whole model state). This IS IVF codebook training (s03/s08/s13 consume such codebooks; this row produces one). Scale posture: centroids are driver-held model state exactly like t24's merge table — each E-step is a zero-shuffle codegen'd scan (codebook rides the closure as literals, distance = one fused zip_with/aggregate fold, argmin = least() over $KmK struct terms — no explode, no join, no window), each M-step one (cell,pos)-keyed agg collecting a codebook-sized ${KmK}x$KmDim row set (the loop-control collect, model-sized not data-sized); rounds are a fixed small constant. Overflow audit: |coord| <= 0.58 -> |g| <= 6e5, per-pair squared diff <= 1.5e12, x$KmDim dims x corpus rows keeps every sum far inside BIGINT",
      {
        val rounds = (1 to KmRounds).map { r =>
          s"""a$r AS (SELECT vec_id, g, cent_id, d,
             |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
             |        FROM (SELECT p.vec_id, p.g, c.cent_id,
             |                     list_sum(list_transform(generate_series(1, $KmDim),
             |                              i -> (p.g[i]-c.c[i])*(p.g[i]-c.c[i]))) AS d
             |              FROM pts p CROSS JOIN c${r - 1} c)),
             |c$r AS (SELECT cent_id, list(m ORDER BY pos) AS c FROM (
             |          SELECT cent_id, (u).pos AS pos,
             |                 CAST(floor(CAST(sum((u).v) AS DOUBLE) / count(*)) AS BIGINT) AS m
             |          FROM (SELECT cent_id,
             |                       unnest(list_transform(generate_series(1, $KmDim),
             |                              i -> {'pos': i, 'v': g[i]})) AS u
             |                FROM a$r WHERE rn = 1)
             |          GROUP BY cent_id, (u).pos) GROUP BY cent_id)""".stripMargin
        }.mkString(",\n")
        s"""WITH pts AS (
          |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
          |                 v -> CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS g
          |  FROM embeddings),
          |c0 AS (SELECT vec_id AS cent_id, g AS c FROM pts WHERE vec_id < $KmK),
          |$rounds,
          |fin AS (SELECT vec_id, cent_id, d,
          |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
          |        FROM (SELECT p.vec_id, c.cent_id,
          |                     list_sum(list_transform(generate_series(1, $KmDim),
          |                              i -> (p.g[i]-c.c[i])*(p.g[i]-c.c[i]))) AS d
          |              FROM pts p CROSS JOIN c$KmRounds c)),
          |stats AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_pts,
          |                 CAST(sum(d) AS BIGINT) AS wcss
          |          FROM fin WHERE rn = 1 GROUP BY cent_id),
          |cdig AS (SELECT cent_id,
          |                CAST(list_sum(c) AS BIGINT) AS cent_sum,
          |                CAST(list_sum(list_transform(c, x -> x*x)) AS BIGINT) AS cent_norm2
          |         FROM c$KmRounds)
          |SELECT s.cent_id, s.n_pts, s.wcss, cd.cent_sum, cd.cent_norm2
          |FROM stats s JOIN cdig cd ON s.cent_id = cd.cent_id
          |ORDER BY s.cent_id""".stripMargin
      }) { (s, dir) => kmeansGrid(s, dir) },

    sql(
      "s15_hard_negatives",
      "contrastive triplet mining — the embedding-TRAINING-data op beside the s-family's search ops (SimCSE/CLIP-style pipelines mine exactly this: for every anchor, the most-similar vectors of a DIFFERENT label are the hard negatives that teach the margin, and the least-similar vector of the SAME label is the hard positive that defines its reach): per anchor, top-3 hard negatives (cosine DESC over label<>anchor) and the 1 hardest positive (cosine ASC over label=anchor), each window ordered with a neighbor_id tie-break so ranking is total in both engines (the s01 discipline — identical left-to-right IEEE dot/norm folds, floor-rounded only at the output). Scale posture: the anchor set is tiny and broadcast, so the corpus streams ONCE through a codegen'd cosine with no shuffle before the per-anchor top-k windows (anchor-partitioned, dimension-sized); at 100 TB the same mining runs over an s04/s08 ANN candidate shortlist instead of the exhaustive join — the windows and tie-breaks are unchanged, only the candidate generator swaps, which is why the exact form is the right oracle",
      s"""WITH sims AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label, e.vec_id AS neighbor_id, e.label AS n_label,
        |         ${cosineSql("q.embedding", "e.embedding")} AS sim
        |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < $NQueries),
        |neg AS (SELECT q_id, 'neg' AS kind,
        |               CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk,
        |               neighbor_id, sim
        |        FROM sims WHERE n_label <> q_label),
        |pos AS (SELECT q_id, 'pos' AS kind,
        |               CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim ASC, neighbor_id) AS BIGINT) AS rnk,
        |               neighbor_id, sim
        |        FROM sims WHERE n_label = q_label)
        |SELECT q_id, kind, rnk, neighbor_id, floor((sim) * 1000000 + 0.5) / 1000000 AS sim
        |FROM (SELECT * FROM neg WHERE rnk <= 3 UNION ALL SELECT * FROM pos WHERE rnk = 1)
        |ORDER BY q_id, kind, rnk""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"))
      val sims = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id").as("neighbor_id"),
          col("label").as("n_label"),
          cosineSim(col("q_emb"), col("embedding")).as("sim"))
      val wneg = Window.partitionBy("q_id").orderBy(desc("sim"), col("neighbor_id"))
      val wpos = Window.partitionBy("q_id").orderBy(col("sim"), col("neighbor_id"))
      val neg = sims.filter(col("n_label") =!= col("q_label"))
        .withColumn("rnk", row_number().over(wneg).cast("long"))
        .filter(col("rnk") <= 3).withColumn("kind", lit("neg"))
      val pos = sims.filter(col("n_label") === col("q_label"))
        .withColumn("rnk", row_number().over(wpos).cast("long"))
        .filter(col("rnk") === 1).withColumn("kind", lit("pos"))
      neg.unionByName(pos)
        .select(col("q_id"), col("kind"), col("rnk"), col("neighbor_id"),
          r6(col("sim")).as("sim"))
        .orderBy("q_id", "kind", "rnk")
    },

    sql(
      "s16_ivf_nprobe_audit",
      s"IVF nprobe recall-vs-cost sweep (the s-family twin of d16's LSH banding audit — measure, don't guess): the one table every IVF deployment tunes from, built here over the s08 selection-centroid index so the WHOLE audit replays hash-exactly. For each nprobe in {1,2,4,8} (of ${10} cells): how many candidates the probes admit (the COST axis — each candidate is one full-precision cosine at rerank), how many of the exact brute-force top-$K each query recovers (the RECALL axis, vs the same ranking s01 gates), and the recall in ppm via exact integer division. The assignment and probe rankings are computed ONCE — probes carry their rank and the nprobe dimension joins on prnk <= np (a 4-row broadcast), so the sweep costs one index pass, not four. Output is ALL-INTEGER (counts and an integer-division ppm; similarity floats exist only inside the rankings both engines already agree on through s01/s08's gates) — no rounding caveat anywhere. Scale posture: the audit inherits s08's shapes — broadcast codebook, cell-keyed candidate join, bounded query set; on a real corpus this exact query decides nprobe before the index ships, which is why it belongs IN the engine rather than in a notebook",
      s"""WITH minid AS (SELECT label, min(vec_id) AS mvid FROM embeddings GROUP BY label),
        |cents AS (SELECT CAST(e.label AS BIGINT) AS cent_id, e.embedding AS cemb
        |          FROM embeddings e JOIN minid m ON e.label = m.label AND e.vec_id = m.mvid),
        |asg AS (SELECT vec_id, embedding, cell FROM (
        |  SELECT e.vec_id, e.embedding, c.cent_id AS cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY ${cosineSql("e.embedding", "c.cemb")} DESC, c.cent_id) AS rn
        |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |probes AS (SELECT q_id, qemb, cell, prnk FROM (
        |  SELECT q.vec_id AS q_id, q.embedding AS qemb, c.cent_id AS cell,
        |         row_number() OVER (PARTITION BY q.vec_id
        |                            ORDER BY ${cosineSql("q.embedding", "c.cemb")} DESC, c.cent_id) AS prnk
        |  FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < $NQueries) WHERE prnk <= 8),
        |nps AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS np),
        |cand AS (SELECT n.np, p.q_id, a.vec_id AS neighbor_id,
        |                ${cosineSql("p.qemb", "a.embedding")} AS sim
        |         FROM probes p JOIN nps n ON p.prnk <= n.np
        |         JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.q_id),
        |top5 AS (SELECT np, q_id, neighbor_id FROM (
        |  SELECT np, q_id, neighbor_id,
        |         row_number() OVER (PARTITION BY np, q_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM cand) WHERE rnk <= $K),
        |exact AS (SELECT q_id, neighbor_id FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |                            ORDER BY ${cosineSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS rnk
        |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < $NQueries) WHERE rnk <= $K),
        |h AS (SELECT t.np, CAST(count(*) AS BIGINT) AS hits
        |      FROM top5 t JOIN exact x ON x.q_id = t.q_id AND x.neighbor_id = t.neighbor_id
        |      GROUP BY t.np),
        |ca AS (SELECT np, CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
        |              CAST(count(*) AS BIGINT) AS n_cand
        |       FROM cand GROUP BY np),
        |ret AS (SELECT np, CAST(count(*) AS BIGINT) AS n_returned FROM top5 GROUP BY np)
        |SELECT ca.np AS nprobe, ca.n_queries, ca.n_cand, ret.n_returned,
        |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |       CAST(COALESCE(h.hits, 0) * 1000000 // (ca.n_queries * $K) AS BIGINT) AS recall_ppm
        |FROM ca JOIN ret USING (np) LEFT JOIN h USING (np)
        |ORDER BY nprobe""") { (s, dir) =>
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val cents = broadcast(selectionCentroids(e))
      val assigned = assignCells(e, centroidArray(cents))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val probeW = Window.partitionBy(col("q_id")).orderBy(desc("csim"), col("cent_id"))
      val probes = q.crossJoin(cents)
        .withColumn("csim", cosineSim(col("q_emb"), col("centroid")))
        .withColumn("prnk", row_number().over(probeW))
        .filter(col("prnk") <= 8)
        .select(col("q_id"), col("q_emb"), col("cent_id").as("cell"), col("prnk"))
      val nps = broadcast(Seq(1L, 2L, 4L, 8L).toDF("np"))
      val cand = probes.join(nps, col("prnk") <= col("np"))
        .join(assigned, "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("np"), col("q_id"), col("vec_id").as("neighbor_id"),
          cosineSim(col("q_emb"), col("embedding")).as("sim"))
      val top5 = cand
        .withColumn("rnk", row_number().over(
          Window.partitionBy("np", "q_id").orderBy(desc("sim"), col("neighbor_id"))))
        .filter(col("rnk") <= K)
        .select(col("np"), col("q_id"), col("neighbor_id"))
      val exact = knnBrute(s, dir).select(col("q_id"), col("neighbor_id"))
      val hits = top5.join(exact, Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy("np").agg(count(lit(1)).cast("long").as("hits"))
      val ca = cand.groupBy("np").agg(
        countDistinct("q_id").cast("long").as("n_queries"),
        count(lit(1)).cast("long").as("n_cand"))
      val ret = top5.groupBy("np").agg(count(lit(1)).cast("long").as("n_returned"))
      ca.join(ret, "np").join(hits, Seq("np"), "left").na.fill(0L, Seq("hits"))
        .select(col("np").as("nprobe"), col("n_queries"), col("n_cand"), col("n_returned"),
          col("hits"), expr(s"hits * 1000000 div (n_queries * $K)").as("recall_ppm"))
        .orderBy("nprobe")
    },

    sql(
      "s17_rank_quality_audit",
      s"per-query ranking-quality audit of the int8 quantized index against the exact float ranking — the offline IR-eval harness (recall@k / MRR / rank displacement) every retrieval deployment runs before swapping an index, expressed as a registry operator instead of a notebook: for each of the $NQueries queries, how many of the exact cosine top-$K the quantized top-$K recovers (recall axis), where the TRUE nearest neighbor landed in the quantized ranking (first_rank_quant, 0 = missed; mrr_ppm = 1e6 div that rank — the metric's reciprocal without a float), and the total |rank_exact − rank_quant| displacement over the shared items (the tie-quality signal recall alone can't see). Both rankings are already hash-exact through s01/s09's gates (exact cosine ranking; pure-integer quantized dots), so every metric here is an exact integer — no rounding caveat anywhere. Scale posture: inherits s01/s09's shapes (broadcast query side, map-side scoring); the audit itself joins two ($K x $NQueries)-row rankings — dimension-sized",
      s"""WITH exr AS (
        |  SELECT q_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS er
        |  FROM (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |               ${cosineSql("q.embedding", "e.embedding")} AS sim
        |        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |        WHERE q.vec_id < $NQueries)),
        |ex5 AS (SELECT q_id, neighbor_id, er FROM exr WHERE er <= $K),
        |cx AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |              CAST(unnest(embedding) AS DOUBLE) AS v
        |       FROM embeddings),
        |camax AS (SELECT max(abs(v)) AS a FROM cx),
        |ccodes AS (SELECT e.vec_id, e.pos,
        |                  CASE WHEN x.a = 0 THEN 0
        |                       ELSE CAST(floor(((e.v * 127.0) / x.a) + 0.5) AS BIGINT)
        |                  END AS c
        |           FROM cx e CROSS JOIN camax x),
        |cqd AS (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |               CAST(sum(q.c * e.c) AS BIGINT) AS qdot
        |        FROM ccodes q JOIN ccodes e ON e.pos = q.pos AND e.vec_id <> q.vec_id
        |        WHERE q.vec_id < $NQueries
        |        GROUP BY q_id, neighbor_id),
        |qz5 AS (SELECT q_id, neighbor_id, qr FROM (
        |          SELECT q_id, neighbor_id,
        |                 CAST(row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS qr
        |          FROM cqd)
        |        WHERE qr <= $K),
        |shared AS (SELECT e.q_id, e.neighbor_id, e.er, z.qr
        |           FROM ex5 e JOIN qz5 z ON z.q_id = e.q_id AND z.neighbor_id = e.neighbor_id),
        |queries AS (SELECT DISTINCT q_id FROM ex5),
        |hits AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_hits,
        |                CAST(sum(abs(er - qr)) AS BIGINT) AS displacement
        |         FROM shared GROUP BY q_id),
        |firsts AS (SELECT q_id, qr AS fr FROM shared WHERE er = 1)
        |SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |       CAST(coalesce(f.fr, 0) AS BIGINT) AS first_rank_quant,
        |       CAST(CASE WHEN f.fr IS NULL THEN 0 ELSE 1000000 // f.fr END AS BIGINT) AS mrr_ppm,
        |       CAST(coalesce(h.displacement, 0) AS BIGINT) AS displacement
        |FROM queries q LEFT JOIN hits h ON h.q_id = q.q_id
        |               LEFT JOIN firsts f ON f.q_id = q.q_id
        |ORDER BY q.q_id""") { (s, dir) =>
      val ex5 = knnBrute(s, dir).select(col("q_id"), col("neighbor_id"), col("rnk").as("er"))
      val qz5 = knnQuantized(s, dir).select(col("q_id"), col("neighbor_id"), col("rnk").as("qr"))
      val shared = ex5.join(qz5, Seq("q_id", "neighbor_id"))
      val queries = ex5.select("q_id").distinct()
      val hits = shared.groupBy("q_id").agg(count(lit(1)).cast("long").as("n_hits"),
        sum(abs(col("er") - col("qr"))).cast("long").as("displacement"))
      val firsts = shared.filter(col("er") === 1).select(col("q_id"), col("qr").as("fr"))
      queries.join(hits, Seq("q_id"), "left").join(firsts, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("fr"), lit(0L)).as("first_rank_quant"),
          when(col("fr").isNull, lit(0L)).otherwise(expr("1000000 div fr")).as("mrr_ppm"),
          coalesce(col("displacement"), lit(0L)).as("displacement"))
        .orderBy("q_id")
    },

    sql(
      "s18_index_staleness_audit",
      "index-staleness / centroid-churn audit — the rebuild-decision metric every IVF deployment needs (embeddings arrive continuously; the index was built on yesterday's corpus: how wrong is it?): a STALE codebook (selection centroids over the even-vec_id half — the corpus 'as of the last build') and the FRESH codebook (s08/s16's full-corpus selection centroids, shared helper so the two can never index differently) both assign every vector via the zero-shuffle broadcast argmax, and the per-cell report counts stale mass, fresh mass, churn IN (vectors this cell gains under the fresh codebook) and churn OUT, with an integer-ppm churn rate. High churn cells are exactly where recall is bleeding and a rebuild pays. All counts exact; assignments replay hash-exactly in the oracle because selection centroids involve zero float arithmetic in the build (the s08 property). Scale posture: two broadcast-codebook map-side assignment passes (no shuffle until the cell-keyed counts), label-sized output — the audit costs two corpus scans, not an index rebuild",
      s"""WITH mf AS (SELECT label, min(vec_id) AS mv FROM embeddings GROUP BY label),
        |cf AS (SELECT CAST(e.label AS BIGINT) AS cent_id, e.embedding AS cemb
        |       FROM embeddings e JOIN mf ON e.label = mf.label AND e.vec_id = mf.mv),
        |ms AS (SELECT label, min(vec_id) AS mv FROM embeddings WHERE vec_id % 2 = 0 GROUP BY label),
        |cs AS (SELECT CAST(e.label AS BIGINT) AS cent_id, e.embedding AS cemb
        |       FROM embeddings e JOIN ms ON e.label = ms.label AND e.vec_id = ms.mv),
        |af AS (SELECT vec_id, cell FROM (
        |         SELECT e.vec_id, c.cent_id AS cell,
        |                row_number() OVER (PARTITION BY e.vec_id
        |                                   ORDER BY ${cosineSql("e.embedding", "c.cemb")} DESC, c.cent_id) AS rn
        |         FROM embeddings e CROSS JOIN cf c) WHERE rn = 1),
        |ast AS (SELECT vec_id, cell FROM (
        |         SELECT e.vec_id, c.cent_id AS cell,
        |                row_number() OVER (PARTITION BY e.vec_id
        |                                   ORDER BY ${cosineSql("e.embedding", "c.cemb")} DESC, c.cent_id) AS rn
        |         FROM embeddings e CROSS JOIN cs c) WHERE rn = 1),
        |j AS (SELECT af.vec_id, af.cell AS fresh, ast.cell AS stale
        |      FROM af JOIN ast ON ast.vec_id = af.vec_id),
        |fstat AS (SELECT fresh AS cent_id, CAST(count(*) AS BIGINT) AS n_fresh,
        |                 CAST(sum(CASE WHEN stale <> fresh THEN 1 ELSE 0 END) AS BIGINT) AS n_in
        |          FROM j GROUP BY fresh),
        |sstat AS (SELECT stale AS cent_id, CAST(count(*) AS BIGINT) AS n_stale,
        |                 CAST(sum(CASE WHEN stale <> fresh THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        |          FROM j GROUP BY stale)
        |SELECT c.cent_id, COALESCE(s.n_stale, 0) AS n_stale, COALESCE(f.n_fresh, 0) AS n_fresh,
        |       COALESCE(f.n_in, 0) AS n_in, COALESCE(s.n_out, 0) AS n_out,
        |       ((COALESCE(f.n_in, 0) + COALESCE(s.n_out, 0)) * 1000000)
        |         // greatest(COALESCE(s.n_stale, 0) + COALESCE(f.n_fresh, 0), 1) AS churn_ppm
        |FROM (SELECT cent_id FROM cf) c
        |LEFT JOIN fstat f ON f.cent_id = c.cent_id
        |LEFT JOIN sstat s ON s.cent_id = c.cent_id
        |ORDER BY c.cent_id""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val fresh = assignCells(e, centroidArray(broadcast(selectionCentroids(e))))
        .select(col("vec_id"), col("cell").as("fresh"))
      val stale = assignCells(e,
          centroidArray(broadcast(selectionCentroids(e.filter(col("vec_id") % 2 === 0)))))
        .select(col("vec_id"), col("cell").as("stale"))
      val j = fresh.join(stale, "vec_id")
      val fstat = j.groupBy(col("fresh").as("cent_id"))
        .agg(count(lit(1)).cast("long").as("n_fresh"),
          sum(when(col("stale") =!= col("fresh"), 1L).otherwise(0L)).cast("long").as("n_in"))
      val sstat = j.groupBy(col("stale").as("cent_id"))
        .agg(count(lit(1)).cast("long").as("n_stale"),
          sum(when(col("stale") =!= col("fresh"), 1L).otherwise(0L)).cast("long").as("n_out"))
      selectionCentroids(e).select(col("cent_id"))
        .join(fstat, Seq("cent_id"), "left")
        .join(sstat, Seq("cent_id"), "left")
        .na.fill(0L, Seq("n_stale", "n_fresh", "n_in", "n_out"))
        .select(col("cent_id"), col("n_stale"), col("n_fresh"), col("n_in"), col("n_out"),
          expr("((n_in + n_out) * 1000000) div greatest(n_stale + n_fresh, 1)").as("churn_ppm"))
        .orderBy("cent_id")
    },

    sql(
      "s19_filtered_knn",
      "metadata-FILTERED exact top-5 neighbors (the filtered-vector-search every production vector store ships: 'nearest neighbors WHERE label = X' — here the query's own label, the tenant/namespace shape): the predicate becomes the JOIN KEY, not a post-filter — candidates are generated by a label equi-join against the broadcast query set, so the scan side prunes to the label partition before any distance math (pre-filtering; post-filtering an unfiltered top-k under-fills k whenever the filter is selective, the classic filtered-ANN bug this entry's semantics rule out by construction). Scoring and determinism are s01's: codegen'd cosine, (sim DESC, neighbor_id) total order, r6 rounding. Scale posture: at 100 TB the label keys the index layout (partition/bucket by label), so the equi-join IS the partition prune; the query side stays broadcast and the per-label candidate sets bound the distance work",
      s"""SELECT q_id, rnk, neighbor_id, floor((sim) * 1000000 + 0.5) / 1000000 AS sim
        |FROM (SELECT q_id, neighbor_id, sim,
        |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |      FROM (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |                   ${graft.functions.VectorFunctions.cosineSql("q.embedding", "e.embedding")} AS sim
        |            FROM embeddings q JOIN embeddings e
        |              ON e.label = q.label AND e.vec_id <> q.vec_id
        |            WHERE q.vec_id < $NQueries))
        |WHERE rnk <= $K
        |ORDER BY q_id, rnk""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("label"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("neighbor_id"))
      e.join(broadcast(q), "label")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          cosineSim(col("q_emb"), col("embedding")).as("sim"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= K)
        .select(col("q_id"), col("rnk"), col("neighbor_id"), r6(col("sim")).as("sim"))
        .orderBy("q_id", "rnk")
    },

    sql(
      "s20_knn_graph",
      "all-vectors kNN-GRAPH construction (top-3 neighbors for EVERY vector via the s04 LSH buckets + exact rerank — the batch primitive SemDeDup, graph-based ANN indexes, and kNN-classifier featurizers all start from; s01-s19 answer per-QUERY search, this materializes the whole neighbor graph): candidates are the bucket self-join on (table, signature) — ids only, the d04 candIds discipline, embeddings re-join AFTER the distinct so the shuffle carries 20 B rows, never 256 B vectors — then the exact-cosine rerank and a per-vector top-3 under the (sim DESC, neighbor_id) total order. The whole path replays hash-exact in DuckDB because the hyperplanes are the s04 splitmix Rademacher planes. Scale posture: bucket join + distinct + two id-keyed embedding joins + a vec-partitioned window — O(sum of bucket^2) candidate ids bound the work, the banding-join shape, uncapped so this oracle replays it bit-exact, with AQE skew-split as the skew defence",
      s"""WITH pidx AS (SELECT t.t, b.b, i.i, CAST((t.t * $LshBits + b.b) * $LshDim + i.i AS HUGEINT) AS k
        |              FROM generate_series(0, ${LshTables - 1}) t(t), generate_series(0, ${LshBits - 1}) b(b),
        |                   generate_series(0, ${LshDim - 1}) i(i)),
        |${graft.functions.HashFunctions.priorityHashCtes("pidx", "k", LshSeed, "t, b, i")},
        |planes AS (SELECT t, b,
        |                  list(CAST(CASE WHEN pri % 2 = 1 THEN -1 ELSE 1 END AS DOUBLE) ORDER BY i) AS plane
        |           FROM ph4 GROUP BY t, b),
        |dots AS (SELECT e.vec_id, p.t, p.b,
        |                list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) AS d
        |         FROM embeddings e CROSS JOIN planes p),
        |sigs AS (SELECT vec_id, t, CAST(sum(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS sig
        |         FROM dots GROUP BY vec_id, t),
        |cand AS (SELECT DISTINCT q.vec_id AS q_id, s.vec_id AS neighbor_id
        |         FROM sigs q JOIN sigs s ON s.t = q.t AND s.sig = q.sig AND s.vec_id <> q.vec_id),
        |scored AS (SELECT c.q_id, c.neighbor_id, ${graft.functions.VectorFunctions.cosineSql("qe.embedding", "ne.embedding")} AS sim
        |           FROM cand c
        |           JOIN embeddings qe ON qe.vec_id = c.q_id
        |           JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
        |SELECT q_id, rnk, neighbor_id, floor((sim) * 1000000 + 0.5) / 1000000 AS sim
        |FROM (SELECT q_id, neighbor_id, sim,
        |             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |      FROM scored)
        |WHERE rnk <= 3
        |ORDER BY q_id, rnk""") { (s, dir) => knnGraph(s, dir) },

    sql(
      "s21_matryoshka_audit",
      "Matryoshka dimension-truncation audit (the MRL-era capacity check every embedding pipeline runs before shipping truncated vectors to cheaper indexes: how much of the full-dim top-k survives keeping only the FIRST 16 of 64 dims?): per query, exact top-5 under full-dim cosine vs top-5 under prefix-truncated cosine — n_overlap (|full-top5 ∩ trunc-top5|), top1_match, and trunc_rank_of_top1 (where the full-dim best neighbor lands in the truncated ranking — the recall-loss diagnostic that says how much rerank budget a truncated first stage needs). Both rankings replay hash-exact: the truncated leg is the SAME fused cosine kernel over slice(embedding, 1, 16) mirrored by DuckDB's list slice, both accumulating in index order, ranks under (sim DESC, neighbor_id) total orders, outputs all integers. On this synthetic corpus the prefix carries no privileged mass (embeddings aren't MRL-trained), so overlap ~0-1 and top1 ranks scatter to 9-177 — exactly the signal the audit exists to surface before a truncation ships. Scale posture: one broadcast of the 10-query set against the corpus scan (the s01 brute shape — this is an AUDIT over a sampled query panel, not a serving path), two q_id-partitioned windows sharing one shuffle, a 10-row output",
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NQueries),
        |sc AS (SELECT q.q_id, e.vec_id AS neighbor_id,
        |              ${graft.functions.VectorFunctions.cosineSql("q.q_emb", "e.embedding")} AS cf,
        |              ${graft.functions.VectorFunctions.cosineSql("q.q_emb[1:16]", "e.embedding[1:16]")} AS ct
        |       FROM embeddings e CROSS JOIN q
        |       WHERE e.vec_id <> q.q_id),
        |r AS (SELECT q_id, neighbor_id,
        |             row_number() OVER (PARTITION BY q_id ORDER BY cf DESC, neighbor_id) AS rf,
        |             row_number() OVER (PARTITION BY q_id ORDER BY ct DESC, neighbor_id) AS rt
        |      FROM sc)
        |SELECT q_id,
        |       CAST(sum(CASE WHEN rf <= $K AND rt <= $K THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |       CAST(sum(CASE WHEN rf = 1 AND rt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS top1_match,
        |       CAST(max(CASE WHEN rf = 1 THEN rt END) AS BIGINT) AS trunc_rank_of_top1
        |FROM r GROUP BY q_id ORDER BY q_id""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val sc = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          cosineSim(col("q_emb"), col("embedding")).as("cf"),
          cosineSim(slice(col("q_emb"), 1, 16), slice(col("embedding"), 1, 16)).as("ct"))
      val wf = Window.partitionBy("q_id").orderBy(desc("cf"), col("neighbor_id"))
      val wt = Window.partitionBy("q_id").orderBy(desc("ct"), col("neighbor_id"))
      sc.withColumn("rf", row_number().over(wf).cast("long"))
        .withColumn("rt", row_number().over(wt).cast("long"))
        .groupBy("q_id")
        .agg(sum(when(col("rf") <= K && col("rt") <= K, 1L).otherwise(0L))
          .cast("long").as("n_overlap"),
          sum(when(col("rf") === 1 && col("rt") === 1, 1L).otherwise(0L))
            .cast("long").as("top1_match"),
          max(when(col("rf") === 1, col("rt"))).cast("long").as("trunc_rank_of_top1"))
        .orderBy("q_id")
    },

    sql(
      "s22_rrf_fusion",
      "hybrid retrieval via reciprocal-rank fusion (r14 verdict #4 — the fusion step every production RAG stack runs between its two retrieval legs, both already in the registry: t32's BM25 lexical scorer and s01's exact dense cosine): for each of the 10 query documents, leg A ranks the corpus by summed per-term BM25 against the query's terms (t32's exact idf_ppm x sat_ppm integer scores, term-keyed inverted-index join — a doc shares terms with the query or never appears), leg B is the s01 brute-force cosine ranking over the matching embeddings, each leg truncated to top-10 under its own (score DESC, doc_id) total order; RRF then scores every doc seen by either leg as Σ legs 1e6 div (60 + rank) — Cormack et al.'s k=60, one flooring division per leg on non-negative integers, an absent leg contributing 0 — and the fused top-5 emerges under the (rrf_score DESC, doc_id) total order with both leg ranks carried (0 = absent) as provenance. The whole path is exact integers on top of two already-hash-exact rankings, so fusion replays bit-exact in DuckDB. Scale posture: leg A is t32's keyed-count shapes plus a term-keyed join whose probe side is 10 query docs' terms; leg B is s01's broadcast-query scan; fusion itself is a (q,doc)-keyed full-outer join of two <= 10-row-per-query rankings + a q-partitioned window — rank-k truncation makes the fused state per query O(k), independent of corpus size, which is exactly why RRF (not score normalization) is the production default; PipelineOpsSpec plants a corpus where the fused top-1 differs from BOTH legs' top-1s",
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tok WHERE t != '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tt FROM dl),
        |qt AS (SELECT doc_id AS q_id, t FROM tf WHERE doc_id < $NQueries),
        |lexsc AS (SELECT q.q_id, f.doc_id,
        |            CAST(sum(
        |              CAST(floor(ln((2*g.n + 2) * 1.0 / (2*d.df + 1)) * 1000000 + 0.5) AS BIGINT) *
        |              CAST((CAST(22 AS HUGEINT) * f.tf * g.tt * 1000000)
        |                   // (CAST(10 AS HUGEINT) * f.tf * g.tt + 3 * g.tt + 9 * l.dl * g.n) AS BIGINT)
        |            ) AS BIGINT) AS score
        |          FROM qt q JOIN tf f ON f.t = q.t AND f.doc_id <> q.q_id
        |          JOIN df d ON d.t = f.t JOIN dl l ON l.doc_id = f.doc_id CROSS JOIN g
        |          GROUP BY 1, 2),
        |lex AS (SELECT q_id, doc_id, r_lex, 1000000 // (60 + r_lex) AS c_lex FROM (
        |          SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id
        |                 ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex FROM lexsc)
        |        WHERE r_lex <= 10),
        |den AS (SELECT q_id, doc_id, r_dense, 1000000 // (60 + r_dense) AS c_dense FROM (
        |          SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
        |                 CAST(row_number() OVER (PARTITION BY q.vec_id
        |                      ORDER BY ${cosineSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS BIGINT) AS r_dense
        |          FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |          WHERE q.vec_id < $NQueries)
        |        WHERE r_dense <= 10),
        |fused AS (SELECT COALESCE(l.q_id, d.q_id) AS q_id, COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |                 COALESCE(l.r_lex, 0) AS r_lex, COALESCE(d.r_dense, 0) AS r_dense,
        |                 COALESCE(l.c_lex, 0) + COALESCE(d.c_dense, 0) AS rrf_score
        |          FROM lex l FULL OUTER JOIN den d ON d.q_id = l.q_id AND d.doc_id = l.doc_id)
        |SELECT q_id, rnk, doc_id, r_lex, r_dense, rrf_score
        |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rnk
        |      FROM fused)
        |WHERE rnk <= 5
        |ORDER BY q_id, rnk""") { (s, dir) =>
      // leg A: t32's exact BM25 integer scores, summed over the QUERY
      // doc's terms — the inverted-index join (probe side: 10 docs' terms)
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
        .groupBy("doc_id", "t").agg(count(lit(1)).cast("long").as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").cast("long").as("dl"))
      val dft = tf.groupBy("t").agg(count(lit(1)).cast("long").as("df"))
      val g = dl.agg(count(lit(1)).cast("long").as("n"), sum("dl").cast("long").as("tt"))
      val qt = tf.filter(col("doc_id") < NQueries)
        .select(col("doc_id").as("q_id"), col("t"))
      val lexsc = qt.join(tf, Seq("t"))
        .filter(col("doc_id") =!= col("q_id"))
        .join(dft, Seq("t")).join(dl, Seq("doc_id")).crossJoin(broadcast(g))
        .withColumn("idf_ppm",
          floor(log((col("n") * 2 + 2).cast("double") / (col("df") * 2 + 1).cast("double"))
            * 1000000 + lit(0.5)).cast("long"))
        .withColumn("sat_ppm",
          expr("(cast(22 as decimal(38,0)) * tf * tt * 1000000) div " +
            "(cast(10 as decimal(38,0)) * tf * tt + cast(3 as decimal(38,0)) * tt + " +
            "cast(9 as decimal(38,0)) * dl * n)").cast("long"))
        .groupBy("q_id", "doc_id")
        .agg(sum(col("idf_ppm") * col("sat_ppm")).cast("long").as("score"))
      val wl = Window.partitionBy("q_id").orderBy(desc("score"), col("doc_id"))
      val lex = lexsc.withColumn("r_lex", row_number().over(wl).cast("long"))
        .filter(col("r_lex") <= 10)
        .select(col("q_id"), col("doc_id"), col("r_lex"),
          expr("1000000 div (60 + r_lex)").as("c_lex"))
      // leg B: s01's exact dense ranking, truncated at 10
      val den = knnBrute(s, dir, k = 10)
        .select(col("q_id"), col("neighbor_id").as("doc_id"), col("rnk").as("r_dense"),
          expr("1000000 div (60 + rnk)").as("c_dense"))
      // fusion: both rankings are <= 10 rows/query — per-query state O(k)
      val wf = Window.partitionBy("q_id").orderBy(desc("rrf_score"), col("doc_id"))
      lex.join(den, Seq("q_id", "doc_id"), "full_outer")
        .select(col("q_id"), col("doc_id"),
          coalesce(col("r_lex"), lit(0L)).as("r_lex"),
          coalesce(col("r_dense"), lit(0L)).as("r_dense"),
          (coalesce(col("c_lex"), lit(0L)) + coalesce(col("c_dense"), lit(0L)))
            .as("rrf_score"))
        .withColumn("rnk", row_number().over(wf).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("doc_id"), col("r_lex"), col("r_dense"),
          col("rrf_score"))
        .orderBy("q_id", "rnk")
    },

    sql(
      "s23_mmr_rerank",
      "maximal-marginal-relevance diversity rerank (Carbonell & Goldstein's MMR — the step between retrieval and the context window that s22's pure-relevance fusion skips: a RAG prompt with 3 slots wants three DIFFERENT relevant passages, but near-duplicate top hits are exactly what dense retrieval returns, so production rerankers trade relevance against redundancy): over each query's top-10 exact-cosine candidates (ranked on the 1e6 integer grid rel = floor(cos*1e6+0.5) under a (rel DESC, id) total order — the grid, not the raw double, keys every decision so both engines replay the identical greedy trajectory), three UNROLLED greedy rounds select argmax of score = 7*rel - 3*penalty (lambda = 0.7 scaled x10 — never divided, so no floor-direction trap on the legitimately NEGATIVE cosines), penalty = max candidate-to-already-picked cosine on the same grid, ties by smallest id; output (q, rnk 1-3, doc, rel_ppm, penalty_ppm, mmr_score_x10) with round 1's penalty identically 0 (MMR's empty-set convention). Everything after the two cosine kernels is exact BIGINT arithmetic. Scale posture: candidates come from whatever ANN tier feeds the rerank (here s01's broadcast-query scan), then ALL state is per-query O(k^2) — a k x k pair table and three window-free-able argmax rounds on <= 10-row groups, constant cost per query regardless of corpus size, which is why MMR runs at serving time at all; the q-partitioned windows are dimension-sized",
      s"""WITH base AS (SELECT q.vec_id AS q_id, e.vec_id AS id, e.embedding AS emb,
        |                     CAST(floor((${cosineSql("q.embedding", "e.embedding")}) * 1000000 + 0.5) AS BIGINT) AS rel
        |              FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |              WHERE q.vec_id < $NQueries),
        |cand AS (SELECT q_id, id, emb, rel FROM (
        |           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, id) AS rn
        |           FROM base) WHERE rn <= 10),
        |pairs AS (SELECT a.q_id, a.id AS id_a, b.id AS id_b,
        |                 CAST(floor((${cosineSql("a.emb", "b.emb")}) * 1000000 + 0.5) AS BIGINT) AS sim
        |          FROM cand a JOIN cand b ON b.q_id = a.q_id AND b.id <> a.id),
        |p1 AS (SELECT q_id, id AS pick, rel FROM (
        |         SELECT q_id, id, rel, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, id) AS rn
        |         FROM cand) WHERE rn = 1),
        |r2 AS (SELECT c.q_id, c.id, c.rel, p.sim AS pen, 7 * c.rel - 3 * p.sim AS sc
        |       FROM cand c JOIN p1 ON p1.q_id = c.q_id AND c.id <> p1.pick
        |       JOIN pairs p ON p.q_id = c.q_id AND p.id_a = c.id AND p.id_b = p1.pick),
        |p2 AS (SELECT q_id, id AS pick, rel, pen, sc FROM (
        |         SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, id) AS rn
        |         FROM r2) WHERE rn = 1),
        |r3 AS (SELECT c.q_id, c.id, c.rel, greatest(pa.sim, pb.sim) AS pen,
        |              7 * c.rel - 3 * greatest(pa.sim, pb.sim) AS sc
        |       FROM cand c JOIN p1 ON p1.q_id = c.q_id JOIN p2 ON p2.q_id = c.q_id
        |       JOIN pairs pa ON pa.q_id = c.q_id AND pa.id_a = c.id AND pa.id_b = p1.pick
        |       JOIN pairs pb ON pb.q_id = c.q_id AND pb.id_a = c.id AND pb.id_b = p2.pick
        |       WHERE c.id <> p1.pick AND c.id <> p2.pick),
        |p3 AS (SELECT q_id, id AS pick, rel, pen, sc FROM (
        |         SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, id) AS rn
        |         FROM r3) WHERE rn = 1)
        |SELECT q_id, CAST(1 AS BIGINT) AS rnk, pick AS doc_id, rel AS rel_ppm,
        |       CAST(0 AS BIGINT) AS penalty_ppm, 7 * rel AS mmr_score_x10 FROM p1
        |UNION ALL
        |SELECT q_id, CAST(2 AS BIGINT), pick, rel, pen, sc FROM p2
        |UNION ALL
        |SELECT q_id, CAST(3 AS BIGINT), pick, rel, pen, sc FROM p3
        |ORDER BY q_id, rnk""") { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wRel = Window.partitionBy("q_id").orderBy(desc("rel"), col("id"))
      val cand = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("id"), col("embedding").as("emb"),
          floor(cosineSim(col("q_emb"), col("embedding")) * 1000000 + lit(0.5))
            .cast("long").as("rel"))
        .withColumn("rn", row_number().over(wRel))
        .filter(col("rn") <= 10)
        .drop("rn")
      // the k x k candidate pair table — per-query O(k^2) state, the whole
      // reason MMR stays serving-time cheap; both directions materialized
      // so each round is one equi-join lookup
      val pairs = cand.select(col("q_id"), col("id").as("id_a"), col("emb").as("emb_a"))
        .join(cand.select(col("q_id"), col("id").as("id_b"), col("emb").as("emb_b")),
          Seq("q_id"))
        .filter(col("id_b") =!= col("id_a"))
        .select(col("q_id"), col("id_a"), col("id_b"),
          floor(cosineSim(col("emb_a"), col("emb_b")) * 1000000 + lit(0.5))
            .cast("long").as("sim"))
      val p1 = cand.withColumn("rn", row_number().over(wRel)).filter(col("rn") === 1)
        .select(col("q_id"), col("id").as("pick"), col("rel"))
      val r2 = cand.join(p1.select(col("q_id"), col("pick")), Seq("q_id"))
        .filter(col("id") =!= col("pick"))
        .join(pairs.select(col("q_id"), col("id_a").as("id"), col("id_b").as("pick"),
          col("sim")), Seq("q_id", "id", "pick"))
        .select(col("q_id"), col("id"), col("rel"), col("sim").as("pen"),
          (col("rel") * 7 - col("sim") * 3).as("sc"))
      val wSc = Window.partitionBy("q_id").orderBy(desc("sc"), col("id"))
      val p2 = r2.withColumn("rn", row_number().over(wSc)).filter(col("rn") === 1)
        .select(col("q_id"), col("id").as("pick"), col("rel"), col("pen"), col("sc"))
      val r3 = cand
        .join(p1.select(col("q_id"), col("pick").as("pk1")), Seq("q_id"))
        .join(p2.select(col("q_id"), col("pick").as("pk2")), Seq("q_id"))
        .filter(col("id") =!= col("pk1") && col("id") =!= col("pk2"))
        .join(pairs.select(col("q_id"), col("id_a").as("id"), col("id_b").as("pk1"),
          col("sim").as("s1")), Seq("q_id", "id", "pk1"))
        .join(pairs.select(col("q_id"), col("id_a").as("id"), col("id_b").as("pk2"),
          col("sim").as("s2")), Seq("q_id", "id", "pk2"))
        .select(col("q_id"), col("id"), col("rel"),
          greatest(col("s1"), col("s2")).as("pen"),
          (col("rel") * 7 - greatest(col("s1"), col("s2")) * 3).as("sc"))
      val p3 = r3.withColumn("rn", row_number().over(wSc)).filter(col("rn") === 1)
        .select(col("q_id"), col("id").as("pick"), col("rel"), col("pen"), col("sc"))
      p1.select(col("q_id"), lit(1L).as("rnk"), col("pick").as("doc_id"),
          col("rel").as("rel_ppm"), lit(0L).as("penalty_ppm"),
          (col("rel") * 7).as("mmr_score_x10"))
        .unionAll(p2.select(col("q_id"), lit(2L).as("rnk"), col("pick").as("doc_id"),
          col("rel").as("rel_ppm"), col("pen").as("penalty_ppm"),
          col("sc").as("mmr_score_x10")))
        .unionAll(p3.select(col("q_id"), lit(3L).as("rnk"), col("pick").as("doc_id"),
          col("rel").as("rel_ppm"), col("pen").as("penalty_ppm"),
          col("sc").as("mmr_score_x10")))
        .orderBy("q_id", "rnk")
    },
  )

  /** PQ/ADC search — see the s13 registry doc. 4 subspaces x 16 dims,
    * selection sub-codebooks (s08's trick applied per-slice), ADC scores
    * summed in fixed subspace order t0+t1+t2+t3 so no float accumulation
    * order exists to diverge.
    */
  def pqAdc(s: SparkSession, dir: String, k: Int = K, nq: Int = NQueries): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val minid = e.groupBy("label").agg(min("vec_id").as("vec_id"))
    val cents = e.join(minid, Seq("label", "vec_id"))
      .select(col("label").cast("long").as("cent_id"), col("embedding").as("cemb"))
    def slices(vec: Column) = explode(array((0 until 4).map(sub =>
      struct(lit(sub).as("s"), slice(vec, sub * 16 + 1, 16).as("sl"))): _*))
    val csl = cents.select(col("cent_id"), slices(col("cemb")).as("x"))
      .select(col("x.s").as("cs"), col("cent_id"), col("x.sl").as("cslice"))
    val vsl = e.select(col("vec_id"), slices(col("embedding")).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sl").as("vslice"))
    // encode: windowless argmax per (vec, subspace) — q97's negated-key
    // struct-min, ties to the smallest cent_id exactly as the oracle's
    // row_number(ORDER BY d DESC, cent_id)
    val codes = vsl.join(broadcast(csl), col("cs") === col("s"))
      .select(col("vec_id"), col("s"), col("cent_id"),
        dotProduct(col("vslice"), col("cslice")).as("d"))
      .groupBy("vec_id", "s")
      .agg(min(struct((-col("d")).as("nd"), col("cent_id"))).as("mm"))
      .select(col("vec_id"), col("s"), col("mm.cent_id").as("code"))
    val qt = vsl.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("s").as("qs"), col("vslice"))
      .join(broadcast(csl), col("cs") === col("qs"))
      .select(col("q_id"), col("qs"), col("cent_id").as("qcent"),
        dotProduct(col("vslice"), col("cslice")).as("t"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("adc"), col("neighbor_id"))
    codes.join(broadcast(qt), col("qs") === col("s") && col("qcent") === col("code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(when(col("s") === 0, col("t"))).as("t0"),
        sum(when(col("s") === 1, col("t"))).as("t1"),
        sum(when(col("s") === 2, col("t"))).as("t2"),
        sum(when(col("s") === 3, col("t"))).as("t3"))
      .select(col("q_id"), col("neighbor_id"),
        (col("t0") + col("t1") + col("t2") + col("t3")).as("adc"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), r6(col("adc")).as("adc"))
      .orderBy("q_id", "rnk")
  }

  /** Integer-grid Lloyd training — see the s14 registry doc. Centroids are
    * driver-held model state (t24's loop-control discipline): each round's
    * E-step runs with the codebook as literals (zero shuffle — distance is
    * a fused zip_with/aggregate fold per centroid and the argmin is
    * `least` over [[KmK]] (d, cent_id) structs, whose lexicographic struct
    * order IS the oracle's `ORDER BY d, cent_id` tie-break), and the
    * M-step collects one codebook-sized (cell, pos, mean) row set.
    */
  def kmeansGrid(s: SparkSession, dir: String, rounds: Int = KmRounds): DataFrame = {
    import s.implicits._
    val pts = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
          .as("g"))
    var cents: Seq[(Long, Seq[Long])] = pts.filter(col("vec_id") < KmK)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    // argmin over the literal codebook: one (d, cent_id) struct per
    // centroid, `least` picks the lexicographic minimum
    def best: Column = least(cents.map { case (id, c) =>
      val carr = array(c.map(lit(_)): _*)
      struct(
        aggregate(zip_with(col("g"), carr, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(id).as("cent_id"))
    }: _*)
    for (_ <- 1 to rounds) {
      val moved = pts.select(best.getField("cent_id").as("cell"), col("g"))
        .select(col("cell"), posexplode(col("g")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(floor(sum("v").cast("double") / count(lit(1))).cast("long").as("m"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      cents = moved.groupBy(_._1).map { case (id, rows) =>
        (id, rows.sortBy(_._2).map(_._3).toSeq)
      }.toSeq.sortBy(_._1)
    }
    val cdig = cents.map { case (id, c) =>
      (id, c.sum, c.map(x => x * x).sum)
    }.toDF("cent_id", "cent_sum", "cent_norm2")
    pts.select(col("vec_id"), best.getField("cent_id").as("cell"), best.getField("d").as("d"))
      .groupBy(col("cell").as("cent_id"))
      .agg(count(lit(1)).cast("long").as("n_pts"), sum("d").cast("long").as("wcss"))
      .join(broadcast(cdig), "cent_id")
      .select(col("cent_id"), col("n_pts"), col("wcss"), col("cent_sum"), col("cent_norm2"))
      .orderBy("cent_id")
  }

  /** JL projection — see the s10 registry doc. Long (vec_id, dim, proj)
    * output: one row per projected component, replay-friendly.
    */
  def jlProject(s: SparkSession, dir: String): DataFrame = {
    val planes: Seq[Array[Float]] = Seq.tabulate(JlDims)(j => Array.tabulate(64) { i =>
      val flat = (j * 64 + i).toLong
      if (graft.functions.HashOps.priorityHash(flat, JlSeed) % 2L == 1L) -1f else 1f
    })
    Tables.embeddings(s, dir)
      .filter(size(col("embedding")) > 0)
      .select(col("vec_id"), explode(array(planes.zipWithIndex.map { case (p, j) =>
        struct(lit(j).as("j"),
          (dotProduct(col("embedding"), lit(p)) * lit(JlScale)).as("proj"))
      }: _*)).as("x"))
      .select(col("vec_id"), col("x.j").cast("long").as("dim"), r6(col("x.proj")).as("proj"))
      .orderBy("vec_id", "dim")
  }

  /** int8 scalar-quantized kNN — see the s09 registry doc. Codes are
    * array<long> for exact cross-engine replay; a production index would
    * pack them to 1 byte/dim on write (the 4x lever the operator models).
    */
  def knnQuantized(s: SparkSession, dir: String, k: Int = K, nq: Int = NQueries): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val amax = e
      .select(posexplode(col("embedding")).as(Seq("pos", "vf")))
      .agg(max(abs(col("vf").cast("double"))).as("a"))
    val codes = e.crossJoin(broadcast(amax))
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          when(col("a") === 0, lit(0L))
            .otherwise(floor(((x.cast("double") * lit(127.0)) / col("a")) + lit(0.5))))
          .as("codes"))
    val q = codes.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("codes").as("q_codes"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("qdot"), col("neighbor_id"))
    codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        quantizedDot(col("q_codes"), col("codes")).as("qdot"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), col("qdot"))
      .orderBy("q_id", "rnk")
  }

  /** All-vectors kNN graph over the s04 LSH buckets (s20): bucket
    * self-join for candidate ids, embeddings re-joined after the
    * distinct (the d04 candIds discipline — the candidate shuffle
    * carries (t, sig, id) rows, never vectors), exact-cosine rerank,
    * per-vector top-k.
    *
    * The bucket self-join is uncapped, so the DuckDB oracle replays it
    * bit-exact; AQE's skew split covers flood buckets.
    */
  def knnGraph(s: SparkSession, dir: String, k: Int = 3,
      tables: Int = LshTables, bits: Int = LshBits): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val planes = hyperplanes(tables, bits)
    val sigs = Tables.embeddings(s, dir)
      .select(Seq(col("vec_id")) ++ planes.zipWithIndex.map { case (p, t) =>
        signature(col("embedding"), p).as(s"sig_$t")
      }: _*)
      .select(col("vec_id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), col(s"sig_$t").as("sig"))): _*)).as("b"))
      .select(col("vec_id"), col("b.t").as("t"), col("b.sig").as("sig"))
    val cand = sigs
      .join(sigs.select(col("t"), col("sig"), col("vec_id").as("neighbor_id")), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id").as("q_id"), col("neighbor_id"))
      .distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), col("neighbor_id"))
    cand
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "q_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")), "neighbor_id")
      .select(col("q_id"), col("neighbor_id"), cosineSim(col("q_emb"), col("n_emb")).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), r6(col("sim")).as("sim"))
      .orderBy("q_id", "rnk")
  }
}
