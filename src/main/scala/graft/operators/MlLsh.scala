package graft.operators

import graft.Materialize
import graft.sources.Tables
import graft.operators.Det.r6
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MLlib-backed ANN (SURVEY.md §4.2: "wrap MLlib; no custom
  * SparkStrategy") — the library alternative to the hand-rolled
  * hyperplane LSH in [[SimilarityQueries]].
  *
  * `BucketedRandomProjectionLSH` hashes by quantized random projections
  * (Euclidean LSH); `approxNearestNeighbors` probes the fitted model per
  * query. Embeddings are near-unit-norm, so Euclidean neighbors ≈ cosine
  * neighbors — the recall cross-check against the exact cosine baseline
  * lives in ScalaTest. Seeded, so results are reproducible.
  */
object MlLsh {

  def knn(s: SparkSession, dir: String): DataFrame = {
    val (k, nq) = (5, 10)
    val m = Materialize.eager()
    val raw = Tables.embeddings(s, dir)
    // Ingest validation (AnsiEdgeSpec): MLlib's Vector encoder asserts
    // non-null elements and BucketedRandomProjectionLSH requires a uniform
    // dimension, so null / null-element / ragged vectors must not reach the
    // model. The dominant dimension is a config constant in production; when
    // unspecified it is inferred here with one tiny mode aggregation (a
    // single-row scalar, same class as SimilarityQueries.scala:173).
    val dim = raw
      .filter(col("embedding").isNotNull)
      .groupBy(size(col("embedding")).as("d")).count()
      .orderBy(col("count").desc, col("d")).head().getInt(0)
    // localCheckpoint = a REQUIRED optimizer barrier, not a perf tweak:
    // approxSimilarityJoin appends its own `isnotnull(hashFn(toVec(emb)))`
    // filter, CombineFilters merges it with the validation filter above into
    // ONE Filter node, and codegen's common-subexpression elimination then
    // evaluates the (non-total) MLlib UDFs eagerly — defeating And
    // short-circuit, so dirty rows would still reach the UDFs and throw.
    // Checkpointing the validated frame truncates the lineage so the
    // internal UDF filters can only ever see validated rows. (MLlib's LSH
    // guide recommends caching the input before approxSimilarityJoin
    // anyway; this materializes the same pass.)
    val e = m.checkpoint(raw
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === dim &&
        !exists(col("embedding"), _.isNull))
      .withColumn("features", array_to_vector(col("embedding").cast("array<double>"))))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features")
      .setOutputCol("hashes")
      .setBucketLength(2.0)
      .setNumHashTables(8)
      .setSeed(42L)
    val model = lsh.fit(e)
    val hashed = model.transform(e)

    // approxSimilarityJoin of the query subset against the collection:
    // bucket-join on hash tables, then exact re-rank of candidates —
    // the same candidate-generation shape as the hand-rolled LSH.
    val joined = model.approxSimilarityJoin(
        hashed.filter(col("vec_id") < nq), hashed, threshold = 100.0, distCol = "dist")
      .select(col("datasetA.vec_id").as("q_id"), col("datasetB.vec_id").as("neighbor_id"),
        col("dist"))
      .filter(col("q_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("neighbor_id"))
    m.result(joined
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), r6(col("dist")).as("dist"))
      .orderBy("q_id", "rnk"))
  }
}
