package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Every registry entry declared through `GraftQuery.sqlEager` carries a
  * lazy `plan` twin. Building and planning that twin must materialize
  * nothing (no SQL cache entry, no persisted RDD), and its plan must be the
  * real dataflow rather than cache or checkpoint leaves — that is what
  * PlanAudit and PlanDump read. The twin must also return the eager `fn`'s
  * rows, and the eager scope must release every intermediate cache and
  * checkpoint, so only the result's own cache is left once `fn` returns.
  * Entries whose loops stop on a data-dependent fixpoint or run on pair
  * RDDs own an eager scope with no twin; the same release contract holds
  * for them.
  */
class MaterializeScopeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Runs `fn` and returns its sorted rows, asserting that only the
    * result's own cache outlives the call. The rows are collected before
    * the result is unpersisted: released checkpoint blocks cannot be
    * recomputed. Afterwards the CacheManager must be empty and no RDD
    * persisted during the call may remain (RDDs persisted before it may be
    * dropped meanwhile by the ContextCleaner, so this is a subset check).
    */
  private def scopedRows(name: String, fn: => DataFrame): Seq[String] = {
    val rddsBefore = persistedRdds
    val out = fn
    try {
      val rows = sortedRows(out)
      // dropping the result's own entry must leave the cache empty
      out.unpersist(blocking = true)
      assert(cacheManager.isEmpty, s"$name: fn left intermediate caches behind")
      val left = persistedRdds -- rddsBefore
      assert(left.isEmpty, s"$name: fn left persisted RDDs $left (caches or checkpoint blocks)")
      rows
    } finally spark.catalog.clearCache()
  }

  private val scoped = SparkEntry.registry.filter(_.plan.isDefined)

  test("eager entries declare their lazy twin through the registry") {
    assert(scoped.nonEmpty, "no registry entry carries a plan twin")
  }

  scoped.foreach { q =>
    test(s"${q.name}: the twin plans without caches or cache leaves and matches fn's rows") {
      spark.catalog.clearCache()
      assert(cacheManager.isEmpty)
      val rddsBefore = persistedRdds
      val twin = q.plan.get(spark, sf0001)
      val plan: SparkPlan = twin.queryExecution.executedPlan
      assert(cacheManager.isEmpty, s"${q.name}: building the twin filled a SQL cache")
      assert((persistedRdds -- rddsBefore).isEmpty,
        s"${q.name}: building the twin persisted an RDD")
      val materialized = collectWithSubqueries(plan) {
        case s: InMemoryTableScanExec => s.nodeName
        case s: RDDScanExec => s.nodeName
      }
      assert(materialized.isEmpty, s"${q.name}: twin plan reads $materialized:\n$plan")
      // collect the twin before fn runs: once fn's result is cached, the
      // twin's plan would read that cache and match trivially
      val twinRows = sortedRows(twin)
      assert(cacheManager.isEmpty, s"${q.name}: running the twin filled a SQL cache")

      val fnRows = scopedRows(q.name, q.fn(spark, sf0001))
      assert(fnRows == twinRows, s"${q.name}: twin rows differ from fn's rows")
    }
  }

  // fixpoint loops (g03, g11), the pair-RDD loops (g01, and d08 with its
  // p06/d18 consumers), s06's validation barrier, s07's k-means rounds and
  // t24/t25's BPE training own an eager scope inside fn and declare no twin
  Seq("g01_pagerank", "g03_kcore", "g11_truss", "d08_dup_clusters", "p06_cluster_representative",
    "d18_cluster_size_histogram", "s06_knn_mllib_lsh", "s07_kmeans_centroids", "t24_bpe_merges",
    "t25_bpe_segment")
    .foreach { name =>
      test(s"$name: fn's own scope leaves only its result cached") {
        spark.catalog.clearCache()
        assert(scopedRows(name, SparkEntry.queries(name)(spark, sf0001)).nonEmpty)
      }
    }
}
