package graft

import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Every registry entry declared through `GraftQuery.sqlEager` carries a
  * lazy `plan` twin. Building and planning that twin must materialize
  * nothing (no SQL cache entry, no persisted RDD), and its plan must be the
  * real dataflow rather than cache or checkpoint leaves — that is what
  * PlanAudit and PlanDump read. The twin must also return the eager `fn`'s
  * rows, and the eager scope must release every intermediate cache, so
  * only the result's own entry is left once `fn` returns.
  */
class MaterializeScopeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

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

      val out = q.fn(spark, sf0001)
      try {
        // dropping the result's own entry must leave the cache empty
        out.unpersist(blocking = true)
        assert(cacheManager.isEmpty, s"${q.name}: fn left intermediate caches behind")
        assert(sortedRows(out) == twinRows, s"${q.name}: twin rows differ from fn's rows")
      } finally spark.catalog.clearCache()
    }
  }
}
