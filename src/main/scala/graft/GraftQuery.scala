package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver contract.
  *
  * @param name    stable id (drives `SparkEntry.queries` key and output dir)
  * @param doc     one-line description for the coverage inventory
  * @param oracle  equivalent SQL runnable by DuckDB over the same parquet
  *                tables (views named `region`, `nation`, ... per TESTDATA.md).
  *                None ⇒ not SQL-expressible; the driver then records a
  *                weaker rows-only check and correctness is asserted in
  *                the ScalaTest suite instead.
  * @param fn      the Spark-first implementation; receives the scale-factor
  *                directory holding the parquet tables.
  * @param plan    the lazy plan twin of an entry that materializes while
  *                it is built (see [[sqlEager]]): the same dataflow with no
  *                persist, count or checkpoint, so building and planning it
  *                runs no job. PlanAudit audits and PlanDump dumps it in
  *                place of `fn`. None for every other entry.
  *
  * Conventions that make the driver's hash-compare deterministic:
  *   - every result ends with an `orderBy` on a unique key set, mirrored by
  *     an `ORDER BY` in the oracle;
  *   - every floating-point aggregate is rounded (2dp money, 4dp ratios) in
  *     BOTH dialects;
  *   - counts / integer sums are explicitly cast to BIGINT in the oracle
  *     (DuckDB widens integer sums to HUGEINT otherwise);
  *   - column aliases are identical in both dialects.
  */
final case class GraftQuery(
    name: String,
    doc: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame,
    plan: Option[(SparkSession, String) => DataFrame] = None
)

object GraftQuery {
  def sql(name: String, doc: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, doc, Some(oracle.stripMargin.trim), fn)

  /** An entry whose body materializes while it is built, declared once
    * against a [[Materialize]] scope: `fn` runs the body with a fresh eager
    * scope, `plan` runs it with the lazy one.
    */
  def sqlEager(name: String, doc: String, oracle: String)(
      body: (SparkSession, String, Materialize) => DataFrame): GraftQuery =
    GraftQuery(name, doc, Some(oracle.stripMargin.trim),
      (s, dir) => body(s, dir, Materialize.eager()),
      Some((s, dir) => body(s, dir, Materialize.Lazy)))

  def rowsOnly(name: String, doc: String)(
      fn: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, doc, None, fn)
}
