package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The materialization scope of a registry entry: the only code that
  * persists, fills, compacts, checkpoints or releases an intermediate,
  * whether a DataFrame or a pair-RDD loop's RDD (g01, d08);
  * CompactPersistSpec fails on any such call elsewhere in `src/main`. The
  * entry's body is written once against this trait and runs in two forms:
  *
  *   - [[Materialize.eager]] — what the registry `fn` runs. Each method
  *     persists, counts or checkpoints as named and records the cache or
  *     RDD blocks it builds; [[result]] fills the result and then releases
  *     every recorded cache and RDD, so no intermediate outlives the call
  *     and only the result's own cache remains (the runner's `clearCache()`
  *     frees that one).
  *   - [[Materialize.Lazy]] — the plan twin PlanAudit audits and PlanDump
  *     dumps. Every method hands its frame back unchanged and runs no job,
  *     so the twin's plan is the real dataflow instead of
  *     InMemoryTableScan / LogicalRDD leaves.
  *
  * `parts > 0` coalesces to that many partitions before persisting or
  * checkpointing (eager form only; the lazy form never adds a node).
  */
sealed trait Materialize {

  /** Persists `df` without filling it. */
  def persist(df: DataFrame, parts: Int = 0): DataFrame

  /** A row count that doubles as a materialization barrier; 0 in the lazy form. */
  def count(df: DataFrame): Long

  /** Persists `df` and fills it with one count (the g02 fill barrier). */
  final def fill(df: DataFrame, parts: Int = 0): DataFrame = {
    val c = persist(df, parts)
    count(c)
    c
  }

  /** Eagerly `localCheckpoint`s `df`, truncating its lineage; the blocks
    * are released with the caches by [[result]].
    */
  def checkpoint(df: DataFrame, parts: Int = 0): DataFrame

  /** Compact cache for an expensive small intermediate (the g02 pattern);
    * returns the cache and its partition count, `(wide, 1)` in the lazy
    * form. Cached plans keep their materialized partitioning (AQE's shuffle
    * coalescing does not apply to cache scans —
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is off by
    * default), so a small frame cached at full shuffle parallelism charges
    * every downstream stage the full task count — the bulk of r7's 164 s
    * g02 executor blowup and r10's 51 s g06 wart. Two forms:
    *
    *   - no `key`: persist `wide`, fill it with one count (a barrier, and
    *     the row count that sizes the cache), re-persist at
    *     [[Materialize.cacheParts]] partitions, fill, and drop the wide copy;
    *   - `key` (r19, guide §2.4 establish-the-partitioning-once): one cache
    *     under `hashpartitioning(key, parts)` sized from `rowsUpper`, a row
    *     upper bound (parquet row-count metadata, or a cache's partition
    *     budget), so an iterative consumer's key-equi-joins, groupBy(key)
    *     and distinct-on-key read the cache partitions with no Exchange, and
    *     the wide first build disappears. Over-estimating rows only adds
    *     partitions. The lazy form never evaluates `rowsUpper`.
    */
  def compact(wide: DataFrame, key: Option[String] = None,
      rowsUpper: => Long = 0L): (DataFrame, Int)

  /** Releases one recorded cache before the result is built. */
  def release(df: DataFrame): Unit

  /** Persists `rdd` at `MEMORY_AND_DISK` without filling it. */
  def persist[T](rdd: RDD[T]): RDD[T]

  /** Releases one RDD recorded by [[persist]] before the result is built. */
  def release(rdd: RDD[_]): Unit

  /** Persists and fills the result (a frame this scope already persisted
    * is taken as is), then releases every recorded cache and then every
    * recorded checkpoint and RDD, each in the order they were recorded.
    */
  def result(df: DataFrame): DataFrame
}

object Materialize {

  /** Partition count for a small cached intermediate, sized from a row count
    * the cache-fill barrier already produced (never a constant): one cache
    * partition per ~4M rows, floor 1. A fixed `1` would serialize
    * materialization and every downstream scan once the intermediate
    * outgrows one core at production scale; deriving the count from the
    * data keeps bench-scale behavior (1 partition) and grows linearly with
    * the corpus.
    */
  def cacheParts(rows: Long): Int =
    math.max(1L, (rows + RowsPerPartition - 1) / RowsPerPartition).toInt

  /** The rows [[cacheParts]] budgets per cache partition. */
  val RowsPerPartition: Long = 4000000L

  /** A fresh eager scope; one per entry call, never shared. */
  def eager(): Materialize = new Eager

  private final class Eager extends Materialize {
    private val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // checkpoint and persisted RDDs, released alike
    private val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

    private def coalesced(df: DataFrame, parts: Int) = if (parts > 0) df.coalesce(parts) else df

    def persist(df: DataFrame, parts: Int): DataFrame = {
      val c = coalesced(df, parts).persist()
      caches += c
      c
    }

    def count(df: DataFrame): Long = df.count()

    // the checkpoint's blocks live in the RDD behind its LogicalRDD leaf
    def checkpoint(df: DataFrame, parts: Int): DataFrame = {
      val c = coalesced(df, parts).localCheckpoint(true)
      rdds ++= c.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      c
    }

    def compact(wide: DataFrame, key: Option[String], rowsUpper: => Long): (DataFrame, Int) =
      key match {
        case Some(k) =>
          // floor 2, not 1: repartition(1, key) plans as Exchange
          // SinglePartition, which erases the hashpartitioning(key) the
          // keyed form exists to materialize — downstream joins would
          // re-exchange the cache (verified against Spark 4.1)
          val parts = math.max(2, cacheParts(rowsUpper))
          (fill(wide.repartition(parts, col(k))), parts)
        case None =>
          val w = wide.persist()
          val parts = cacheParts(w.count())
          val c = fill(w.repartition(parts))
          w.unpersist(blocking = false)
          (c, parts)
      }

    def release(df: DataFrame): Unit = {
      caches -= df
      df.unpersist(blocking = false)
    }

    def persist[T](rdd: RDD[T]): RDD[T] = { rdds += rdd; rdd.persist(StorageLevel.MEMORY_AND_DISK) }
    def release(rdd: RDD[_]): Unit = { rdds -= rdd; rdd.unpersist(blocking = false) }

    def result(df: DataFrame): DataFrame = {
      val out = if (caches.contains(df)) df else fill(df)
      caches -= out
      caches.foreach(_.unpersist(blocking = false))
      rdds.foreach(_.unpersist(blocking = false))
      out
    }
  }

  /** The plan twin's scope: no persist, count, checkpoint or release. */
  object Lazy extends Materialize {
    def persist(df: DataFrame, parts: Int): DataFrame = df
    def count(df: DataFrame): Long = 0L
    def checkpoint(df: DataFrame, parts: Int): DataFrame = df
    def compact(wide: DataFrame, key: Option[String], rowsUpper: => Long): (DataFrame, Int) =
      (wide, 1)
    def release(df: DataFrame): Unit = ()
    def persist[T](rdd: RDD[T]): RDD[T] = rdd
    def release(rdd: RDD[_]): Unit = ()
    def result(df: DataFrame): DataFrame = df
  }
}
