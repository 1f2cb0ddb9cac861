package graft

import org.apache.spark.sql.DataFrame

import graft.operators.DedupQueries

/** The materialization scope of an eager registry entry. The entry's body
  * is written once against this trait and runs in two forms:
  *
  *   - [[Materialize.eager]] — what the registry `fn` runs. Each method
  *     persists, counts or checkpoints as named and records the caches it
  *     builds; [[result]] fills the result and then releases every recorded
  *     cache, so no intermediate outlives the call.
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

  /** Eagerly `localCheckpoint`s `df`, truncating its lineage. */
  def checkpoint(df: DataFrame, parts: Int = 0): DataFrame

  /** [[DedupQueries.persistCompact]]; the lazy form returns `(wide, 1)`. */
  def compact(wide: DataFrame): (DataFrame, Int)

  /** [[DedupQueries.persistCompactBy]]; the lazy form returns `(wide, 1)`
    * and never evaluates `rowsUpper`.
    */
  def compactBy(wide: DataFrame, key: String, rowsUpper: => Long): (DataFrame, Int)

  /** Releases one recorded cache before the result is built. */
  def release(df: DataFrame): Unit

  /** Persists and fills the result, then releases every recorded cache:
    * the frames from [[persist]]/[[fill]] in the order they were recorded,
    * then the [[compact]]/[[compactBy]] edge caches they were derived from.
    */
  def result(df: DataFrame): DataFrame
}

object Materialize {

  /** A fresh eager scope; one per entry call, never shared. */
  def eager(): Materialize = new Eager

  private final class Eager extends Materialize {
    private val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private val compacts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    private def coalesced(df: DataFrame, parts: Int) = if (parts > 0) df.coalesce(parts) else df

    def persist(df: DataFrame, parts: Int): DataFrame = {
      val c = coalesced(df, parts).persist()
      caches += c
      c
    }

    def count(df: DataFrame): Long = df.count()

    def checkpoint(df: DataFrame, parts: Int): DataFrame =
      coalesced(df, parts).localCheckpoint(true)

    def compact(wide: DataFrame): (DataFrame, Int) = {
      val r = DedupQueries.persistCompact(wide)
      compacts += r._1
      r
    }

    def compactBy(wide: DataFrame, key: String, rowsUpper: => Long): (DataFrame, Int) = {
      val r = DedupQueries.persistCompactBy(wide, key, rowsUpper)
      compacts += r._1
      r
    }

    def release(df: DataFrame): Unit = {
      caches -= df
      df.unpersist(blocking = false)
    }

    def result(df: DataFrame): DataFrame = {
      val out = df.persist()
      out.count()
      (caches ++ compacts).foreach(_.unpersist(blocking = false))
      out
    }
  }

  /** The plan twin's scope: no persist, count, checkpoint or release. */
  object Lazy extends Materialize {
    def persist(df: DataFrame, parts: Int): DataFrame = df
    def count(df: DataFrame): Long = 0L
    def checkpoint(df: DataFrame, parts: Int): DataFrame = df
    def compact(wide: DataFrame): (DataFrame, Int) = (wide, 1)
    def compactBy(wide: DataFrame, key: String, rowsUpper: => Long): (DataFrame, Int) = (wide, 1)
    def release(df: DataFrame): Unit = ()
    def result(df: DataFrame): DataFrame = df
  }
}
