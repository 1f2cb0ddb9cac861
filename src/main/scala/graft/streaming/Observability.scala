package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.slf4j.LoggerFactory

/** Observability (reference O4/O5, SURVEY.md §2.5): the reference wraps
  * each job in a New Relic `@Trace` span and logs per-record lines; the
  * Spark-native equivalents are a [[StreamingQueryListener]] publishing
  * per-micro-batch progress (rows/sec, batch duration, watermark, state
  * size) and Spark's own metrics system / UI for task-level detail.
  * Semantics are unchanged by observability — this is telemetry only.
  */
object Observability {

  private val log = LoggerFactory.getLogger(getClass)

  /** Logs each micro-batch's `StreamingQueryProgress` as one compact JSON
    * line: input rows and rates, the `durationMs` phases (offsets, planning,
    * WAL, addBatch, commit) and `stateOperators` (rows, memory,
    * `commitTimeMs`). The last line is kept on the listener so tests and
    * harnesses can assert on it.
    */
  final class ProgressLogger extends StreamingQueryListener {
    @volatile var lastProgress: Option[String] = None

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      log.info(s"stream started: name=${e.name} id=${e.id}")

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val line = e.progress.json
      lastProgress = Some(line)
      log.info(line)
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      log.info(s"stream terminated: id=${e.id} exception=${e.exception.getOrElse("none")}")
  }

  /** Register a [[ProgressLogger]]; returns it so callers (tests,
    * harnesses) can read its last line and remove it again.
    */
  def attachProgressLogger(spark: SparkSession): ProgressLogger = {
    val listener = new ProgressLogger
    spark.streams.addListener(listener)
    listener
  }

  /** Batch counterpart of the progress logger: one line per completed
    * action with wall time and scan volume, from the executed plan's own
    * metrics (no extra instrumentation in query code — semantics
    * untouched, telemetry only). The last event is kept on the listener
    * so tests and harnesses can assert on it.
    */
  final class BatchMetricsListener extends QueryExecutionListener {
    @volatile var lastSuccess: Option[(String, Long, Long)] = None // (fn, wallNs, scanRows)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      // AQE wrappers (AdaptiveSparkPlanExec, QueryStageExec) are leaf
      // nodes whose real plan hangs off a field, so a plain collect sees
      // nothing — descend through them explicitly. Sum numOutputRows over
      // TRUE leaves only (scans/sources): summing every node would count
      // each row once per operator and report inflated volumes.
      def scanRows(p: SparkPlan): Long = p match {
        case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
        case q: QueryStageExec => scanRows(q.plan)
        case leaf: LeafExecNode =>
          leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case other => other.children.map(scanRows).sum
      }
      val rows = scanRows(qe.executedPlan)
      lastSuccess = Some((funcName, durationNs, rows))
      log.info(s"batch query ok: fn=$funcName wallMs=${durationNs / 1000000} scanRows=$rows")
    }

    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      log.warn(s"batch query failed: fn=$funcName", error)
  }

  /** Register a [[BatchMetricsListener]]; returns it for assertion /
    * deregistration (`spark.listenerManager.unregister`).
    */
  def attachBatchMetricsLogger(spark: SparkSession): BatchMetricsListener = {
    val l = new BatchMetricsListener
    spark.listenerManager.register(l)
    l
  }
}
