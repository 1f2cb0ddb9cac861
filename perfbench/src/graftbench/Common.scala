package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One completed stage, as Spark's listener reports it. Times are driver
  * wall-clock milliseconds; counters are summed over the stage's tasks.
  */
final case class StageRec(
    submittedMs: Long, completedMs: Long, tasks: Int,
    cpuNs: Long, runMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long)

/** Collects every completed stage from Spark's public listener bus. The
  * end-to-end cpu metrics are sums over the stages that fall in a timed
  * window, so this listener runs with tracing off as well.
  */
final class StageLog extends SparkListener {
  private val recs = new ConcurrentLinkedQueue[StageRec]()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val done = i.completionTime.getOrElse(System.currentTimeMillis())
    recs.add(StageRec(i.submissionTime.getOrElse(done), done, i.numTasks,
      m.executorCpuTime, m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
  }

  /** Stages submitted in [fromMs, toMs). */
  def submittedIn(fromMs: Long, toMs: Long): Seq[StageRec] =
    recs.asScala.filter(r => r.submittedMs >= fromMs && r.submittedMs < toMs).toSeq

  /** Stages completed in [fromMs, toMs]. */
  def completedIn(fromMs: Long, toMs: Long): Seq[StageRec] =
    recs.asScala.filter(r => r.completedMs >= fromMs && r.completedMs <= toMs).toSeq
}

object StageLog {
  def cpuS(rs: Seq[StageRec]): Double = rs.map(_.cpuNs).sum / 1e9

  /** Engine counters of one workload leg, by the per-layer metric names. */
  def engine(prefix: String, rs: Seq[StageRec], driverGcS: Double): Map[String, Metric] = Map(
    s"$prefix.spark.executor_cpu_s" -> Metric(cpuS(rs), "cpu-s"),
    s"$prefix.spark.executor_run_s" -> Metric(rs.map(_.runMs).sum / 1e3, "s"),
    s"$prefix.spark.shuffle_read_bytes" -> Metric(rs.map(_.shuffleReadBytes).sum.toDouble, "bytes"),
    s"$prefix.spark.shuffle_write_bytes" -> Metric(rs.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
    s"$prefix.spark.spill_bytes" -> Metric(rs.map(_.spillBytes).sum.toDouble, "bytes"),
    s"$prefix.spark.task_gc_s" -> Metric(rs.map(_.gcMs).sum / 1e3, "s"),
    s"$prefix.spark.tasks" -> Metric(rs.map(_.tasks).sum.toDouble, "count"),
    s"$prefix.driver.gc_s" -> Metric(driverGcS, "s"))

  /** Blocks until the listener bus has delivered every queued event, so a
    * window's stages are all in the log before it is read. The bus is not
    * public API; without it, wait a fixed grace period instead.
    */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(500) }

  def driverGcS(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
}

final case class Metric(value: Double, unit: String)

/** A span at a layer boundary: wall-clock nanoseconds, the span that caused
  * it, and the counters taken at the same boundary.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    counters: Map[String, Double] = Map.empty)

/** In-memory span recorder. With tracing off `span` only runs its body, so
  * untraced runs record nothing; spans are written out once, at exit.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def span[T](name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = if (enabled) ids.incrementAndGet() else 0L
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled) spans.add(Span(id, parent, name, t0, System.nanoTime()))
  }

  def record(s: Span): Unit = if (enabled) spans.add(s)
  def nextId(): Long = ids.incrementAndGet()
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time of every span named `name`: its duration minus the union of
    * its direct children's intervals, summed over all such spans.
    */
  def selfSeconds(name: String): Double = {
    val ss = all
    val byParent = ss.groupBy(_.parent)
    ss.filter(_.name == name).map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      (s.endNs - s.startNs - covered) / 1e9
    }.sum
  }
}

/** Minimal JSON rendering for the result line and the artifact. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Metric(value, unit) => render(Map("value" -> value, "unit" -> unit))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
