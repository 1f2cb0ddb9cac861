package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The one session builder and the one timed take every tool main shares.
  *
  * Every main (Bench, QueryTime, Verify, PlanAudit, PlanDump, LayoutGen,
  * LayoutCheck, Smoke and ProbeGen) builds its session here, so
  * the fixed settings and the `SPARK_GRAFT_EXTRA_CONF` overrides cannot
  * drift between tools: an A/B's plans and its timings come from one conf.
  * Timing mains measure through [[Timer.take]], so Bench's in-battery takes
  * and QueryTime's fresh-JVM takes are the same quantity.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the calling main's default core count. */
  def cpus(default: Int): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  /** Parses `SPARK_GRAFT_EXTRA_CONF`'s `k=v;k=v` form. Entries are trimmed,
    * entries without `=` are dropped, and a value keeps any further `=`.
    */
  def parseExtraConf(raw: String): Seq[(String, String)] =
    raw.split(';').toSeq.map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }

  /** Builds (or returns) the session at `local[cores]` with Kryo, UTC, the
    * UI off and AQE on unless `adaptive = false` (PlanAudit's stable plan
    * text). Shuffle partitions default to the core count; LayoutGen,
    * LayoutCheck and ProbeGen's generator pin 32.
    * `SPARK_GRAFT_EXTRA_CONF` applies last, over every setting here. It is
    * empty by default, so a plain run replays the historical session.
    * Local streaming checkpoints go through
    * [[streaming.LocalCheckpointFileManager]] unless the conf names a manager.
    */
  def build(cores: String, shufflePartitions: Option[String] = None,
      adaptive: Boolean = true): SparkSession = {
    val fixed = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores))
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", adaptive.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = parseExtraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
      .foldLeft(fixed) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietCheckpointRelease
    streaming.LocalCheckpointFileManager.install(spark)
    spark
  }

  /** Drops the WARN Spark logs each time a locally checkpointed RDD is
    * unpersisted ("RDD n was locally checkpointed, its lineage has been
    * truncated ..."). [[Materialize]]'s eager scope releases its
    * checkpoints on purpose once the result is filled, so the line is one
    * per released checkpoint and says nothing. Only that message, only at
    * the RDD class a Dataset checkpoint logs it from; installed once per JVM.
    */
  private lazy val quietCheckpointRelease: Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, Logger}
    import org.apache.logging.log4j.core.filter.StringMatchFilter
    LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD") match {
      case l: Logger =>
        l.addFilter(StringMatchFilter.newBuilder()
          .setMatchString("was locally checkpointed, its lineage has been truncated")
          .setOnMatch(Filter.Result.DENY).setOnMismatch(Filter.Result.NEUTRAL).build())
      case _ => // not log4j-core: leave logging as configured
    }
  }

  /** One completed stage, as the take's listener recorded it. */
  final case class StageRecord(id: Int, name: String, tasks: Int, runS: Double, cpuS: Double,
      inputRecords: Long, shuffleReadRecords: Long, shuffleWriteRecords: Long,
      spillBytes: Long, gcMs: Long)

  private def record(si: StageInfo): StageRecord = {
    val m = si.taskMetrics
    StageRecord(si.stageId, si.name, si.numTasks, m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9, m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.jvmGCTime)
  }

  /** One timed take: `wall` is driver seconds for construction plus the
    * noop write; `gc` is driver GC seconds within the take; `exec` and `cpu`
    * sum executorRunTime and executorCpuTime over the take's stages. Host
    * weather inflates wall and (less) exec, but not cpu, so cpu is the
    * regression metric. wall >> exec/cores means scheduler or host latency;
    * exec >> cpu means JIT or interpreter first-touch. `error` is what the
    * query threw, if it failed.
    */
  final case class Take(wall: Double, gc: Double, exec: Double, cpu: Double,
      stages: Seq[StageRecord], error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
  }

  /** Installs the stage-metric listener on `spark` once and times takes. */
  final class Timer(spark: SparkSession) {
    private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRecord]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(record(e.stageInfo))
    })

    /** Builds `df`, writes it to the noop sink, stops the clock, then drops
      * the SQL cache and drains the listener bus. The noop sink consumes
      * every row and column at full width: under a count Catalyst would
      * prune unreferenced columns and drop final sorts. Clearing the cache
      * drops the query's result cache (its `Materialize` scope has already
      * released every intermediate), keeping it out of the next query's GC
      * budget. The drain must come before the stage records are read, or
      * this take's metrics bleed into the next take.
      */
    def take(df: => DataFrame): Take = {
      stages.clear()
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val error =
        try { df.write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      drainListenerBus()
      val recs = stages.asScala.toSeq
      Take(wall, (gcMillis() - g0) / 1e3, recs.map(_.runS).sum, recs.map(_.cpuS).sum, recs, error)
    }

    // The listener bus and its drain are private[spark], which compiles to
    // public bytecode, so reflection reaches them. If the internals move,
    // fall back to a sleep and say the stage metrics may be incomplete.
    private def drainListenerBus(): Unit =
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch {
        case _: ReflectiveOperationException =>
          System.err.println("[graft-session] WARN listener-bus drain fell back to a sleep; " +
            "this take's executor/cpu numbers are suspect")
          Thread.sleep(300)
      }
  }

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** The line QueryTime prints for each take: wall, executor and cpu seconds. */
  def takeLine(name: String, i: Int, t: Take): String =
    f"[querytime] $name take $i: ${t.wall}%.2f s wall, ${t.exec}%.2f s executor, ${t.cpu}%.2f s cpu"

  /** A per-stage line QueryTime prints after its take line. */
  def stageLine(s: StageRecord): String =
    f"[querytime]   stage=${s.id}%4d tasks=${s.tasks}%3d run=${s.runS}%8.2f cpu=${s.cpuS}%8.2f " +
      f"inRec=${s.inputRecords}%10d shRead=${s.shuffleReadRecords}%10d " +
      f"shWrite=${s.shuffleWriteRecords}%10d spillMB=${s.spillBytes >> 20}%6d " +
      f"gcMs=${s.gcMs}%6d :: ${s.name.take(80)}"
}
