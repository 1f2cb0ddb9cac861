package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload (or, with `--trace 1`, the traced
  * sweep of every layer) and prints one JSON result line last on stdout.
  *
  * {{{
  * Main --workload <stream_roundtrip|stream_drain|registry_batch> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --data <dir> --artifact <file>
  * }}}
  */
object Main {

  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - Workloads.jvmStartMs) / 1e3}%6.1f s] $msg")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, data: String, artifact: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), need("data"), Paths.get(need("artifact")))
  }

  def session(cores: Int, tmp: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed CPU work timed between phases: a slow host shows as a slow
    * canary in the artifact.
    */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) log("canary")
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit =
    try {
      run(parse(args))
      System.out.flush()
      System.exit(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(o: Opts): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val canary0 = canaryMs()
    Files.createDirectories(o.work.resolve("tmp"))
    val out =
      try {
        val spark = session(cores, o.work.resolve("tmp"))
        val sessionReadyS = (System.currentTimeMillis() - Workloads.jvmStartMs) / 1e3
        log(f"session ready at $sessionReadyS%.1f s")
        val stages = new StageLog
        spark.sparkContext.addSparkListener(stages)
        val ctx = Ctx(spark, stages, o, sessionReadyS)
        val r =
          if (o.workload == "digests") {
            Oracle.recordDigests(spark, o.data, o.artifact)
            return
          }
          else if (o.trace) Sweep.run(ctx)
          else o.workload match {
            case "stream_roundtrip" => Workloads.roundtrip(ctx)
            case "stream_drain" => Workloads.drain(ctx)
            case "registry_batch" => Workloads.registry(ctx)
            case w => sys.error(s"unknown workload $w")
          }
        SparkSession.active.stop()
        r
      } finally Streams.deleteTree(o.work)
    val stamp = Map(
      "nproc" -> cores,
      "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "canary_ms" -> Seq(canary0, canaryMs()))
    Files.writeString(o.artifact, Json.render(out.artifact ++ Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "stamp" -> stamp, "checks" -> out.checks, "metrics" -> out.metrics)))
    out.summary.foreach(l => System.out.println(l))
    System.out.println(Json.render(Map(
      "correct" -> out.correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> out.metrics)))
  }
}

/** `sessionReadyS`: JVM start to the Spark session being ready. */
final case class Ctx(spark: SparkSession, stages: StageLog, opts: Main.Opts, sessionReadyS: Double) {
  def tracer(enabled: Boolean) = new Tracer(enabled, s"${opts.workload}-${opts.seed}")
}

/** What a run reports: the metrics of the result line, the operation
  * counts, human-readable summary lines and the artifact's extra fields.
  */
final case class Outcome(metrics: Map[String, Metric], attempted: Long, failed: Long,
    correct: Boolean, checks: Seq[String], summary: Seq[String], artifact: Map[String, Any])
