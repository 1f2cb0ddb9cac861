package graft

/** Standalone re-measure tool: times one registry query N times outside the
  * full bench, with the bench's session and take ([[GraftSession]]).
  * In-bench single-shot timings swing severalfold with JIT first-touch and
  * host load (see BENCH_DETAIL.json's per-take records); this is the
  * arbiter for whether a per-query "regression" is real.
  *
  * Each take line is followed by that take's per-stage lines (executor
  * run/cpu time, record volumes, spill and GC per stage), so a slow take
  * can be attributed to a stage instead of a whole query.
  *
  * Usage: `sbt "runMain graft.QueryTime <query_name> [takes]"`
  * (SPARK_GRAFT_SF_DIR selects the corpus; defaults to sf0.1)
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryTime <query_name> [takes]")
    val name = args(0)
    val takes = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus(32))
    val timer = new GraftSession.Timer(spark)
    val fn = SparkEntry.queries(name)
    (1 to takes).foreach { i =>
      val t = timer.take(fn(spark, sfDir))
      t.error.foreach(e => throw e)
      println(GraftSession.takeLine(name, i, t))
      t.stages.foreach(s => println(GraftSession.stageLine(s)))
    }
    // Code-cache forensics line (r17 advisory #2): a slow re-measure
    // carries evidence of whether the reserved size reached this JVM and
    // whether the sweeper ever stopped compilation (full_count > 0 — the
    // no-table-query-at-80s interpreted-execution signature).
    println(s"[querytime] codecache: ${Bench.codeCacheSummary()}")
    spark.stop()
  }
}
