package graft

import java.nio.file.{Files, Paths}

/** Optimization-round plan capture: writes `.explain("formatted")` output
  * for named registry queries to files (`plans/r<N>/<query>_<tag>.txt`),
  * so before/after plan-shape claims in OPTIMIZATION_r*.md are auditable
  * without running Spark.
  *
  * Usage: `tools/run_graft.sh graft.PlanDump <outDir> <tag> <query> [query...]`
  * (SPARK_GRAFT_SF_DIR selects the corpus, default sf0.1 — plans are
  * captured at the BENCH corpus so join-strategy/AQE thresholds match the
  * measured configuration; SPARK_GRAFT_CPUS matches the bench session.)
  *
  * Queries that materialize eagerly are captured through their registry
  * `plan` twin, the one PlanAudit audits, so the dumped plan is the real
  * dataflow, not an InMemoryTableScan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump [--raw] <outDir> <tag> <query> [query...]")
    // --raw (r18 VERDICT #9 evidence hygiene): dump the REGISTRY fn's plan
    // even for twin-audited eager queries — for barrier-style changes the
    // executed decomposition (InMemoryTableScan / LogicalRDD leaves and
    // all) is itself the after-evidence, alongside the twin's dataflow.
    val raw = args(0) == "--raw"
    val rest = if (raw) args.drop(1) else args
    val outDir = Paths.get(rest(0))
    val tag = rest(1)
    val names = rest.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    names.foreach { name =>
      val q = registry(name)
      val df = (if (raw) q.fn else q.plan.getOrElse(q.fn))(spark, sfDir)
      // queryExecution.explainString is what .explain("formatted") prints
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
      println(s"[plandump] wrote ${outDir.resolve(s"${name}_$tag.txt")} (${plan.length} chars)")
    }
    spark.stop()
  }
}
