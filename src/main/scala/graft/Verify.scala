package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Extra args beyond (sfDir, outDir) are an optional query-name filter —
  * local iteration only (`tools/compare.py` replays the DuckDB compare);
  * the driver's 2-arg invocation still dumps every query.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = GraftSession.build(GraftSession.cpus(4))
    // Schema-drift tripwire: name the drifted column up front instead of
    // letting 30 queries die with DATATYPE_MISMATCH (round-7 failure mode).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val drift = graft.sources.FixtureContract.diff(spark, sfDir)
    if (drift.nonEmpty) {
      System.err.println("[verify] SCHEMA DRIFT vs FIXTURES.md contract:")
      drift.foreach(l => System.err.println(s"[verify]   $l"))
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // the result's cache must not leak across queries
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
