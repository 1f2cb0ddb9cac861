package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Output checks of `registry_batch`. Each entry's result must match the
  * row count and digest recorded in `registry_digests.json`; `oracle.py`
  * records them only after `graft.Verify`'s results for the same entries
  * matched their DuckDB oracles (tr00 has no oracle: its digest is recorded
  * from a run whose codec legs tr02 and CodecSpec check).
  */
object Oracle {

  def digestsFile: Path = Paths.get(sys.props.getOrElse("perfbench.digests", "perfbench/registry_digests.json"))

  def recorded(): Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(digestsFile))
    Registry.Entries.flatMap(n => Option(root.get(n)).map(e => n -> (e.get("rows").asLong, e.get("sha256").asText))).toMap
  }

  /** Compares each take's result with the recorded digest: one check line
    * per take and whether it matched.
    */
  def check(takes: Seq[Registry.Take]): Seq[(Boolean, String)] = {
    val want = recorded()
    takes.map { t =>
      (t.result, want.get(t.name)) match {
        case (Right(g), Some(w)) if g == w => (true, s"${t.name}=ok")
        case (Right(g), w) => (false, s"${t.name}=MISMATCH(rows ${g._1} vs ${w.map(_._1).getOrElse("none")})")
        case (Left(err), _) => (false, s"${t.name}=ERROR($err)")
      }
    }
  }

  /** Writes each entry's row count and digest from one pass as JSON to
    * `out`, for `oracle.py` to record once the same entries have matched
    * their DuckDB oracles.
    */
  def recordDigests(spark: SparkSession, data: String, out: Path): Unit = {
    val takes = Registry.pass(spark, data, new Tracer(false, "digests"))
    takes.foreach(t => t.result.left.foreach(e => sys.error(s"${t.name} failed: $e")))
    Files.writeString(out, Json.render(takes.map(t => t.name ->
      Map("rows" -> t.result.toOption.get._1, "sha256" -> t.result.toOption.get._2)).toMap))
  }
}
