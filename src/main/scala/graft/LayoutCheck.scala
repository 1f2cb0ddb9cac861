package graft

/** Layout-equivalence gate: every registry query must return the identical
  * row set over the canonical single-file corpus and the partitioned
  * multi-file layout ([[graft.sources.Layout]]). This is the file-layout
  * generalization of ScaleSpec's shuffle-partition fuzz — the determinism
  * claim behind every oracle entry is that results do not depend on
  * physical layout, and this executes that claim for the layout axis.
  *
  * Spark-vs-Spark (not DuckDB) on purpose: the layout rewrite drops the
  * TIMESTAMP(NANOS) annotation on `events.ts` (Spark cannot write it), so
  * DuckDB-side casts would differ while engine reads (via `Tables.events`)
  * are byte-identical; the canonical side of this compare is itself
  * DuckDB-oracle-green, so transitively the layout side is too.
  *
  * Columns are name-sorted before comparison (a partition column moves to
  * the end of the read schema) and rows are sorted, mirroring the driver's
  * hash-compare canonicalization.
  *
  * Usage: `sbt "runMain graft.LayoutCheck <canonicalDir> <layoutDir> [name...]"`
  */
object LayoutCheck {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LayoutCheck <canonicalDir> <layoutDir> [name...]")
    val (canon, layout) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = GraftSession.build(GraftSession.cpus(32), shufflePartitions = Some("32"))

    def canonical(name: String, dir: String): Seq[String] = {
      val df = SparkEntry.queries(name)(spark, dir)
      val sortedCols = df.columns.sorted.toSeq
      df.select(sortedCols.head, sortedCols.tail: _*)
        .collect().map(_.toString).sorted.toSeq
    }

    // Opt-out with reason (mirrors AnsiEdgeSpec's contract): these are
    // DOCUMENTED as physically-layout-dependent in their own registry docs —
    // which is exactly why they are no_oracle with deterministic twins.
    // (a05 left this list in r9: hash-mod Bernoulli membership is a pure
    // per-row integer decision, layout-independent by construction.)
    val excluded: Map[String, String] = Map(
      "a04_approx_percentile" -> ("approx_percentile sketch merge order follows partition layout; " +
        "accuracy bounded by AggregatorSpec, deterministic twin a07/q37"),
      "q38_price_deciles_approx" -> ("approx_percentile decile sketch merges in partition order " +
        "(passes at sf0.001 where the sketch is exact, diverges at sf0.01+); " +
        "error bounded by spec, oracle-exact twins q33/q37"))

    var failures = 0
    val names = SparkEntry.registry.map(_.name)
      .filter(n => only.isEmpty || only(n))
      .filterNot(n => only.isEmpty && excluded.contains(n))
    if (only.isEmpty)
      excluded.foreach { case (n, why) => println(s"[layoutcheck] skip $n: $why") }
    names.foreach { name =>
      try {
        val a = canonical(name, canon)
        val b = canonical(name, layout)
        if (a == b) println(s"[layoutcheck] ok   $name (${a.size} rows)")
        else {
          failures += 1
          val diff = (b.diff(a) ++ a.diff(b)).take(3)
          println(s"[layoutcheck] FAIL $name: canonical=${a.size} rows, layout=${b.size} rows; sample diff: ${diff.mkString(" | ")}")
        }
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"[layoutcheck] FAIL $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    println(s"[layoutcheck] ${names.size - failures}/${names.size} queries layout-identical")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
