package graftbench

import java.security.MessageDigest

import graft.{GraftQuery, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}

/** The `registry_batch` workload: one client runs registry entries one at
  * a time over the committed corpus, each result consumed in full.
  */
object Registry {

  /** One or two entries of every `operators.*` family that has batch
    * entries: relational joins, windows, event windows, text, dedup,
    * similarity, graph (pagerank), multimodal joins, aggregators and both
    * trade codecs.
    */
  val Entries: Seq[String] = Seq(
    "q05_local_supplier_volume", "q31_running_total", "q60_tumbling_window", "t10_tfidf",
    "d04_lsh_near_dups", "s04_knn_lsh", "g01_pagerank", "m04_multimodal_join",
    "a01_topk_aggregator", "tr00_pipeline_throughput", "tr02_trade_roundtrip")

  def queries: Seq[GraftQuery] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    Entries.map(n => byName.getOrElse(n, sys.error(s"registry entry $n is missing")))
  }

  /** One entry execution: construct (the entry's own function, which may
    * run eager stages), plan (forcing the physical plan) and execute (every
    * row of the planned query collected). The result's row count and
    * digest, taken after the clock stops, are the output check.
    */
  final case class Take(name: String, startMs: Long, endMs: Long,
      constructS: Double, planS: Double, executeS: Double, result: Either[String, (Long, String)]) {
    def wallS: Double = constructS + planS + executeS
  }

  def runEntry(spark: SparkSession, dataDir: String, q: GraftQuery, tracer: Tracer, parent: Long): Take = {
    val startMs = System.currentTimeMillis()
    var c, p, x = 0.0
    def timed[T](name: String, parent: Long)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tracer.span(name, parent)(_ => f)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val result = try {
      val rows = tracer.span(q.name, parent) { id =>
        val (df, ct) = timed("registry.construct", id)(q.fn(spark, dataDir))
        c = ct
        p = timed("registry.plan", id)(df.queryExecution.executedPlan)._2
        val (rows, xt) = timed("registry.execute", id)(df.collect())
        x = xt
        rows
      }
      Right(digest(rows))
    } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    finally spark.catalog.clearCache() // persisted intermediates must not leak into the next entry
    Take(q.name, startMs, System.currentTimeMillis(), c, p, x, result)
  }

  def pass(spark: SparkSession, dataDir: String, tracer: Tracer): Seq[Take] =
    tracer.span("registry.pass") { id => queries.map(q => runEntry(spark, dataDir, q, tracer, id)) }

  /** Order-independent digest of a result: every row rendered canonically,
    * rows sorted, SHA-256 over the lines. Doubles keep 12 significant digits
    * so that summation order across partitions cannot change the digest.
    */
  def digest(rows: Array[Row]): (Long, String) = {
    val lines = rows.map(r => render(r)).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (lines.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else f"$d%.12g"
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
