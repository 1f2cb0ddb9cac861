package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.storage.StorageLevel

/** The compact-cache convention (r10 verdict #2): a small expensive result
  * cached at full shuffle parallelism charges every downstream stage the
  * full near-empty task count (cached plans keep their materialized
  * partitioning — AQE shuffle coalescing does not apply to cache scans).
  * The fix pattern lives in [[Materialize.compact]]; these tests pin BOTH
  * its behavior and the source convention that operators materialize only
  * through a [[Materialize]] scope — every copurchasePairs consumer
  * compacts, and no operator persists, unpersists or checkpoints directly —
  * so a future graph query cannot regress the way r10's g06 did, nor leak
  * an intermediate past its entry.
  */
class CompactPersistSpec extends SparkSpec {

  test("Materialize.compact re-partitions to the data-derived cacheParts count") {
    import spark.implicits._
    // a deliberately wide plan: 123 rows spread over 8 partitions
    val wide = (1 to 123).toDF("x").repartition(8)
    val (compact, parts) = Materialize.eager().compact(wide)
    try {
      assert(parts === Materialize.cacheParts(123L))
      assert(compact.rdd.getNumPartitions === parts)
      assert(compact.storageLevel !== StorageLevel.NONE, "compact frame must stay cached")
      assert(compact.as[Int].collect().sorted === (1 to 123).toArray)
    } finally compact.unpersist(blocking = false)
  }

  test("Materialize.compact drops the wide copy once the compact cache is filled") {
    import spark.implicits._
    val wide = (1 to 10).toDF("x").repartition(8)
    val (compact, _) = Materialize.eager().compact(wide)
    try {
      // unpersist(blocking = false) is async; the LOGICAL mark is immediate
      assert(wide.storageLevel === StorageLevel.NONE, "wide copy must be unpersisted")
    } finally compact.unpersist(blocking = false)
  }

  private def source(dir: String, file: String): String =
    new String(Files.readAllBytes(Paths.get(s"src/main/scala/graft/$dir/$file")), "UTF-8")

  private def operatorSource(file: String): String = source("operators", file)

  private def scalaFiles(dir: String): Seq[String] =
    new java.io.File(s"src/main/scala/graft/$dir").listFiles()
      .map(_.getName).filter(_.endsWith(".scala")).sorted.toSeq

  /** The non-comment lines of `src`, trimmed, with their 1-based numbers. */
  private def codeLines(src: String): Seq[(Int, String)] =
    src.split("\n").toSeq.zipWithIndex
      .map { case (l, i) => (i + 1, l.trim) }
      .filterNot { case (_, l) => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**") }

  /** Direct materialization calls on non-comment lines. Calls on the scope
    * itself (`m.persist(...)`) are the sanctioned form and do not count.
    */
  private def directCalls(src: String): Seq[String] = {
    val call = """(?<!\bm)\.(persist|unpersist|localCheckpoint)\(""".r
    codeLines(src).flatMap { case (_, l) => call.findAllMatchIn(l.split("//").head).map(_ => l) }
  }

  /** The only operator code allowed to materialize directly: the region of
    * one file from anchor `from` to anchor `to` (or the end of the file),
    * with the number of direct calls it holds and why.
    */
  private case class Allowed(file: String, from: String, to: Option[String], calls: Int,
      reason: String)

  private val allowlist = Seq(
    Allowed("GraphQueries.scala", "\"g01_pagerank\",", Some("\"g09_personalized_pagerank\","), 5,
      "g01's primitive pair-RDD loop persists its partitioned edge and degree RDDs and " +
        "unpersists them itself once its result is persisted"),
    Allowed("DedupQueries.scala", "def dupClusters(", Some("def exactNearDups("), 7,
      "d08's pair-RDD label-propagation loop keeps at most two label generations and " +
        "unpersists its own RDD blocks once its result is persisted"),
    Allowed("MlLsh.scala", "object MlLsh", None, 1,
      "the validation localCheckpoint is a correctness barrier: it keeps MLlib's " +
        "non-total UDFs from seeing unvalidated rows"))

  test("operators materialize only through Materialize (source convention)") {
    val files = scalaFiles("operators")
    assert(files.contains("GraphQueries.scala"))
    val outside = files.flatMap { f =>
      val src = operatorSource(f)
      val regions = allowlist.filter(_.file == f).map { a =>
        val start = src.indexOf(a.from)
        assert(start >= 0, s"allowlist anchor ${a.from} not found in $f")
        val end = a.to.map(src.indexOf(_, start)).getOrElse(src.length)
        assert(end > start, s"allowlist anchor ${a.to} not found after ${a.from} in $f")
        val n = directCalls(src.substring(start, end)).size
        assert(n == a.calls,
          s"$f region ${a.from}: $n direct materialization calls, allowlist says ${a.calls} (${a.reason})")
        (start, end)
      }
      val rest = regions.sorted.foldRight(src) { case ((s, e), acc) =>
        acc.substring(0, s) + acc.substring(e)
      }
      directCalls(rest).map(l => s"$f: $l")
    }
    assert(outside.isEmpty,
      "direct materialization outside the allowlist — route it through the entry's " +
        s"Materialize scope:\n${outside.mkString("\n")}")

    // every copurchasePairs consumer caches the thresholded edge list
    // compactly (the r10 g06 regression class)
    val src = operatorSource("GraphQueries.scala")
    val calls = "copurchasePairs\\(s, dir\\)".r.findAllMatchIn(src).toList
    assert(calls.nonEmpty, "expected copurchasePairs call sites in GraphQueries")
    val bare = calls.filterNot { c =>
      src.substring(0, c.start).reverse.dropWhile(_.isWhitespace).reverse.endsWith("m.compact(")
    }
    val lines = bare.map(c => src.substring(0, c.start).count(_ == '\n') + 1)
    assert(bare.isEmpty,
      s"copurchasePairs call(s) at GraphQueries.scala line(s) $lines bypass m.compact")
  }

  test("operators and streaming code never read the environment (source convention)") {
    // an entry's answer depends only on its inputs and its session conf
    val read = """\b(sys\.env|System\.getenv|sys\.props)\b""".r
    val hits = for {
      dir <- Seq("operators", "streaming")
      f <- scalaFiles(dir)
      (n, l) <- codeLines(source(dir, f))
      if read.findFirstIn(l.split("//").head).isDefined
    } yield s"$dir/$f:$n: $l"
    assert(hits.isEmpty,
      s"operator/streaming code reads the environment — pass it as a parameter or " +
        s"a session conf instead:\n${hits.mkString("\n")}")
  }
}
