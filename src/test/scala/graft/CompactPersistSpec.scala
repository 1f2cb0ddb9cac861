package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The compact-cache convention (r10 verdict #2): a small expensive result
  * cached at full shuffle parallelism charges every downstream stage the
  * full near-empty task count (cached plans keep their materialized
  * partitioning — AQE shuffle coalescing does not apply to cache scans).
  * The fix pattern lives in [[Materialize.compact]]; these tests pin BOTH
  * its behavior and the source convention that [[Materialize]] is the one
  * owner of every cache and checkpoint — every copurchasePairs consumer
  * compacts, and no code under `src/main` outside `Materialize.scala`
  * persists, unpersists, checkpoints or caches directly, pair-RDD loops
  * included — so a future graph query cannot regress the way r10's g06
  * did, nor leak an intermediate past its entry.
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

  /** The non-comment lines of `src`, trimmed, with their 1-based numbers. */
  private def codeLines(src: String): Seq[(Int, String)] =
    src.split("\n").toSeq.zipWithIndex
      .map { case (l, i) => (i + 1, l.trim) }
      .filterNot { case (_, l) => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**") }

  /** Every `.scala` file under `src/main/scala/graft`, as (path under it, source). */
  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala/graft")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(p => (root.relativize(p).toString, new String(Files.readAllBytes(p), "UTF-8")))
    finally walk.close()
  }

  test("operators materialize only through Materialize (source convention)") {
    // Materialize.scala is the one owner; everywhere else a persist,
    // unpersist, checkpoint or cache() is a call on the scope (`m.`)
    val call = """(?<!\bm)\.(persist|unpersist|localCheckpoint|checkpoint)\(|(?<!\bm)\.cache\(\)""".r
    val files = mainSources.filterNot(_._1 == "Materialize.scala")
    val direct = for {
      (f, src) <- files
      (n, l) <- codeLines(src)
      if call.findFirstIn(l.split("//").head).isDefined
    } yield s"$f:$n: $l"
    assert(direct.isEmpty,
      "direct materialization outside Materialize — route it through the entry's " +
        s"Materialize scope:\n${direct.mkString("\n")}")

    // every copurchasePairs consumer caches the thresholded edge list
    // compactly (the r10 g06 regression class)
    val src = files.collectFirst { case ("operators/GraphQueries.scala", g) => g }.get
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
      (f, src) <- mainSources
      if f.startsWith("operators/") || f.startsWith("streaming/")
      (n, l) <- codeLines(src)
      if read.findFirstIn(l.split("//").head).isDefined
    } yield s"$f:$n: $l"
    assert(hits.isEmpty,
      s"operator/streaming code reads the environment — pass it as a parameter or " +
        s"a session conf instead:\n${hits.mkString("\n")}")
  }
}
