package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.sources.TradeSource
import graft.streaming.{Envelope, FileStreamIO, TradePipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Reads a streaming query's checkpoint logs from outside the program:
  * `offsets/<id>` (written when a batch starts), `commits/<id>` (written
  * when it commits) and `sources/0/` (the files each batch of a file source
  * read).
  */
final class Checkpoint(val dir: Path) {
  private def logTimes(sub: String): Map[Long, Long] = {
    val d = dir.resolve(sub)
    if (!Files.isDirectory(d)) Map.empty
    else Files.list(d).iterator().asScala
      .map(p => p.getFileName.toString)
      .filter(_.forall(_.isDigit))
      .map(n => n.toLong -> Files.getLastModifiedTime(d.resolve(n)).toMillis)
      .toMap
  }

  /** batch id → commit time (ms). */
  def commits: Map[Long, Long] = logTimes("commits")

  /** batch id → start time (ms): when the batch's offsets were logged. */
  def starts: Map[Long, Long] = logTimes("offsets")

  /** batch id → files the batch read. The file source keeps its own log
    * (`sources/0/<n>`, plain and compacted entries alike), numbered only
    * when it finds new files; each batch's offsets record the source log
    * position it read up to.
    */
  def filesRead: Map[Long, Seq[String]] = {
    val d = dir.resolve("sources").resolve("0")
    if (!Files.isDirectory(d)) return Map.empty
    val entry = """\{"path":"([^"]+)".*"batchId":(\d+)\}""".r
    val byLogId = Files.list(d).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case entry(path, id) => (id.toLong, path) }
      .distinct.groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2) }
    val logOffset = """"logOffset"\s*:\s*(\d+)""".r
    val upTo = starts.keys.toSeq.sorted.flatMap { b =>
      Files.readAllLines(dir.resolve("offsets").resolve(b.toString)).asScala
        .flatMap(l => logOffset.findFirstMatchIn(l)).headOption.map(m => b -> m.group(1).toLong)
    }
    upTo.zip((-1L) +: upTo.map(_._2)).map { case ((b, to), from) =>
      b -> ((from + 1) to to).flatMap(i => byLogId.getOrElse(i, Nil)).sorted
    }.toMap
  }
}

/** Micro-batch progress of named queries, from Spark's public streaming
  * listener. Registered only when tracing.
  */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)

  def of(queryName: String): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.name == queryName).toSeq.sortBy(_.batchId)

  def ofId(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
}

object Streams {
  /** Offered rate of the round trip, trades/s: ~400x the reference's
    * ~12 rec/s, far below this engine's capacity.
    */
  val Rate = 5000
  /** Trigger interval of both pipeline queries (their defaults). */
  val TriggerMs = 2000L
  /** Round-trip latency limit: two trigger intervals. */
  val LimitMs = 4000.0

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { s =>
      s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
    }

  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  private def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) sys.error(s"timed out waiting for $what")
      Thread.sleep(50)
    }
  }

  private def sleepUntil(ms: Long): Unit = {
    val d = ms - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }

  /** Final per-(window, ticker) counts of an update-mode memory sink: each
    * update carries the running totals, which only grow.
    */
  def sinkTotals(spark: SparkSession, table: String): DataFrame =
    spark.table(table).groupBy("window", "tickerSymbol")
      .agg(max("n_trades").as("n_trades"), max("sum_qty").as("sum_qty"))

  /** The same totals computed in batch over the files the stream read. */
  def batchTotals(spark: SparkSession, files: Seq[String]): DataFrame =
    TradePipeline.tickerStats(Envelope.decode(readEnvelopes(spark, files)))
      .select("window", "tickerSymbol", "n_trades", "sum_qty")

  def readEnvelopes(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(Envelope.schema).json(paths: _*)

  /** Equal as multisets of rows; both sides are small aggregates. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    rows(a) == rows(b)
  }

  // ---------------------------------------------------------------- drain

  /** Writes `n` envelope records (trade ids 1..n, workload seed) as `files`
    * JSON files of contiguous id ranges. Arrival timestamps advance at the
    * round trip's rate, so the backlog spans n / Rate seconds of 2 s windows;
    * file modification times follow id order, so the file source reads the
    * backlog oldest first and no record is behind the watermark.
    */
  def writeBacklog(spark: SparkSession, dir: Path, n: Long, files: Int, seed: Long): Unit = {
    deleteTree(dir)
    val trades = TradeSource.trades(spark, n, files, seed).toDF()
    Envelope.encodeFast(trades)
      .withColumn("approximateArrivalTimestamp",
        timestamp_millis(lit(BacklogEpochMs) + ((col("sequenceNumber").cast("long") - 1) * 1000 / Rate).cast("long")))
      .write.json(dir.toString)
    val parts = backlogFiles(dir)
    require(parts.size == files, s"backlog wrote ${parts.size} files, expected $files")
    val base = System.currentTimeMillis() - 3600 * 1000L
    parts.zipWithIndex.foreach { case (p, i) => p.toFile.setLastModified(base + i * 1000L) }
  }

  /** The backlog's data files, in id order. */
  def backlogFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)

  /** 2026-01-01T00:00:00Z: arrival time of the backlog's first record. */
  val BacklogEpochMs = 1767225600000L

  final case class Drain(name: String, startMs: Long, endMs: Long, batchMs: Seq[Double]) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** Drains the backlog with the consumer on an available-now trigger. The
    * micro-batch latencies are those of the batches that read files, each
    * from its offsets log entry to its commit; the closing no-data batch
    * and the query's start are left out, so that every sample is the same
    * kind of batch.
    */
  def drain(spark: SparkSession, backlog: Path, ckRoot: Path, name: String): Drain = {
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckRoot.toString)
    val startMs = System.currentTimeMillis()
    val q = TradePipeline.consume(spark, new FileStreamIO(backlog.toString), name, Trigger.AvailableNow())
    try q.awaitTermination()
    finally q.stop()
    val endMs = System.currentTimeMillis()
    q.exception.foreach(e => throw e)
    val ck = new Checkpoint(ckRoot.resolve(name))
    val (starts, commits) = (ck.starts, ck.commits)
    val data = ck.filesRead.collect { case (b, fs) if fs.nonEmpty => b }.toSeq.sorted
    Drain(name, startMs, endMs, data.map(b => (commits(b) - starts(b)).toDouble))
  }

  /** A drain's final totals must equal the batch computation over the
    * backlog, and its trade counts must sum to the backlog size.
    */
  def checkDrain(spark: SparkSession, d: Drain, n: Long, expected: DataFrame): (Boolean, String) = {
    val got = sinkTotals(spark, d.name)
    val total = Option(got.agg(sum("n_trades")).head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val same = sameRows(got, expected)
    (same && total == n, s"${d.name} batches=${d.batchMs.size} trades=$total/$n totals_match=$same")
  }

  // ------------------------------------------------------------ round trip

  final case class Roundtrip(
      fromMs: Long, toMs: Long, rateStartMs: Long, startAttempts: Int, setupWorkS: Double, latenciesMs: Seq[Double],
      tradesPerS: Double, windowBatches: Seq[Long], producerBatches: Seq[Long],
      lagTrades: Map[Long, Double], producerId: java.util.UUID, correct: Boolean, detail: String,
      timeline: Seq[Map[String, Any]])

  /** Where in its second the rate source should start, ms. The rate source
    * emits whole seconds of trades counted from its start time, so this
    * phase sets how old the newest trade of each 2 s batch is; holding it
    * keeps latency comparable between runs; 900 ms keeps the newest trade
    * of a batch young while staying clear of the wrap at 0/1000.
    */
  val StartPhaseMs = 900L
  val StartPhaseSlackMs = 75L

  /** Producer starts tried; if the phase is still off after the last, the
    * run's check fails.
    */
  val StartAttempts = 6

  /** Runs producer and consumer together on their default 2 s triggers,
    * waits for `warmBatches` consumer batches with data, then times every
    * consumer batch triggered in the next `seconds`, rounded up to whole
    * trigger cycles. The result's `setupWorkS` is the set-up work without
    * the deliberate waits: the first producer start (call to rate source
    * start) plus the consumer's start (call to its first commit).
    */
  def roundtrip(spark: SparkSession, work: Path, seconds: Int, warmBatches: Int): Roundtrip = {
    val transport = work.resolve("transport")
    val prodCk = work.resolve("producer")
    val ckRoot = work.resolve("consumer")
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckRoot.toString)
    val io = new FileStreamIO(transport.toString)
    val name = "rt_consumer"
    val consCk = new Checkpoint(ckRoot.resolve(name))
    // start the producer so that the rate source starts near StartPhaseMs;
    // the start-up delay is measured and the start retried if it misses.
    // The first start in a JVM is slow (~1.4 s here); later ones take the
    // last measured delay, or ~150 ms after a cold first start.
    var delayMs = 1400L
    var attempts = 0
    var firstStartMs = 0L
    var started: Option[(StreamingQuery, Long)] = None
    while (started.isEmpty) {
      attempts += 1
      Seq(transport, prodCk, ckRoot).foreach(deleteTree)
      Files.createDirectories(transport)
      val now = System.currentTimeMillis()
      val at = now - now % 1000 + 1000 + Math.floorMod(StartPhaseMs - delayMs, 1000L)
      sleepUntil(at)
      val q = TradePipeline.produce(spark, io, prodCk.toString, Rate)
      val log0 = prodCk.resolve("sources").resolve("0").resolve("0")
      waitFor("rate source start", 30000)(Files.exists(log0) && Files.size(log0) > 0)
      val c = rateStartMs(prodCk)
      delayMs = if (attempts == 1) 150L else c - at
      if (attempts == 1) firstStartMs = c - at
      Main.log(s"rate source start: attempt $attempts delay ${c - at} ms phase ${c % 1000} ms")
      if (math.abs(c % 1000 - StartPhaseMs) <= StartPhaseSlackMs || attempts == StartAttempts) started = Some((q, c))
      else { q.stop(); q.awaitTermination() }
    }
    val (prod, _) = started.get
    val consCallMs = System.currentTimeMillis()
    val cons = TradePipeline.consume(spark, io, name)
    var fromMs, toMs = 0L
    var consStartMs = 0L
    try {
      waitFor("consumer's first commit", 60000)(consCk.commits.nonEmpty)
      consStartMs = consCk.commits.values.min - consCallMs
      // warm until the consumer keeps pace: its last batch with data
      // started on its trigger, not late while catching up
      waitFor("round-trip warm-up", 60000) {
        val starts = consCk.starts
        val commits = consCk.commits
        val data = consCk.filesRead.collect { case (b, fs) if fs.nonEmpty && commits.contains(b) => b }.toSeq.sorted
        data.size >= warmBatches && starts(data.last) - slot(starts(data.last)) < 500
      }
      val t = System.currentTimeMillis()
      fromMs = (t / TriggerMs + 1) * TriggerMs
      toMs = fromMs + ((seconds * 1000L + TriggerMs - 1) / TriggerMs) * TriggerMs
      sleepUntil(toMs + 200)
      waitFor("round-trip window commits", 60000) {
        val cs = consCk.commits
        consCk.starts.forall { case (b, s) => s >= toMs || cs.contains(b) }
      }
      prod.stop()
      cons.processAllAvailable()
    } finally {
      prod.stop(); cons.stop()
    }
    Seq(prod, cons).foreach(_.exception.foreach(e => throw e))
    analyse(spark, name, consCk, new Checkpoint(prodCk), fromMs, toMs, attempts,
      (firstStartMs + consStartMs) / 1e3, prod.id)
  }

  /** The 2 s trigger slot a batch started in. */
  private def slot(ms: Long): Long = ms / TriggerMs * TriggerMs

  private def analyse(spark: SparkSession, name: String, cons: Checkpoint, prod: Checkpoint,
      fromMs: Long, toMs: Long, attempts: Int, setupWorkS: Double, prodId: java.util.UUID): Roundtrip = {
    val rateStart = rateStartMs(prod.dir)
    // after the last start attempt the phase may still be off, and latency
    // is then not comparable: the run fails
    val phaseOk = math.abs(rateStart % 1000 - StartPhaseMs) <= StartPhaseSlackMs
    val files = cons.filesRead
    val commits = cons.commits
    val starts = cons.starts
    val inWindow = starts.collect { case (b, s) if slot(s) >= fromMs && slot(s) < toMs => b }.toSeq.sorted
    val committed = files.keys.filter(commits.contains).toSeq.sorted
    val batchOf = committed.flatMap(b => files(b).map(_ -> b)).toMap
    val allFiles = committed.flatMap(files)
    // newest trade id and trade count per (batch, window, ticker) group,
    // from the envelope's key (the ticker) and sequence number (the id)
    val perBatch = readEnvelopes(spark, allFiles)
      .groupBy(input_file_name(), window(col("approximateArrivalTimestamp"), "2 seconds").cast("string"),
        col("partitionKey"))
      .agg(max(col("sequenceNumber").cast("long")), count(lit(1)))
      .collect().toSeq
      .map(r => (batchOf(r.getString(0)), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .groupBy(g => (g._1, g._2, g._3))
      .map { case ((b, w, t), gs) => (b, w, t, gs.map(_._4).max, gs.map(_._5).sum) }
      .groupBy(_._1)
    // latency of a result: its batch's commit time less the due time of the
    // newest trade of its group, due at rate start + (id - 1) / rate
    val latencies = inWindow.filter(perBatch.contains).flatMap { b =>
      perBatch(b).map { case (_, _, _, newest, _) => (commits(b) - rateStart) - (newest - 1) * 1000.0 / Rate }
    }
    def tradesIn(b: Long): Long = perBatch.get(b).map(_.iterator.map(_._5).sum).getOrElse(0L)
    // trades reflected per second: trades read by the window's batches over
    // the span from the last commit of data before the window to the
    // window's last commit of data
    val withData = committed.filter(tradesIn(_) > 0)
    val windowData = inWindow.filter(withData.contains)
    val before = withData.filter(_ < inWindow.headOption.getOrElse(Long.MaxValue))
    val tradesPerS =
      if (windowData.isEmpty || before.isEmpty) 0.0
      else windowData.map(tradesIn).sum * 1000.0 / (commits(windowData.last) - commits(before.last))
    // lag at a batch's start: trades the rate source had offered by then,
    // less the trades read by earlier batches
    val readBefore = committed.zip(committed.scanLeft(0L)((acc, b) => acc + tradesIn(b))).toMap
    val lag = inWindow.filter(readBefore.contains).map { b =>
      b -> (math.max(0L, (starts(b) - rateStart) / 1000) * Rate - readBefore(b)).toDouble
    }.toMap
    // output check: the sink's final totals equal the batch computation over
    // every file the consumer committed, and those files hold trades 1..n
    val groups = perBatch.values.flatten.toSeq
    val n = groups.map(_._5).sum
    val tradesOk = n > 0 && groups.map(_._4).max == n
    val totalsOk = sameRows(sinkTotals(spark, name), batchTotals(spark, allFiles))
    val prodBatches = prod.starts.collect { case (b, s) if slot(s) >= fromMs && slot(s) < toMs => b }.toSeq.sorted
    val timeline =
      starts.toSeq.sorted.map { case (b, s) => Map("query" -> "consume", "batch" -> b, "start_ms" -> s,
        "commit_ms" -> commits.get(b), "trades" -> tradesIn(b)) } ++
      prod.starts.toSeq.sorted.map { case (b, s) => Map("query" -> "produce", "batch" -> b, "start_ms" -> s,
        "commit_ms" -> prod.commits.get(b)) }
    Roundtrip(fromMs, toMs, rateStart, attempts, setupWorkS, latencies, tradesPerS, inWindow, prodBatches, lag,
      prodId, tradesOk && totalsOk && phaseOk && latencies.nonEmpty,
      s"trades=$n ids_contiguous=$tradesOk totals_match=$totalsOk window_batches=${inWindow.size} " +
        s"start_phase_ms=${rateStart % 1000} (${if (phaseOk) "held" else s"missed after $attempts attempts"})",
      timeline)
  }

  /** The rate source's start time, which it logs as the first entry of its
    * offset metadata (`sources/0/0`).
    */
  def rateStartMs(prodCk: Path): Long = {
    val lines = Files.readAllLines(prodCk.resolve("sources").resolve("0").resolve("0")).asScala
    lines.reverseIterator.map(_.trim).collectFirst {
      case l if l.nonEmpty && l.forall(_.isDigit) => l.toLong
    }.getOrElse(sys.error(s"no start time in rate source log: ${lines.mkString(" | ")}"))
  }
}
