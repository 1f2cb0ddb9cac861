package graft.streaming

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming document operators — the near-dup dedup family's streaming
  * representative (st12). Batch near-dup dedup (d04/d13/d15) is a banding
  * JOIN; a stream can't self-join its own history, so the streaming twin
  * keeps the history AS STATE: each MinHash band key owns one state cell
  * holding the smallest doc_id ever seen for that key (within the eviction
  * horizon), and an arriving document is flagged a near-duplicate on every
  * band where a smaller document already holds the key — exactly d04's
  * candidate predicate `a.doc_id < b.doc_id ON (band, key)`, evaluated
  * incrementally.
  *
  * Scale posture: state is (band, key) → one long — 16 cells per corpus
  * document, RocksDB off-heap at 100 TB — and the event-time eviction timer
  * bounds it to the dedup horizon (out-of-horizon documents are by contract
  * not duplicates, the same watermark semantics
  * `dropDuplicatesWithinWatermark` gives exact streaming dedup). Band keys
  * shuffle-partition like any high-cardinality key; no broadcast, no
  * all-pairs anything.
  */
object DocStreams {

  /** A streaming document: id, raw text, event time. */
  final case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** One (band, key) occurrence of a document, event-timed. */
  final case class BandRow(band: Int, key: Long, doc_id: Long, ts: java.sql.Timestamp)

  /** Evidence that `doc_id` collided with a smaller document on one band. */
  final case class BandDup(doc_id: Long)

  /** Per-band-key min-doc state with event-time TTL eviction: the arriving
    * batch's documents merge with the remembered minimum; every distinct
    * document above the merged minimum emits one [[BandDup]] evidence row
    * (one per band — the downstream count is "how many bands connect this
    * doc to a smaller predecessor"). The single armed timer per key
    * (st11's SessionTimerProcessor convention, including the
    * materialize-before-delete rule) clears the cell once the watermark
    * passes (newest occurrence + ttl) — the state-eviction contract that
    * keeps 100 TB of history from accreting forever.
    */
  final class BandMinDedupProcessor(ttlMs: Long)
      extends StatefulProcessor[(Int, Long), BandRow, BandDup] {
    @transient private var minDoc: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      minDoc = getHandle.getValueState[Long]("minDoc", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[BandDup] = {
      val batch = rows.toSeq
      val hadPrior = minDoc.exists()
      val prior = if (hadPrior) minDoc.get() else Long.MaxValue
      val keep = math.min(prior, batch.iterator.map(_.doc_id).min)
      minDoc.update(keep)
      // one armed eviction timer per key: disarm, re-arm at newest + ttl
      // (materialize the listing first — see SessionTimerProcessor).
      // A timer is armed iff the state cell exists (registered together
      // below; handleExpiredTimer clears both), so a FIRST-encounter key —
      // every key of a single-batch replay, and every post-eviction
      // re-admission — skips the timer-column-family scan outright
      // (r19 §5: one RocksDB range read per new key removed; ~14% of
      // st19's state-op cpu at sf0.1).
      if (hadPrior)
        getHandle.listTimers().toList.foreach(e => getHandle.deleteTimer(e.asInstanceOf[Long]))
      getHandle.registerTimer(batch.iterator.map(_.ts.getTime).max + ttlMs)
      batch.iterator.map(_.doc_id).toSeq.distinct.sorted
        .filter(_ > keep).map(BandDup(_)).iterator
    }

    override def handleExpiredTimer(key: (Int, Long), timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[BandDup] = {
      // horizon passed with no re-occurrence: forget the key entirely
      minDoc.clear()
      Iterator.empty
    }
  }

  /** Streaming MinHash+LSH near-dup detection over a document stream with
    * columns (doc_id, text, ts): the same fused ShingleMinHash band-key
    * kernel d04 runs (k=32, 3-gram shingles, 16 bands × 2 rows), exploded
    * to (band, key) rows, then [[BandMinDedupProcessor]] per band key.
    * Emits one [[BandDup]] per (flagged doc, colliding band).
    */
  def bandDedup(spark: SparkSession, docs: DataFrame,
      watermark: String = "10 minutes", ttlMs: Long = 30L * 60 * 1000): Dataset[BandDup] = {
    import spark.implicits._
    docs
      .select(col("doc_id"), col("ts"),
        posexplode(HashFunctions.shingleMinHashBands(
          TextFunctions.tokens(col("text")), k = 32, n = 3, bands = 16, rows = 2))
          .as(Seq("band", "key")))
      .withWatermark("ts", watermark)
      .select(col("band"), col("key"), col("doc_id"), col("ts"))
      .as[BandRow]
      .groupByKey(r => (r.band, r.key))
      .transformWithState(new BandMinDedupProcessor(ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming perceptual-hash image near-dup detection (st20 — m15's
    * streaming twin, completing the batch↔stream discipline for the image
    * member of the dedup family): the SAME
    * [[graft.multimodal.Multimodal.imageBandHashes]] aHash kernel m15
    * runs (media packing, proportional 64-block byte means, exact
    * cross-multiply bits, four 16-bit band keys), exploded to (band, key)
    * rows and fed to the SAME [[BandMinDedupProcessor]] st12 runs — per
    * (band, key) state remembers the smallest image doc_id holding the
    * key, an arriving image emits one [[BandDup]] per band where a
    * smaller image already holds its key (m15's banding-join candidate
    * predicate `a.doc_id < b.doc_id ON (band, key)`, evaluated
    * incrementally), and the armed event-time timer evicts the key once
    * the watermark passes the horizon. Input is a raw document stream
    * (doc_id, text, ...); the kernel's own domain filter (media type,
    * payload ≥ 64 bytes after the header) applies inside, and the
    * synthetic event time re-derives from doc_id (epoch + doc_id seconds
    * — the st12 discipline; the typed kernel does not carry ts through).
    *
    * Scale posture: 4 state cells × one long per in-horizon image in
    * RocksDB — the m15 band index held incrementally, timer-bounded;
    * 16-bit band keys shuffle-partition; per-batch cost is O(new images'
    * bytes), the amortized form of m15's corpus hash pass. A band-key
    * flood (near-blank images, whose aHash bits are all 0) costs this
    * monitor nothing quadratic: state per key stays ONE long however many
    * images carry it, and emissions stay one row per arriving image per
    * band — the incremental shape is its own flood defence.
    */
  def imageBandDedup(spark: SparkSession, docs: DataFrame,
      watermark: String = "10 minutes", ttlMs: Long = 30L * 60 * 1000): Dataset[BandDup] = {
    import spark.implicits._
    // packBlobs carries lang/source metadata through the MediaBlob schema;
    // the hash reads only payload bytes, so a bare (doc_id, text) stream
    // (the MemoryStream spec fixtures) gets empty metadata rather than a
    // schema requirement the kernel never uses
    val withMeta = Seq("lang", "source").foldLeft(docs)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit("")))
    graft.multimodal.Multimodal.imageBandHashes(
        graft.multimodal.Multimodal.packBlobs(spark, withMeta)).toDF()
      .select(col("doc_id"),
        posexplode(array(col("h0"), col("h1"), col("h2"), col("h3"))).as(Seq("band", "key")))
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      .withWatermark("ts", watermark)
      .select(col("band"), col("key"), col("doc_id"), col("ts"))
      .as[BandRow]
      .groupByKey(r => (r.band, r.key))
      .transformWithState(new BandMinDedupProcessor(ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** One (window-key, doc) occurrence of a word-anchored 32-char window. */
  final case class WinRow(wd: String, doc_id: Long, ts: java.sql.Timestamp)

  /** Evidence that `doc_id` carries a window a smaller document already
    * holds in the corpus index. */
  final case class StaleWindow(doc_id: Long)

  /** d20's window-keyed counting made incremental (st19 — the d13/d15
    * shape at substring grain): each raw 32-char window STRING owns one
    * state cell holding the smallest doc_id ever seen carrying it (within
    * the eviction horizon), and an arriving document emits one evidence
    * row per distinct window key where a smaller document already holds
    * it — d20's "this exact substring already exists in the corpus index"
    * predicate, evaluated online and exactly oracle-replayable. Same
    * single-armed-timer eviction contract as [[BandMinDedupProcessor]],
    * including the materialize-before-delete rule.
    */
  final class WindowMinDedupProcessor(ttlMs: Long)
      extends StatefulProcessor[String, WinRow, StaleWindow] {
    @transient private var minDoc: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      minDoc = getHandle.getValueState[Long]("minDoc", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[WinRow],
        timerValues: TimerValues): Iterator[StaleWindow] = {
      val batch = rows.toSeq
      val hadPrior = minDoc.exists()
      val prior = if (hadPrior) minDoc.get() else Long.MaxValue
      val keep = math.min(prior, batch.iterator.map(_.doc_id).min)
      minDoc.update(keep)
      // one armed eviction timer per key: disarm, re-arm at newest + ttl
      // (materialize the listing first — see SessionTimerProcessor).
      // Timer armed ⟺ state cell exists (the BandMinDedupProcessor
      // invariant), so first-encounter keys skip the timer-CF scan.
      if (hadPrior)
        getHandle.listTimers().toList.foreach(e => getHandle.deleteTimer(e.asInstanceOf[Long]))
      getHandle.registerTimer(batch.iterator.map(_.ts.getTime).max + ttlMs)
      batch.iterator.map(_.doc_id).toSeq.distinct.sorted
        .filter(_ > keep).map(StaleWindow(_)).iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[StaleWindow] = {
      // horizon passed with no re-occurrence: forget the key entirely
      minDoc.clear()
      Iterator.empty
    }
  }

  /** Streaming exact-substring duplication monitor over a document stream
    * with columns (doc_id, text, ts): d20's word-anchored 32-char window
    * kernel (the SAME [[graft.operators.DedupQueries.anchoredWindowsSql]]
    * expression — one grammar, batch and stream), exploded to (window,
    * doc) rows and fed to a [[WindowMinDedupProcessor]] per window key.
    * Within-doc repeats of a window dedupe inside the processor (a doc's
    * windows all arrive in its own batch), so emissions are one
    * [[StaleWindow]] per (flagged doc, distinct stale window key).
    *
    * At-least-once caveat (r17 ADVICE #3): emissions are NOT deduplicated
    * against prior batches' emissions — a source that REPLAYS rows
    * (at-least-once redelivery) re-emits evidence for redelivered docs,
    * and a doc arriving BEFORE the eventual window minimum emits evidence
    * the batch oracle would not (the minimum only wins from its own batch
    * onward). Both effects vanish under the bounded single-batch replay
    * the registry harness enforces (`requireSingleBatch` — st06's guard).
    *
    * Scale posture: state is one long per distinct corpus window key
    * within the horizon — the d20 inverted index held incrementally,
    * RocksDB off-heap, timer-evicted; window keys shuffle-partition like
    * any high-cardinality key; per-batch cost is O(new docs' chars), the
    * amortized form of d20's corpus pass.
    */
  def substringDupMonitor(spark: SparkSession, docs: DataFrame,
      watermark: String = "10 minutes",
      ttlMs: Long = 30L * 60 * 1000): Dataset[StaleWindow] = {
    import spark.implicits._
    docs
      .filter(length(col("text")) >= 33)
      .select(col("doc_id"), col("ts"),
        explode(expr(graft.operators.DedupQueries.anchoredWindowsSql)).as("wd"))
      .withWatermark("ts", watermark)
      .select(col("wd"), col("doc_id"), col("ts"))
      .as[WinRow]
      .groupByKey(_.wd)
      .transformWithState(new WindowMinDedupProcessor(ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
