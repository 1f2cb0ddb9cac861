package graft

import graft.functions.TextFunctions
import graft.operators.GraphQueries
import org.apache.spark.sql.functions._

/** Invariants for the round-5 pipeline operators that the oracle compare
  * can't express directly: idempotence, geometric bounds, and
  * fold-equals-direct equivalences.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("redactPii is idempotent and leaves no residual PII") {
    val samples = Seq(
      "plain text with no pii at all",
      "mail me at alice.smith+x@example.co.uk today",
      "call 415-555-0042 or 212-555-9999 now",
      "server at 10.0.0.1 and 192.168.255.254",
      "mixed bob@x.io 415-555-0042 10.1.2.3 end",
      "", // empty survives
      "a@b.cd 1.2.3.4") // PII-only string
    val df = samples.toDF("t")
    val once = df.select(TextFunctions.redactPii(col("t")).as("r1"))
    val twice = once.select(col("r1"), TextFunctions.redactPii(col("r1")).as("r2"))
    val rows = twice.collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1),
      s"not idempotent: '${r.getString(0)}' vs '${r.getString(1)}'"))
    // residual scan: no redacted string still matches any PII pattern
    TextFunctions.PiiPatterns.foreach { case (re, tag) =>
      val hits = once.filter(col("r1").rlike(re)).count()
      assert(hits == 0, s"pattern $re ($tag) still matches after redaction")
    }
  }

  test("q77 z-cells bound both dimensions (each cell spans <= 32 in x and y)") {
    // zcell = morton >> 10 fixes the top 5 interleaved bits of each
    // coordinate, so any cell's bounding box fits a 32 x 32 square —
    // the multi-dimensional pruning guarantee the layout exists for.
    val rows = SparkEntry.queries("q77_zorder_layout")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (xmin, xmax) = (r.getAs[Long]("x_min"), r.getAs[Long]("x_max"))
      val (ymin, ymax) = (r.getAs[Long]("y_min"), r.getAs[Long]("y_max"))
      assert(xmax - xmin <= 31, s"x range ${xmax - xmin} exceeds z-cell bound")
      assert(ymax - ymin <= 31, s"y range ${ymax - ymin} exceeds z-cell bound")
    }
  }

  test("q80 interval coverage: islands respect per-user event-count and length bounds") {
    // Merged islands can never outnumber events, coverage is bounded by
    // n_events * width on one side and a single width on the other, and
    // the longest island can't exceed the whole covered span.
    val dir = sf0001
    val nEvents = graft.sources.Tables.events(spark, dir)
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Number]("user_id").longValue() -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("q80_interval_coverage")(spark, dir).collect()
    assert(rows.nonEmpty)
    val width = 300000000L
    rows.foreach { r =>
      val u = r.getAs[Number]("user_id").longValue()
      val (n, cov, longest) =
        (r.getAs[Long]("n_intervals"), r.getAs[Long]("covered_us"), r.getAs[Long]("longest_us"))
      assert(n >= 1 && n <= nEvents(u), s"user $u: $n islands for ${nEvents(u)} events")
      assert(cov >= width && cov <= nEvents(u) * width, s"user $u: coverage $cov out of bounds")
      assert(longest >= width && longest <= cov, s"user $u: longest $longest vs coverage $cov")
    }
    // every user with events appears: the merge drops intervals, never users
    assert(rows.map(_.getAs[Number]("user_id").longValue()).toSet == nEvents.keySet)
  }

  test("stub decoder: empty and null payloads decode to zeros, never null/NaN") {
    // The m02/m05 oracles mirror this exact contract with coalesce/greatest
    // (an empty doc must hash-compare as 0.0, not NULL) — pin it at the
    // unit level so a decoder change can't silently reopen the divergence.
    import graft.multimodal.Multimodal
    import spark.implicits._
    val blobs = Seq(
      Multimodal.MediaBlob(1L, "image", Array.emptyByteArray, "en", "web"),
      Multimodal.MediaBlob(2L, "audio", null, "en", "web")).toDS()
    Multimodal.decodeFeatures(blobs).collect().foreach { f =>
      assert(f.byte_len == 0L && f.mean_byte == 0.0, s"doc ${f.doc_id}: non-zero stats")
      assert(f.feature.forall(_ == 0f), s"doc ${f.doc_id}: non-zero features")
    }
    Multimodal.resize(blobs, 4).collect().foreach(b =>
      assert(b.data.isEmpty, s"doc ${b.doc_id}: resize of empty not empty"))
  }

  test("m05 resize: strided subsequence, exact ceil length, and factor composition") {
    import graft.multimodal.Multimodal
    val blobs = Multimodal.packBlobs(spark, graft.sources.Tables.documents(spark, sf0001))
    val once = Multimodal.resize(blobs, 4).collect().map(b => b.doc_id -> b.data).toMap
    val orig = blobs.collect().map(b => b.doc_id -> b.data).toMap
    orig.foreach { case (id, bytes) =>
      val r = once(id)
      assert(r.length == (bytes.length + 3) / 4, s"doc $id: resized length not ceil(n/4)")
      r.indices.foreach(i => assert(r(i) == bytes(i * 4), s"doc $id: byte $i not strided"))
    }
    // resize(4) ∘ resize(4) == resize(16): stride composition holds exactly
    val twice = Multimodal.resize(Multimodal.resize(blobs, 4), 4).collect()
      .map(b => b.doc_id -> b.data.toSeq).toMap
    val sixteen = Multimodal.resize(blobs, 16).collect().map(b => b.doc_id -> b.data.toSeq).toMap
    assert(twice == sixteen)
  }

  test("u04 CDC compaction == sequential replay of the changelog") {
    // The compacted (max_by) log must land every key in exactly the state
    // a one-event-at-a-time replay reaches — the invariant that makes
    // last-writer-wins batch apply equivalent to streaming CDC consumption.
    val dir = sf0001
    val log = graft.sources.Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val replay = scala.collection.mutable.Map[Long, Option[Double]]()
    log.sortBy(_._2).foreach { case (k, seq, bal) =>
      replay(k) = if (seq % 13 == 0) None else Some(bal)
    }
    val compacted = graft.sources.Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k"))
      .agg(max_by(when(col("o_orderkey") % 13 === 0, "D").otherwise("U"), col("o_orderkey")).as("op"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("new_bal"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(compacted.keySet == replay.keySet)
    compacted.foreach { case (k, (op, bal)) =>
      replay(k) match {
        case None => assert(op == "D", s"key $k: replay deleted, compaction kept '$op'")
        case Some(b) => assert(op == "U" && bal == b, s"key $k: replay $b, compaction $op/$bal")
      }
    }
  }

  test("d12 paragraph dedup: kept segments exhaust the distinct-segment set exactly once") {
    // The C4-style guarantee: after cleaning, every distinct 10-token
    // segment of the original corpus survives exactly once — so
    // sum(n_kept) == |distinct segments|, no doc keeps more than it had,
    // and docs can vanish (every segment seen earlier) but never grow.
    val dir = sf0001
    val out = SparkEntry.queries("d12_paragraph_dedup")(spark, dir)
      .select("doc_id", "n_segs", "n_kept").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1),
        s"doc ${r.getLong(0)}: kept ${r.getLong(2)} of ${r.getLong(1)} segments")
    }
    val distinctSegs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .withColumn("n_segs", ceil(size(col("ts")) / lit(10.0)).cast("long"))
      .select(posexplode(expr(
        "transform(sequence(cast(0 as bigint), n_segs - 1)," +
          " i -> array_join(slice(ts, cast(i*10+1 as int), 10), ' '))"))
        .as(Seq("i", "seg")))
      .select("seg").distinct().count()
    val totalKept = out.map(_.getLong(2)).sum
    assert(totalKept == distinctSegs,
      s"kept $totalKept segments but corpus has $distinctSegs distinct ones")
  }

  test("d21 span removal: byte-exact on a planted embedded-run corpus (first occurrence wins, spans merge)") {
    import java.nio.file.Files
    // Planted corpus: doc 1 carries the boilerplate run first; doc 2 embeds
    // the SAME run at a different offset; doc 3 is a full copy of doc 1;
    // doc 4 is below the window domain; doc 5 shares nothing.
    val run = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      1L -> s"alpha bravo charlie $run delta echo",
      2L -> s"zulu yankee xray whiskey victor uniform $run tango sierra",
      3L -> s"alpha bravo charlie $run delta echo",
      4L -> "tiny doc",
      5L -> "completely unrelated words nothing shared here at all okay")
    val dir = Files.createTempDirectory("graft-d21").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")

    // Independent reference implementation (test-only, quadratic-friendly):
    // window occurrences -> global first by (doc_id, pos) -> merge marked
    // intervals -> rebuild. The d16-style exactness arbiter.
    val occ = for {
      (did, text) <- docs
      l = text.length
      if l >= 33
      i <- 1 to (l - 32)
      if text.charAt(i - 1) == ' '
    } yield (text.substring(i, i + 32), did, (i + 1).toLong)
    val first = occ.sortBy { case (_, d, s) => (d, s) }
      .foldLeft(Map.empty[String, (Long, Long)]) { case (m, (wd, d, s)) =>
        if (m.contains(wd)) m else m + (wd -> ((d, s)))
      }
    val markedByDoc = occ.collect { case (wd, d, s) if first(wd) != ((d, s)) => (d, s, s + 31) }
      .groupBy(_._1).map { case (d, ts) => d -> ts.map(t => (t._2, t._3)).sorted }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ref: Map[Long, (Long, Long, String)] = docs.map { case (did, text) =>
      val merged = markedByDoc.getOrElse(did, Seq.empty)
        .foldLeft(List.empty[(Long, Long)]) { case (acc, (s, e)) => acc match {
          case (ps, pe) :: tail if s <= pe + 1 => (ps, math.max(pe, e)) :: tail
          case _ => (s, e) :: acc
        }}.reverse
      val sb = new StringBuilder
      var pos = 1L
      merged.foreach { case (s, e) =>
        sb.append(text.substring(pos.toInt - 1, s.toInt - 1)); pos = e + 1 }
      sb.append(text.substring(pos.toInt - 1))
      did -> ((merged.size.toLong, merged.map { case (s, e) => e - s + 1 }.sum, sb.toString))
    }.toMap

    val out = SparkEntry.queries("d21_span_removal")(spark, dir)
      .select("doc_id", "n_chars", "n_spans", "n_dropped", "n_kept", "clean_md5")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(out.keySet == docs.map(_._1).toSet)
    docs.foreach { case (did, text) =>
      val (rSpans, rDropped, rClean) = ref(did)
      val (nChars, nSpans, nDropped, nKept, md5) = out(did)
      assert(nChars == text.length.toLong)
      assert(nSpans == rSpans, s"doc $did spans: got $nSpans want $rSpans")
      assert(nDropped == rDropped, s"doc $did dropped: got $nDropped want $rDropped")
      assert(nKept == text.length - rDropped)
      assert(md5 == md5hex(rClean), s"doc $did clean text diverges from the reference rebuild")
    }
    // first-occurrence-wins: doc 1 (smallest doc_id carrying every window
    // first) is byte-identical in and out
    assert(out(1L)._5 == md5hex(docs.head._2) && out(1L)._3 == 0L)
    // span merging: doc 3's every window is a duplicate of doc 1's, so all
    // marked ranges merge into ONE dropped run (not one per window)
    assert(out(3L)._2 == 1L, s"doc 3 spans: ${out(3L)._2}")
    assert(out(3L)._4 < out(3L)._1, "doc 3 must actually lose chars")
    // the embedded run is removed from doc 2 (reference clean text no
    // longer contains the run's interior), while its unique prefix stays
    assert(!ref(2L)._3.contains(run.substring(4)))
    assert(ref(2L)._3.startsWith("zulu yankee xray whiskey victor uniform"))
    // out-of-domain and unshared docs pass through byte-identical
    assert(out(4L)._5 == md5hex("tiny doc") && out(4L)._3 == 0L)
    assert(out(5L)._3 == 0L)
  }

  test("u03 incremental fold == direct aggregation for multiple cutoffs") {
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val direct = orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(24,6)")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    for (cut <- Seq("1993-06-01", "1996-01-01", "1999-01-01")) {
      def partials(pred: org.apache.spark.sql.Column) =
        orders.filter(pred).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("pn"),
            sum(col("o_totalprice").cast("decimal(24,6)")).as("ps"))
      val d = col("o_orderdate").cast("date")
      val folded = partials(d < lit(cut).cast("date"))
        .unionByName(partials(d >= lit(cut).cast("date")))
        .groupBy("o_orderstatus")
        .agg(sum("pn").as("n"), sum("ps").as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
      assert(folded.keySet == direct.keySet, s"group sets differ at cutoff $cut")
      folded.foreach { case (k, (n, s)) =>
        assert(n == direct(k)._1, s"count differs for $k at cutoff $cut")
        assert(s.compareTo(direct(k)._2) == 0, s"sum differs for $k at cutoff $cut")
      }
    }
  }

  test("t18 winnowing: density tracks theory (E=2/(w+1)=0.4) and folds stay bounded") {
    val rows = SparkEntry.queries("t18_winnowing")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nSh, nFps) = (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_fps"))
      assert(nFps >= 1 && nFps <= nSh, s"doc ${r.get(0)}: $nFps fps of $nSh shingles")
      // every w-window holds a fingerprint → at least ceil(nWin / w) selections
      val nWin = math.max(1L, nSh - 3)
      assert(nFps >= (nWin + 3) / 4, s"doc ${r.get(0)}: below the window-guarantee floor")
      assert(r.getAs[Long]("fp_fold") >= 0 && r.getAs[Long]("fp_fold") < nFps * 1000003L)
    }
    val meanDensity = rows.map(_.getAs[Double]("density")).sum / rows.length
    assert(meanDensity > 0.3 && meanDensity < 0.5, s"mean density $meanDensity far from 0.4")
  }

  test("q92 sequence match: regex counts equal hand-computed values on a crafted stream") {
    // encoded per-user sequences: u1 "vcvpvccpvp" (3 non-overlapping
    // v[ce]*p: vp@2, vccp@4, vp@8 — the leading "vc" must NOT match),
    // u2 "scep" (no v → 0 funnels; 1 signup conversion), u3 "pv" (nothing)
    val types = Map('v' -> "view", 'c' -> "click", 'p' -> "purchase",
      's' -> "signup", 'e' -> "error")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val schema = graft.sources.Tables.events(spark, sf0001).schema
    var id = 0L
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    for ((uid, seq) <- Seq(1L -> "vcvpvccpvp", 2L -> "scep", 3L -> "pv");
         (ch, i) <- seq.zipWithIndex) {
      id += 1
      // u1's last two events share a timestamp: event_id must break the tie
      val ts = if (uid == 1L && i >= 8) t0.plusSeconds(8) else t0.plusSeconds(i)
      rows.add(org.apache.spark.sql.Row(id, ts, uid, types(ch), 1.0, "{}"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-q92").toString
    spark.createDataFrame(rows, schema).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q92_sequence_match")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(got(1L) == ((10L, 3L, 0L, true)), s"u1: ${got(1L)}")
    assert(got(2L) == ((4L, 0L, 1L, false)), s"u2: ${got(2L)}")
    assert(got(3L) == ((2L, 0L, 0L, false)), s"u3: ${got(3L)}")
  }

  test("p07 source cap: kept == min(K, n_docs) per source, masses partition exactly") {
    val rows = SparkEntry.queries("p07_source_cap")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val totalDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == totalDocs, "caps must cover every doc")
    rows.foreach { r =>
      val (n, kept, dropped) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_dropped"))
      assert(kept == math.min(15L, n), s"${r.get(0)}: kept $kept of $n")
      assert(kept + dropped == n, s"${r.get(0)}: kept+dropped != n_docs")
      // kept docs are the longest → per-doc average mass can only drop
      if (dropped > 0)
        assert(r.getAs[Long]("chars_kept") * dropped >= r.getAs[Long]("chars_dropped") * kept,
          s"${r.get(0)}: dropped docs average longer than kept")
    }
  }

  test("d14 13-gram decontamination == in-memory brute force at sf0.001") {
    val rows = SparkEntry.queries("d14_ngram13_decontam")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("train_id") ->
        (r.getAs[Long]("n_dirty_grams"), r.getAs[Long]("n_eval_hits"))).toMap
    // brute force over the raw texts with the same tokenizer (split keeps
    // empty tokens, like Spark's split / DuckDB's string_split)
    val grams: Map[Long, Set[String]] = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map { r =>
        val toks = Option(r.getString(1)).getOrElse("").split(" ", -1)
        r.getLong(0) -> (if (toks.length < 13) Set.empty[String]
                         else toks.sliding(13).map(_.mkString(" ")).toSet)
      }.toMap
    val evalIds = grams.keySet.filter(_ % 5 == 0)
    val expected = grams.collect {
      case (tid, g) if tid % 5 != 0 =>
        val hits = evalIds.filter(eid => g.exists(grams(eid)))
        tid -> (hits.flatMap(eid => g & grams(eid)).size.toLong, hits.size.toLong)
    }.filter(_._2._2 > 0)
    assert(rows == expected, s"spark=$rows brute=$expected")
    assert(rows.nonEmpty, "fixture should contain contaminated docs")
  }

  test("t19 context chunks == scala sliding-window rebuild (offsets, counts, md5s)") {
    val rows = SparkEntry.queries("t19_context_chunks")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("n_tok"), r.getAs[String]("chunk_fp")))
      .toSet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect().flatMap { r =>
        val toks = Option(r.getString(1)).getOrElse("").split(" ", -1)
        val n = toks.length
        val nChunks = if (n <= 32) 1 else (n - 9) / 24 + 1
        (0 until nChunks).map { i =>
          val start = i * 24
          val len = math.min(32, n - start)
          (r.getLong(0), i.toLong, start.toLong, len.toLong,
            md5hex(toks.slice(start, start + len).mkString(" ")))
        }
      }.toSet
    assert(rows == expected)
    // tiling invariant: consecutive chunks overlap by exactly 8 tokens and
    // the final chunk ends at the doc's last token
    rows.groupBy(_._1).foreach { case (doc, cs) =>
      val sorted = cs.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 == a._3 + 24, s"doc $doc stride broken")
        case _         =>
      }
      val last = sorted.last
      val n = sorted.head._4 + sorted.head._3 // only valid for 1-chunk docs
      if (sorted.length == 1) assert(last._3 + last._4 == n)
    }
  }

  test("p08 shard shuffle: exactly-once, binomial-balanced, and actually shuffled") {
    val rows = SparkEntry.queries("p08_shard_shuffle")(spark, sf0001).collect()
    val total = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.length == total, "every doc assigned exactly one (shard, pos)")
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == total)
    val byShard = rows.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet.subsetOf((0L until 16L).toSet))
    // binomial 4-sigma balance bound around n/16 (p=1/16)
    val mean = total / 16.0
    val tol = 4 * math.sqrt(total * (1.0 / 16) * (15.0 / 16))
    byShard.foreach { case (sh, g) =>
      assert(math.abs(g.length - mean) <= tol, s"shard $sh size ${g.length} vs mean $mean")
      // pos is a dense 1..k rank within the shard
      assert(g.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to g.length).toSeq)
    }
    // the permutation must not preserve ingest order: within some shard,
    // read order (pos) and doc_id order disagree somewhere
    val inverted = byShard.values.exists { g =>
      val ids = g.sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("doc_id"))
      ids.zip(ids.tail).exists { case (a, b) => a > b }
    }
    assert(inverted, "shuffle left every shard in doc_id order")
  }

  test("p10 waterfill: small sources keep all, large sources cap, allocations sum to the budget") {
    // the fixture corpus is source-balanced (every source caps), so the
    // UNCAPPED branch needs a skewed corpus: tiny sources under the water
    // level keep everything, the one big source absorbs the residual pool
    val dir = java.nio.file.Files.createTempDirectory("p10spec").toFile.getAbsolutePath
    def doc(id: Long, src: String, n: Int) =
      (id, Seq.fill(n)("tok").mkString(" "), "en", src, n.toLong)
    val docs = Seq(doc(1, "tiny1", 10), doc(2, "tiny2", 20)) ++
      (3L to 6L).map(i => doc(i, "big", 100))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // total = 430, budget = 215; sorted asc: tiny1(10) tiny2(20) big(400);
    // waterfill: tiny1/tiny2 feasible, big capped at 215 - 30 = 185
    val out = SparkEntry.queries("p10_token_budget")(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("alloc")).toMap
    assert(out == Map("tiny1" -> 10L, "tiny2" -> 20L, "big" -> 185L))
    assert(out.values.sum == 215L, "allocations must exhaust the budget exactly")
  }

  test("u08 deletion vectors: per-file conservation, live revenue == direct predicate complement") {
    val res = SparkEntry.queries("u08_deletion_vectors")(spark, sf0001).collect()
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    assert(res.map(r => r.getAs[Long]("n_live") + r.getAs[Long]("n_deleted")).sum == li.count())
    // the positional anti-join must remove exactly the predicate rows:
    // compare against the complement computed directly, no positions at all
    val direct = li.filter(!(col("l_returnflag") === "R" &&
        col("l_shipdate") < expr("TIMESTAMP_NTZ '1996-01-01'")))
      .groupBy(pmod(col("l_orderkey"), lit(16)).cast("int").as("file_id"))
      .agg(graft.operators.Det.dsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .collect().map(r => r.getAs[Int]("file_id") -> r.getAs[Double]("rev")).toMap
    res.foreach { r =>
      assert(r.getAs[Double]("live_revenue") == direct(r.getAs[Int]("file_id")),
        s"file ${r.getAs[Int]("file_id")}")
    }
  }

  test("q98 autocorrelation: linear ramp gives +1, alternating series gives -1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q98spec").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(i: Int) = new java.sql.Timestamp(base.getTime + i * 60000L)
    val ramp = (1 to 20).map(i => (i.toLong, ts(i), 1L, "ramp", i.toDouble))
    val alt = (1 to 20).map(i => (100L + i, ts(i), 1L, "alt", if (i % 2 == 0) 1.0 else -1.0))
    // a ramp STRADDLING midnight: the (day 1 last, day 2 first) pair comes
    // from the segmented lag's boundary stitch, not the intra-day window —
    // n_pairs = 3 proves the stitch emits exactly one pair, corr = 1 proves
    // it pairs the right endpoints
    val xday = Seq(
      (201L, java.sql.Timestamp.valueOf("2024-01-01 23:58:00"), 1L, "xday", 1.0),
      (202L, java.sql.Timestamp.valueOf("2024-01-01 23:59:00"), 1L, "xday", 2.0),
      (203L, java.sql.Timestamp.valueOf("2024-01-02 00:01:00"), 1L, "xday", 3.0),
      (204L, java.sql.Timestamp.valueOf("2024-01-02 00:02:00"), 1L, "xday", 4.0))
    // constant series: zero variance → guarded 0.0, never NaN (DuckDB's
    // 0/0 is NaN while Spark's floor collapses NaN to 0 — the guard keeps
    // both engines on the same literal)
    val flat = (1 to 10).map(i => (300L + i, ts(i), 1L, "flat", 7.5))
    (ramp ++ alt ++ xday ++ flat).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = SparkEntry.queries("q98_autocorrelation")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Double]("corr_lag1")))).toMap
    assert(m("ramp") == ((19L, 1.0)), m.toString)
    assert(m("alt") == ((19L, -1.0)), m.toString)
    assert(m("xday") == ((3L, 1.0)), m.toString)
    assert(m("flat") == ((9L, 0.0)), m.toString)
  }

  test("t22 token entropy: uniform doc saturates norm_entropy, constant doc zeroes it, skew sits between") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t22spec").toString
    Seq((1L, "a b c d"), (2L, "a a a a"), (3L, "a a a b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("t22_token_entropy")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Double]("norm_entropy") == 1.0)
    assert(m(2L).getAs[Long]("entropy_ppm") == 0L)
    assert(m(2L).getAs[Double]("norm_entropy") == 0.0)
    val e3 = m(3L).getAs[Long]("entropy_ppm")
    assert(e3 > 0 && e3 < m(1L).getAs[Long]("entropy_ppm"))
    // hand value: H(3/4, 1/4) = 0.25 ln 4 + 0.75 ln(4/3), integerized ±2ppm
    val h = 0.25 * math.log(4.0) + 0.75 * math.log(4.0 / 3.0)
    assert(math.abs(e3 - math.rint(h * 1e6)) <= 2, s"e3=$e3 expected~${h * 1e6}")
  }

  test("t26 zipf: an exact count~6/r corpus fits slope -1 with r2 1, mirrored integer OLS agrees bit-for-bit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t26spec").toString
    // counts 6,3,2 ARE 6/rank exactly, so ln y = ln 6 - ln rank: slope -1, perfect fit
    Seq((1L, "a a a a a a b b b c c", "en"), (2L, "z", "fr"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("t26_zipf_profile")(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    // independent integer-OLS mirror on the hand corpus
    val counts = Seq(6L, 3L, 2L)
    val x = counts.indices.map(i => math.floor(math.log((i + 1).toDouble) * 1000 + 0.5).toLong)
    val y = counts.map(c => math.floor(math.log(c.toDouble) * 1000 + 0.5).toLong)
    val n = counts.size.toLong
    val (sx, sy) = (x.sum, y.sum)
    val (sxx, syy, sxy) =
      (x.map(v => v * v).sum, y.map(v => v * v).sum, x.zip(y).map { case (a, b) => a * b }.sum)
    val (cov, vx, vy) = (n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy)
    def r4(d: Double) = math.floor(d * 10000 + 0.5) / 10000
    val en = m("en")
    assert(en.getAs[Long]("n_types") == 3L && en.getAs[Long]("n_tokens") == 11L)
    assert(en.getAs[Double]("zipf_slope") == r4(cov.toDouble / vx.toDouble), en.toString)
    assert(en.getAs[Double]("fit_r2") ==
      r4(cov.toDouble * cov.toDouble / (vx.toDouble * vy.toDouble)), en.toString)
    // the planted law is recovered: slope within a grid-rounding hair of -1, fit essentially perfect
    assert(math.abs(en.getAs[Double]("zipf_slope") + 1.0) < 0.002, en.toString)
    assert(en.getAs[Double]("fit_r2") > 0.9999, en.toString)
    // single-type language: zero variance short-circuits, never NaN
    val fr = m("fr")
    assert(fr.getAs[Long]("n_types") == 1L)
    assert(fr.getAs[Double]("zipf_slope") == 0.0 && fr.getAs[Double]("fit_r2") == 0.0)
  }

  test("q103 RFM: hand-traced quartiles on an 8-customer ladder, labels land on the rule grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q103spec").toString
    // customer k: k orders, last on 2024-01-0k, each worth 10.00*k —
    // every axis orders customers identically, so tiles are fully known
    val orders = (1 to 8).flatMap { k =>
      (1 to k).map { i =>
        (k.toLong * 100 + i, k.toLong,
          java.sql.Timestamp.valueOf(f"2024-01-0$k%d 00:00:00"), 10.0 * k)
      }
    }
    orders.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (1 to 8).map(k => (k.toLong, "S"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("q103_rfm_segments")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getString(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.toSeq == Seq(
      (1L, "champions", 2L, 15L, 113000L),
      (2L, "core", 2L, 11L, 61000L),
      (3L, "core", 2L, 7L, 25000L),
      (4L, "lost", 2L, 3L, 5000L)), got.mkString(", "))
  }

  test("p11's quality gate == t04's published score at the 0.7 threshold (coupling is tested, not assumed)") {
    // p11's registry doc claims its gate is 't04's exact composite score';
    // the formula is textually duplicated in both entries (and both
    // oracles), so this asserts the per-source gate counts equal filtering
    // t04's own output — a drift in either copy fails here
    val t04 = SparkEntry.queries("t04_quality_score")(spark, sf0001)
      .select("doc_id", "quality")
    val docs = graft.sources.Tables.documents(spark, sf0001).select("doc_id", "source")
    val expect = t04.join(docs, "doc_id").filter(col("quality") >= 0.7)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("p11_curation_e2e")(spark, sf0001).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_quality")).toMap
    assert(got.keySet.nonEmpty)
    got.foreach { case (src, n) =>
      assert(n == expect.getOrElse(src, 0L), s"source $src: p11 gate $n vs t04 filter ${expect.get(src)}")
    }
  }

  test("q100 A/B lift == in-memory recomputation from the same hash assignment") {
    import graft.functions.HashOps
    val events = graft.sources.Tables.events(spark, sf0001)
      .filter(col("value").isNotNull)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def arm(u: Long): Long = math.floorMod(HashOps.priorityHash(u, 77L), 2L)
    val byType = events.groupBy(_._2)
    val got = SparkEntry.queries("q100_ab_lift")(spark, sf0001).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    byType.foreach { case (et, es) =>
      val (c, t) = es.partition(e => arm(e._1) == 0L)
      val (svc, svt) = (c.map(e => math.floor(e._3 * 1e6 + 0.5).toLong).sum,
        t.map(e => math.floor(e._3 * 1e6 + 0.5).toLong).sum)
      val r = got(et)
      assert(r.getAs[Long]("n_control") == c.length && r.getAs[Long]("n_treat") == t.length, et)
      val lift = (BigDecimal(svt) * c.length - BigDecimal(svc) * t.length).toDouble /
        (BigDecimal(svc) * t.length).toDouble
      assert(r.getAs[Double]("lift") == math.floor(lift * 1e6 + 0.5) / 1e6, et)
    }
  }

  test("q101 trend slope: daily ramp recovers its rate, a one-day series guards to zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q101spec").toString
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00")
    val lin = (0 until 10).map(i => (i.toLong, ts(i), 1L, "lin", 2.5 * i))
    val oneday = (0 until 5).map(i => (100L + i, ts(0), 1L, "oneday", i.toDouble))
    (lin ++ oneday).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = SparkEntry.queries("q101_trend_slope")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("slope_per_day")).toMap
    assert(m("lin") == 2.5, m.toString)
    assert(m("oneday") == 0.0, m.toString)
  }

  test("q102 drift: identical halves score zero, complete separation scores N x 1e6") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q102spec").toString
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // same: both halves hold values {10, 60} — zero drift by symmetry
    val same = Seq(10.0, 60.0).zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, ts(0), 1L, "same", v), (100L + i, ts(10), 1L, "same", v))
    }
    // split: first half all bin 0, second half all bin 2 → chi2 == N
    val split = (0 until 4).map(i => (200L + i, ts(0), 1L, "split", 10.0)) ++
      (0 until 4).map(i => (300L + i, ts(10), 1L, "split", 110.0))
    (same ++ split).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = SparkEntry.queries("q102_drift_detection")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_first"), r.getAs[Long]("n_second"), r.getAs[Long]("chi2_scaled")))).toMap
    assert(m("same") == ((2L, 2L, 0L)), m.toString)
    assert(m("split") == ((4L, 4L, 8000000L)), m.toString)
  }

  test("s12 MIPS: registry top-5 == in-memory brute force, and the norm-augmented cosine preserves it") {
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val e = graft.sources.Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val m2 = e.values.map(v => dot(v, v)).max
    val reg = SparkEntry.queries("s12_mips")(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("neighbor_id")).toSeq }
    for (q <- 0L until 10L) {
      val qv = e(q)
      val brute = e.iterator.filter(_._1 != q)
        .map { case (id, v) => (id, dot(qv, v)) }.toSeq
        .sortBy { case (id, d) => (-d, id) }.take(5).map(_._1)
      assert(reg(q) == brute, s"q=$q")
      // the documented scale path: append sqrt(M^2-|x|^2) to items, 0 to the
      // query — the augmented cosine must induce the same top-5 set
      val aug = e.iterator.filter(_._1 != q)
        .map { case (id, v) =>
          (id, dot(qv, v) / (math.sqrt(dot(qv, qv)) * math.sqrt(m2)))
        }.toSeq
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      assert(aug == brute, s"augmentation broke ranking for q=$q")
    }
  }

  test("p12 classifier features == t04's published features on the integer grid, keep == sign(logit)") {
    // p12's doc claims its feature vector IS the t04 family snapped by
    // integer division onto the 1e6 grid; recompute every feature from the
    // raw text in plain Scala (same whitespace tokenization) and replay
    // the dot product + threshold, so a drift in either the feature
    // extraction or the weight row fails here, not at the oracle gate
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val rows = SparkEntry.queries("p12_quality_classifier")(spark, sf0001).collect()
    assert(rows.length == docs.size)
    var kept = 0
    rows.foreach { r =>
      val (id, fTtr, fShort, fCpt, logit, score, keep) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getLong(6))
      val (text, nChars) = docs(id)
      val tk = text.split(" ", -1)
      assert(fTtr == tk.distinct.length.toLong * 1000000L / tk.length, s"doc $id f_ttr")
      assert(fShort == tk.count(_.length <= 2).toLong * 1000000L / tk.length, s"doc $id f_short")
      assert(fCpt == nChars * 1000000L / tk.length, s"doc $id f_cpt")
      assert(logit == -10000000L + 8L * fTtr - 4L * fShort + fCpt, s"doc $id logit")
      assert(keep == (if (logit >= 0) 1L else 0L), s"doc $id keep != sign(logit)")
      val zf = logit.toDouble / 2000000.0
      val want = math.floor((0.5 + zf / (2.0 * (1.0 + math.abs(zf)))) * 1000000 + 0.5) / 1000000
      assert(score == want, s"doc $id score $score vs $want")
      assert(score > 0.0 && score < 1.0, s"doc $id score out of (0,1)")
      if (keep == 1L) kept += 1
    }
    // the threshold report must be non-degenerate: both classes populated
    assert(kept > 0 && kept < rows.length, s"degenerate classifier: $kept/${rows.length} kept")
  }

  test("t24 BPE merges: greedy left-to-right self-pair collapse, lexicographic tie-break, exhaustion") {
    // Hand-traced fixtures pin the three behaviors the oracle can't isolate:
    // (1) 'aaa' + merge(a,a) must collapse LEFT-to-right to [aa, a] (so
    // round 2 merges (aa, a), never (a, aa)); (2) equal counts break by
    // lexicographic pair order; (3) when the vocabulary exhausts before 5
    // rounds, only the achievable merges emit (no padding rows).
    def run(texts: Seq[String]): Seq[(Long, String, String, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      SparkEntry.queries("t24_bpe_merges")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    }
    assert(run(Seq("aaa aaa ab")) == Seq(
      (1L, "a", "a", 4L),   // two (a,a) pairs per 'aaa', f=2
      (2L, "aa", "a", 2L),  // greedy: 'aaa' -> [aa, a], NOT [a, aa]
      (3L, "a", "b", 1L)))  // then exhaustion: 3 rows, not 5
    assert(run(Seq("xy xz")) == Seq(
      (1L, "x", "y", 1L),   // tie with (x,z) broken lexicographically
      (2L, "x", "z", 1L)))
  }

  test("t25 segmentation is bounded by its floor and ceiling (words <= bpe tokens <= chars)") {
    // every merge strictly reduces symbol count, never below one symbol
    // per word; compression_ppm is the exact integer ratio of the two sums
    val rows = SparkEntry.queries("t25_bpe_segment")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    var merged = 0
    rows.foreach { r =>
      val (w, ch, bpe, ppm) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_char_tokens"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[Long]("compression_ppm"))
      assert(w <= bpe && bpe <= ch, s"doc ${r.getLong(0)}: $w <= $bpe <= $ch violated")
      assert(ppm == bpe * 1000000L / ch, s"doc ${r.getLong(0)}: ppm not the exact ratio")
      if (bpe < ch) merged += 1
    }
    // the trained merges must actually fire on the corpus they were trained on
    assert(merged == rows.length, s"only $merged/${rows.length} docs compressed")
  }

  test("t23 boilerplate strip round-trips every document (strips ALL injected markup, NOTHING else)") {
    // roundtrip == 1 means clean == original text byte-for-byte; a single 0
    // would mean the normalizer either left boilerplate behind or ate real
    // content — the two failure modes an HTML stripper can have
    val rows = SparkEntry.queries("t23_boilerplate_strip")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val bad = rows.filter(_.getAs[Long]("roundtrip") != 1L)
    assert(bad.isEmpty, s"${bad.length} docs failed round-trip: ${bad.take(3).mkString(" | ")}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tags") >= 9L, s"doc ${r.getLong(0)}: wrapper must inject >= 9 tags")
      assert(r.getAs[Long]("n_chars_html") > r.getAs[Long]("n_chars_clean"))
    }
  }

  test("p13 importance weights == sequential DSIR reimplementation; target slice scores higher") {
    // Full independent replay in plain Scala (the s14 discipline): hash every
    // token with the same fnv1a kernel, fold to 64 buckets, build the
    // add-one-smoothed log-ratio model, sum per doc, rank per source with the
    // exact integer 25% boundary — a drift anywhere (hash, smoothing, grid
    // snap, tie-break, boundary) fails here with the first diverging doc
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val occ = docs.flatMap { case (id, lang, src, text) =>
      text.split(" ", -1).map { t =>
        val b = {
          val h = graft.functions.HashOps.fnv1a(t.getBytes("UTF-8"))
          ((h % 64) + 64) % 64
        }
        (id, lang, src, b)
      }
    }
    val nR = occ.length.toLong
    val nT = occ.count(_._2 == "en").toLong
    val lrPpm: Map[Long, Long] = occ.groupBy(_._4).map { case (b, os) =>
      val cR = os.length.toLong
      val cT = os.count(_._2 == "en").toLong
      val ratio = ((cT + 1) * (nR + 64)).toDouble / ((cR + 1) * (nT + 64)).toDouble
      b -> math.floor(math.log(ratio) * 1000000 + 0.5).toLong
    }
    val want = occ.groupBy(o => (o._1, o._3)).map { case ((id, src), os) =>
      (id, src, os.length.toLong, os.map(o => lrPpm(o._4)).sum)
    }.toSeq
    val bySrc = want.groupBy(_._2).flatMap { case (src, ds) =>
      val ranked = ds.sortBy { case (id, _, _, w) => (-w, id) }.zipWithIndex
      val ns = ds.length.toLong
      ranked.map { case ((id, _, nTok, w), i) =>
        id -> ((nTok, w, i + 1L, if (i + 1L <= ns * 25L / 100L) 1L else 0L))
      }
    }
    val rows = SparkEntry.queries("p13_importance_weights")(spark, sf0001).collect()
    assert(rows.length == docs.length)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (nTok, w, rn, keep) = bySrc(id)
      assert(r.getAs[Long]("n_tokens") == nTok, s"doc $id n_tokens")
      assert(r.getAs[Long]("logw_ppm") == w, s"doc $id logw_ppm")
      assert(r.getAs[Long]("rn") == rn, s"doc $id rn")
      assert(r.getAs[Long]("keep") == keep, s"doc $id keep")
    }
    // the model must point the right way: the target slice (en) must average
    // a strictly higher importance weight than the rest — otherwise the
    // selection is noise, not DSIR
    val (en, rest) = want.partition { case (id, _, _, _) => docs.find(_._1 == id).get._2 == "en" }
    assert(en.nonEmpty && rest.nonEmpty)
    val meanEn = en.map(_._4).sum.toDouble / en.length
    val meanRest = rest.map(_._4).sum.toDouble / rest.length
    assert(meanEn > meanRest, s"target slice does not outscore the rest: $meanEn <= $meanRest")
  }

  test("d17 corpus overlap: identical corpora sketch to exactly 1e6, disjoint to exactly 0") {
    // The two analytic endpoints pin the sketch against its own truth
    // column with NO sampling slack: identical gram sets must agree on all
    // 32 permutation minima (J_est == J_exact == 1.0) and disjoint gram
    // sets on none (a cross-corpus minimum collision would need an
    // fnv+avalanche collision on distinct shingles) — so err_ppm must be
    // EXACTLY 0 at both ends, not merely small
    val dir = java.nio.file.Files.createTempDirectory("graft-d17").toString
    val mk = (ids: Range, text: String, lang: String) => ids.map(i => (i.toLong, text, lang))
    (mk(0 to 2, "w1 w2 w3 w4 w5 w6", "aa")
      ++ mk(10 to 12, "w1 w2 w3 w4 w5 w6", "bb")
      ++ mk(20 to 22, "x1 x2 x3 x4 x5 x6", "cc"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("d17_corpus_overlap")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))))
      .toMap
    assert(rows.size == 3)
    // aa-bb identical: 4 shingles each, all common, 32/32 matches, err 0
    assert(rows(("aa", "bb")) == ((4L, 4L, 4L, 1000000L, 32L, 1000000L, 0L)), rows(("aa", "bb")))
    // disjoint pairs: zero overlap on both legs, err 0
    Seq(("aa", "cc"), ("bb", "cc")).foreach { p =>
      assert(rows(p) == ((4L, 4L, 0L, 0L, 0L, 0L, 0L)), s"$p -> ${rows(p)}")
    }
    // and on the real fixture the estimate must sit inside the k=32
    // binomial envelope around its own truth column (~3.5 sigma at J~0.1)
    val real = SparkEntry.queries("d17_corpus_overlap")(spark, sf0001).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getAs[Long]("err_ppm") <= 200000L,
        s"${r.getString(0)}-${r.getString(1)}: err ${r.getAs[Long]("err_ppm")} outside the sketch envelope")
    }
  }

  test("u10 WAP gate: every planted violation caught by exactly its own audit, publish blocked") {
    // the fixture batch is naturally clean (verified: zero natural dups /
    // orphans / nulls / negatives among the 97-step keys), so each audit
    // must report EXACTLY its one planted violation — more means a false
    // positive, fewer means the audit would wave a bad commit through
    val rows = SparkEntry.queries("u10_wap_audit")(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.size == 6, s"expected 5 audits + publish, got ${rows.keys}")
    Seq("pk_duplicates", "fk_orphans", "null_orderdate", "negative_price").foreach { c =>
      assert(rows(c) == ((1L, 0L)), s"$c: ${rows(c)} != (1 violation, failed)")
    }
    assert(rows("size_bound") == ((0L, 1L)), s"size_bound: ${rows("size_bound")}")
    val expectedTotal = rows.filterKeys(_ != "publish").values.map(_._1).sum
    assert(rows("publish") == ((expectedTotal, 0L)),
      s"publish row ${rows("publish")} != fold ($expectedTotal, blocked)")
  }

  test("q104 KM curve == sequential product-limit reimplementation; survival monotone, censoring honored") {
    // Recompute the whole estimator in plain Scala from the raw events:
    // per-user (birth, last, first-error), the 5-day follow-up, the
    // deaths-before-censorings at-risk sets, the clamped log grid, the
    // cohort-ordered running sum — any drift in censoring, step selection,
    // or the at-risk convention fails on the first diverging row
    val ev = graft.sources.Tables.events(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("ts").isNotNull)
      .selectExpr("user_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS d")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1).map { case (uid, es) =>
      val birth = es.map(_._3).min
      val last = es.map(_._3).max
      val ferr = es.filter(_._2 == "error").map(_._3).sorted.headOption
      val fup = math.min(last - birth, 5L)
      val isEvent = ferr.exists(f => f - birth <= fup)
      (uid, birth, if (isEvent) ferr.get - birth else fup, if (isEvent) 1L else 0L)
    }.toSeq
    val want = byUser.groupBy(_._2).toSeq.flatMap { case (cd, members) =>
      val steps = members.filter(_._4 == 1L).map(_._3).distinct.sorted
      var cum = 0L
      steps.map { t =>
        val atRisk = members.count(_._3 >= t).toLong
        val deaths = members.count(m => m._4 == 1L && m._3 == t).toLong
        val li = if (deaths == atRisk) -13815511L
          else math.floor(math.log((atRisk - deaths).toDouble / atRisk) * 1000000 + 0.5).toLong
        cum += li
        (cd, t, atRisk, deaths, deaths * 1000000L / atRisk, cum)
      }
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("q104_survival_km")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == want, s"got=${got.take(5)}...\nwant=${want.take(5)}...")
    assert(got.nonEmpty, "KM table empty: no failure events inside the follow-up window")
    // product-limit invariants the estimator must satisfy on ANY input
    got.groupBy(_._1).values.foreach { curve =>
      val c = curve.sortBy(_._2)
      c.sliding(2).foreach {
        case Seq((_, t1, r1, _, _, s1), (_, t2, r2, _, _, s2)) =>
          assert(r2 < r1, s"at-risk not strictly decreasing at t=$t2")
          assert(s2 < s1, s"log-survival not strictly decreasing at t=$t2")
          assert(t2 > t1)
        case _ =>
      }
      c.foreach { case (_, t, r, d, h, _) =>
        assert(d >= 1 && d <= r, s"t=$t deaths=$d outside [1, at_risk=$r]")
        assert(h == d * 1000000L / r, s"t=$t hazard not the exact ratio")
      }
    }
  }

  test("t27 FK readability: hand-traced syllable runs, vowel-less floor, 8-token sentences, band cuts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t27spec").toString
    Seq(
      (1L, "the cat sat"),               // 3 words, 1 run each: fk = 117 + 1180 - 1559
      (2L, "zz bcd"),                    // zero vowel runs; +1-per-word floor supplies both syllables
      (3L, "banana banana banana"),      // 3 runs per word: y/w = 3 pushes into 'hard'
      (4L, Seq.fill(17)("ox").mkString(" "))) // 17 words => 3 fixed 8-token sentences
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("t27_readability")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(m(1L) == ((3L, 1L, 3L, 117L + 1180L - 1559L, "easy")), m(1L).toString)
    assert(m(2L) == ((2L, 1L, 2L, 78L + 1180L - 1559L, "easy")), m(2L).toString)
    assert(m(3L) == ((3L, 1L, 9L, 117L + 3540L - 1559L, "hard")), m(3L).toString)
    // 17 one-syllable words: s = 1 + 16 div 8 = 3; 39*17 div 3 = 221
    assert(m(4L) == ((17L, 3L, 17L, 221L + 1180L - 1559L, "easy")), m(4L).toString)
  }

  test("q105 assoc rules: hand-traced 5-basket corpus — support/confidence/lift exact, dup line distinct'd") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q105spec").toString
    // baskets: o1{A,B} o2{A,B} o3{A,C} o4{B} o5{C}; (o1,A) duplicated to
    // prove the DISTINCT basket build ignores line-level multiplicity
    Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L), (4L, 2L), (5L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "A"), (2L, "B"), (3L, "C"))
      .toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q105_assoc_rules")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    // N=5, n_A=3 n_B=3 n_C=2; pairs (A,B)=2 (A,C)=1; every support >= 2%
    assert(got.toSeq == Seq(
      ("A", "B", 2L, 3L, 3L, 400000L, 666666L, 1111111L),
      ("A", "C", 1L, 3L, 2L, 200000L, 333333L, 833333L),
      ("B", "A", 2L, 3L, 3L, 400000L, 666666L, 1111111L),
      ("C", "A", 1L, 2L, 3L, 200000L, 500000L, 833333L)), got.mkString(", "))
  }

  test("u11 snapshot expiry: plan equals an independent month-arithmetic mirror; retained window untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("u11spec").toString
    // month i of 2024 holds i orders with keys i*100+1..i*100+i
    val orders = (1 to 10).flatMap { i =>
      (1 to i).map(j =>
        (i.toLong * 100 + j, java.sql.Timestamp.valueOf(f"2024-$i%02d-15 00:00:00")))
    }
    orders.toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("u11_snapshot_expiry")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent mirror from first principles
    val maxYm = 2024L * 12 + 10
    val expected = (1 to 10).map { i =>
      val ym = 2024L * 12 + i
      val files = (1 to i).map(j => (i.toLong * 100 + j) % 4).groupBy(identity)
        .map { case (k, rows) => (ym * 4 + k, rows.size.toLong) }.toSeq
      val del = files.filter { case (fid, _) => ym + 2 + fid % 3 <= maxYm - 5 }
      (ym, files.size.toLong, i.toLong, del.size.toLong, del.map(_._2).sum)
    }.filter(_._1 <= maxYm - 5)
    assert(got.toSeq == expected, s"got ${got.mkString(", ")}\nexp ${expected.mkString(", ")}")
    // retained trailing 5 months never appear in the expiry plan
    assert(got.forall(_._1 <= maxYm - 5))
  }

  test("m08 VAD: hand-traced frame energies — silence bracket trims, all-silent doc, non-audio excluded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m08spec").toString
    // 'm' (109): dev -19 → 361/byte → 32-byte frame = 11552 (silent);
    // ' ' (32): dev -96 → 9216/byte → 32-byte frame = 294912 (active)
    Seq(
      (4L, "m" * 32 + " " * 32 + "m" * 32, "en", "s"), // silent|active|silent
      (7L, "mmmm", "en", "s"),                         // one short all-silent frame
      (3L, " " * 64, "en", "s"))                       // doc_id % 3 == 0: not audio
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("m08_audio_vad")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))).toMap
    assert(got.keySet == Set(4L, 7L), got.keySet.toString)
    assert(got(4L) == ((3L, 2L, 1L, 1L, 1L, 11552L + 294912L + 11552L)), got(4L).toString)
    assert(got(7L) == ((1L, 1L, 1L, 1L, 0L, 4L * 361L)), got(7L).toString)
  }

  test("q106 attribution: 3-touch journey splits 40/20/40, solo takes all, post-purchase touch unattributed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q106spec").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:0$m%d:00")
    Seq(
      (1L, t(1), 10L, "view"), (2L, t(2), 10L, "click"), (3L, t(3), 10L, "view"),
      (4L, t(4), 10L, "purchase"), (5L, t(5), 10L, "click"), // after last purchase: dropped
      (6L, t(1), 20L, "click"), (7L, t(2), 20L, "purchase"),
      (8L, t(1), 30L, "purchase"), // zero-touch conversion: contributes nothing
      (9L, t(1), 40L, "error"))    // non-journey type: filtered out entirely
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q106_multitouch_attribution")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("click", "middle", 1L, 200000L),
      ("click", "solo", 1L, 1000000L),
      ("view", "first", 1L, 400000L),
      ("view", "last", 1L, 400000L)), got.mkString(", "))
  }

  test("u12 skipping report == independent mirror over a 2-keys-per-file manifest; waste appears at ragged edges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("u12spec").toString
    val keys = (0L until 32L)
    keys.map(k => Tuple1(k)).toDF("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("u12_skipping_report")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    // mirror from first principles: m=32, file f holds keys {2f, 2f+1}
    val m = 32L
    val expected = (0L until 4L).map { i =>
      val lo = i * m / 6
      val hi = lo + m / (2 * (i + 1))
      val files = keys.groupBy(k => k * 16 / m).map { case (f, ks) =>
        (ks.min, ks.max, ks.size.toLong)
      }.toSeq
      val kept = files.filterNot { case (mn, mx, _) => mx < lo || mn > hi }
      val scanned = kept.map(_._3).sum
      val matched = keys.count(k => k >= lo && k <= hi).toLong
      (i, lo, hi, files.size.toLong, (files.size - kept.size).toLong, scanned, matched,
        (files.size - kept.size).toLong * 1000000L / files.size,
        (scanned - matched) * 1000000L / math.max(scanned, 1L))
    }
    assert(got == expected, s"got ${got.mkString(", ")}\nexp ${expected.mkString(", ")}")
    // the ragged pred-0 edge must show nonzero waste (file 8 half-matches)
    assert(got.exists(_._9 > 0), "expected at least one pred with scan waste")
  }

  test("q107 BOM rollup: hand-traced digit-chain subtrees; leaves filtered; exact price sums") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q107spec").toString
    // chains: 105→10→1, 11→1, 25→2; internal nodes are 1 {1,10,11,105},
    // 10 {10,105}, 2 {2,25}; 11/25/105 are leaves (n_desc=1, filtered)
    Seq((1L, 10.0), (10L, 1.0), (11L, 2.0), (105L, 5.0), (2L, 7.0), (25L, 3.0))
      .toDF("p_partkey", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q107_bom_rollup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 4L, 18.0),
      (2L, 1L, 2L, 10.0),
      (10L, 2L, 2L, 6.0)), got.mkString(", "))
  }

  test("t29 PMI: planted perfect collocation scores ln(20/9) on the grid; sub-support pair filtered") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t29spec").toString
    // "x y" x5: c_xy=5 (kept), c_yx=4 (below support 5); N_u=10, c_x=c_y=5,
    // N_b=9 -> PMI(x,y) = ln(5*10*10 / (9*5*5)) = ln(500/225)
    Seq((1L, "x y x y x y x y x y"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t29_pmi_collocations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val pmi = math.floor(math.log(500.0 / 225.0) * 1000000 + 0.5).toLong
    assert(got == Seq(("x", "y", 5L, pmi)), s"got ${got.mkString(", ")} want pmi=$pmi")
  }

  test("m09 header parse: hand-traced byte fields; truncated payload reports well_formed=0, never throws") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m09spec").toString
    // "IMAB" + width bytes ('A'=65,'B'=66) ... header: I,M | A(65)%4=1 |
    // B(66)%16=2 | C,D -> 65*256+... hand-trace with explicit chars
    Seq(
      (1L, "IMABCDEFxyz", "en", "s"), // I M | A%4 | B%16 | CD | EF | payload "xyz"
      (2L, "shrt", "en", "s"))        // 4 bytes < header: malformed
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("m09_header_parse")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    assert(got(1L) == (("IM", 65L % 4, 66L % 16, 67L * 256 + 68, 69L * 256 + 70, 3L, 1L)),
      got(1L).toString)
    assert(got(2L) == (("", 0L, 0L, 0L, 0L, 0L, 0L)), got(2L).toString)
  }

  test("q108 growth: calendar gap yields NULL (not lag's skip-a-month); MoM/YoY hand-traced") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q108spec").toString
    def o(id: Long, ym: String, price: Double) =
      (id, "A", java.sql.Timestamp.valueOf(s"$ym-15 00:00:00"), price)
    Seq(o(1, "2024-01", 100.0), o(2, "2024-02", 150.0), // Feb MoM = +0.5
      o(3, "2024-04", 75.0),                            // Mar missing: Apr MoM NULL
      o(4, "2025-02", 300.0))                           // YoY vs 2024-02 = +1.0
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q108_growth_periods")(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    def ym(y: Int, m: Int) = y.toLong * 12 + m
    assert(got(ym(2024, 1)) == ((10000L, None, None)), got(ym(2024, 1)).toString)
    assert(got(ym(2024, 2)) == ((15000L, Some(0.5), None)), got(ym(2024, 2)).toString)
    // April: month-over-month must be NULL — March does not exist; a lag()
    // formulation would have compared against February and reported -0.5
    assert(got(ym(2024, 4)) == ((7500L, None, None)), got(ym(2024, 4)).toString)
    assert(got(ym(2025, 2)) == ((30000L, None, Some(1.0))), got(ym(2025, 2)).toString)
  }

  test("q109 ABC: hand-traced class boundaries sit EXACTLY on 70/90; ties break on partkey") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q109spec").toString
    // brand X, parts with revenues 70,20,10 (cents 7000/2000/1000 of 10000):
    // cum shares 70/90/100 — both boundary parts classify by <=, so A and B
    // each close exactly ON their threshold; zero-discount keeps cents exact
    Seq((1L, 70.0), (2L, 20.0), (3L, 10.0))
      .flatMap { case (pk, rev) => Seq((10L * pk, pk, rev, 0.0)) }
      .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "X"), (2L, "X"), (3L, "X")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q109_abc_analysis")(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("A", 1L, 7000L, 700000L), ("B", 1L, 2000L, 200000L),
      ("C", 1L, 1000L, 100000L)), got.mkString(", "))
  }

  test("p14 calibration: bins partition the corpus, positives == t04's published gate, predictions monotone") {
    val bins = SparkEntry.queries("p14_calibration_audit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val t04 = SparkEntry.queries("t04_quality_score")(spark, sf0001).collect()
    // partition: every doc lands in exactly one bin
    assert(bins.map(_._2).sum == t04.length.toLong, s"${bins.map(_._2).sum} != ${t04.length}")
    // the label column IS t04's published 0.7 gate (coupling tested, not assumed)
    val gate = t04.count(_.getAs[Double]("quality") >= 0.7).toLong
    assert(bins.map(_._3).sum == gate, s"positives ${bins.map(_._3).sum} != t04 gate $gate")
    // fast-sigmoid is monotone in the logit, so bin-mean predictions must be
    bins.map(b => (b._1, b._4)).sortBy(_._1).sliding(2).foreach {
      case Array((b0, p0), (b1, p1)) =>
        assert(p0 <= p1, s"avg_pred not monotone: bin $b0=$p0 > bin $b1=$p1")
      case _ =>
    }
    bins.foreach { b =>
      assert(b._4 >= 0 && b._4 <= 1000000 && b._5 >= 0 && b._5 <= 1000000, b.toString)
    }
  }

  test("q110 PSI: planted full-separation drift flags, identical halves read ~0; exact mirror agrees") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q110spec").toString
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-0${h + 1}%d 00:00:00")
    // type m: first half all in bin 0 (value 10), second half all in bin 11
    // (value 600) — full separation; type s: both halves identical (bin 2)
    val rows = (1 to 20).map(i => (i.toLong, t(0), 1L, "m", 10.0)) ++
      (21 to 40).map(i => (i.toLong, t(1), 1L, "m", 600.0)) ++
      (41 to 60).map(i => (i.toLong, t(0), 1L, "s", 120.0)) ++
      (61 to 80).map(i => (i.toLong, t(1), 1L, "s", 120.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q110_psi_drift")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // exact mirror of the integer formula for the planted m-series
    def psi(c1s: Seq[Long], c2s: Seq[Long]): Long = {
      val (n1, n2) = (c1s.sum, c2s.sum)
      c1s.zip(c2s).map { case (c1, c2) =>
        val p = (c1 + 1) * 1000000L / (n1 + 12)
        val q = (c2 + 1) * 1000000L / (n2 + 12)
        val lr = math.floor(math.log(((c1 + 1) * (n2 + 12)).toDouble
          / ((c2 + 1) * (n1 + 12)).toDouble) * 1000000 + 0.5).toLong
        (p - q) * lr
      }.sum
    }
    val mBins1 = 20L +: Seq.fill(11)(0L)
    val mBins2 = Seq.fill(11)(0L) :+ 20L
    assert(got("m") == ((20L, 20L, psi(mBins1, mBins2), 1L)), got("m").toString)
    val sBins = Seq(0L, 0L, 20L) ++ Seq.fill(9)(0L)
    assert(got("s") == ((20L, 20L, psi(sBins, sBins), 0L)), got("s").toString)
    assert(got("s")._3 == 0L, "identical halves must read exactly 0 PSI")
  }

  test("u13 round-trip: applying the generated changelog to OLD reproduces NEW row-for-row") {
    import org.apache.spark.sql.functions._
    val orders = graft.sources.Tables.orders(spark, sf0001)
    // the same snapshot derivations u05/u13 pin (duplicated here on purpose
    // — this spec is what makes the textual coupling load-bearing)
    def snap(dropMod: Int, bump: Boolean) = orders
      .filter(col("o_orderkey") % 10 =!= dropMod)
      .select(col("o_orderkey").cast("long").as("k"),
        (if (bump) when(col("o_orderkey") % 10 === 1, col("o_totalprice") + 100.00)
          .otherwise(col("o_totalprice")) else col("o_totalprice")).as("v"))
    val old = snap(3, bump = false).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val neu = snap(7, bump = true).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val log = SparkEntry.queries("u13_cdc_generate")(spark, sf0001).collect()
      .map(r => (r.getLong(1), r.getString(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // apply: delete D keys, upsert I/U values, keep untouched OLD rows
    val touched = log.map(_._1).toSet
    val applied = old.filterNot { case (k, _) => touched(k) } ++
      log.collect { case (k, op, Some(v)) if op != "D" => k -> v }
    assert(applied == neu,
      s"round-trip failed: ${applied.size} vs ${neu.size} rows; " +
        s"diff keys ${(applied.keySet diff neu.keySet) ++ (neu.keySet diff applied.keySet)}")
    // op provenance: every I key absent from OLD, every D key absent from NEW
    log.foreach {
      case (k, "I", _) => assert(!old.contains(k), s"I key $k existed in OLD")
      case (k, "D", _) => assert(!neu.contains(k), s"D key $k survives in NEW")
      case (k, "U", Some(v)) => assert(old.contains(k) && neu(k) == v && old(k) != v, s"bad U $k")
      case other => fail(s"malformed log row $other")
    }
  }

  test("a12 moments: symmetric group reads skew exactly 0; {1,1,4} reads sqrt(2)/2; both kurtoses exactly -1.5") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a12spec").toString
    // hand integers: {1,2,3} -> A3 = 0 (symmetric), A2 = 6, A4 = 54 ->
    // kurt = 54/36 - 3 = -1.5 exactly; {1,1,4} -> A2 = 18, A3 = 54 ->
    // skew = 54/(18*sqrt(18)) = 1/sqrt(2), A4 = 486 -> kurt = -1.5
    Seq(("S", 1.0), ("S", 2.0), ("S", 3.0), ("K", 1.0), ("K", 1.0), ("K", 4.0))
      .toDF("l_returnflag", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("a12_higher_moments")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val sk = math.floor(54.0 / (18.0 * math.sqrt(18.0)) * 1000000 + 0.5) / 1000000
    assert(got == Seq(("K", 3L, sk, -1.5), ("S", 3L, 0.0, -1.5)), got.mkString(", "))
  }

  test("q111 dow: known calendar dates land on the right engine-independent day-of-week") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q111spec").toString
    // 2024-01-01 is a MONDAY; under the (epoch_days + 4) % 7 anchor
    // (day 0 = Thursday 1970-01-01 -> 4, so Sunday = 0) Monday reads 1.
    // 3 clicks on Monday, 4 on Tuesday (2024-01-02), nothing else.
    val rows = Seq.fill(3)("2024-01-01 10:00:00") ++ Seq.fill(4)("2024-01-02 09:30:00")
    rows.zipWithIndex.map { case (t, i) => (i.toLong, java.sql.Timestamp.valueOf(t), "click") }
      .toDF("event_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q111_dow_seasonality")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // full 7-day grid, zero-filled; index = n*7e6 div 7 = n*1e6 here
    assert(got == Seq((0L, 0L, 0L), (1L, 3L, 3000000L), (2L, 4L, 4000000L),
      (3L, 0L, 0L), (4L, 0L, 0L), (5L, 0L, 0L), (6L, 0L, 0L)), got.mkString(", "))
  }

  test("a13 Gini: equal revenues read exactly 0; the 1-vs-99 pair reads exactly 0.49") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a13spec").toString
    // region 0: custs 1 (one 0.01 order) and 2 (one 0.99 order):
    // n=2, s=100, si = 1*1 + 2*99 = 199 -> (2*199 - 3*100)*1e6 // (2*100)
    // = 98e6 // 200 = 490000. region 1: three equal customers -> 0.
    Seq((1L, 0.01), (2L, 0.99), (3L, 2.0), (4L, 2.0), (5L, 2.0))
      .toDF("o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L), (5L, 20L))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 0L), (20L, 1L)).toDF("n_nationkey", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val got = SparkEntry.queries("a13_gini")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((0L, 2L, 100L, 490000L), (1L, 3L, 600L, 0L)), got.mkString(", "))
  }

  test("g12 edge Jaccard: fully co-bought pair reads 1e6 ppm, support-1 pairs vanish") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g12spec").toString
    // orders: o1 {p1,p2,p3}, o2 {p1,p2}, o3 {p1,p2} -> (p1,p2) support 3,
    // degrees 3/3 -> jaccard 3/(3+3-3) = 1e6; (p1,p3)/(p2,p3) support 1 drop
    Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 101L), (2L, 102L),
      (3L, 101L), (3L, 102L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("g12_edge_jaccard")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq((101L, 102L, 3L, 3L, 3L, 1000000L)), got.mkString(", "))
  }

  test("g12 edge Jaccard: a 5-item flood basket counts in pairs AND degrees") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g12floodspec").toString
    // three tight 2-item orders {p1,p2} plus one 5-item flood order
    // {p1..p5}: the flood raises (p1,p2) to support 4 and degrees 4/4,
    // and its support-1 pairs drop
    val flood = (101L to 105L).map(p => (9L, p))
    (Seq((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L), (3L, 101L), (3L, 102L)) ++ flood)
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.operators.GraphQueries.edgeJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq((101L, 102L, 4L, 4L, 4L, 1000000L)), got.mkString(", "))
  }

  test("t30 Gopher rules: each planted violation trips exactly its own flag") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t30spec").toString
    val clean = (1 to 60).map(i => f"tok$i%02d").mkString(" ")      // 60 distinct 5-char tokens
    val repet = Seq.fill(30)("x y").mkString(" ")                    // 60 tokens, 2 types
    val short = (1 to 10).map(i => f"tok$i%02d").mkString(" ")      // 10 tokens
    Seq((0L, clean), (1L, repet), (2L, short)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t30_gopher_rules")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("pass_len"), r.getAs[Long]("pass_wordlen"),
        r.getAs[Long]("pass_rep"), r.getAs[Long]("keep"))).toMap
    assert(got(0L) == ((1L, 1L, 1L, 1L)), s"clean doc: ${got(0L)}")
    // 59 bigrams, 2 distinct -> dup2 = 57/59 = 966101 ppm > 0.20; and the
    // 1-char tokens fail the mean-word-length floor
    assert(got(1L) == ((1L, 0L, 0L, 0L)), s"repetitive doc: ${got(1L)}")
    assert(got(2L) == ((0L, 1L, 1L, 0L)), s"short doc: ${got(2L)}")
  }

  test("t31 keyword tf-idf: the rare term wins its doc with the exact ln-grid score") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t31spec").toString
    Seq((0L, "rare rare the"), (1L, "the xx"), (2L, "the yy"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t31_keyword_tfidf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(5)))
    val ln3 = math.floor(math.log(3.0) * 1000000 + 0.5).toLong // 1098612
    // doc0 rank1 = 'rare' (tf=2, df=1): score 2*ln3; 'the' (df=3) scores 0
    assert(rows.contains((0L, 1L, "rare", 2 * ln3)), rows.mkString(", "))
    assert(rows.contains((1L, 1L, "xx", ln3)), rows.mkString(", "))
    // every doc contains 'the' with score exactly 0 (idf of an everywhere-term)
    assert(rows.filter(_._3 == "the").forall(_._4 == 0L), rows.mkString(", "))
  }

  test("t32 BM25: hand-traced saturation and length-normalization terms") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t32spec").toString
    // d0 = "a a a a b" (dl=5), d1 = "a" + 14x"b" (dl=15); N=2, tt=20,
    // avgdl=10, df(a)=df(b)=2 so both terms share one idf:
    //   idf_ppm = floor(ln((2N+2)/(2df+1)) * 1e6 + 0.5) = floor(ln(6/5)e6+.5)
    // sat_ppm = 22*tf*tt*1e6 // (10*tf*tt + 3*tt + 9*dl*N), hand-traced:
    //   d0 tf=4: 1760e6 // (800+60+90=950)   = 1852631
    //   d0 tf=1:  440e6 // (200+60+90=350)   = 1257142
    //   d1 tf=14: 6160e6 // (2800+60+270=3130) = 1968051
    //   d1 tf=1:  440e6 // (200+60+270=530)  =  830188
    Seq((0L, "a a a a b"), (1L, ("a" +: Seq.fill(14)("b")).mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val idf = math.floor(math.log(6.0 / 5.0) * 1000000 + 0.5).toLong // 182322
    val got = SparkEntry.queries("t32_bm25_scores")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(got == Seq(
      (0L, 1L, "a", 4L, 2L, 5L, idf, 1852631L, idf * 1852631L),
      (0L, 2L, "b", 1L, 2L, 5L, idf, 1257142L, idf * 1257142L),
      (1L, 1L, "b", 14L, 2L, 15L, idf, 1968051L, idf * 1968051L),
      (1L, 2L, "a", 1L, 2L, 15L, idf, 830188L, idf * 830188L)), got.mkString(", "))
    // SATURATION: tf 4x (1 -> 4 in d0) lifts sat only ~1.47x, and even
    // tf=14 stays under the k1+1 = 2.2e6 ppm asymptote
    assert(1852631.0 / 1257142.0 < 1.5 && 1968051L < 2200000L)
    // LENGTH NORMALIZATION: the SAME term at the SAME tf=1 scores strictly
    // higher in the short doc (dl=5) than the long one (dl=15)
    assert(1257142L > 830188L)
  }

  test("q115 reconciliation: hand-traced over/under/orphan buckets on the cents grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q115spec").toString
    // o1: total 10.00 vs lines 5.00 + 4.99 -> delta +1 cent = reconciled
    // o2: total 20.00 vs 10*0.9*1.1 = 9.90 -> delta +1010 = over
    // o3: total  5.00, NO lines -> orphan (delta 500 must not hit n_over)
    // o4: total  3.00 vs 4.00 -> delta -100 = under
    Seq((1L, "1-URGENT", 10.00), (2L, "1-URGENT", 20.00),
      (3L, "2-HIGH", 5.00), (4L, "2-HIGH", 3.00))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 5.00, 0.0, 0.0), (1L, 4.99, 0.0, 0.0),
      (2L, 10.00, 0.1, 0.1), (4L, 4.00, 0.0, 0.0))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q115_invoice_reconciliation")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == Seq(
      ("1-URGENT", 2L, 0L, 1L, 1L, 0L, 1011L, 1010L),
      ("2-HIGH", 2L, 1L, 0L, 0L, 1L, 400L, 500L)), got.mkString(", "))
  }

  test("s21 Matryoshka audit: truncation provably flips the top-1 for the planted query") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("s21spec").toString
    // 64-dim, prefix = first 16. q(0): even-slot prefix + all-ones suffix.
    // A(1): odd-slot prefix (orthogonal to q's) + q's suffix -> full-dim
    // best (cos 48/56) but trunc cos 0. B(2): q's exact prefix + a
    // zero-dot suffix -> trunc cos 1.0 but full cos only 8/56. So q's
    // full top-1 (A) falls to trunc rank 2: the flip the audit measures.
    def vec(prefix: Int => Float, suffix: Int => Float): Array[Float] =
      Array.tabulate(64)(j => if (j < 16) prefix(j) else suffix(j))
    val q = vec(j => if (j % 2 == 0) 1f else 0f, _ => 1f)
    val a = vec(j => if (j % 2 == 1) 1f else 0f, _ => 1f)
    val b = vec(j => if (j % 2 == 0) 1f else 0f, j => if (j % 2 == 0) 1f else -1f)
    Seq((0L, q), (1L, a), (2L, b)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("s21_matryoshka_audit")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // q0: overlap 2 (K exceeds the 2-neighbor corpus), top1 FLIPS (A full
    // #1 -> trunc #2); q1/q2: exact-zero trunc ties break on neighbor_id
    assert(got == Seq((0L, 2L, 0L, 2L), (1L, 2L, 1L, 1L), (2L, 2L, 1L, 1L)),
      got.mkString(", "))
  }

  test("p17 epoch plan: the 4-epoch cap bites the low-resource source, deficit surfaces") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p17spec").toString
    // big: 90 tokens, small: 10 -> tn=100, B=200
    // w_big = floor(sqrt(90)e6+.5) = 9486833, w_small = 3162278, tw = 12649111
    // desired_big  = 200*9486833  // tw = 149 (tw*150 = 1897366650 > 1897366600)
    // desired_small= 200*3162278 // tw = 50; cap: min(50, 4*10=40) -> 40,
    // epochs 400 (the cap), deficit 10 — the unfillable share the planner
    // must REPORT, not silently redistribute
    Seq((0L, (1 to 90).map(i => s"w$i").mkString(" "), "big"),
      (1L, (1 to 10).map(i => s"v$i").mkString(" "), "small"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p17_epoch_plan")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("big", 90L, 9486833L, 149L, 149L, 165L, 0L),
      ("small", 10L, 3162278L, 50L, 40L, 400L, 10L)), got.mkString(", "))
  }

  test("m11 token budget: hand-traced patch/frame/stride token equivalents per modality") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m11spec").toString
    // doc0 image: header w=1*256+44=300, h=1*256+94=350; fit: m=350>224 ->
    //   sw=300*224 div 350=192, sh=224; grid 14x12 -> 168 patch tokens
    // doc1 audio: 33 bytes -> (32 div 32)+1 = 2 frames
    // doc2 video: 129 bytes -> ((128 div 64) div 2)+1 = 2 sampled frames
    // doc3 image: 2 bytes, truncated header -> 0 tokens, not tokenizable
    // totals: 172 tokens; image share 168e6//172=976744, a/v 2e6//172=11627
    val img = "MG" + 3.toChar + 7.toChar + 1.toChar + 44.toChar + 1.toChar + 94.toChar
    Seq((0L, img), (1L, "x" * 33), (2L, "y" * 129), (3L, "ab"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("m11_token_budget")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got == Seq(
      ("audio", 1L, 1L, 33L, 2L, 11627L),
      ("image", 2L, 1L, 10L, 168L, 976744L),
      ("video", 1L, 1L, 129L, 2L, 11627L)), got.mkString(", "))
  }

  test("t33 token yield: cross-source duplicates drain the copying source's budget") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t33spec").toString
    // crawlA: two originals (3 + 5 tokens). crawlB: a copy of A's 5-token
    // doc (higher doc_id -> dropped) plus one 7-token original -> yield
    // 7e6 // 12 = 583333 ppm; A keeps everything (its ids are lower).
    Seq((0L, "a b c", "crawlA"), (1L, "d e f g h", "crawlA"),
      (2L, "d e f g h", "crawlB"), (3L, "i j k l m n o", "crawlB"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t33_token_yield")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got == Seq(
      ("crawlA", 2L, 8L, 2L, 8L, 1000000L),
      ("crawlB", 2L, 12L, 1L, 7L, 583333L)), got.mkString(", "))
  }

  test("a15 two-sample KS: hand-traced max ECDF gap on the cross-multiplied grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a15spec").toString
    // R quantities {1,1,3} (n1=3), N {2,3,3,3} (n2=4), one A row ignored.
    // F1*n2 vs F2*n1 over {1,2,3}: gaps |8-0|=8, |8-3|=5, |12-12|=0 ->
    // D at v=1, ks_ppm = 8e6 // 12 = 666666
    Seq((1.0, "R"), (1.0, "R"), (3.0, "R"),
      (2.0, "N"), (3.0, "N"), (3.0, "N"), (3.0, "N"), (9.0, "A"))
      .toDF("l_quantity", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("a15_ks_two_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((3L, 4L, 1L, 666666L)), got.mkString(", "))
    // a17 on the SAME fixture: #{x<y} = c1(1)*(c2(2)+c2(3)) = 2*4 = 8,
    // ties at q=3: 1*3 = 3 -> U2 = 19, auc = 19e6//24 = 791666,
    // ties_ppm = 3e6//12 = 250000
    val auc = SparkEntry.queries("a17_mannwhitney_auc")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(auc == Seq((3L, 4L, 791666L, 250000L)), auc.mkString(", "))
  }

  test("q118 HHI: duopoly vs monopoly hand-trace on the cents grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q118spec").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // R1 2020: s1 300c, s2 100c -> hhi (9e4+1e4)e6 // 16e4 = 625000, top 750000
    // R2 2020: monopoly 500c -> hhi = top = 1e6
    Seq((1L, ts("2020-05-01"), 3.00, 0.0), (2L, ts("2020-06-01"), 1.00, 0.0),
      (3L, ts("2020-07-01"), 5.00, 0.0))
      .toDF("l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((10L, 100L), (20L, 200L)).toDF("n_nationkey", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((100L, "R1"), (200L, "R2")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val got = SparkEntry.queries("q118_hhi_concentration")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got == Seq(
      ("R1", 2020L, 2L, 400L, 625000L, 750000L),
      ("R2", 2020L, 1L, 500L, 1000000L, 1000000L)), got.mkString(", "))
  }

  test("g14 Adamic-Adar: the rare middle outweighs the hub on the ln grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g14spec").toString
    // co-purchase edges (each needs 2 shared orders): hub 1 - {10,11,12},
    // rare middle 2 - {10,11}. Non-adjacent pairs with common >= 2:
    // (1,2) via middles {10,11} (both deg 2) and (10,11) via {1 (deg 3),
    // 2 (deg 2)} — the deg-2 middle contributes MORE than the deg-3 hub.
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L))
    val rows = edges.zipWithIndex.flatMap { case ((p, q), i) =>
      Seq((101L + i * 2, p), (101L + i * 2, q), (102L + i * 2, p), (102L + i * 2, q))
    }
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def w(d: Long): Long =
      1000000000000L / math.floor(math.log(d.toDouble) * 1000000 + 0.5).toLong
    val got = SparkEntry.queries("g14_adamic_adar")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 2L, 2L, 2 * w(2)), (10L, 11L, 2L, w(3) + w(2))),
      got.mkString(", "))
    assert(w(2) > w(3), "the rarer middle must carry the larger AA weight")
  }

  test("q116 SCD2: last-write-wins grain, no-op collapse, interval chaining, current flag") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q116spec").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // cust 1: Jan has A then B (orderkey 2 wins the month -> B), Feb
    // repeats B (no-op, collapses into version 1), Mar flips to A
    // (version 2, current). cust 2: one month, one current version.
    Seq((1L, 1L, ts("2020-01-10"), "A"), (2L, 1L, ts("2020-01-20"), "B"),
      (3L, 1L, ts("2020-02-05"), "B"), (4L, 1L, ts("2020-03-01"), "A"),
      (5L, 2L, ts("2021-06-09"), "C"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q116_scd2_intervals")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, 1L, "B", 24241L, 24243L, 0L),
      (1L, 2L, "A", 24243L, 999999L, 1L),
      (2L, 1L, "C", 24258L, 999999L, 1L)), got.mkString(", "))
  }

  test("a16 Benford: cents-string leading digits, zero-filled grid, literal expectations") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a16spec").toString
    // cents: 100, 19 -> digit 1; 250 -> 2; 999999 -> 9; 0.00 filtered out
    Seq(1.00, 0.19, 2.50, 9999.99, 0.0).toDF("o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("a16_benford_audit")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got.size == 9 && got.map(_._1) == (1L to 9L), got.mkString(", "))
    assert(got(0) == ((1L, 2L, 500000L, 301030L, 198970L)), got(0).toString)
    assert(got(1) == ((2L, 1L, 250000L, 176091L, 73909L)), got(1).toString)
    assert(got(8) == ((9L, 1L, 250000L, 45757L, 204243L)), got(8).toString)
    // zero-filled digits report the full negative Benford expectation
    assert(got(2) == ((3L, 0L, 0L, 124939L, -124939L)), got(2).toString)
    // the nine literal expectations are a probability measure on the ppm grid
    assert(got.map(_._4).sum == 1000000L)
  }

  test("q117 cohort LTV: hand-traced cumulative per-member revenue by cohort age") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q117spec").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // cohort 2020-01 (ym 24241): custs 1,2; cust 1 returns at age 2.
    // cohort 2020-03 (ym 24243): cust 3 alone.
    Seq((1L, ts("2020-01-05"), 10.00), (1L, ts("2020-03-20"), 5.00),
      (2L, ts("2020-01-15"), 20.00), (3L, ts("2020-03-01"), 7.00))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q117_cohort_ltv")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      (24241L, 0L, 2L, 2L, 3000L, 3000L, 1500L),
      (24241L, 2L, 2L, 1L, 500L, 3500L, 1750L),
      (24243L, 0L, 1L, 1L, 700L, 700L, 700L)), got.mkString(", "))
  }

  test("t34 PII scrub: planted residue grid scrubs to hand-built placeholders, real text untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t34spec").toString
    // doc 6 plants email+phone, doc 7 nothing, doc 30 all three
    Seq((6L, "hello world"), (7L, "hello world"), (30L, "hello world"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = SparkEntry.queries("t34_pii_scrub")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      (6L, 1L, 1L, 0L, md5("hello world contact <EMAIL> <PHONE>"), 1L, 1L),
      (7L, 0L, 0L, 0L, md5("hello world"), 1L, 1L),
      (30L, 1L, 1L, 1L, md5("hello world contact <EMAIL> <PHONE> <IP>"), 1L, 1L)),
      got.mkString(", "))
  }

  test("p19 epoch materialize: full copies plus a hash-picked partial epoch, fill audited") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p19spec").toString
    // A: 4 docs x 25 tokens (100), B: 1 doc x 25. tn=125, budget 250.
    // wA=1e7, wB=5e6 -> allocA = 250*1e7//1.5e7 = 166 (under the 400 cap),
    // epochsA = 166: 1 full + partial cut (4*66)//100 = 2 docs -> 6 docs /
    // 150 tokens, fill 150e6//166 = 903614. B: alloc 83, epochs 332:
    // 3 full + cut (1*32)//100 = 0 -> 3 docs / 75 tokens, fill 903614.
    val doc25 = (1 to 25).map(i => s"w$i").mkString(" ")
    ((0 to 3).map(i => (i.toLong, doc25, "srcA")) :+ ((4L, doc25, "srcB")))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p19_epoch_materialize")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("srcA", 166L, 4L, 6L, 150L, 166L, 903614L),
      ("srcB", 332L, 1L, 3L, 75L, 83L, 903614L)), got.mkString(", "))
  }

  test("p15 curriculum: ntile(4) over 6 docs yields 2/2/1/1 buckets in ttr order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p15spec").toString
    // ttr_ppm: a a a a=250000, a b a b a=400000, a b a b=500000,
    // a b c a b=600000, a b c a=750000, a b c d=1000000
    Seq((0L, "a a a a"), (1L, "a b a b a"), (2L, "a b a b"),
      (3L, "a b c a b"), (4L, "a b c a"), (5L, "a b c d"))
      .map { case (i, t) => (i, t, "en", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p15_curriculum_buckets")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq((1L, 2L, 250000L, 400000L), (2L, 2L, 500000L, 600000L),
      (3L, 1L, 750000L, 750000L), (4L, 1L, 1000000L, 1000000L)), got.mkString(", "))
  }

  test("q112 latency percentiles: hand-traced 4-line ladder hits the exact rank positions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q112spec").toString
    val day = 86400000000L // one day in micros
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // latencies 1/5/9/13 days: n=4 -> median_lo = rank (4+1) div 2 = 2
    // (5d), median_hi = rank 4 div 2 + 1 = 3 (9d), p90 = rank
    // (9*4+9) div 10 = 4 (13d)
    Seq(2, 6, 10, 14).map { d =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")) }
      .toDF("l_orderkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q112_ship_latency")(spark, dir).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(("1-URGENT", 4L, 1 * day, 5 * day, 9 * day, 13 * day, 13 * day)),
      got.mkString(", "))
  }

  test("g13 power-law fit: the 2-level {deg1: 2 nodes, deg2: 1 node} graph fits slope -1, r2 1 exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g13spec").toString
    // pairs (p1,p2) and (p1,p3), each with support 2 -> degrees p1=2,
    // p2=p3=1 -> histogram {(1,2),(2,1)} -> two grid points (0,693),
    // (693,0) -> OLS slope exactly -1.0, r2 exactly 1.0
    Seq((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L),
      (3L, 101L), (3L, 103L), (4L, 101L), (4L, 103L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("g13_degree_powerlaw")(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq((3L, 2L, 2L, 2L, -1.0, 1.0)), got.mkString(", "))
  }

  test("u14 overlap audit: range layout reads 0 overlaps, hash layout reads all-15, on a hand grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("u14spec").toString
    // keys 0..31 (m = 32): range file i = {2i, 2i+1} — disjoint intervals,
    // 0 overlaps; hash file j = {j, j+16} — every interval [j, j+16]
    // intersects every other, 15 overlaps each
    (0L until 32L).map(k => Tuple1(k)).toDF("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("u14_overlap_audit")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    val (hash, range) = got.partition(_._1 == "hash")
    assert(range.length == 16 && hash.length == 16, s"16+16 files expected: ${got.length}")
    assert(range.forall(r => r._3 == 2L && r._4 == 0L), s"range rows: ${range.take(4).mkString(",")}")
    assert(hash.forall(r => r._3 == 2L && r._4 == 15L), s"hash rows: ${hash.take(4).mkString(",")}")
  }

  test("p16 fertility: per-lang totals reconcile exactly with t25's per-doc totals; bounds hold") {
    val p16 = SparkEntry.queries("p16_tokenizer_fertility")(spark, sf0001).collect()
    val t25 = SparkEntry.queries("t25_bpe_segment")(spark, sf0001).collect()
    // same corpus, same trained merges -> identical global sums
    assert(p16.map(_.getAs[Long]("n_words")).sum == t25.map(_.getAs[Long]("n_words")).sum)
    assert(p16.map(_.getAs[Long]("n_bpe_tokens")).sum == t25.map(_.getAs[Long]("n_bpe_tokens")).sum)
    assert(p16.map(_.getAs[Long]("n_char_tokens")).sum == t25.map(_.getAs[Long]("n_char_tokens")).sum)
    p16.foreach { r =>
      val (w, bpe, ch) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"),
        r.getAs[Long]("n_char_tokens"))
      assert(w <= bpe && bpe <= ch, s"${r.getString(0)}: $w <= $bpe <= $ch violated")
      assert(r.getAs[Long]("fertility_ppm") == bpe * 1000000L / w)
      assert(r.getAs[Long]("chars_per_token_centi") == ch * 100L / bpe)
    }
  }

  test("d18 histogram reconciles exactly with d08's cluster assignment") {
    val hist = SparkEntry.queries("d18_cluster_size_histogram")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val clusters = SparkEntry.queries("d08_dup_clusters")(spark, sf0001).collect()
      .map(r => r.getLong(1))
    val expected = clusters.groupBy(identity).values.map(_.length)
      .groupBy(identity).map { case (sz, gs) => (sz.toLong, gs.size.toLong) }
    val n = clusters.length.toLong
    assert(hist.map(h => h._1 -> h._2).toMap == expected, "histogram != d08 regrouped")
    hist.foreach { h =>
      assert(h._3 == h._1 * h._2, s"n_docs inconsistent: $h")
      assert(h._4 == h._3 * 1000000L / n, s"share not the exact flooring ratio: $h")
    }
    assert(hist.map(_._3).sum == n, "doc mass not conserved")
  }

  test("a14 entropy: uniform 3-way reads ln 3, constant column reads 0, skewed column matches the grid formula") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a14spec").toString
    Seq(("A", "X"), ("B", "X"), ("C", "X"))
      .toDF("l_returnflag", "l_linestatus")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq("1-URGENT", "5-LOW", "5-LOW", "5-LOW").map(p => (p, "O"))
      .toDF("o_orderpriority", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    def lnGrid(x: Long): Long = math.floor(math.log(x.toDouble) * 1000000 + 0.5).toLong
    def h(counts: Seq[Long]): Double = {
      val n = counts.sum
      val num = n * lnGrid(n) - counts.map(c => c * lnGrid(c)).sum
      math.floor(num.toDouble / (n.toDouble * 1000000) * 1000000 + 0.5) / 1000000
    }
    val got = SparkEntry.queries("a14_category_entropy")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("l_linestatus", 3L, 1L, 0.0),
      ("l_returnflag", 3L, 3L, h(Seq(1L, 1L, 1L))),    // = ln 3 on the grid
      ("o_orderpriority", 4L, 2L, h(Seq(1L, 3L))),
      ("o_orderstatus", 4L, 1L, 0.0)), got.mkString(", "))
    assert(math.abs(h(Seq(1L, 1L, 1L)) - math.log(3.0)) < 2e-6)
  }

  test("q113 growth curve: hand-traced first-seen ladder, gap day absent, cumulative exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q113spec").toString
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // day1: u1,u2 new; day2: u1 returns, u3 new; day4: u2 returns, u4,u5 new
    // (day3 has no events -> absent from the spine, documented behavior)
    Seq((1L, ts(1)), (2L, ts(1)), (1L, ts(2)), (3L, ts(2)),
      (2L, ts(4)), (4L, ts(4)), (5L, ts(4)))
      .toDF("user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val d0 = 19723L // 2024-01-01 epoch day
    val got = SparkEntry.queries("q113_cumulative_uniques")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((d0, 2L, 2L), (d0 + 1, 1L, 3L), (d0 + 3, 2L, 5L)), got.mkString(", "))
  }

  test("q114 concentration: one power user of ten holds the exact top-decile share") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q114spec").toString
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // u1 fires 10 events, u2..u10 one each: n=10 -> k_top=1, top share
    // = 10e6 div 19 = 526315 (flooring)
    val rows = (1 to 10).map(_ => (1L, "click", t)) ++
      (2 to 10).map(u => (u.toLong, "click", t))
    rows.toDF("user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q114_user_concentration")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(("click", 10L, 1L, 19L, 10L, 526315L)), got.mkString(", "))
  }

  test("m10 patch grid: hand-traced header yields the exact scaled grid; patch count = rows x cols") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m10spec").toString
    // bytes 5-8 = 'W','X','Y','Z': width = 87*256+88 = 22360,
    // height = 89*256+90 = 22874; max > 224 -> sw = 22360*224//22874 = 218,
    // sh = 224 -> grid 14 rows x 13 cols = 182 patches. doc_id 0 % 3 == 0.
    Seq((0L, "abcdWXYZ trailing payload"), (3L, "tiny"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("m10_patch_grid")(spark, dir).collect()
    assert(rows.forall(_.getLong(0) == 0L), "truncated doc 3 must emit nothing")
    assert(rows.length == 14 * 13, s"expected 182 patches, got ${rows.length}")
    val first = rows.head
    assert((first.getLong(1), first.getLong(2), first.getLong(3), first.getLong(4))
      == ((22360L, 22874L, 14L, 13L)), first.toString)
    // corners: last patch origin = ((rows-1)*16, (cols-1)*16)
    val last = rows.last
    assert((last.getLong(5), last.getLong(6), last.getLong(7), last.getLong(8))
      == ((13L, 12L, 208L, 192L)), last.toString)
  }

  test("q119 A-priori triples: planted frequent triple, boundary triple, and the between-level prune") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q119spec").toString
    // 500 orders, minsup 4000 ppm = 2 orders. Baskets:
    //   o1-5   {B01,B02,B03}  -> triple support 5 (10000 ppm), pairs 5
    //   o6-9   {B04,B05}; o10-12 {B04,B06}; o13-15 {B05,B06}; o16 {B04,B05,B06}
    //          -> all three pairs frequent (5/4/4) but the triple occurs
    //             ONCE (2000 ppm): the candidate A-priori generates and
    //             the support prune kills — the between-level step
    //   o17-18 {B07,B08,B09}  -> triple support 2 = exactly 4000 ppm
    //             (>= boundary included), pairs 2 = pair boundary too
    //   o19-500 {B10} singleton filler (no pairs)
    val baskets: Seq[(Long, Seq[Long])] =
      (1L to 5L).map(o => o -> Seq(1L, 2L, 3L)) ++
      (6L to 9L).map(o => o -> Seq(4L, 5L)) ++
      (10L to 12L).map(o => o -> Seq(4L, 6L)) ++
      (13L to 15L).map(o => o -> Seq(5L, 6L)) ++
      Seq(16L -> Seq(4L, 5L, 6L)) ++
      (17L to 18L).map(o => o -> Seq(7L, 8L, 9L)) ++
      (19L to 500L).map(o => o -> Seq(10L))
    baskets.flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1L to 10L).map(k => (k, f"B$k%02d")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q119_apriori_triples")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == Seq(
      ("B01", "B02", "B03", 5L, 5L, 5L, 5L, 10000L),
      ("B07", "B08", "B09", 2L, 2L, 2L, 2L, 4000L)), got.mkString(", "))
  }

  test("a16 Benford: a sub-cent total (cents = 0) leaves the audit universe, not just the grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a16spec").toString
    // 0.004 -> cents 0 (digit '0'): before the r14-advice fix its count
    // landed in the denominator while the 1-9 grid excluded it, deflating
    // every observed share; now the denominator is 2, shares 500000 each
    Seq(0.004, 0.005, 2.50).toDF("o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("a16_benford_audit")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.size == 9)
    assert(got.take(2) == Seq((1L, 1L, 500000L), (2L, 1L, 500000L)), got.mkString(", "))
    assert(got.drop(2).forall { case (_, n, ppm) => n == 0L && ppm == 0L })
  }

  test("s22 RRF: fused top-1 differs from BOTH legs' top-1s (hand-traced contributions)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("s22spec").toString
    // One query (doc 0, 'alpha'). Lexical leg: only d12 (tf=3, dl=3) and
    // d13 (tf=1, dl=1) share 'alpha'; same idf, d12's saturation term is
    // larger (22*3*tt/(33*tt+27N) > 22*tt/(13*tt+9N)) -> lex ranks d12=1,
    // d13=2, everyone else absent. Dense leg: planar unit-ish vectors
    // (c, sqrt(1-c^2), 0, 0) make cosine-to-q ~c; d11=.99 (rank 1),
    // d13=.95 (rank 2), d14..d21 .90...-.55 (ranks 3..10), d22/.50 d23/.45
    // ranks 11-12, d12=.05 rank 13 -> d12, d22, d23 outside the top-10 leg.
    // RRF (k=60): d13 = 1e6//62 + 1e6//62 = 32258 beats d11 (dense top-1,
    // 1e6//61 = 16393) and d12 (lex top-1, 16393) -> fused top-1 = d13,
    // differing from both legs' top-1s; the 16393 tie breaks by doc_id.
    val docs = Seq(
      (0L, "alpha"), (11L, "eleven x1"), (12L, "alpha alpha alpha"), (13L, "alpha"),
      (14L, "f14"), (15L, "f15"), (16L, "f16"), (17L, "f17"), (18L, "f18"),
      (19L, "f19"), (20L, "f20"), (21L, "f21"), (22L, "f22"), (23L, "f23"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cos = Map(11L -> 0.99, 13L -> 0.95, 14L -> 0.90, 15L -> 0.85, 16L -> 0.80,
      17L -> 0.75, 18L -> 0.70, 19L -> 0.65, 20L -> 0.60, 21L -> 0.55,
      22L -> 0.50, 23L -> 0.45, 12L -> 0.05)
    val embs = (0L -> Array(1.0f, 0.0f, 0.0f, 0.0f)) +: cos.toSeq.map { case (id, c) =>
      id -> Array(c.toFloat, math.sqrt(1 - c * c).toFloat, 0.0f, 0.0f)
    }
    embs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("s22_rrf_fusion")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (0L, 1L, 13L, 2L, 2L, 32258L),
      (0L, 2L, 11L, 0L, 1L, 16393L),
      (0L, 3L, 12L, 1L, 0L, 16393L),
      (0L, 4L, 14L, 0L, 3L, 15873L),
      (0L, 5L, 15L, 0L, 4L, 15625L)), got.mkString(", "))
  }

  test("a18 randomization: a zero-effect corpus reports p = 1e6 exactly; an effect corpus matches the sequential mirror") {
    import spark.implicits._
    // null corpus: every order the same price -> obs gap 0, every replicate
    // gap >= 0 counts extreme, p = (1+100)*1e6 div 101 = 1000000 exactly
    val dir0 = java.nio.file.Files.createTempDirectory("a18null").toString
    (1L to 100L).map(k => (k, 100.00, if (k <= 30) "1-URGENT" else "5-LOW"))
      .toDF("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir0/orders.parquet")
    val got0 = SparkEntry.queries("a18_randomization_test")(spark, dir0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got0 == Seq((100L, 30L, 70L, 0L, 100L, 1000000L)), got0.mkString(", "))

    // effect corpus: the full Monte-Carlo trajectory replayed by a
    // sequential (non-Spark) mirror over the same splitmix priorities
    val dir1 = java.nio.file.Files.createTempDirectory("a18eff").toString
    val rows = (1L to 40L).map { k =>
      val treated = k <= 15
      val cents = if (treated) 1000L + 37L * k else 500L + 11L * k
      (k, cents / 100.0, if (treated) "2-HIGH" else "3-MEDIUM", cents)
    }
    rows.map(r => (r._1, r._2, r._3)).toDF("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir1/orders.parquet")
    val cents = rows.map(r => r._1 -> r._4).toMap
    val treat = rows.filter(_._3 == "2-HIGH").map(_._1).toSet
    val (c1, c2) = (BigInt(treat.size), BigInt(40 - treat.size))
    val s1 = BigInt(rows.filter(r => treat(r._1)).map(_._4).sum)
    val s2 = BigInt(rows.filterNot(r => treat(r._1)).map(_._4).sum)
    val obsGap = ((s1 * c2 - s2 * c1).abs * 10000) / (c1 * c2)
    val pPpm = c1 * 1000000 / 40
    val nExtreme = (1 to 100).count { rep =>
      val g1 = (1L to 40L).filter { k =>
        graft.functions.HashOps.priorityHash(k * 128 + rep, 27L) % 1000000 < pPpm }
      val (rc1, rc2) = (BigInt(g1.size), BigInt(40 - g1.size))
      val rs1 = BigInt(g1.map(cents).sum)
      val rs2 = BigInt(cents.values.sum) - rs1
      val gap = if (rc1 == 0 || rc2 == 0) obsGap
        else ((rs1 * rc2 - rs2 * rc1).abs * 10000) / (rc1 * rc2)
      gap >= obsGap
    }
    val got1 = SparkEntry.queries("a18_randomization_test")(spark, dir1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got1 == Seq((40L, 15L, 25L, obsGap.toLong, nExtreme.toLong,
      (BigInt(1 + nExtreme) * 1000000 / 101).toLong)), got1.mkString(", "))
  }

  test("q120 FIFO: hand-traced lot/issue interval intersection, shortage reported, lot-only parts silent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q120spec").toString
    val t = java.sql.Timestamp.valueOf(_: String)
    // part 1: lots [0,5)@500c/5u, [5,8)@600c/3u; issues [0,4), [4,10)
    //   I1 x L1 = 4u -> 4*500 div 5 = 400; I2 x L1 = 1u -> 100;
    //   I2 x L2 = 3u -> 600; matched 8 of demand 10, short 2, leftover 0
    // part 2: issue only -> matched 0, short 7
    // part 3: lot only -> absent (output grain = parts with issues)
    Seq(
      (1L, "N", 5.0, 5.00, t("2024-01-01 00:00:00"), 1L, 1),
      (1L, "N", 3.0, 6.00, t("2024-01-02 00:00:00"), 2L, 1),
      (1L, "R", 4.0, 1.00, t("2024-01-01 00:00:00"), 3L, 1),
      (1L, "R", 6.0, 1.00, t("2024-01-02 00:00:00"), 4L, 1),
      (2L, "R", 7.0, 1.00, t("2024-01-03 00:00:00"), 5L, 1),
      (3L, "A", 9.0, 2.00, t("2024-01-04 00:00:00"), 6L, 1))
      .toDF("l_partkey", "l_returnflag", "l_quantity", "l_extendedprice",
        "l_shipdate", "l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q120_fifo_matching")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 10L, 8L, 8L, 1100L, 2L, 0L),
      (2L, 1L, 0L, 7L, 0L, 0L, 0L, 7L, 0L)), got.mkString(", "))
  }

  test("p20 anneal: quality gate fills the pool, both phase allocations and shares trace by hand") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p20spec").toString
    // source a: one anneal-grade doc (20 tokens x 4 letters: letters 80 in
    // [60, 200]) + one too-short doc (3 tokens) -> n_tokens 23, pool 20.
    // source b: 30 tokens x 20 letters -> mean word length 20 > 10, pool 0.
    // tn = 53 -> B_ann = 5, B_pre = 48; w(a) = floor(sqrt(23)*1e6+.5) =
    // 4795832, w(b) = 5477226, tw = 10273058.
    // pre(a) = 48*4795832 div tw = 22 (cap 46); pre(b) = 25 (cap 60).
    // ann(a) = min(4*20, 5*20 div 20) = 5; ann(b) = 0.
    // a: total 27, epochs 2700 div 23 = 117, share 5e6 div 27 = 185185.
    // b: total 25, epochs 2500 div 30 = 83, share 0.
    val docA1 = Array.fill(20)("abcd").mkString(" ")
    val docA2 = "x y z"
    val docB1 = Array.fill(30)("a" * 20).mkString(" ")
    Seq((1L, docA1, "a"), (2L, docA2, "a"), (3L, docB1, "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p20_anneal_schedule")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == Seq(
      ("a", 23L, 20L, 22L, 5L, 27L, 117L, 185185L),
      ("b", 30L, 0L, 25L, 0L, 25L, 83L, 0L)), got.mkString(", "))
  }

  test("m12 interleave: atomic media blocks — fits-whole, drops-whole, and text backfill all trace by hand") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m12spec").toString
    // doc 0 (image): header ABCD -> 16706 x 17220 -> scaled 217 x 224 ->
    //   182 patches; 1 text token -> half1 0, media fits, kept_text 1
    // doc 3 (image): 4 bytes, truncated header -> 0 media tokens
    // doc 1 (audio): 600 1-char tokens (1199 B) -> 38 frames; half1 300,
    //   media fits (338 <= 512), backfill 174 -> kept_text 474, seq 512
    // doc 2 (video): 65537 B, 1 token -> 513 sampled frames > 512 ->
    //   DROPPED whole, kept_text 1
    Seq((0L, "abcdABCD"), (3L, "tiny"),
      (1L, Array.fill(600)("a").mkString(" ")), (2L, "x" * 65537))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("m12_interleave_manifest")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("audio", 1L, 0L, 1L, 474L, 38L, 1000000L),
      ("image", 2L, 0L, 0L, 2L, 182L, 179687L),
      ("video", 1L, 1L, 1L, 1L, 0L, 1953L)), got.mkString(", "))
  }

  test("d19 containment: an embedded doc scores 1e6 one way, Jaccard halves, stop-grams (df > 20) carry no pairs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("d19spec").toString
    // doc 1's 3 grams all occur in doc 2 (6 grams): C(1 in 2) = 1e6,
    // C(2 in 1) = 500000, J = 3/(3+6-3) = 500000 — the size-asymmetric
    // pair Jaccard thresholds miss. 25 fillers share gram 'z z z'
    // (df 25 > 20 -> excluded); their second gram is unique (df 1) ->
    // they produce NO pairs and exactly one pair survives.
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e f g h")) ++
      (100L to 124L).map(k => (k, s"z z z q$k"))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("d19_containment_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == Seq((1L, 2L, 3L, 6L, 3L, 1000000L, 500000L, 500000L)),
      got.mkString(", "))
  }

  test("s23 MMR: a planted near-duplicate of the top hit loses round 2 to a more diverse candidate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("s23spec").toString
    // q0 = e1. Candidates: vec 10 (rel ~.99), vec 11 = EXACT COPY of 10,
    // vec 12 (rel ~.97 but pointing AWAY from 10 in the second axis:
    // cos(10,12) ~ .926). Relevance alone ranks 10, 11, 12 — but round 2
    // scores 11 at 7*990000 - 3*1000000 = 3930000 vs 12 at
    // 7*970000 - 3*926005 ~ 4011985, an ~82k-ppm margin no float32
    // rounding can flip -> MMR picks 10, 12, 11. Vectors 1-9 are
    // orthogonal to q0 (rel 0, scores <= 3e6), never contenders.
    val d10 = Array(0.99f, 0.14106736f, 0f, 0f)
    val d12 = Array(0.97f, -0.24310492f, 0f, 0f)
    val others = (1 to 9).map { k =>
      val phi = k * math.Pi / 18
      (k.toLong, Array(0f, math.cos(phi).toFloat, math.sin(phi).toFloat, 0f))
    }
    val embs = Seq((0L, Array(1f, 0f, 0f, 0f))) ++ others ++
      Seq((10L, d10), (11L, d10.clone), (12L, d12))
    embs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("s23_mmr_rerank")(spark, dir).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    // (rnk, doc, penalty): round 1 penalty is identically 0; round 3's
    // penalty is the exact-duplicate cosine = 1e6 on the grid
    assert(got.map(x => (x._1, x._2)) == Seq((1L, 10L), (2L, 12L), (3L, 11L)),
      got.mkString(", "))
    assert(got.head._3 == 0L, s"round-1 penalty must be 0: $got")
    assert(got.last._3 == 1000000L, s"duplicate's penalty must be the full grid: $got")
  }

  test("a19 bootstrap: a constant corpus collapses the CI to a point; a varied corpus matches the sequential mirror") {
    import spark.implicits._
    // constant corpus: every replicate mean = 1e8 on the 1e-2-cent grid
    // (empty replicates pin to the identical observed mean), so the
    // percentile CI is the point [1e8, 1e8], width 0, covered
    val dir0 = java.nio.file.Files.createTempDirectory("a19const").toString
    (1L to 50L).map(k => (k, 100.00)).toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir0/orders.parquet")
    val got0 = SparkEntry.queries("a19_poisson_bootstrap")(spark, dir0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got0 == Seq((50L, 100000000L, 100000000L, 100000000L, 0L, 1L)),
      got0.mkString(", "))

    // varied corpus: the full 100-replicate Poisson-draw trajectory,
    // replicate means, and percentile ranks replayed sequentially
    val dir1 = java.nio.file.Files.createTempDirectory("a19var").toString
    val cents = (1L to 30L).map(k => k -> (777L + 123L * k)).toMap
    cents.toSeq.map { case (k, c) => (k, c / 100.0) }
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir1/orders.parquet")
    val thresholds = Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L,
      999916L, 999989L)
    val obsMean = (BigInt(cents.values.sum) * 10000) / 30
    val means = (1 to 100).map { rep =>
      val draws = (1L to 30L).map { k =>
        val u = graft.functions.HashOps.priorityHash(k * 128 + rep, 31L) % 1000000
        k -> thresholds.count(u >= _)
      }
      val c = BigInt(draws.map(_._2).sum)
      val s = draws.map { case (k, n) => BigInt(n) * cents(k) }.sum
      val m = if (c == 0) obsMean else (s * 10000) / c
      (m, rep)
    }.sorted
    val (lo, hi) = (means(2)._1, means(97)._1)
    val got1 = SparkEntry.queries("a19_poisson_bootstrap")(spark, dir1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val covered = if (obsMean >= lo && obsMean <= hi) 1L else 0L
    assert(got1 == Seq((30L, obsMean.toLong, lo.toLong, hi.toLong,
      (hi - lo).toLong, covered)), got1.mkString(", "))
  }

  test("g15 HITS: two-customer trace — normalization, mutual recursion, and the authority-beats-degree ordering") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g15spec").toString
    // c1 -> {s1, s2, s3}, c2 -> {s1}: s1 is the shared authority
    Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L)).toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val T = BigInt("1000000000000")
    // h0 = T/2 each; a1 = {s1: T/2, s2: T/4, s3: T/4} after norm;
    // h1 = {c1: 2T/3 floor, c2: T/3 floor}; a2r = {s1: h1(c1)+h1(c2),
    // s2/s3: h1(c1)} — the mirror below floors exactly as both engines do
    val h1c1 = (T * T) / (T * 3 / 2)
    val h1c2 = ((T / 2) * T) / (T * 3 / 2)
    val a2t = (h1c1 + h1c2) + h1c1 * 2
    val a2s1 = ((h1c1 + h1c2) * T) / a2t
    val a2s23 = (h1c1 * T) / a2t
    val got = SparkEntry.queries("g15_hits")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1000001L, 2L, a2s1.toLong),
      (1000002L, 1L, a2s23.toLong),
      (1000003L, 1L, a2s23.toLong)), got.mkString(", "))
    assert(a2s1 > a2s23, "the shared authority must outrank the solo ones")
  }

  test("g15 HITS broadcasts its node-sized rank tables (the measured bench plan)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g15plan").toString
    val orders = (1L to 6L).map(k => (k, (k - 1) / 2 + 1)) // 3 customers, 2 orders each
    orders.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 3L), (4L, 2L),
      (5L, 1L), (6L, 4L)).toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // plan shape reads off the LAZY twin (r18: the eager registry form
    // materializes per level, so its final plan is cache reads)
    val plan = GraphQueries.hitsRanking(spark, dir, m = Materialize.Lazy)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"g15 lost the measured bench plan:\n$plan")
  }

  test("g17 weighted PageRank: hand-traced 4-node graph — repeat business outweighs drive-bys, duplicate lineitems don't inflate weights") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g17spec").toString
    // c1 -[w=3]- s1, c1 -[w=1]- s2, c2 -[w=1]- s1; order 1 carries TWO
    // lineitems to s1 (distinct-order weight must stay 3, not 4)
    Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 2L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L), (1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 1L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // n=4, r0=25e10 each; round 1: m(c1)=m(s1)=187.5e9+250e9, m(c2)=m(s2)=62.5e9
    // r1 = 37.5e9 + 85%*m: 409375000000 / 90625000000
    // round 2: m(c1)=m(s1)=307031250000+90625000000, m(c2)=m(s2)=102343750000
    // r2: 375507812500 / 124492187500
    val got = SparkEntry.queries("g17_weighted_pagerank")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 4L, 375507812500L),
      (1000001L, 4L, 375507812500L),
      (2L, 1L, 124492187500L),
      (1000002L, 1L, 124492187500L)), got.mkString(", "))
  }

  test("g16 HyperBall: register-merge estimates track g10's exact balls within the HLL envelope at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    // g16: (h, n_nodes, n_seeds, anf_est, seed_anf_est, avg_ball_ppm)
    val hb = SparkEntry.queries("g16_hyperball_anf")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    // g10: (h, n_seeds, n_pairs, avg_ball_ppm, n_saturated) — exact balls
    // on the SAME node % 100 seed sample
    val exact = SparkEntry.queries("g10_neighborhood_anf")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hb.keySet == Set(0L, 1L, 2L, 3L))
    // h=0 is exact by construction: one present register, linear counting
    // reads floor(512 ln(512/511) + 0.5) = 1 per node
    assert(hb(0L)._2 == hb(0L)._1, s"h=0 must estimate exactly 1 per seed: ${hb(0L)}")
    (0L to 3L).foreach { h =>
      val (nSeedsExact, exactSum) = exact(h)
      val (nSeedsHb, estSum) = hb(h)
      assert(nSeedsHb == nSeedsExact,
        s"seed samples diverged at h=$h: $nSeedsHb vs $nSeedsExact")
      val relErr = math.abs(estSum.toDouble - exactSum.toDouble) / exactSum.toDouble
      // 512-register HLL in the linear-counting regime: per-node error is
      // sub-1% at fixture ball sizes, and node errors partially cancel in
      // the sum — 5% is a loose, regime-stable envelope
      assert(relErr <= 0.05,
        f"h=$h: Sigma-ball estimate $estSum vs exact $exactSum (rel err $relErr%.4f)")
      info(f"h=$h seed-ANF est $estSum vs exact $exactSum (rel err $relErr%.4f)")
    }
  }

  test("g19 HyperBall harmonic: per-seed estimates track g18's exact shells within the HLL envelope at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    // g19: (node, ball_h0..ball_h3, harmonic_est_ppm) off g16's registers
    val est = SparkEntry.queries("g19_hyperball_harmonic")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // g18: (seed, n_1hop, n_2hop, n_3hop, harmonic_ppm) — exact shells on
    // the SAME node % 100 seed sample
    val exact = SparkEntry.queries("g18_harmonic_centrality")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(est.keySet == exact.keySet,
      s"seed samples diverged: ${est.keySet.size} vs ${exact.keySet.size}")
    assert(est.nonEmpty)
    // h=0 is exact by construction (one present register → linear
    // counting reads exactly 1), so every estimated ball starts at 1
    assert(est.values.forall(_._1 == 1L), "ball_h0 must read exactly 1 per seed")
    var sumEst = 0.0
    var sumExact = 0.0
    var worst = 0.0
    for ((seed, (_, _, _, _, hEst)) <- est) {
      val hExact = exact(seed)._4
      sumEst += hEst.toDouble
      sumExact += hExact.toDouble
      worst = math.max(worst, math.abs(hEst.toDouble - hExact.toDouble) / hExact.toDouble)
    }
    val aggErr = math.abs(sumEst - sumExact) / sumExact
    // same envelope argument as the g16 spec: 512-register HLL in the
    // linear-counting regime is sub-1% per ball at fixture sizes, and the
    // per-seed harmonic is a ball-difference sum, so per-seed error stays
    // a few counts while errors cancel further in the aggregate
    assert(aggErr <= 0.05,
      f"Sigma harmonic estimate $sumEst%.0f vs exact $sumExact%.0f (rel err $aggErr%.4f)")
    assert(worst <= 0.25,
      f"worst per-seed harmonic deviation $worst%.4f exceeds the 25%% envelope")
    info(f"Sigma harmonic est $sumEst%.0f vs exact $sumExact%.0f " +
      f"(agg rel err $aggErr%.4f, worst per-seed $worst%.4f over ${est.size} seeds)")
  }

  test("st16 FIFO entry: arrival order decides — early demand is lost, late demand matches (hand trace)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("st16spec").toString
    val t = java.sql.Timestamp.valueOf(_: String)
    // user 1: purchase 5.00 BEFORE supply (lost), view 10.00, purchase
    // 3.00 (matched) -> demand 800, matched 300, lost 500 — same totals
    // reversed would match fully, which is the order dependence the
    // min-plus oracle must reproduce
    // user 2: view 10.00, purchase 4.00, purchase 8.00 -> matched 1000
    Seq(
      (1L, t("2026-01-01 10:00:00"), 1L, "purchase", 5.00),
      (2L, t("2026-01-01 10:01:00"), 1L, "view", 10.00),
      (3L, t("2026-01-01 10:02:00"), 1L, "purchase", 3.00),
      (4L, t("2026-01-01 10:00:00"), 2L, "view", 10.00),
      (5L, t("2026-01-01 10:01:00"), 2L, "purchase", 4.00),
      (6L, t("2026-01-01 10:02:00"), 2L, "purchase", 8.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("st16_stream_fifo")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 2L, 800L, 300L, 500L),
      (2L, 2L, 1200L, 1000L, 200L)), got.mkString(", "))
  }

  test("a20 CUSUM: a sustained +100% shift alarms on its second day; the flat prefix never accumulates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a20spec").toString
    // 10 days at 100.00 then 5 days at 200.00: tot 200000c over 15 days ->
    // target 13333, allowance 666, tk 13999, h 6666. Flat days score
    // 10000 - 13999 < 0 (S pinned at 0); shifted days add +6001 each:
    // S = 6001, 12002, 18003, 24004, 30005 -> first S > h on the SECOND
    // shifted day (the detector needs two days of evidence at this h),
    // 4 alarm days, max 30005
    val rows = (1 to 10).map(k => (k.toLong, f"2024-01-$k%02d 00:00:00", 100.00)) ++
      (11 to 15).map(k => (k.toLong, f"2024-01-$k%02d 00:00:00", 200.00))
    rows.map { case (k, ts, v) => (k, java.sql.Timestamp.valueOf(ts), v) }
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val alarmDay = java.time.LocalDate.of(2024, 1, 12).toEpochDay
    val got = SparkEntry.queries("a20_cusum_alarm")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq((15L, 13333L, 666L, 6666L, 30005L, alarmDay, 4L)),
      got.mkString(", "))
    // a perfectly flat series never alarms, and silence reports the -1
    // sentinel — NOT 0, which is 1970-01-01, a day an alarm could land on
    val flat = java.nio.file.Files.createTempDirectory("a20flat").toString
    (1 to 15).map(k => (k.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-$k%02d 00:00:00"), 100.00))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$flat/orders.parquet")
    val silent = SparkEntry.queries("a20_cusum_alarm")(spark, flat).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(silent == Seq((15L, 0L, -1L, 0L)), silent.mkString(", "))
  }

  test("a21 Mann-Kendall: monotone series is significant, flat series reports S = 0 AND var18 = 0, one swap drops S by exactly 2") {
    import spark.implicits._
    def corpus(values: Seq[Double]): String = {
      val dir = java.nio.file.Files.createTempDirectory("a21spec").toString
      values.zipWithIndex.map { case (v, i) =>
        (i.toLong + 1, java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00"), v) }
        .toDF("o_orderkey", "o_orderdate", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    def run(dir: String) = SparkEntry.queries("a21_mann_kendall")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).head
    // strictly increasing 15 days: S = C(15,2) = 105, no ties ->
    // var18 = 15*14*35 = 7350; 9*(105-1)^2 = 97344 > 2*7350 = 14700 -> sig
    assert(run(corpus((1 to 15).map(_ * 10.0))) == ((15L, 105L, 7350L, 1L, 1L)))
    // flat: every pair ties -> S = 0, and the single 15-day tie group
    // cancels var18 exactly (7350 - 7350 = 0): no verdict, no div-by-zero
    assert(run(corpus(Seq.fill(15)(100.0))) == ((15L, 0L, 0L, 0L, 0L)))
    // decreasing mirror: S = -105, same var, trend -1, still significant
    assert(run(corpus((1 to 15).map(i => (16 - i) * 10.0))) == ((15L, -105L, 7350L, -1L, 1L)))
    // swapping one adjacent pair in the monotone series flips exactly ONE
    // concordant pair to discordant (+1 -> -1); every other pair keeps
    // its order, so S = 105 - 2 = 103 — the statistic counts ORDERINGS,
    // not magnitudes (the robustness q101's OLS slope does not have)
    val swapped = (1 to 15).map(_ * 10.0).updated(6, 80.0).updated(7, 70.0)
    assert(run(corpus(swapped)) == ((15L, 103L, 7350L, 1L, 1L)))
  }

  test("a23 dow ANOVA: weekday-determined revenue reads eta2 exactly 1e6; flat series pins the zero-variance guard; sparse grid zero-fills") {
    import spark.implicits._
    def corpus(days: Seq[(Int, Double)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("a23spec").toString
      days.zipWithIndex.map { case ((d, v), i) =>
        (i.toLong + 1, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), v) }
        .toDF("o_orderkey", "o_orderdate", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    def run(dir: String) = SparkEntry.queries("a23_dow_anova")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // 14 consecutive days from Mon 2024-01-01 (dow 1 under the (day+4)%7
    // Sunday=0 convention): revenue = (dow+1)*100.00, so the weekday FULLY
    // determines the series — within-group variance 0 ⟹ SSB = SST ⟹
    // eta2 exactly 1e6 (the per-group flooring is exact here: every B_g is
    // even and n_g = 2). Hand trace: S_g = 20000(d+1) cents, S = 560000,
    // mean_x100 = 1e6(d+1), rev_index = 250000(d+1) exactly.
    // dow(2024-01-d) = d % 7 (epoch day 19722+d, and 19726 ≡ 0 mod 7)
    val det = run(corpus((1 to 14).map(d => (d, ((d % 7) + 1) * 100.0))))
    assert(det === (0 to 6).map(d =>
      (d.toLong, 2L, 20000L * (d + 1), 1000000L * (d + 1), 250000L * (d + 1), 1000000L)),
      det.mkString(", "))
    // flat 14 days: SST = 0 — the audit reports eta2 = 0 through the
    // zero-variance guard (nothing to decompose, nothing divided) and
    // every weekday indexes exactly 1e6
    val flat = run(corpus((1 to 14).map(d => (d, 100.0))))
    assert(flat === (0 to 6).map(d => (d.toLong, 2L, 20000L, 1000000L, 1000000L, 0L)),
      flat.mkString(", "))
    // 3 observed days (Mon-Wed): the 7-row grid still emits, absent
    // weekdays zero-filled (an empty cell is a finding, not a missing row)
    val sparse = run(corpus(Seq((1, 100.0), (2, 100.0), (3, 100.0))))
    assert(sparse.count(_._2 == 0L) === 4 &&
      sparse.filter(_._2 == 0L).forall(r => r._3 == 0L && r._4 == 0L && r._5 == 0L),
      sparse.mkString(", "))
  }

  test("t35 Heaps: planted 2-new-tokens-per-doc corpus — first-occurrence prefix curve and OLS match the BigInt mirror exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t35spec").toString
    // doc i carries 2 fresh tokens + the constants (a, b): V_k = 2k + 2,
    // N_k = 4k at every decile checkpoint (max doc_id 10 -> thr_k = k)
    (1 to 10).map(i => (i.toLong, s"w${2 * i - 1} w${2 * i} a b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent mirror of the integer OLS on the 1e3 ln grid
    def grid(v: Long): BigInt = BigInt(math.floor(math.log(v.toDouble) * 1000 + 0.5).toLong)
    val pts = (1 to 10).map(k => (grid(4L * k), grid(2L * k + 2)))
    val c = BigInt(pts.size)
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val (cov, vx, vy, icn) =
      (c * sxy - sx * sy, c * sxx - sx * sx, c * syy - sy * sy, sy * sxx - sx * sxy)
    def r4d(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val beta = r4d(cov.toDouble / vx.toDouble)
    val lnk = r4d(icn.toDouble / vx.toDouble)
    val r2 = r4d(cov.toDouble * cov.toDouble / (vx.toDouble * vy.toDouble))
    val got = SparkEntry.queries("t35_heaps_law")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).head
    assert(got == ((10L, 40L, 22L, beta, lnk, r2)), s"got $got, want beta=$beta lnk=$lnk r2=$r2")
    // sanity on the mirror itself: sub-linear growth, strong fit
    assert(beta > 0.3 && beta < 1.0 && r2 > 0.95, s"beta=$beta r2=$r2")
  }

  test("q122 stock aging: FIFO leftover in closed form — consumed lot vanishes, head-split partial, untouched lot; empty bands zero-fill") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q122spec").toString
    val d = java.sql.Date.valueOf(_: String)
    // one part, demand 15 against lots of 10+10+10 (FIFO: lot1 fully
    // consumed, lot2 keeps 5, lot3 keeps all 10); the as-of date comes
    // from the RETURN line (2024-04-15) — the newest event
    Seq(
      (1L, "N", 10.0, 1.00, d("2024-01-01"), 1L, 1),  // age 105 -> band 3, leftover 0
      (1L, "N", 10.0, 2.00, d("2024-02-20"), 2L, 1),  // age 55  -> band 1, leftover 5
      (1L, "N", 10.0, 3.00, d("2024-04-10"), 3L, 1),  // age 5   -> band 0, leftover 10
      (1L, "R", 15.0, 0.00, d("2024-04-15"), 4L, 1))
      .toDF("l_partkey", "l_returnflag", "l_quantity", "l_extendedprice",
        "l_shipdate", "l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q122_stock_aging")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    // lot2 pro-rata value: 5 * 200c div 10 = 100c; lot3: 10 * 300c div 10
    assert(got == List(
      (0L, 1L, 10L, 300L),
      (1L, 1L, 5L, 100L),
      (2L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L)), got.mkString(", "))
  }

  test("a22 ACF: hand-traced alternating series — negative lag-1, positive lag-2; flat series pins acf 0.0; empty lags zero-fill") {
    import spark.implicits._
    def corpus(values: Seq[Double]): String = {
      val dir = java.nio.file.Files.createTempDirectory("a22spec").toString
      values.zipWithIndex.map { case (v, i) =>
        (i.toLong + 1, java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00"), v) }
        .toDF("o_orderkey", "o_orderdate", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    def run(dir: String) = SparkEntry.queries("a22_autocorrelation")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // 4 alternating days (100, 200, 100, 200): devs (n*x - S) = -200c*100,
    // +200c*100 alternating; den = 4*(20000^2 cents^2 scaled);
    // lag1: 3 pairs, all opposite-sign -> -0.75; lag2: 2 same-sign -> +0.5;
    // lag3: 1 opposite -> -0.25; lags 4-7: no pairs -> zero-filled
    assert(run(corpus(Seq(100.0, 200.0, 100.0, 200.0))) == List(
      (1L, 3L, -0.75), (2L, 2L, 0.5), (3L, 1L, -0.25),
      (4L, 0L, 0.0), (5L, 0L, 0.0), (6L, 0L, 0.0), (7L, 0L, 0.0)))
    // flat series: den = 0 -> acf pinned to exact 0.0, pairs still counted
    assert(run(corpus(Seq.fill(10)(50.0))) == (1 to 7).map(k =>
      (k.toLong, (10 - k).toLong, 0.0)).toList)
  }

  test("d20 substring duplication: anchored windows collide across docs at DIFFERENT offsets; within-doc repeats count dup but not xdoc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("d20spec").toString
    val shared = "hello world this is a shared run of verbatim boilerplate text"
    val docs = Seq(
      (1L, "xxx " + shared + " plus a unique tail for doc one"),
      // the shared run sits at a DIFFERENT character offset here — fixed-
      // stride windows would miss it; word anchors must still collide
      (2L, "zzzzzzz " + shared + " and another ending entirely"),
      (3L, "doc three is fully unique text with no repeated runs anywhere"),
      // within-doc repeat: the same >32-char phrase twice in ONE doc
      (4L, "aa " + "repeated internal phrase of some length here" + " mid " +
        "repeated internal phrase of some length here" + " zz"),
      (5L, "short"))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent Scala mirror of the window/flag definition
    def windows(t: String): Seq[String] =
      (1 to t.length - 32).filter(i => t.charAt(i - 1) == ' ')
        .map(i => t.substring(i, i + 32))
    val all = docs.filter(_._2.length >= 33)
      .flatMap { case (id, t) => windows(t).map(w => (id, w)) }
    val occ = all.groupBy(_._2).map { case (w, os) =>
      w -> (os.size.toLong, os.map(_._1).distinct.size.toLong) }
    val want = all.groupBy(_._1).map { case (id, ws) =>
      val n = ws.size.toLong
      val dup = ws.count { case (_, w) => occ(w)._1 >= 2 }.toLong
      val x = ws.count { case (_, w) => occ(w)._2 >= 2 }.toLong
      (id, n, dup, x, dup * 1000000 / n, x * 1000000 / n)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("d20_substring_duplication")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want, s"\ngot:  ${got.mkString(", ")}\nwant: ${want.mkString(", ")}")
    // the semantics the mirror was built to check, asserted directly:
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 > 0, "doc 1 must report cross-doc duplication")
    assert(byId(2L)._4 > 0, "doc 2 must report it despite the offset shift")
    assert(byId(3L)._3 == 0 && byId(3L)._4 == 0, "unique doc must be clean")
    assert(byId(4L)._3 > 0 && byId(4L)._4 == 0,
      "within-doc repeat counts dup but NOT xdoc")
    assert(!byId.contains(5L), "sub-window docs are out of the audit domain")
  }

  test("d20 eager form runs the anchored-window explode once (both legs read the persisted frame)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // full-tree walk that descends through AQE wrappers but NOT through
    // InMemoryTableScanExec leaves — each count sees exactly one cache
    // boundary at a time
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def count(p: SparkPlan)(pf: PartialFunction[SparkPlan, Unit]): Int =
      nodes(p).count(pf.isDefinedAt)
    // the lazy PlanAudit twin (no persist) carries the explode on BOTH
    // legs — the 2x shape r16 advisory #2 flagged
    val lazyPlan = graft.operators.DedupQueries.substringDup(spark, sf0001, Materialize.Lazy)
      .queryExecution.executedPlan
    assert(count(lazyPlan) { case _: GenerateExec => } === 2,
      "un-persisted twin must show the per-leg explode")
    // the eager registry form persists the exploded frame: the result's
    // cached plan joins TWO InMemoryTableScans of that one frame and
    // carries ZERO Generate nodes — the O(chars) explode ran exactly once,
    // inside the cache fill
    val out = SparkEntry.queries("d20_substring_duplication")(spark, sf0001)
    try {
      assert(out.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "eager d20 result must come back persisted (the d04/d10 convention)")
      val topScan = nodes(out.queryExecution.executedPlan)
        .collectFirst { case s: InMemoryTableScanExec => s }
      assert(topScan.nonEmpty, "eager d20 must read its own cached result")
      val inner = topScan.get.relation.cachedPlan
      assert(count(inner) { case _: GenerateExec => } === 0,
        "persisted form must not re-run the explode on any leg")
      assert(count(inner) { case _: InMemoryTableScanExec => } === 2,
        "both legs must read the one persisted window frame")
    } finally out.unpersist(blocking = false)
  }

  test("m14 aspect buckets: exact-ratio snap, batches of 8 per bucket in doc order, ragged tails report -1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m14spec").toString
    val square = "MMxx" + "AA" + "AA"   // w = h = 16705 -> bucket 3 (1:1)
    val wide = "MMxx" + "B@" + "! "     // 16960 x 8480 = exactly 2:1 -> bucket 6
    val tall = "MMxx" + "! " + "B@"     // 8480 x 16960 = exactly 1:2 -> bucket 0
    val docs = (0 to 16).map(i => (i * 3L, square)) ++      // 17 squares: ids 0..48
      Seq((51L, wide), (54L, wide), (57L, tall),
        (60L, "ab"),                                        // truncated image: out
        (1L, square))                                       // audio id: out
    docs.map { case (id, t) => (id, t, "en", "spec") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("m14_aspect_buckets")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(7), r.getLong(8))).toSeq
    // squares: rn 1..16 fill batches 0 and 1; the 17th (doc 48) is the
    // ragged tail; wide (2 < 8) and tall (1 < 8) buckets are ALL tail
    val wantSquares = (0 to 15).map(i => (i * 3L, 3L, (i / 8).toLong, (i % 8).toLong))
    val want = wantSquares ++ Seq((48L, 3L, -1L, -1L),
      (51L, 6L, -1L, -1L), (54L, 6L, -1L, -1L), (57L, 0L, -1L, -1L))
    assert(got == want, s"got: ${got.mkString(", ")}")
  }

  test("m15 image near-dup: exact dup at hamming 0, 2-block perturbation at hamming 2, phase-shifted pattern isolated") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m15spec").toString
    val header = "HDvfAAAA"
    // 64 proportional blocks of 3 bytes each (L = 192): even blocks 'zzz'
    // (122 > mean), odd 'aaa' (97 < mean) -> band keys 0x5555 each
    def payload(block: Int => String): String =
      (0 until 64).map(block).mkString
    val p = payload(b => if (b % 2 == 0) "zzz" else "aaa")
    // blocks 0 and 2 flipped to 'aaa': exactly bits 0,2 of band 0 flip
    // (means stay strictly separated), bands 1-3 untouched -> a guaranteed
    // band collision with p and hamming exactly 2
    val pPerturbed = payload(b => if (b % 2 == 0 && b > 2) "zzz" else "aaa")
    // the complement phase: every bit flips -> no shared band key
    val q = payload(b => if (b % 2 == 0) "aaa" else "zzz")
    val docs = Seq(
      (0L, header + p),          // image lane
      (3L, header + p),          // exact dup of doc 0
      (6L, header + pPerturbed), // 2-bit perturbation
      (9L, header + q),          // complement pattern: isolated
      (12L, header + "short"),   // payload < 64 bytes: out of domain
      (1L, header + p))          // audio lane: out of domain
    docs.map { case (id, t) => (id, t, "en", "spec") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("m15_image_neardup")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet === Set(0L, 3L, 6L, 9L),
      s"short payloads and non-images must be out of domain: ${got.keySet}")
    assert(got(0L) === ((2L, 3L, 0L, 1L)), s"doc 0: ${got(0L)}")   // best = exact dup
    assert(got(3L) === ((2L, 0L, 0L, 1L)), s"doc 3: ${got(3L)}")
    assert(got(6L) === ((2L, 0L, 2L, 1L)), s"doc 6 must read hamming exactly 2: ${got(6L)}")
    assert(got(9L) === ((0L, -1L, -1L, 0L)),
      s"the complement pattern must report the -1 sentinels: ${got(9L)}")
  }

  test("m13 scene cuts: planted frame features — cut on the 64-delta, short final frame clamps, non-videos silent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m13spec").toString
    // doc 2 (video): 4 x 64B frames AAyy -> features 520,520,968,968:
    //   one cut at frame 2, two shots of length 2
    // doc 5 (video): 64 x '0' + 6 x 'z' -> features 384, 732 (past-end
    //   octets clamp to 0 on the short final frame) -> one cut
    // doc 8 (video): 2 bytes -> single frame, zero cuts, one shot
    // doc 0 (image): must not appear
    Seq((2L, "A" * 128 + "y" * 128), (5L, "0" * 64 + "z" * 6),
      (8L, "ab"), (0L, "A" * 256))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("m13_scene_cuts")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (2L, 4L, 1L, 2L, 2L),
      (5L, 2L, 1L, 2L, 1L),
      (8L, 1L, 0L, 1L, 1L)), got.mkString(", "))
  }

  test("p21 reweight: max-entropy source anchors the update, repetitive source reads H = 0 exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p21spec").toString
    // source a: 4 distinct tokens -> all c = 1, es = 0, H = ln_grid(4);
    // source b: one token repeated 4x -> H = ln_grid(4) - 4*ln_grid(4)/4 = 0
    // (zero entropy EXACTLY on the grid — the repetitive-source floor).
    // factor(a) = 1e6 + ln_grid(4) div 4, factor(b) = 1e6; mirror below
    Seq((1L, "t1 t2 t3 t4", "a"), (2L, "x x x x", "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ln4 = math.floor(math.log(4.0) * 1000000 + 0.5).toLong
    val fa = BigInt(1000000 + ln4 / 4)
    val fb = BigInt(1000000)
    val tf = fa + fb
    val got = SparkEntry.queries("p21_domain_reweight")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("a", 4L, ln4, ln4, fa.toLong, (fa * 1000000 / tf).toLong, (fa * 8 / tf).toLong),
      ("b", 4L, 0L, 0L, fb.toLong, (fb * 1000000 / tf).toLong, (fb * 8 / tf).toLong)),
      got.mkString(", "))
  }

  test("q121 k-anonymity: sub-k classes flag, negative balances band by floor, clean nations read zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q121spec").toString
    // nation 1: band 0 x6 (fine) + band 1 x2 (violating) -> k = 2,
    //   suppressed 2 of 8 = 250000 ppm
    // nation 2: one band of 10 -> k = 10, zero suppression
    // nation 3: band -1 x3 (floor(-500/1000) = -1, the negative-balance
    //   floor) -> everything suppressed
    val rows = (1 to 6).map(i => (i.toLong, 1, 500.0)) ++
      (7 to 8).map(i => (i.toLong, 1, 1500.0)) ++
      (9 to 18).map(i => (i.toLong, 2, 200.0)) ++
      (19 to 21).map(i => (i.toLong, 3, -500.0))
    rows.toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("q121_k_anonymity")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      (1L, 8L, 2L, 1L, 2L, 250000L, 2L),
      (2L, 10L, 1L, 0L, 0L, 0L, 10L),
      (3L, 3L, 1L, 1L, 3L, 1000000L, 3L)), got.mkString(", "))
  }
}
