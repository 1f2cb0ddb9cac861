package graft.operators

import graft.{GraftQuery, Materialize}
import graft.GraftQuery.{sql, sqlEager}
import graft.multimodal.Multimodal
import graft.sources.Tables
import graft.operators.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column queries: binary payload metadata, stubbed decode /
  * feature extraction (see [[graft.multimodal.Multimodal]]), frame
  * sampling, and the documents × embeddings struct-column join.
  */
object MultimodalQueries {

  /** m15/st20's shared aHash band-key oracle block (the bandKeySql
    * convention): replays [[graft.multimodal.Multimodal.imageBandHashes]]
    * bit-exactly — image domain (doc_id % 3, payload ≥ 64 bytes after the
    * 8-byte header), proportional 64-block byte means, the exact integer
    * cross-multiply threshold, four 16-bit band keys. Ends with the
    * `bands(doc_id, band, key)` CTE; pre-stripped, callers append. One
    * definition for batch (m15) and stream (st20), so the hash grammar
    * cannot drift between the twins.
    */
  private[operators] val imageBandSql: String =
    """WITH img AS (SELECT doc_id, substring(text, 9) AS payload, CAST(length(text) - 8 AS BIGINT) AS L
      |             FROM documents WHERE doc_id % 3 = 0 AND length(text) >= 72),
      |by0 AS (SELECT doc_id, L, payload, unnest(generate_series(1, L)) AS i FROM img),
      |byt AS (SELECT doc_id, L, ((i - 1) * 64) // L AS blk,
      |               CAST(ascii(substring(payload, CAST(i AS INT), 1)) AS BIGINT) AS v FROM by0),
      |blocks AS (SELECT doc_id, L, blk, CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |           FROM byt GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS total FROM blocks GROUP BY 1),
      |bits AS (SELECT b.doc_id, b.blk, CASE WHEN b.s * b.L > t.total * b.c THEN 1 ELSE 0 END AS bit
      |         FROM blocks b JOIN tot t USING (doc_id)),
      |bands AS (SELECT doc_id, blk // 16 AS band, CAST(sum(bit << CAST(blk % 16 AS INT)) AS BIGINT) AS key
      |          FROM bits GROUP BY 1, 2)""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    sql(
      "m01_binary_metadata",
      "binary payload column: byte length + SHA-256 content address",
      """SELECT doc_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |       sha256(text) AS content_sha
        |FROM documents
        |ORDER BY doc_id""") { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("byte_len"),
          sha2(col("text").cast("binary"), 256).as("content_sha"))
        .orderBy("doc_id")
    },

    sql(
      "m02_decode_features",
      "partition-batched media decode (stubbed codec) → fixed-width features; oracle reproduces the stub's byte statistics (fixture text is pure ASCII, so char codepoints == payload bytes)",
      """WITH b AS (
        |  SELECT doc_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |         list_transform(string_split(text, ''), c -> ascii(c)) AS bytes,
        |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len
        |  FROM documents)
        |SELECT doc_id, media_type, byte_len,
        |       -- coalesce/greatest: an empty payload decodes to mean 0.0 and
        |       -- f0 = 0 in the stub, never NULL/div-by-zero
        |       floor((coalesce(list_sum(bytes), 0) * 1.0 / greatest(byte_len, 1)) * 10000 + 0.5) / 10000 AS mean_byte,
        |       -- f0 is a FLOAT in the engine; DuckDB FLOAT/FLOAT divides in
        |       -- float32, reproducing the stub's s.toFloat/c bit-for-bit
        |       floor(CAST(CAST(coalesce(list_sum(bytes[1:greatest(1, CAST(byte_len // 16 AS INT))]), 0) AS FLOAT)
        |                  / CAST(greatest(1, byte_len // 16) AS FLOAT) AS DOUBLE) * 10000 + 0.5) / 10000 AS f0
        |FROM b
        |ORDER BY doc_id""") { (s, dir) =>
      val feats = Multimodal.decodeFeatures(
        Multimodal.packBlobs(s, Tables.documents(s, dir)))
      feats.toDF()
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          r4(col("mean_byte")).as("mean_byte"),
          r4(element_at(col("feature"), 1).cast("double")).as("f0"))
        .orderBy("doc_id")
    },

    sql(
      "m03_frame_sampling",
      "video frame sampling: payload → exploded frame rows (every 2nd 64-byte frame). The stub slicer is deterministic arithmetic over byte lengths, so the oracle reproduces frame indices and lengths from octet_length alone — same trick as m02",
      """SELECT doc_id,
        |       CAST(u.idx AS BIGINT) AS frame_idx,
        |       CAST(least(64, n - u.idx * 64) AS BIGINT) AS frame_len
        |FROM (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n
        |      FROM documents WHERE doc_id % 3 = 2),
        |     unnest(generate_series(0, CAST((n - 1) // 64 AS BIGINT), 2)) AS u(idx)
        |WHERE n > 0
        |ORDER BY doc_id, frame_idx""") { (s, dir) =>
      val frames = Multimodal.sampleFrames(
        Multimodal.packBlobs(s, Tables.documents(s, dir)))
      frames.toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_idx")
    },

    sql(
      "m05_resize_stub",
      "resize/thumbnail (stubbed nearest-neighbor byte-stride downsample, factor 4) composed with the stub decoder — the thumbnail→embed pipeline shape: payload in, quarter-size payload out, features from the RESIZED bytes. The stride arithmetic is deterministic, so the oracle reproduces resized length and mean byte from the original text alone (same trick as m02/m03)",
      """WITH b AS (
        |  SELECT doc_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |         list_transform(string_split(text, ''), c -> ascii(c)) AS bytes,
        |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS orig_len
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, media_type, orig_len,
        |         CAST((orig_len + 3) // 4 AS BIGINT) AS resized_len,
        |         list_sum(list_transform(generate_series(1, CAST(orig_len AS INT), 4), i -> bytes[i])) AS rsum
        |  FROM b)
        |SELECT doc_id, media_type, orig_len, resized_len,
        |       -- empty payload: the stub decoder emits mean 0.0 (not NULL),
        |       -- so coalesce/greatest mirror that instead of NULL/div-by-zero
        |       floor((coalesce(rsum, 0) * 1.0 / greatest(resized_len, 1)) * 10000 + 0.5) / 10000 AS resized_mean
        |FROM r
        |ORDER BY doc_id""") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // orig_len projects straight off the documents scan (blob data IS the
      // text bytes); re-deriving it through a second packBlobs evaluation
      // would duplicate the projection for the same one-column join
      val orig = docs.select(col("doc_id"), octet_length(col("text")).cast("long").as("orig_len"))
      Multimodal.decodeFeatures(Multimodal.resize(Multimodal.packBlobs(s, docs))).toDF()
        .select(col("doc_id"), col("media_type"),
          col("byte_len").as("resized_len"), r4(col("mean_byte")).as("resized_mean"))
        .join(orig, "doc_id")
        .select(col("doc_id"), col("media_type"), col("orig_len"),
          col("resized_len"), col("resized_mean"))
        .orderBy("doc_id")
    },

    sql(
      "m04_multimodal_join",
      "documents × embeddings as one multimodal struct column, filtered + aggregated",
      s"""SELECT label, count(*) AS n,
        |       ${a4("n_chars")} AS avg_chars,
        |       floor((CAST(sum(CAST(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS DECIMAL(24,6))) AS DOUBLE)
        |              / count(*)) * 10000 + 0.5) / 10000 AS avg_sq_norm
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |WHERE d.lang = 'en'
        |GROUP BY label
        |ORDER BY label""") { (s, dir) =>
      import graft.functions.VectorFunctions._
      val doc = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      doc.join(emb, col("doc_id") === col("vec_id"))
        .select(struct(col("text"), col("lang"), col("n_chars"), col("embedding"), col("label")).as("media"))
        .filter(col("media.lang") === "en")
        .groupBy(col("media.label").as("label"))
        .agg(count(lit(1)).as("n"),
          davg4(col("media.n_chars")).as("avg_chars"),
          r4(dsum(dotProduct(col("media.embedding"), col("media.embedding"))) / count(lit(1))).as("avg_sq_norm"))
        .orderBy("label")
    },

    sql(
      "m06_cdc_chunks",
      "content-defined chunking of binary payloads — the variable-size block dedup primitive (restic/LBFS-style: cut wherever a sliding window fingerprint hits a magic value, so an insertion early in a blob shifts ONE chunk's boundary instead of re-aligning every fixed-size block downstream; chunk content hashes then feed the d01 exact-dedup shape for cross-blob block-level dedup): window = 4 payload bytes hashed by the fused shingle-fnv1a kernel (ShingleHashes — the t18 winnowing stream, cut-on-magic instead of min-selected), cut after any window whose hash ≡ 0 mod 16 (expected chunk ≈ 16 B at the fixture's payload sizes), emit per chunk its 0-based index, 1-based byte offset, length, and md5 (the content address a block store would key on). Payload = the m01/m02 text-as-bytes stub contract (fixture text is pure ASCII, so char positions == byte offsets and the oracle replays the kernel per char in HUGEINT). Scale posture: zero shuffles — chunking is a per-row codegen'd kernel + generator expand (the t19 shape), embarrassingly parallel over any partitioning; at 100 TB the md5 column feeds a chunk-keyed group-by for block dedup, and min/max chunk-size clamps bound state exactly as in FastCDC",
      """WITH ch AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
        |                   string_split(text, '') AS cs
        |            FROM documents WHERE length(text) >= 1),
        |hu AS (SELECT doc_id, text, n,
        |         list_transform(generate_series(1, greatest(CAST(0 AS BIGINT), n - 3)), i ->
        |           list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |             list_transform(string_split(
        |               cs[i] || chr(31) || cs[i+1] || chr(31) || cs[i+2] || chr(31) || cs[i+3], ''),
        |               c -> CAST(ascii(c) AS HUGEINT))),
        |             (a, c) -> (xor(a, c) * 1099511628211) % 18446744073709551616)) AS us
        |       FROM ch),
        |cuts AS (SELECT doc_id, text, n,
        |           list_filter(list_transform(us, (u, i) ->
        |             CASE WHEN u % 16 = 0 AND i + 3 < n THEN i + 3 ELSE CAST(-1 AS BIGINT) END),
        |             x -> x > 0) AS bs
        |         FROM hu),
        |parts AS (SELECT doc_id, text,
        |            list_prepend(CAST(1 AS BIGINT), list_transform(bs, b -> b + 1)) AS ss,
        |            list_append(bs, n) AS es
        |          FROM cuts),
        |idx AS (SELECT doc_id, text, ss, es,
        |               CAST(unnest(generate_series(1, len(ss))) AS BIGINT) AS k
        |        FROM parts)
        |SELECT doc_id, k - 1 AS chunk_idx, ss[k] AS start_pos,
        |       es[k] - ss[k] + 1 AS chunk_len,
        |       md5(substr(text, CAST(ss[k] AS INT), CAST(es[k] - ss[k] + 1 AS INT))) AS chunk_md5
        |FROM idx
        |ORDER BY doc_id, chunk_idx""") { (s, dir) =>
      import graft.functions.HashFunctions
      // windows are 1-char "tokens" (the payload-byte stream): window j
      // (0-based) covers bytes j+1..j+4, so a magic hash cuts after byte
      // j+4; the last window never cuts (a zero-length tail chunk is
      // meaningless). Everything below the explode is array arithmetic on
      // the codegen'd hash stream — no shuffle, no UDF.
      Tables.documents(s, dir)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"),
          HashFunctions.shingleHashes(split(col("text"), ""), 4).as("hs"))
        .withColumn("bs", expr(
          "filter(transform(hs, (h, j) -> CASE WHEN pmod(h, 16) = 0 AND j + 4 < n " +
            "THEN cast(j + 4 as bigint) ELSE cast(-1 as bigint) END), x -> x > 0)"))
        .withColumn("ss", expr("concat(array(cast(1 as bigint)), transform(bs, b -> b + 1))"))
        .withColumn("es", expr("concat(bs, array(n))"))
        .select(col("doc_id"), col("text"),
          posexplode(expr(
            "transform(ss, (s, k) -> struct(s AS start_pos, element_at(es, k + 1) - s + 1 AS chunk_len))"))
            .as(Seq("chunk_idx", "c")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("c.start_pos").as("start_pos"), col("c.chunk_len").as("chunk_len"),
          md5(expr("cast(substring(text, cast(c.start_pos as int), cast(c.chunk_len as int)) as binary)"))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    sqlEager(
      "m07_phash_pairs",
      "perceptual-hash near-duplicate pairs over binary payloads — the image-dedup primitive (average-hash: sample a fixed 64-position grid of the payload, threshold each sample against the grid mean, compare 64-bit fingerprints by Hamming distance; re-encoded/resized variants of the same media keep most bits, which byte-exact m01 sha256 dedup cannot see): grid position k reads byte floor((k-1)·n/64)+1, bit_k = 1 iff sample·64 > Σsamples (exact integer compare — no float mean, ties to 0), bits pack into four 16-bit bands, candidate pairs form ONLY via equality on any (band_idx, band_value) key (the d04 LSH-banding shape: Hamming ≤ 8 over 4 bands guarantees ≥ 1 identical band by pigeonhole, so banding is RECALL-LOSSLESS for the threshold), and candidates verify with bit_count(xor) summed across bands. Payload = the m01/m02 text-as-bytes stub contract. Scale posture: fingerprints are map-side codegen arithmetic; the only shuffle is the 10-byte band-key join, never payload×payload; band-bucket skew (e.g. the all-zero hash of blank media) caps exactly like d04's mega-bands",
      """WITH ch AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |            FROM documents WHERE length(text) >= 1),
        |sam AS (SELECT doc_id,
        |               list_transform(generate_series(1, 64),
        |                 k -> CAST(ascii(substr(text, CAST(((k-1) * n) // 64 AS INT) + 1, 1)) AS BIGINT)) AS sv
        |        FROM ch),
        |bt AS (SELECT doc_id, sv, list_sum(sv) AS s FROM sam),
        |bands AS (SELECT doc_id,
        |                 list_transform(generate_series(0, 3), j ->
        |                   CAST(list_sum(list_transform(generate_series(1, 16), i ->
        |                     CASE WHEN sv[j*16 + i] * 64 > s THEN CAST(1 AS BIGINT) << (i - 1)
        |                          ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS bs
        |          FROM bt),
        |keys AS (SELECT doc_id, bs, unnest(generate_series(1, 4)) AS j FROM bands),
        |kx AS (SELECT doc_id, j, bs[j] AS key FROM keys),
        |kf AS (SELECT k.* FROM kx k
        |       WHERE NOT EXISTS (SELECT 1 FROM (SELECT j, key FROM kx GROUP BY j, key
        |                                        HAVING count(*) > 200) big
        |                         WHERE big.j = k.j AND big.key = k.key)),
        |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |         FROM kf a JOIN kf b ON b.j = a.j AND b.key = a.key AND b.doc_id > a.doc_id),
        |ham AS (SELECT c.a, c.b,
        |               CAST(list_sum(list_transform(generate_series(1, 4),
        |                 j -> bit_count(xor(ba.bs[j], bb.bs[j])))) AS BIGINT) AS hamming
        |        FROM cand c JOIN bands ba ON ba.doc_id = c.a JOIN bands bb ON bb.doc_id = c.b)
        |SELECT a, b, hamming FROM ham WHERE hamming <= 8
        |ORDER BY a, b""") { (s, dir, m) =>
      // sampled byte k (1-based): position ((k-1)*n div 64)+1 ∈ [1, n];
      // bit threshold is the exact integer compare v*64 > Σv (ties → 0)
      // substring(pos, 1), not split-then-index: sampling 64 bytes must not
      // materialize a |payload|-element char array per row
      val fp = m.fill(Tables.documents(s, dir)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n"))
        .withColumn("sv", expr(
          "transform(sequence(1, 64), k -> cast(ascii(substring(text, cast(((k-1) * n) div 64 as int) + 1, 1)) as bigint))"))
        .withColumn("s", expr("aggregate(sv, cast(0 as bigint), (acc, x) -> acc + x)"))
        .withColumn("bs", expr(
          "transform(sequence(0, 3), j -> aggregate(sequence(1, 16), cast(0 as bigint), " +
            "(acc, i) -> acc + CASE WHEN element_at(sv, j*16 + i) * 64 > s " +
            "THEN shiftleft(cast(1 as bigint), i - 1) ELSE cast(0 as bigint) END))"))
        .select(col("doc_id"), col("bs")))
      // Materialization barrier (the g02/d04 lesson, and this operator's
      // hard-won version of it): the fingerprint chain is a payload-sized
      // split + lambda cascade that collapse-projection would otherwise
      // INLINE into every downstream reference — the candidate join, both
      // verification joins, and the 4-term hamming fold would each re-run
      // string_split(text) PER JOINED ROW, interpreted (measured: a single
      // AQE-coalesced task burned 33 cpu-MINUTES at sf0.1 before this
      // persist; with it the whole query is sub-second). The cache is
      // |docs| rows × 4 longs — always the smallest thing in the plan.
      val keys = fp.select(col("doc_id"),
        posexplode(col("bs")).as(Seq("j", "key")))
      // degenerate-bucket cap: a band value shared by >200 payloads (e.g.
      // the all-above-mean 0xFFFF band of uniform media) is low-information
      // and quadratic in candidates — drop the BUCKET, as stop-grams are
      // dropped from inverted indexes. Recall cost is confined to pairs
      // whose ONLY shared band is degenerate; the oracle applies the same
      // rule, and at the fixture scales no bucket reaches the cap (max 117
      // at sf0.1), so the gate results are cap-invariant.
      val big = keys.groupBy("j", "key").agg(count(lit(1)).as("c"))
        .filter(col("c") > 200).select("j", "key")
      val kf = keys.join(broadcast(big), Seq("j", "key"), "left_anti")
      val cand = kf.select(col("doc_id").as("a"), col("j"), col("key"))
        .join(kf.select(col("doc_id").as("b"), col("j"), col("key")), Seq("j", "key"))
        .filter(col("b") > col("a"))
        .select("a", "b").distinct()
      m.result(cand
        .join(fp.select(col("doc_id").as("a"), col("bs").as("bs_a")), "a")
        .join(fp.select(col("doc_id").as("b"), col("bs").as("bs_b")), "b")
        .withColumn("hamming", expr(
          "aggregate(sequence(1, 4), cast(0 as bigint), " +
            "(acc, j) -> acc + bit_count(element_at(bs_a, j) ^ element_at(bs_b, j)))"))
        .filter(col("hamming") <= 8)
        .select("a", "b", "hamming")
        .orderBy("a", "b"))
    },

    sql(
      "m08_audio_vad",
      "audio voice-activity detection + silence trim (stubbed codec, real VAD shape): audio payloads slice into 32-byte PCM frames, each scored by the INTEGER energy Σ(b−128)² — no floats anywhere — with frames under 55000 marked silent; per doc the summary reports frame counts, the leading/trailing silent runs, and the trimmed active span, which is what a speech-corpus curation stack keeps before transcription. The oracle replays the byte arithmetic from the text payload (ASCII ⇒ codepoints == bytes, the m02 trick) including the shorter final partial frame, whose low energy correctly reads as trailing silence. Scale posture: partition-batched single pass inside mapPartitions (one VAD-model init per partition, the JNI shape), per-doc summary output — zero shuffle, scan-bandwidth-bound at 100 TB; swapping the stub for a real codec/VAD changes no plan",
      """WITH a AS (SELECT doc_id, list_transform(string_split(text, ''), c -> ascii(c)) AS bytes,
        |                  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |fr AS (SELECT doc_id, CAST(u.f AS BIGINT) AS f,
        |              CAST(list_sum(list_transform(
        |                     bytes[CAST(u.f * 32 + 1 AS INT) : CAST(u.f * 32 + 32 AS INT)],
        |                     b -> (b - 128) * (b - 128))) AS BIGINT) AS energy
        |       FROM a, unnest(generate_series(0, CAST((n - 1) // 32 AS BIGINT))) AS u(f)
        |       WHERE n > 0),
        |fl AS (SELECT doc_id, f, energy,
        |              CASE WHEN energy < 55000 THEN 1 ELSE 0 END AS silent FROM fr)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(sum(silent) AS BIGINT) AS n_silent,
        |       CAST(coalesce(min(CASE WHEN silent = 0 THEN f END), count(*)) AS BIGINT)
        |         AS lead_silent,
        |       CAST(CASE WHEN max(CASE WHEN silent = 0 THEN f END) IS NULL THEN count(*)
        |                 ELSE count(*) - 1 - max(CASE WHEN silent = 0 THEN f END) END AS BIGINT)
        |         AS trail_silent,
        |       CAST(CASE WHEN max(CASE WHEN silent = 0 THEN f END) IS NULL THEN 0
        |                 ELSE max(CASE WHEN silent = 0 THEN f END)
        |                      - min(CASE WHEN silent = 0 THEN f END) + 1 END AS BIGINT)
        |         AS trimmed_frames,
        |       CAST(sum(energy) AS BIGINT) AS total_energy
        |FROM fl GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      Multimodal.vadTrim(Multimodal.packBlobs(s, Tables.documents(s, dir)))
        .toDF()
        .orderBy("doc_id")
    },

    sql(
      "m09_header_parse",
      "container-header metadata extraction (stubbed format, real ingestion shape): a fixed 8-byte header — 2-byte magic, version (byte 2 mod 4), flags (byte 3 mod 16), big-endian 16-bit width/height — parses from every payload WITHOUT decoding the body, which is the pass ingestion runs on each container before deciding whether to decode at all (and the schema the typed-metadata columns of m01 promise). Truncated payloads (< 8 bytes) report well_formed = 0 with zeroed fields instead of throwing — real corpora contain them. Pure byte arithmetic (ASCII payload ⇒ codepoints == bytes, the m02 trick), replayed exactly by the oracle. Scale posture: mapPartitions single pass, fixed-width output, zero shuffle; at 100 TB this fuses into the scan and reads 8 bytes per blob if the format supports projection pushdown into the binary column",
      """SELECT doc_id,
        |       (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |       CASE WHEN n >= 8 THEN substring(text, 1, 2) ELSE '' END AS magic,
        |       CAST(CASE WHEN n >= 8 THEN ascii(substring(text, 3, 1)) % 4 ELSE 0 END AS BIGINT) AS version,
        |       CAST(CASE WHEN n >= 8 THEN ascii(substring(text, 4, 1)) % 16 ELSE 0 END AS BIGINT) AS flags,
        |       CAST(CASE WHEN n >= 8
        |                 THEN ascii(substring(text, 5, 1)) * 256 + ascii(substring(text, 6, 1))
        |                 ELSE 0 END AS BIGINT) AS width,
        |       CAST(CASE WHEN n >= 8
        |                 THEN ascii(substring(text, 7, 1)) * 256 + ascii(substring(text, 8, 1))
        |                 ELSE 0 END AS BIGINT) AS height,
        |       CAST(CASE WHEN n >= 8 THEN n - 8 ELSE 0 END AS BIGINT) AS payload_len,
        |       CAST(CASE WHEN n >= 8 THEN 1 ELSE 0 END AS BIGINT) AS well_formed
        |FROM (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n FROM documents)
        |ORDER BY doc_id""") { (s, dir) =>
      Multimodal.parseHeaders(Multimodal.packBlobs(s, Tables.documents(s, dir)))
        .toDF()
        .orderBy("doc_id")
    },

    sql(
      "m10_patch_grid",
      "ViT patch-grid generation from m09's parsed headers — the geometry half of image preprocessing (resize-to-fit + 16px patch tiling) computed WITHOUT decoding a single pixel, which is how a 100 TB ingest sizes its vision batches before any decoder runs: well-formed image containers (m09's magic/width/height parse) are deterministically scaled so the longer side fits 224 (integer flooring scale — sw = w*224 div max(w,h), the aspect-preserving shrink), the grid is (sh div 16) x (sw div 16) whole patches (partial edge patches dropped, ViT-style), and each patch emits its (row, col) index plus pixel origin (y0, x0). The explode is a zero-shuffle per-row generator (the m03 frame-sampling shape: rows scale with OUTPUT size); images too small for one whole patch vanish, exactly as a vision loader skips sub-patch thumbnails. All arithmetic is integer flooring on non-negative operands — the oracle replays the grid from octet arithmetic alone (the m02/m09 trick)",
      """WITH h AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS nb,
        |                  ascii(substring(text, 5, 1)) * 256 + ascii(substring(text, 6, 1)) AS w,
        |                  ascii(substring(text, 7, 1)) * 256 + ascii(substring(text, 8, 1)) AS ht
        |           FROM documents WHERE doc_id % 3 = 0),
        |s AS (SELECT doc_id, w, ht,
        |             CASE WHEN greatest(w, ht) <= 224 THEN w ELSE w * 224 // greatest(w, ht) END AS sw,
        |             CASE WHEN greatest(w, ht) <= 224 THEN ht ELSE ht * 224 // greatest(w, ht) END AS sh
        |      FROM h WHERE nb >= 8),
        |g AS (SELECT doc_id, w, ht, sh // 16 AS rows, sw // 16 AS cols FROM s)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(ht AS BIGINT) AS height,
        |       CAST(rows AS BIGINT) AS grid_rows, CAST(cols AS BIGINT) AS grid_cols,
        |       CAST(py.py AS BIGINT) AS patch_row, CAST(px.px AS BIGINT) AS patch_col,
        |       CAST(py.py * 16 AS BIGINT) AS y0, CAST(px.px * 16 AS BIGINT) AS x0
        |FROM g, unnest(generate_series(0, CAST(rows - 1 AS BIGINT))) py(py),
        |        unnest(generate_series(0, CAST(cols - 1 AS BIGINT))) px(px)
        |WHERE rows >= 1 AND cols >= 1
        |ORDER BY doc_id, patch_row, patch_col""") { (s, dir) =>
      Multimodal.parseHeaders(Multimodal.packBlobs(s, Tables.documents(s, dir))).toDF()
        .filter(col("media_type") === "image" && col("well_formed") === 1)
        .select(col("doc_id"), col("width"), col("height"))
        .withColumn("m", greatest(col("width"), col("height")))
        .withColumn("sw", when(col("m") <= 224, col("width")).otherwise(expr("width * 224 div m")))
        .withColumn("sh", when(col("m") <= 224, col("height")).otherwise(expr("height * 224 div m")))
        .withColumn("grid_rows", expr("sh div 16"))
        .withColumn("grid_cols", expr("sw div 16"))
        .filter(col("grid_rows") >= 1 && col("grid_cols") >= 1)
        .select(col("doc_id"), col("width"), col("height"), col("grid_rows"), col("grid_cols"),
          explode(expr("flatten(transform(sequence(0L, grid_rows - 1), py -> " +
            "transform(sequence(0L, grid_cols - 1), px -> struct(py AS py, px AS px))))")).as("p"))
        .select(col("doc_id"), col("width"), col("height"), col("grid_rows"), col("grid_cols"),
          col("p.py").cast("long").as("patch_row"), col("p.px").cast("long").as("patch_col"),
          (col("p.py") * 16).cast("long").as("y0"), (col("p.px") * 16).cast("long").as("x0"))
        .orderBy("doc_id", "patch_row", "patch_col")
    },

    sql(
      "m11_token_budget",
      "multimodal token-budget manifest — the per-modality sequence-cost table a mixed-modality training run derives BEFORE any decoder runs (the m-family's p04: how many model tokens does each modality contribute, and what share of the batch budget is that?): per media_type, token equivalents computed from container headers and byte lengths alone — image = whole 16px ViT patches after the m10 aspect-preserving 224 fit ((sh div 16)·(sw div 16), zero for sub-patch thumbnails and truncated headers), audio = 32-byte PCM frames ((n−1) div 32 + 1, the m08 slicing), video = every-2nd-64-byte sampled frames (((n−1) div 64) div 2 + 1, the m03 stride) — plus docs, tokenizable docs (tok ≥ 1), byte mass, and share_ppm of the global token budget widened through HUGEINT/DECIMAL(38,0) (per-modality tokens·1e6 brushes BIGINT at 100 TB). All flooring arithmetic on non-negative integers; the oracle replays it from octet arithmetic (the m02/m09 ASCII trick). Scale posture: one map-side projection per doc (header bytes only — fuses into the scan with binary-column projection pushdown), one modality-keyed rollup, a 3-row manifest with a broadcast 1-row total",
      """WITH b AS (SELECT doc_id,
        |                  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |                  octet_length(CAST(text AS BLOB)) AS n,
        |                  CASE WHEN octet_length(CAST(text AS BLOB)) >= 8
        |                       THEN ascii(substring(text, 5, 1)) * 256 + ascii(substring(text, 6, 1)) ELSE 0 END AS w,
        |                  CASE WHEN octet_length(CAST(text AS BLOB)) >= 8
        |                       THEN ascii(substring(text, 7, 1)) * 256 + ascii(substring(text, 8, 1)) ELSE 0 END AS ht
        |           FROM documents),
        |s AS (SELECT doc_id, media_type, n,
        |             CASE WHEN greatest(w, ht) <= 224 THEN w ELSE w * 224 // greatest(w, ht) END AS sw,
        |             CASE WHEN greatest(w, ht) <= 224 THEN ht ELSE ht * 224 // greatest(w, ht) END AS sh
        |      FROM b),
        |tok AS (SELECT doc_id, media_type, CAST(n AS BIGINT) AS n,
        |               CAST(CASE
        |                 WHEN media_type = 'image' THEN CASE WHEN n >= 8 THEN (sh // 16) * (sw // 16) ELSE 0 END
        |                 WHEN media_type = 'audio' THEN CASE WHEN n > 0 THEN (n - 1) // 32 + 1 ELSE 0 END
        |                 ELSE CASE WHEN n > 0 THEN ((n - 1) // 64) // 2 + 1 ELSE 0 END END AS BIGINT) AS tok
        |        FROM s),
        |agg AS (SELECT media_type, CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(CASE WHEN tok >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tokenizable,
        |               CAST(sum(n) AS BIGINT) AS total_bytes, CAST(sum(tok) AS BIGINT) AS total_tokens
        |        FROM tok GROUP BY media_type),
        |g AS (SELECT CAST(sum(total_tokens) AS HUGEINT) AS gt FROM agg)
        |SELECT media_type, n_docs, n_tokenizable, total_bytes, total_tokens,
        |       CAST(CAST(total_tokens AS HUGEINT) * 1000000 // gt AS BIGINT) AS share_ppm
        |FROM agg CROSS JOIN g ORDER BY media_type""") { (s, dir) =>
      val b = Tables.documents(s, dir)
        .select(col("doc_id"),
          element_at(lit(Array("image", "audio", "video")),
            (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
          length(col("text").cast("binary")).cast("long").as("n"),
          when(length(col("text").cast("binary")) >= 8,
            ascii(substring(col("text"), 5, 1)) * 256 + ascii(substring(col("text"), 6, 1)))
            .otherwise(0L).cast("long").as("w"),
          when(length(col("text").cast("binary")) >= 8,
            ascii(substring(col("text"), 7, 1)) * 256 + ascii(substring(col("text"), 8, 1)))
            .otherwise(0L).cast("long").as("ht"))
        .withColumn("m", greatest(col("w"), col("ht")))
        .withColumn("sw", when(col("m") <= 224, col("w")).otherwise(expr("w * 224 div m")))
        .withColumn("sh", when(col("m") <= 224, col("ht")).otherwise(expr("ht * 224 div m")))
        .withColumn("tok",
          when(col("media_type") === "image",
            when(col("n") >= 8, expr("(sh div 16) * (sw div 16)")).otherwise(0L))
            .when(col("media_type") === "audio",
              when(col("n") > 0, expr("(n - 1) div 32 + 1")).otherwise(0L))
            .otherwise(
              when(col("n") > 0, expr("((n - 1) div 64) div 2 + 1")).otherwise(0L))
            .cast("long"))
      val agg = b.groupBy("media_type")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("tok") >= 1, 1L).otherwise(0L)).cast("long").as("n_tokenizable"),
          sum("n").cast("long").as("total_bytes"),
          sum("tok").cast("long").as("total_tokens"))
      val g = agg.agg(sum("total_tokens").cast("decimal(38,0)").as("gt"))
      agg.crossJoin(broadcast(g))
        .select(col("media_type"), col("n_docs"), col("n_tokenizable"),
          col("total_bytes"), col("total_tokens"),
          expr("(cast(total_tokens as decimal(38,0)) * 1000000) div gt")
            .cast("long").as("share_ppm"))
        .orderBy("media_type")
    },

    sql(
      "m12_interleave_manifest",
      "interleaved multimodal sequence layout under ATOMIC-BLOCK truncation — the packing rule an interleaved image-text run (Flamingo/MM1 shape) actually enforces and m11's per-modality budget can't see: each doc's training sequence is its text tokens with the doc's media token block (m11's header-derived patch/frame count) inserted mid-text (after n_text div 2 tokens), truncated to a 512-token context where a media block either fits WHOLE after the leading text or is dropped WHOLE (a half-inserted image is garbage — the atomicity constraint is the whole point), and trailing text backfills whatever remains. Kept text = least(half1, 512) + least(rest, 512 - half1 - kept_media); all min/max flooring arithmetic on header-derived integers, no decode. Per media_type: docs, docs whose media block was DROPPED by atomicity (media_dropped — the quantity an interleaving curator tunes insert position and context length against, invisible to naive token budgets), truncated docs, kept text/media token mass, and fill_ppm = kept sequence mass * 1e6 div (512 * docs) widened through DECIMAL(38,0)/HUGEINT. Scale posture: pure per-doc map arithmetic fused into the scan (header bytes + one token count, binary projection pushdown) + one 3-key rollup with a broadcast-free literal denominator — nothing after the scan is corpus-sized",
      """WITH b AS (SELECT doc_id,
        |                  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |                  octet_length(CAST(text AS BLOB)) AS n,
        |                  CAST(length(string_split(text, ' ')) AS BIGINT) AS nt,
        |                  CASE WHEN octet_length(CAST(text AS BLOB)) >= 8
        |                       THEN ascii(substring(text, 5, 1)) * 256 + ascii(substring(text, 6, 1)) ELSE 0 END AS w,
        |                  CASE WHEN octet_length(CAST(text AS BLOB)) >= 8
        |                       THEN ascii(substring(text, 7, 1)) * 256 + ascii(substring(text, 8, 1)) ELSE 0 END AS ht
        |           FROM documents),
        |s AS (SELECT doc_id, media_type, n, nt,
        |             CASE WHEN greatest(w, ht) <= 224 THEN w ELSE w * 224 // greatest(w, ht) END AS sw,
        |             CASE WHEN greatest(w, ht) <= 224 THEN ht ELSE ht * 224 // greatest(w, ht) END AS sh
        |      FROM b),
        |tok AS (SELECT doc_id, media_type, nt,
        |               CAST(CASE
        |                 WHEN media_type = 'image' THEN CASE WHEN n >= 8 THEN (sh // 16) * (sw // 16) ELSE 0 END
        |                 WHEN media_type = 'audio' THEN CASE WHEN n > 0 THEN (n - 1) // 32 + 1 ELSE 0 END
        |                 ELSE CASE WHEN n > 0 THEN ((n - 1) // 64) // 2 + 1 ELSE 0 END END AS BIGINT) AS mt
        |        FROM s),
        |lay AS (SELECT media_type, nt, mt,
        |               least(nt // 2, 512) AS half1,
        |               CASE WHEN least(nt // 2, 512) + mt <= 512 AND mt > 0 THEN mt ELSE 0 END AS kept_media
        |        FROM tok),
        |seq AS (SELECT media_type, mt, kept_media,
        |               half1 + least(nt - nt // 2, 512 - half1 - kept_media) AS kept_text,
        |               CASE WHEN nt + mt > 512 THEN 1 ELSE 0 END AS truncated,
        |               CASE WHEN mt > 0 AND kept_media = 0 THEN 1 ELSE 0 END AS dropped
        |        FROM lay)
        |SELECT media_type, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(dropped) AS BIGINT) AS media_dropped,
        |       CAST(sum(truncated) AS BIGINT) AS truncated_docs,
        |       CAST(sum(kept_text) AS BIGINT) AS kept_text_tokens,
        |       CAST(sum(kept_media) AS BIGINT) AS kept_media_tokens,
        |       CAST(CAST(sum(kept_text) + sum(kept_media) AS HUGEINT) * 1000000
        |            // (512 * count(*)) AS BIGINT) AS fill_ppm
        |FROM seq GROUP BY media_type ORDER BY media_type""") { (s, dir) =>
      val b = Tables.documents(s, dir)
        .select(col("doc_id"),
          element_at(lit(Array("image", "audio", "video")),
            (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
          length(col("text").cast("binary")).cast("long").as("n"),
          size(split(col("text"), " ")).cast("long").as("nt"),
          when(length(col("text").cast("binary")) >= 8,
            ascii(substring(col("text"), 5, 1)) * 256 + ascii(substring(col("text"), 6, 1)))
            .otherwise(0L).cast("long").as("w"),
          when(length(col("text").cast("binary")) >= 8,
            ascii(substring(col("text"), 7, 1)) * 256 + ascii(substring(col("text"), 8, 1)))
            .otherwise(0L).cast("long").as("ht"))
        .withColumn("m", greatest(col("w"), col("ht")))
        .withColumn("sw", when(col("m") <= 224, col("w")).otherwise(expr("w * 224 div m")))
        .withColumn("sh", when(col("m") <= 224, col("ht")).otherwise(expr("ht * 224 div m")))
        .withColumn("mt",
          when(col("media_type") === "image",
            when(col("n") >= 8, expr("(sh div 16) * (sw div 16)")).otherwise(0L))
            .when(col("media_type") === "audio",
              when(col("n") > 0, expr("(n - 1) div 32 + 1")).otherwise(0L))
            .otherwise(
              when(col("n") > 0, expr("((n - 1) div 64) div 2 + 1")).otherwise(0L))
            .cast("long"))
        .withColumn("half1", least(expr("nt div 2"), lit(512L)))
        .withColumn("kept_media",
          when(col("half1") + col("mt") <= 512 && col("mt") > 0, col("mt")).otherwise(0L))
        .withColumn("kept_text",
          col("half1") + least(col("nt") - expr("nt div 2"),
            lit(512L) - col("half1") - col("kept_media")))
        .withColumn("truncated", when(col("nt") + col("mt") > 512, 1L).otherwise(0L))
        .withColumn("dropped",
          when(col("mt") > 0 && col("kept_media") === 0, 1L).otherwise(0L))
      b.groupBy("media_type")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("dropped").cast("long").as("media_dropped"),
          sum("truncated").cast("long").as("truncated_docs"),
          sum("kept_text").cast("long").as("kept_text_tokens"),
          sum("kept_media").cast("long").as("kept_media_tokens"))
        .select(col("media_type"), col("n_docs"), col("media_dropped"),
          col("truncated_docs"), col("kept_text_tokens"), col("kept_media_tokens"),
          expr("(cast(kept_text_tokens + kept_media_tokens as decimal(38,0)) * 1000000) div (512 * n_docs)")
            .cast("long").as("fill_ppm"))
        .orderBy("media_type")
    },

    sql(
      "m13_scene_cuts",
      "video shot-boundary (scene-cut) segmentation from SAMPLED frame features — the pre-decode structure pass a video curation pipeline runs before choosing which frames to caption or embed (m03 samples frames, m11 prices them; THIS asks where the shots ARE, because one caption per shot beats one per fixed stride and a single-shot talking-head video needs different treatment from a 40-cut montage): each video's byte stream (doc_id % 3 = 2, the m11 convention) slices into 64-byte frames, a frame's feature is the exact integer sum of its first 8 octets (the cheap luma-proxy a real pipeline computes from a decoded thumbnail — here byte-exact so both engines replay it; the guard clamps past-end octets to 0 so the short final frame scores deterministically), a CUT fires where consecutive frame features differ by >= 64, and gap-and-islands on the frame axis (running cut count = shot id) yields per-video shot count and longest-shot length. All windows partition by doc_id under the (f) total order. Empty payloads (n = 0) have no frames and leave the audit (documented, not a divide guard). Scale posture: frame explosion is a per-doc map (x n/64, fused into the scan with binary projection pushdown), then two doc-partitioned windows and one (doc, shot) rollup — nothing crosses documents; at 100 TB the frame axis shards WITH the doc",
      """WITH b AS (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n
        |           FROM documents WHERE doc_id % 3 = 2 AND octet_length(CAST(text AS BLOB)) >= 1),
        |fr AS (SELECT doc_id, text, n, unnest(generate_series(0, CAST((n - 1) // 64 AS BIGINT))) AS f
        |       FROM b),
        |ft AS (SELECT doc_id, f,
        |              CAST((CASE WHEN f*64+1 <= n THEN ascii(substring(text, CAST(f*64+1 AS INT), 1)) ELSE 0 END) +
        |                   (CASE WHEN f*64+2 <= n THEN ascii(substring(text, CAST(f*64+2 AS INT), 1)) ELSE 0 END) +
        |                   (CASE WHEN f*64+3 <= n THEN ascii(substring(text, CAST(f*64+3 AS INT), 1)) ELSE 0 END) +
        |                   (CASE WHEN f*64+4 <= n THEN ascii(substring(text, CAST(f*64+4 AS INT), 1)) ELSE 0 END) +
        |                   (CASE WHEN f*64+5 <= n THEN ascii(substring(text, CAST(f*64+5 AS INT), 1)) ELSE 0 END) +
        |                   (CASE WHEN f*64+6 <= n THEN ascii(substring(text, CAST(f*64+6 AS INT), 1)) ELSE 0 END) +
        |                   (CASE WHEN f*64+7 <= n THEN ascii(substring(text, CAST(f*64+7 AS INT), 1)) ELSE 0 END) +
        |                   (CASE WHEN f*64+8 <= n THEN ascii(substring(text, CAST(f*64+8 AS INT), 1)) ELSE 0 END)
        |                   AS BIGINT) AS feat
        |       FROM fr),
        |lg AS (SELECT doc_id, f, feat,
        |              lag(feat) OVER (PARTITION BY doc_id ORDER BY f) AS pf
        |       FROM ft),
        |ct AS (SELECT doc_id, f,
        |              CASE WHEN pf IS NOT NULL AND abs(feat - pf) >= 64 THEN 1 ELSE 0 END AS cut
        |       FROM lg),
        |sh AS (SELECT doc_id, f, cut,
        |              CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY f
        |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |       FROM ct),
        |shots AS (SELECT doc_id, sid, CAST(count(*) AS BIGINT) AS len FROM sh GROUP BY doc_id, sid),
        |fa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |              CAST(sum(cut) AS BIGINT) AS n_cuts
        |       FROM sh GROUP BY doc_id),
        |sm AS (SELECT doc_id, CAST(max(len) AS BIGINT) AS longest_shot_frames
        |       FROM shots GROUP BY doc_id)
        |SELECT fa.doc_id, fa.n_frames, fa.n_cuts, fa.n_cuts + 1 AS n_shots,
        |       sm.longest_shot_frames
        |FROM fa JOIN sm ON sm.doc_id = fa.doc_id
        |ORDER BY fa.doc_id""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.documents(s, dir)
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), col("text"),
          length(col("text").cast("binary")).cast("long").as("n"))
        .filter(col("n") >= 1)
      val ft = b
        .withColumn("f", explode(expr("sequence(0L, (n - 1) div 64)")))
        .withColumn("feat",
          (1 to 8).map(k =>
            expr(s"CASE WHEN f*64+$k <= n THEN ascii(substr(text, f*64+$k, 1)) ELSE 0 END"))
            .reduce(_ + _).cast("long"))
        .select("doc_id", "f", "feat")
      val wOrd = Window.partitionBy("doc_id").orderBy("f")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sh = ft
        .withColumn("pf", lag("feat", 1).over(wOrd))
        .withColumn("cut",
          when(col("pf").isNotNull && abs(col("feat") - col("pf")) >= 64, 1L).otherwise(0L))
        .withColumn("sid", sum("cut").over(wRun).cast("long"))
      val shots = sh.groupBy("doc_id", "sid").agg(count(lit(1)).cast("long").as("len"))
        .groupBy("doc_id").agg(max("len").cast("long").as("longest_shot_frames"))
      sh.groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_frames"),
          sum("cut").cast("long").as("n_cuts"))
        .join(shots, Seq("doc_id"))
        .select(col("doc_id"), col("n_frames"), col("n_cuts"),
          (col("n_cuts") + 1).as("n_shots"), col("longest_shot_frames"))
        .orderBy("doc_id")
    },

    sql(
      "m14_aspect_buckets",
      "aspect-ratio bucket batching (the SDXL-style bucketing every image-generation trainer runs — you cannot batch a 512x1024 portrait with a 1024x512 landscape, and naive center-crop-to-square destroys composition, so training assembles batches WITHIN aspect buckets): each well-formed image (m09's header parse — geometry without decoding a pixel) computes aspect_ppm = width * 1e6 div height (one flooring division, the <= 1 ppm quantization grain), snaps to the nearest of a FIXED 7-rung resolution ladder (1:2 .. 2:1, the SDXL shape) by exact integer |aspect - rung| with bucket-id tie-break, and batches of 8 assemble per bucket in doc_id order; the RAGGED TAIL per bucket is reported with batch_idx = slot = -1 (the a20 sentinel discipline — trainers DROP partial batches, and an audit that silently omitted them would hide exactly the images a data loader loses). Output: every image with its geometry, bucket, batch index and slot. Scale posture: the ladder is 7 broadcast literals; bucket pick is a doc-partitioned window; batch assembly is one global per-bucket window in doc_id order, so the 7-value bucket key is the window partition key and each assembly partition carries ~corpus/7 rows",
      """WITH ladder(bucket_id, bucket_w, bucket_h) AS (
        |  VALUES (CAST(0 AS BIGINT), CAST(512 AS BIGINT), CAST(1024 AS BIGINT)),
        |         (1, 576, 1024), (2, 768, 1024), (3, 1024, 1024),
        |         (4, 1024, 768), (5, 1024, 576), (6, 1024, 512)),
        |imgs AS (SELECT doc_id,
        |                CAST(ascii(substring(text, 5, 1)) * 256 + ascii(substring(text, 6, 1)) AS BIGINT) AS width,
        |                CAST(ascii(substring(text, 7, 1)) * 256 + ascii(substring(text, 8, 1)) AS BIGINT) AS height
        |         FROM documents
        |         WHERE doc_id % 3 = 0 AND octet_length(CAST(text AS BLOB)) >= 8),
        |a AS (SELECT doc_id, width, height, (width * 1000000) // height AS aspect_ppm
        |      FROM imgs WHERE height > 0),
        |pick AS (SELECT a.doc_id, a.width, a.height, a.aspect_ppm,
        |                l.bucket_id, l.bucket_w, l.bucket_h,
        |                row_number() OVER (PARTITION BY a.doc_id
        |                                   ORDER BY abs(a.aspect_ppm - (l.bucket_w * 1000000) // l.bucket_h),
        |                                            l.bucket_id) AS rk
        |         FROM a CROSS JOIN ladder l),
        |asg AS (SELECT doc_id, width, height, aspect_ppm, bucket_id, bucket_w, bucket_h,
        |               row_number() OVER (PARTITION BY bucket_id ORDER BY doc_id) AS rn,
        |               count(*) OVER (PARTITION BY bucket_id) AS bn
        |        FROM pick WHERE rk = 1)
        |SELECT doc_id, width, height, aspect_ppm, bucket_id, bucket_w, bucket_h,
        |       CAST(CASE WHEN rn <= (bn // 8) * 8 THEN (rn - 1) // 8 ELSE -1 END AS BIGINT) AS batch_idx,
        |       CAST(CASE WHEN rn <= (bn // 8) * 8 THEN (rn - 1) % 8 ELSE -1 END AS BIGINT) AS slot
        |FROM asg ORDER BY doc_id""") { (s, dir) =>
      aspectBuckets(s, dir)
    },

    sqlEager(
      "m15_image_neardup",
      "perceptual-hash image near-dup detection (aHash + Hamming banding — the IMAGE member the dedup family lacked: d01/d04/d20 dedupe text, but a multimodal corpus dedupes images by PERCEPTUAL similarity, and byte-identity (m01's sha) misses every re-encode; aHash is the canonical cheap perceptual hash — resize to 8x8, threshold each cell against the global mean, compare by Hamming distance): each image's 64-bit aHash comes from Multimodal.imageBandHashes (the decode-stub discipline — PROPORTIONAL 64-block byte means standing in for the pixel resize, every bit decided by the exact integer cross-multiply sum_b*L > total*len_b, so the oracle replays the full hash), carried as four 16-bit band keys; candidates pair on ANY equal (band, key) — d04's banding shape at Hamming grain with the pigeonhole guarantee that Hamming <= 3 ALWAYS collides on some band (4 bands, 3 flips cannot dirty all) and misses beyond are the documented LSH trade; exact Hamming = sum of per-band bit_count(xor) reranks candidates, near-dup at <= 6 of 64 bits. Output is the per-IMAGE ledger (every in-domain image reports, the d19/st12 rollup grain): distinct band-collision partners, best neighbor under the (hamming, neighbor) total order, its distance, and the near-dup flag — collision-free images report -1 sentinels rather than vanish (the a20 discipline; at the test SFs most images are unrelated word-salad, and an audit that only printed matches would read empty while the machinery idles). Scale posture: hashing is one map-side pass fused with the scan; the only shuffles are the (band, key) equi-join and a doc-keyed window over candidate rows; 16-bit keys bound the key space, so at web scale the bands widen (a 128-bit pHash in 4x32-bit bands), and the self-join stays uncapped so this oracle replays it, with AQE's skew split as the flood defence",
      s"""$imageBandSql,
        |h AS (SELECT doc_id,
        |             CAST(coalesce(max(CASE WHEN band = 0 THEN key END), 0) AS BIGINT) AS h0,
        |             CAST(coalesce(max(CASE WHEN band = 1 THEN key END), 0) AS BIGINT) AS h1,
        |             CAST(coalesce(max(CASE WHEN band = 2 THEN key END), 0) AS BIGINT) AS h2,
        |             CAST(coalesce(max(CASE WHEN band = 3 THEN key END), 0) AS BIGINT) AS h3
        |      FROM bands GROUP BY doc_id),
        |cand AS (SELECT DISTINCT a.doc_id AS id, b.doc_id AS nbr
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id),
        |scored AS (SELECT c.id, c.nbr,
        |                  CAST(bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1))
        |                     + bit_count(xor(x.h2, y.h2)) + bit_count(xor(x.h3, y.h3)) AS BIGINT) AS hamming,
        |                  row_number() OVER (PARTITION BY c.id ORDER BY
        |                    bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1))
        |                    + bit_count(xor(x.h2, y.h2)) + bit_count(xor(x.h3, y.h3)), c.nbr) AS rk
        |           FROM cand c JOIN h x ON x.doc_id = c.id JOIN h y ON y.doc_id = c.nbr),
        |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_candidates FROM scored GROUP BY id),
        |best AS (SELECT id, nbr, hamming FROM scored WHERE rk = 1)
        |SELECT i.doc_id,
        |       CAST(coalesce(a.n_candidates, 0) AS BIGINT) AS n_candidates,
        |       CAST(coalesce(b.nbr, -1) AS BIGINT) AS best_neighbor,
        |       CAST(coalesce(b.hamming, -1) AS BIGINT) AS best_hamming,
        |       CAST(CASE WHEN b.hamming <= 6 THEN 1 ELSE 0 END AS BIGINT) AS is_near_dup
        |FROM img i LEFT JOIN agg a ON a.id = i.doc_id LEFT JOIN best b ON b.id = i.doc_id
        |ORDER BY i.doc_id""") { (s, dir, m) =>
      imageNearDup(s, dir, m = m)
    }
  )

  /** m15's body — see the registry doc. The (band, key) self-join is
    * uncapped, so the oracle replays it bit-exact.
    */
  private[graft] def imageNearDup(s: SparkSession, dir: String,
      m: Materialize = Materialize.eager()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE aHash pass per materialization (r17 ADVICE #1): the hash frame
    // feeds the band explode, the self-join and both hamming-lookup
    // joins — four readers of a scan-fused
    // mapPartitions kernel Spark cannot common-subexpression across
    // branches, so the eager form persists it (with the d04/d10 fill
    // barrier) and every band/lookup leg reads the cache; released after
    // the result materializes.
    val h0frame = Multimodal.imageBandHashes(
      Multimodal.packBlobs(s, Tables.documents(s, dir))).toDF()
    val h = m.fill(h0frame)
    val bands = h.select(col("doc_id"),
      posexplode(array(col("h0"), col("h1"), col("h2"), col("h3"))).as(Seq("band", "key")))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id"), col("b.doc_id").as("nbr"))
      .distinct()
    val hammingCol = Seq("h0", "h1", "h2", "h3")
      .map(f => bit_count(col(s"x.$f").bitwiseXOR(col(s"y.$f"))).cast("long"))
      .reduce(_ + _)
    val scored = cand
      .join(h.as("x"), col("id") === col("x.doc_id"))
      .join(h.as("y"), col("nbr") === col("y.doc_id"))
      .select(col("id"), col("nbr"), hammingCol.as("hamming"))
    val wBest = Window.partitionBy("id").orderBy("hamming", "nbr")
    val best = scored.withColumn("rk", row_number().over(wBest)).filter(col("rk") === 1)
      .select(col("id"), col("nbr"), col("hamming"))
    val agg = scored.groupBy("id").agg(count(lit(1)).cast("long").as("n_candidates"))
    m.result(h.select(col("doc_id"))
      .join(agg, col("doc_id") === agg("id"), "left").drop("id")
      .join(best, col("doc_id") === best("id"), "left").drop("id")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("nbr"), lit(-1L)).as("best_neighbor"),
        coalesce(col("hamming"), lit(-1L)).as("best_hamming"),
        when(col("hamming") <= 6, 1L).otherwise(0L).as("is_near_dup"))
      .orderBy("doc_id"))
  }

  /** m14's body — see the registry doc. Every well-formed image snaps to
    * its nearest ladder rung (exact integer |aspect − rung|, bucket-id
    * tie-break), then batches assemble per bucket globally: the
    * row_number()/count() windows are partitioned by the fixed 7-value
    * bucket_id, the form the oracle replays.
    */
  private[graft] def aspectBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ladder = Seq((0L, 512L, 1024L), (1L, 576L, 1024L), (2L, 768L, 1024L),
      (3L, 1024L, 1024L), (4L, 1024L, 768L), (5L, 1024L, 576L), (6L, 1024L, 512L))
      .toDF("bucket_id", "bucket_w", "bucket_h")
    val imgs = Multimodal.parseHeaders(Multimodal.packBlobs(s, Tables.documents(s, dir)))
      .toDF()
      .filter(col("media_type") === "image" && col("well_formed") === 1
        && col("height") > 0)
      .select(col("doc_id"), col("width"), col("height"),
        expr("(width * 1000000) div height").as("aspect_ppm"))
    val wPick = Window.partitionBy("doc_id")
      .orderBy(abs(col("aspect_ppm") - expr("(bucket_w * 1000000) div bucket_h")),
        col("bucket_id"))
    val asg = imgs.crossJoin(broadcast(ladder))
      .withColumn("rk", row_number().over(wPick)).filter(col("rk") === 1)
      .drop("rk")
    val wBucket = Window.partitionBy(col("bucket_id")).orderBy("doc_id")
    val wSize = Window.partitionBy(col("bucket_id"))
    asg
      .withColumn("rn", row_number().over(wBucket))
      .withColumn("bn", count(lit(1)).over(wSize))
      .select(col("doc_id"), col("width"), col("height"), col("aspect_ppm"),
        col("bucket_id"), col("bucket_w"), col("bucket_h"),
        when(col("rn") <= expr("(bn div 8) * 8"), expr("(rn - 1) div 8"))
          .otherwise(lit(-1L)).cast("long").as("batch_idx"),
        when(col("rn") <= expr("(bn div 8) * 8"), expr("(rn - 1) % 8"))
          .otherwise(lit(-1L)).cast("long").as("slot"))
      .orderBy("doc_id")
  }
}
