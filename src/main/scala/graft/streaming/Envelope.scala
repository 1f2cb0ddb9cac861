package graft.streaming

import graft.model.StockTrade
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Kinesis record envelope, engine-side (SURVEY.md §1.2).
  *
  * Mirrors the connector's fixed output schema: `partitionKey` (the
  * reference partitions by ticker, `KinesisSync.java:158`), `data` (JSON
  * bytes, `KinesisSync.java:161`), `sequenceNumber`,
  * `approximateArrivalTimestamp`, `shardId`. Encoding/decoding are pure
  * column expressions so both directions stay inside whole-stage codegen.
  */
object Envelope {

  val schema: StructType = StructType(Seq(
    StructField("partitionKey", StringType),
    StructField("data", BinaryType),
    StructField("sequenceNumber", StringType),
    StructField("approximateArrivalTimestamp", TimestampType),
    StructField("shardId", StringType)
  ))

  /** Number of simulated shards. The reference creates exactly 1 shard
    * (`KinesisSync.java:49-54`); we default to more and hash the partition
    * key the way Kinesis does conceptually (key → shard), because the
    * single-shard layout is the reference's scalability bug, not a
    * semantic (SURVEY.md §2.1 quirk note).
    */
  val DefaultShards = 4

  /** trades → wire envelope (producer side, K1: JSON bytes + key=ticker). */
  def encode(trades: DataFrame, shards: Int = DefaultShards): DataFrame =
    trades.select(
      col("tickerSymbol").as("partitionKey"),
      to_json(struct(trades.columns.map(col): _*)).cast("binary").as("data"),
      col("id").cast("string").as("sequenceNumber"),
      current_timestamp().as("approximateArrivalTimestamp"),
      concat(lit("shardId-"), lpad(pmod(hash(col("tickerSymbol")), lit(shards)).cast("string"), 12, "0"))
        .as("shardId"))

  /** Codegen'd producer fast path for well-formed trade rows.
    *
    * `to_json` is a CodegenFallback — the Jackson kernel runs interpreted
    * and dominated tr00's profile (~13 s of its ~16 s warm cpu).
    * For the generated-trade domain the wire bytes are a
    * fixed five-field template whose only dynamic parts are two
    * escape-free strings (tickers are [A-Z.], types BUY/SELL) and three
    * numbers — and Spark's number→string casts share Jackson's
    * `Double.toString`/`Long.toString` rendering — so a `concat` of
    * literals and casts produces BYTE-IDENTICAL output while staying
    * inside whole-stage codegen. CodecSpec asserts the equality against
    * [[encode]] row-for-row over the full generated domain.
    *
    * PRECONDITION: non-null fields and escape-free strings (the trade
    * generator guarantees both). For arbitrary frames use [[encode]] —
    * Jackson OMITS null fields where concat would null the whole record.
    * The precondition is ENFORCED, not conventional: concat
    * null-propagates, so a generator drift introducing a null field would
    * otherwise silently null every payload downstream; the coalesce over
    * raise_error turns that into a loud job failure at the first bad row,
    * costs one null check per row (lazy — the error expression never
    * evaluates on the happy path), and stays inside whole-stage codegen.
    */
  def encodeFast(trades: DataFrame, shards: Int = DefaultShards): DataFrame =
    trades.select(
      col("tickerSymbol").as("partitionKey"),
      coalesce(
        concat(
          lit("{\"tickerSymbol\":\""), col("tickerSymbol"),
          lit("\",\"tradeType\":\""), col("tradeType"),
          lit("\",\"price\":"), col("price").cast("string"),
          lit(",\"quantity\":"), col("quantity").cast("string"),
          lit(",\"id\":"), col("id").cast("string"),
          lit("}")),
        raise_error(lit("Envelope.encodeFast: null trade field (precondition violated) — use encode() for arbitrary frames"))
      ).cast("binary").as("data"),
      col("id").cast("string").as("sequenceNumber"),
      current_timestamp().as("approximateArrivalTimestamp"),
      concat(lit("shardId-"), lpad(pmod(hash(col("tickerSymbol")), lit(shards)).cast("string"), 12, "0"))
        .as("shardId"))

  /** envelope → typed trade columns (consumer side, C2/C4).
    *
    * PERMISSIVE `from_json` matches the reference's lenient Jackson config
    * (`FAIL_ON_UNKNOWN_PROPERTIES=false`, `StockTrade.java:17`): unknown
    * JSON fields are dropped, garbage payloads decode to all-null rows
    * (`StockTrade.java:77-78` returns null on any IOException).
    */
  def decode(envelope: DataFrame): DataFrame =
    envelope.select(
      col("sequenceNumber"),
      col("approximateArrivalTimestamp"),
      from_json(col("data").cast("string"), StockTrade.schema).as("t"))
      .select(col("sequenceNumber"), col("approximateArrivalTimestamp"), col("t.*"))

  /** Codegen'd consumer fast path for wire bytes on the trade template.
    *
    * The decode mirror of [[encodeFast]] (r19, guide §4.1 prefer-codegen):
    * `from_json` is a CodegenFallback — the interpreted Jackson kernel was
    * tr00's largest remaining cpu term (~6-7 of ~14 warm cpu-s)
    * — but the trade wire record is the fixed five-field template
    * [[encodeFast]] emits (and CodecSpec proves [[encode]] emits the same
    * bytes), so the fields can be sliced back out with `locate`/`substr`
    * column expressions that stay inside whole-stage codegen. String→number
    * casts use the same correctly-rounded parse as Jackson's
    * `Double.parseDouble`/`Long.parseLong`, so the typed output is
    * ROW-IDENTICAL to [[decode]]'s PERMISSIVE `from_json` on this domain —
    * CodecSpec asserts that equality over the full generated domain, and the
    * per-field projection additionally lets the optimizer prune unread
    * fields entirely (from_json must lex the whole payload regardless).
    *
    * PRECONDITION: payloads match the template (field order, no escapes),
    * as all [[encode]]/[[encodeFast]] output of generated trades does.
    * ENFORCED, not conventional: a prefix/suffix/marker-order check guards
    * every field and `raise_error`s loudly on the first non-template
    * payload instead of mis-slicing it. For arbitrary or adversarial wire
    * bytes use [[decode]] — permissive null-on-garbage is NOT reproduced
    * here (tr02 keeps the real Jackson consumer as the codec-contract
    * entry).
    */
  def decodeFast(envelope: DataFrame): DataFrame = {
    val prefix = "{\"tickerSymbol\":\""  // 17 chars; ticker starts at 18
    val markTy = "\",\"tradeType\":\""   // 15 chars
    val markPr = "\",\"price\":"         // 10 chars
    val markQt = ",\"quantity\":"        // 12 chars
    val markId = ",\"id\":"              //  6 chars
    val j = col("_j")
    envelope
      .select(col("sequenceNumber"), col("approximateArrivalTimestamp"),
        col("data").cast("string").as("_j"))
      .select(col("sequenceNumber"), col("approximateArrivalTimestamp"), j,
        locate(markTy, j).as("_pTy"), locate(markPr, j).as("_pPr"),
        locate(markQt, j).as("_pQt"), locate(markId, j).as("_pId"))
      .withColumn("_ok",
        col("_j").startsWith(prefix) && col("_j").endsWith("}") &&
          col("_pTy") > 17 && col("_pPr") > col("_pTy") &&
          col("_pQt") > col("_pPr") && col("_pId") > col("_pQt"))
      .select(
        col("sequenceNumber"),
        col("approximateArrivalTimestamp"),
        guarded(j.substr(lit(18), col("_pTy") - 18)).as("tickerSymbol"),
        guarded(j.substr(col("_pTy") + 15, col("_pPr") - col("_pTy") - 15)).as("tradeType"),
        guarded(j.substr(col("_pPr") + 10, col("_pQt") - col("_pPr") - 10).cast("double")).as("price"),
        guarded(j.substr(col("_pQt") + 12, col("_pId") - col("_pQt") - 12).cast("long")).as("quantity"),
        guarded(j.substr(col("_pId") + 6, length(j) - col("_pId") - 6).cast("long")).as("id"))
  }

  private def guarded(field: Column): Column =
    when(col("_ok"), field).otherwise(raise_error(lit(
      "Envelope.decodeFast: payload does not match the trade wire template (precondition violated) — use decode() for arbitrary frames")))

  /** The consumer's log-line projection (K4: `Seq No: {} - {payload}`,
    * `KinesisSync.java:119-122` prints payload bytes as a string).
    */
  def consumerLogLine: Column =
    format_string("Seq No: %s - %s", col("sequenceNumber"), col("data").cast("string"))
}
