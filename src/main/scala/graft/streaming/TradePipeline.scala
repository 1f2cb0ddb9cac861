package graft.streaming

import graft.sources.TradeSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's whole run loop as two Structured Streaming queries
  * (SURVEY.md §3.4): produce (generate → JSON → keyed envelope → sink) and
  * ingest (envelope → permissive decode → per-ticker windowed stats).
  *
  * Divergences from the reference, all deliberate (SURVEY.md §2.1/§3.4):
  * offsets are checkpointed instead of re-reading TRIM_HORIZON every cycle;
  * all shards are read, not just the last; batch size/rate come from source
  * options instead of sleeps; produce errors fail the batch instead of
  * being swallowed.
  */
object TradePipeline {

  /** Producer: rate-limited generator → envelope → transport (O2 produce
    * phase; 2 s micro-batches reproduce O1's cadence).
    */
  def produce(spark: SparkSession, io: StreamIO, checkpoint: String,
      rowsPerSecond: Int = 10): StreamingQuery = {
    LocalCheckpointFileManager.install(spark)
    val envelope = Envelope.encode(TradeSource.tradeStream(spark, rowsPerSecond).toDF())
    io.write(envelope, checkpoint)
  }

  /** Consumer transform: envelope stream/batch → typed trades. */
  def ingest(envelope: DataFrame): DataFrame = Envelope.decode(envelope)

  /** The M1 "one real query": per-ticker per-window trade stats with a
    * watermark on arrival time. Works on both streaming and batch frames.
    */
  def tickerStats(trades: DataFrame, window_ : String = "2 seconds",
      watermark: String = "10 seconds"): DataFrame =
    trades
      .withWatermark("approximateArrivalTimestamp", watermark)
      .groupBy(window(col("approximateArrivalTimestamp"), window_), col("tickerSymbol"))
      .agg(
        count(lit(1)).as("n_trades"),
        sum("quantity").as("sum_qty"),
        min("price").as("min_price"),
        max("price").as("max_price"),
        // VWAP in doubles: this path is not oracle-compared (its window
        // timestamps are arrival-time), and decimals above precision 18
        // leave Spark's long-backed fast path — measured ~10× slower per
        // row than codegen'd double sums on the 1M-trade benchmark.
        (sum(col("price") * col("quantity")) / sum(col("quantity"))).as("vwap"))

  /** End-to-end consumer: transport → decode → stats → memory sink, for
    * tests and local smoke (K4's console analogue is `format("console")`).
    */
  def consume(spark: SparkSession, io: StreamIO, queryName: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    LocalCheckpointFileManager.install(spark)
    tickerStats(ingest(io.read(spark)))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(trigger)
      .start()
  }
}
