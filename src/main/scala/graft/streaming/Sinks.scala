package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Exactly-once-shaped sinks (SURVEY.md §7 M5).
  *
  * The reference's producers are at-least-once with swallowed errors (K1)
  * or at-most-once fire-and-forget (K3). Structured Streaming gives
  * at-least-once per micro-batch on retry; [[idempotentParquet]] upgrades
  * that to effective exactly-once by making the write idempotent: each
  * micro-batch lands in a `batch_id=<id>` partition directory that is
  * atomically overwritten if the batch replays — the standard
  * `foreachBatch` + dynamic-partition-overwrite recipe.
  */
object Sinks {

  def idempotentParquet(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write
          // writer-scoped: does NOT flip the session-global overwrite mode
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .partitionBy("batch_id")
          .parquet(path)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
