package graft.streaming

import graft.model.Tier
import graft.rollup.Rollup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming variant of the 1m rollup: the same continuous
  * aggregates computed incrementally over a transcripts stream with an
  * event-time watermark.
  *
  * The watermark is the streaming analogue of the batch engine's
  * closed-day checkpoint (RollupJob: a day is COMPLETED once the input
  * watermark passes it; here a window is emitted in append mode once
  * the event-time watermark passes window end — same monotone-event-
  * time contract, same "no more data before this" semantics the
  * reference encodes in its per-file state machine,
  * `MigrateTask.java:79-111`).
  *
  * [[rollup]] emits the batch tier schema ([[graft.rollup.Rollup.columns]])
  * from the batch definition itself ([[graft.rollup.Rollup.turnPartials]]
  * merged by [[graft.rollup.Rollup.mergeBy]], then
  * [[graft.rollup.Rollup.derived]]): every carried metric merges
  * incrementally in streaming state — first/last text ride min_by/
  * max_by's (value, turn_idx) pair — so an emitted window equals the
  * batch 1m row on all columns.
  */
object StreamingRollup {

  val inputSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  /** Open the streaming source over a directory of transcript parquet. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(inputSchema).parquet(dir)

  /** Windowed continuous aggregates with a watermark; append mode emits
    * each (conv, window) exactly once, when it can no longer change.
    */
  def rollup(stream: DataFrame, tier: Tier, watermarkDelay: String = "10 minutes"): DataFrame = {
    val agg = Rollup.mergeBy(
      Rollup.turnPartials(stream
        .filter(col("ts").isNotNull && col("conv_id").isNotNull)
        .withWatermark("ts", watermarkDelay)),
      // group on the window STRUCT itself — the analyzer only links the
      // watermark to the window when it appears unprojected in the keys
      col("conv_id"), window(col("ts"), tier.windowExpr).as("w"))
    Rollup.derived(agg.withColumn("window_start", col("w.start")), tier)
  }
}
