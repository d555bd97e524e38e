package graft.streaming

import graft.model.Tier
import graft.operators.SeriesOps
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
  * from the batch definition itself ([[graft.rollup.Rollup.rawAggregate]]
  * then [[graft.rollup.Rollup.derived]]): every carried metric merges
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
    val agg = Rollup.rawAggregate(
      stream
        .filter(col("ts").isNotNull && col("conv_id").isNotNull)
        .withWatermark("ts", watermarkDelay),
      // group on the window STRUCT itself — the analyzer only links the
      // watermark to the window when it appears unprojected in the keys
      col("conv_id"), window(col("ts"), tier.windowExpr).as("w"))
    Rollup.derived(agg.withColumn("window_start", col("w.start")), tier)
  }

  /** Streaming sibling of [[graft.rollup.Rollup.sliding]]: overlapping
    * hopping windows computed incrementally. Spark keeps one state row
    * per (conv, window-instance) — w/s instances per key live at once,
    * all bounded by the same watermark; a row arriving within the
    * delay updates every window containing it, and append mode emits
    * each instance exactly once when the watermark passes its end.
    * Same column set AND same row semantics as the batch operator —
    * in particular null conv_id aggregates as its own group here too
    * (unlike [[rollup]], which filters null keys ITSELF as the front
    * end of the durable job — a deliberate asymmetry between the two
    * operators) — so replayed input produces frame-identical rows.
    * StreamingRollupSpec pins replay parity including a null-key
    * group (joined through a sentinel key, since an equi-join would
    * silently drop null matches).
    */
  def sliding(stream: DataFrame, windowExpr: String = "1 hour",
      slideExpr: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .filter(col("ts").isNotNull)
      .withColumn("char_len", length(col("text")).cast("long"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("conv_id"), window(col("ts"), windowExpr, slideExpr).as("w"))
      .agg(Rollup.slidingAggs.head, Rollup.slidingAggs.tail: _*)
      .select(col("conv_id"), col("w.start").as("window_start"),
        col("turn_count"), col("user_turns"), col("tool_calls"),
        col("char_len_sum"), Rollup.charLenAvg.as("char_len_avg"))

  /** Streaming sibling of [[graft.operators.SeriesOps.ohlcCandles]]:
    * OHLC is fully decomposable — min/max merge trivially and the
    * open/close endpoints ride min_by/max_by's (value, key) state over
    * the unique turn_idx order key, so partial states merge exactly and
    * a late row (within the watermark) can still displace an endpoint.
    * Same filters, same column set, same all-long output as the batch
    * operator; epoch-aligned `window()` buckets equal the batch µs
    * floor. Append mode emits each candle exactly once when the
    * watermark passes its window end.
    */
  def ohlc(stream: DataFrame, windowExpr: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull &&
        col("text").isNotNull)
      .withColumn("char_len", length(col("text")).cast("long"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("conv_id"), window(col("ts"), windowExpr).as("w"))
      .agg(SeriesOps.ohlcAggs.head, SeriesOps.ohlcAggs.tail: _*)
      .select(col("conv_id"), col("w.start").as("window_start"),
        col("n_samples"), col("open_len"), col("high_len"), col("low_len"),
        col("close_len"), SeriesOps.hlRange.as("hl_range"))

  /** Streaming sibling of
    * [[graft.operators.SeriesOps.dailyCardinalityApprox]] — and the
    * reason the sketch variant exists at all: exact COUNT(DISTINCT) is
    * NOT a streaming aggregate (its state is the value set itself,
    * unbounded and non-mergeable), while the HLL++ sketch merges
    * register-wise (max per register — commutative, associative,
    * idempotent), so it streams under a plain watermark like any sum.
    * Merge ORDER cannot change the registers, so an emitted day equals
    * the batch operator's estimate bit-for-bit on replayed input
    * (spec-pinned). Epoch-aligned `window(ts, '1 day')` buckets equal
    * the batch µs-floor day; same column set, same null doctrine (null
    * tool never enters a sketch; null ts drops with the watermark
    * filter). Append mode emits each day exactly once when the
    * watermark passes midnight.
    */
  def cardinality(stream: DataFrame, rsd: Double = 0.05,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    // same HLL++ addressing-bits ceiling as the batch sibling
    require(rsd > 0 && rsd <= 0.39, s"rsd must be in (0, 0.39], got $rsd")
    stream
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(
        count(lit(1)).as("turns"),
        approx_count_distinct(col("conv_id"), rsd).as("approx_convs"),
        approx_count_distinct(col("tool"), rsd).as("approx_tools"))
      .select(col("w.start").as("day"), col("turns"),
        col("approx_convs"), col("approx_tools"))
  }

  /** Streaming sibling of
    * [[graft.operators.SeriesOps.lengthHistogramDaily]] — the per-day
    * digit-bucket length histogram [[graft.operators.SeriesOps.distDrift]]
    * consumes. Per-bucket counts are plain sums (commutative,
    * associative), so the histogram streams under a watermark exactly
    * like the rollup counters, and an emitted day equals the batch
    * census row-for-row on replayed input (spec-pinned). The DRIFT
    * statistic itself is deliberately not streamed: it compares two
    * CLOSED days, so the natural streaming form is this histogram
    * sink plus the batch [[graft.operators.SeriesOps.distDrift]] over
    * the emitted days. Epoch-aligned `window(ts, '1 day')` equals the
    * batch µs-floor day; same null doctrine (null ts drops with the
    * watermark filter, null text never buckets).
    */
  def lengthHistogram(stream: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .filter(col("ts").isNotNull && col("text").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day").as("w"),
        graft.operators.SeriesOps.lenBucketCol.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("day"), col("bucket"), col("n"))

  /** Streaming sibling of
    * [[graft.operators.Curation.corpusChecksumDaily]] — per closed UTC
    * day, `(day, n_rows, checksum)` with the SAME shared row-checksum
    * derivation ([[graft.operators.Curation.rowChecksumCol]]), so an
    * ingest stream's emitted day equals the batch source's day row
    * bit-for-bit (spec-pinned): continuous parity monitoring of a
    * pipeline against its source without re-scanning either side. The
    * DECIMAL sum is commutative, so trigger boundaries and state-merge
    * order cannot change the emitted value. Null-ts rows cannot be
    * watermarked and drop here (the [[lengthHistogram]] doctrine) —
    * the BATCH daily table keeps them under a NULL day, which is
    * where a stream-vs-batch parity run looks for them.
    */
  def dailyChecksum(stream: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    graft.operators.TimeArith.requireUtcForNtz(stream, "ts")
    stream
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_rows"),
        // decimal(28,0) pre-sum → full decimal(38,0) accumulator (the
        // corpusChecksum overflow-margin note)
        sum(graft.operators.Curation.rowChecksumCol.cast("decimal(28,0)"))
          .as("_s"))
      .select(col("w.start").as("day"), col("n_rows"),
        col("_s").cast("string").as("checksum"))
  }
}
