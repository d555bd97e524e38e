package graft.operators

import org.apache.spark.sql.DataFrame

/** Spread an under-partitioned input before per-row HEAVY map work —
  * the guide §2.5 "input skew" case: a corpus that arrives as one (or
  * few) scan partitions (single parquet file / row group, small table,
  * unsplittable container) serializes every downstream map pass on one
  * core, however many the cluster has, because nothing upstream of the
  * first exchange redistributes it. A per-row parse pass with no
  * downstream exchange ([[RefOps.typedCast]]'s regexp extraction) is
  * exactly such a pass: all its cost is BEFORE any shuffle.
  *
  * The spread is gated on the PLANNED input size (pure planning-time
  * estimate — no job, so building the plan still starts none): inputs estimated
  * above a couple of scan splits already produce enough partitions,
  * so the gate makes this a no-op at scale — the corpus is never
  * round-robin-shuffled when it is genuinely large. When the gate
  * fires, the exchange moves at most `defaultSpreadMaxBytes` (small by
  * the gate's own definition) and buys `defaultParallelism`-way
  * execution of the expensive map stage.
  */
object ScanSpread {

  /** Inputs estimated at or below this size are spread. Two default
    * scan splits (2 × 128 MB `spark.sql.files.maxPartitionBytes`):
    * below it a scan yields ≲2 partitions, so the map stage would use
    * ≲2 cores; shuffling ≤256 MB to unlock full parallelism is always
    * cheap relative to the hash work it parallelizes.
    */
  val defaultSpreadMaxBytes: Long = 256L * 1024 * 1024

  private[operators] def spreadForCompute(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= defaultSpreadMaxBytes)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
}
