package graft.streaming

import graft.model.Tier
import graft.state.StateStore
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Durable streaming ingestion: drives [[StreamingRollup.rollup]] into
  * the same SnapshotTable + StateStore warehouse the batch pipeline
  * uses — the streaming sibling of [[graft.jobs.RollupJob]].
  *
  * Append-mode closed windows land per micro-batch as day partitions
  * via `foreachBatch`; each batch commits a lineage row. Design points,
  * each load-bearing for a LONG-LIVED stream:
  *
  *  - **Exactly-once replay.** Spark re-runs a micro-batch after a
  *    crash (streaming checkpoints are at-least-once into
  *    non-transactional sinks), so each batch's idempotence key rides
  *    INSIDE the table's atomic manifest commit
  *    ([[graft.table.SnapshotTable.append]] `batchKey`): "batch N's
  *    files are visible" and "batch N is marked done" are one
  *    all-or-nothing pointer swap, so there is no ordering window left
  *    for a crash to re-append a batch. The key scopes the batchId by
  *    the CHECKPOINT directory name — batchIds are only unique within
  *    one checkpoint, so a later reprocessing query (fresh checkpoint,
  *    ids restarting at 0) does not collide with the first query's
  *    committed ids.
  *  - **O(1) per-trigger planning.** The committed set is read ONCE per
  *    query start (manifest batchKeys ∪ streaming lineage) and kept in
  *    memory; a trigger does not re-scan anything. A restart re-reads
  *    it once, which is exactly when it can have changed. The manifest
  *    retains the most recent [[graft.table.SnapshotTable.maxBatchKeys]]
  *    keys — enough because a replay is always the last uncommitted
  *    batch of the checkpoint, never hundreds back — while lineage
  *    (written best-effort AFTER the commit, for observability and as
  *    the long-tail record) covers everything older.
  *  - **Namespaced lineage.** Streaming lineage rows use tier key
  *    `stream_<tier>`, so the batch pipeline's resume planner
  *    (completedPartitions / failedRetryCounts on `<tier>`) can never
  *    interleave with the streaming idempotence log in a shared
  *    warehouse — disjointness is structural, not a naming accident.
  *  - **Empty triggers are free.** Spark invokes foreachBatch on empty
  *    micro-batches (idle source, watermark not yet passing a window);
  *    those return without a write job, a manifest version, or a
  *    lineage row.
  *  - **Bounded file counts.** Every `compactEvery` committed batches
  *    the table's fragmented partitions (> maxFiles files) are
  *    compacted in place — a perpetual stream otherwise accretes one
  *    file per partition per batch forever — and the state store is
  *    rolled into latest-wins snapshots.
  *
  * A crash between the manifest commit and the lineage write loses only
  * the OBSERVABILITY row for that batch (the replay skips via the
  * manifest key and logs a WARNING); it can no longer duplicate data —
  * the window the reference's insert-then-UPDATE ordering leaves open
  * (`MigrateTask.java:79-111`) is closed here by the atomic manifest.
  *
  * Late-data division of labor: events later than `watermarkDelay` are
  * dropped by Structured Streaming's state eviction. They are NOT lost
  * to the warehouse — the batch pipeline's census-based backfill
  * ([[graft.jobs.RollupJob]] step 4: a CLOSED day whose raw census
  * moved recomputes at every tier) repairs the affected days on the
  * next batch pass over the full input. Streaming gives bounded-state
  * freshness; the batch tiers stay the system of record.
  */
object StreamingRollupJob {

  def tablePath(warehouse: String, tier: Tier) = s"$warehouse/rollup_stream_${tier.name}"

  /** Start the durable streaming rollup. The caller owns the returned
    * query (awaitTermination / stop); `checkpointDir` must be stable
    * across restarts — it is both the streaming state checkpoint AND
    * the namespace of the sink's idempotence keys. Each micro-batch
    * commits idempotently via [[commitBatch]]; every `compactEvery`
    * committed batches the table and the state store are compacted.
    */
  def start(spark: SparkSession, inputDir: String, warehouse: String,
      checkpointDir: String, tier: Tier = Tier.M1,
      watermarkDelay: String = "10 minutes", jobId: String = "stream",
      compactEvery: Int = 100, compactMaxFiles: Int = 4): StreamingQuery = {
    val state = new StateStore(s"$warehouse/_state")
    val table = new SnapshotTable(tablePath(warehouse, tier))
    val scope = batchScope(checkpointDir)
    // read once per query start; commitBatch maintains it in memory
    val committed = loadCommitted(state, table, tier.name)
    val sinceCompact = new java.util.concurrent.atomic.AtomicInteger(0)
    StreamingRollup.rollup(
      StreamingRollup.readStream(spark, inputDir), tier, watermarkDelay)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val appended = commitBatch(state, table, tier.name, committed, scope,
          batch, id, jobId)
        if (appended > 0 && compactEvery > 0 &&
            sinceCompact.incrementAndGet() >= compactEvery) {
          sinceCompact.set(0)
          table.compact(batch.sparkSession, compactMaxFiles)
          // one lineage file lands per micro-batch — roll the state
          // store too, or a month-long stream accretes ~10^5 tiny files
          // re-scanned at every restart and batch-job planning pass
          state.compactIfNeeded()
          state.log("INFO", tier.name, "compacted streaming table partitions", jobId)
        }
        ()
      }
      .start()
  }

  /** BatchIds are unique only within one checkpoint — scope lineage
    * keys by the checkpoint directory so a reprocessing query (fresh
    * checkpoint) cannot collide with a prior query's ids. The scope is
    * basename + a digest of the FULL normalized path: basenames alone
    * collide on the common `/run1/checkpoint` vs `/run2/checkpoint`
    * naming, which would silently skip the second query's batches.
    */
  private[streaming] def batchScope(checkpointDir: String): String = {
    val norm = checkpointDir.replaceAll("[/\\\\]+$", "")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    // sanitize the basename: the scope is a namespace label riding in
    // JSON manifests and state rows, so keep it to word chars — the
    // digest of the FULL path carries the uniqueness
    s"${norm.split("[/\\\\]").last.replaceAll("[^A-Za-z0-9._-]", "_")}-$digest"
  }

  /** Streaming lineage tier namespace — structurally disjoint from the
    * batch planner's tier keys (see class doc).
    */
  private[streaming] def streamTier(tierName: String): String = s"stream_$tierName"

  /** The already-committed batch partitions, read once: the manifest's
    * (bounded, authoritative) recent keys ∪ the (unbounded,
    * best-effort) streaming lineage record.
    */
  private[streaming] def loadCommitted(state: StateStore, table: SnapshotTable,
      tierName: String): scala.collection.mutable.Set[String] = {
    val batchKeyShape = ".*-batch-\\d+$".r
    val fromLineage = state.latestLineage.collect {
      case ((t, p), r) if t == streamTier(tierName) && r.status == "COMPLETED" => p
      // upgrade fallback: warehouses written before the stream_ prefix
      // recorded batch lineage under the bare tier key — recognize rows
      // whose partition has the batch-key shape (day-partition keys are
      // yyyy-MM-dd, structurally disjoint), or the one in-flight batch
      // at upgrade time would re-append on restart
      case ((t, p), r) if t == tierName && r.status == "COMPLETED" &&
        batchKeyShape.matches(p) => p
    }
    val fromManifest = table.currentManifest.map(_.batchKeys).getOrElse(Seq.empty)
    scala.collection.mutable.Set.empty[String] ++= fromLineage ++= fromManifest
  }

  /** One micro-batch commit: skip empty batches and crash-replayed
    * batchIds, else append the windows as day partitions with the
    * batch's idempotence key inside the atomic manifest commit, then
    * record lineage (observability — losing it to a crash is safe).
    * Visible for direct testing.
    */
  private[streaming] def commitBatch(state: StateStore, table: SnapshotTable,
      tierName: String, committed: scala.collection.mutable.Set[String],
      scope: String, batch: DataFrame, batchId: Long, jobId: String): Long = {
    val partition = s"$scope-batch-$batchId"
    if (committed.contains(partition)) {
      state.log("WARNING", tierName,
        s"micro-batch $batchId replayed after restart; already committed — skipping", jobId)
      0L
    } else if (batch.isEmpty) {
      0L // idle trigger: no write job, no manifest version, no lineage
    } else {
      // appended rows from parquet footer metadata of the files this
      // batch staged (append concatenates prev ++ staged) — no count()
      // job over the data
      val prevCount = table.currentManifest.map(_.files.size).getOrElse(0)
      val withDay = batch.withColumn("p", date_format(col("window_start"), "yyyy-MM-dd"))
      val manifest = table.append(withDay, "p", batchKey = Some(partition))
      committed += partition // durable from here: the manifest holds the key
      val appended = table.rowCount(batch.sparkSession, manifest.files.drop(prevCount))
      state.commitLineage(Seq(state.LineageRow(
        streamTier(tierName), partition, "COMPLETED", "", 0, appended, jobId,
        state.nextSeq())))
      appended
    }
  }
}
