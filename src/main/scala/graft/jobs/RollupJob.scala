package graft.jobs

import graft.ingest.Transcripts
import graft.model.Tier
import graft.rollup.Rollup
import graft.state.StateStore
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end resumable rollup pipeline: transcripts → validation →
  * tier cascade (raw→1m→1h→1d) → snapshot-committed tier tables, with
  * per-partition watermarks + lineage so a killed job resumes exactly
  * where it stopped (north rule; reference analogue: the whole
  * `MigrateTask` + H2 state machine, SURVEY.md §1.4/§3.2).
  *
  * Work unit = (tier, day-partition). Commit protocol per tier:
  *
  *   1. plan: target partitions = input partitions minus partitions
  *      already COMPLETED at this tier (the anti-join work pruning of
  *      `MigrationInitializer.java:62-75`);
  *   2. compute the tier ONLY for target partitions — tier k reads the
  *      tier k-1 TABLE with manifest-level partition pruning, never raw;
  *   3. [[SnapshotTable.overwritePartitions]] — idempotent MERGE of the
  *      recomputed partitions (rerun ⇒ same rows, no duplicates; not
  *      always the same file bytes: the range exchange samples its
  *      bounds with a seed taken from the RDD id, so file boundaries
  *      move with the session's history);
  *   4. checkpoint rows: a partition is COMPLETED once it is closed
  *      (its day ends at or before the input watermark — no more data
  *      can arrive under monotone event time), else IN_PROGRESS and
  *      recomputed next run; each checkpoint also records the day's
  *      RAW input census (`rawCount`), and a later run whose census
  *      disagrees marks the closed day DIRTY and recomputes it — the
  *      late-data backfill the plain anti-join would silently skip
  *      (detects additions/removals; in-place same-count mutations are
  *      out of scope under the append-only input model);
  *   5. lineage + metrics rows, exactly-once per (jobId, tier).
  *
  * Transient commit failures retry with the reference's backoff policy
  * `min(base·2^attempt, cap)` (`IoTDBWriter.java:289-291`), recording
  * RETRY lineage rows with incremented retry_count.
  */
final class RollupJob(
    warehouse: String,
    maxRetries: Int = 5,
    retryBaseMs: Long = 50L,
    retryCapMs: Long = 1000L,
    sleeper: Long => Unit = Thread.sleep,
    /** Cross-RUN retry cap (`RowProcessingDAO.java:121-135`:
      * `status='FAILED' AND retry_count < max`): a partition whose
      * latest lineage is FAILED with this many failed runs is excluded
      * from planning (surfaced via WARNING log + metrics) instead of
      * retrying forever. Exclusion means NO run can self-heal it —
      * recovery is the explicit [[resetPoisoned]] call (the analogue of
      * the reference operator's manual `row_processing` status reset),
      * after which the next run plans the partition again. Note the
      * attribution granularity: a terminal COMMIT failure marks every
      * partition of that commit batch FAILED (the reference's batched
      * status UPDATE behaves identically), so a non-partition-specific
      * fault (disk full) advances the count for the whole batch — the
      * cap bounds retries of ANY repeated failure; `resetPoisoned` is
      * the recovery for the healthy majority once the fault is fixed.
      */
    maxCrossRunRetries: Int = 3) {

  val state = new StateStore(s"$warehouse/_state")
  def tierTable(t: Tier): SnapshotTable = new SnapshotTable(s"$warehouse/rollup_${t.name}")
  def blocksTable(t: Tier): SnapshotTable = new SnapshotTable(s"$warehouse/blocks_${t.name}")
  def rejectsTable: SnapshotTable = new SnapshotTable(s"$warehouse/rejects")

  /** Test hook: injected faults, keyed by (tier, partitionCountSoFar).
    * A function that throws when the commit should fail transiently.
    */
  @volatile var commitFault: (String, Int) => Unit = (_, _) => ()
  private val commitAttempts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One tier's outcome of a run (see [[RollupJob.TierResult]]). */
  type TierResult = RollupJob.TierResult

  private val t0 = System.nanoTime()
  private def phase(msg: String): Unit =
    System.err.println(f"[rollup-job +${(System.nanoTime() - t0) / 1e9}%8.2fs] $msg")

  private def dayOf(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd")

  /** The ONE write-stage layout for every tier commit: RANGE
    * partitioning on (day, conv_id) + within-partition sort (the
    * measured winner, BENCH/BASELINE.md "Writer-cap A/B" — balanced
    * tasks under day skew, O(1) files per day, pairwise disjoint
    * conv_id ranges per day, parquet encoding locality), one writer
    * task per shuffle partition.
    */
  private def writeClustered(withDay: DataFrame): DataFrame =
    withDay.repartitionByRange(col("p"), col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("window_start"))

  /** Run the full pipeline over a transcripts frame. `killAfterTier`
    * simulates a crash between tier commits (resume tests).
    */
  def run(
      spark: SparkSession,
      input: DataFrame,
      jobId: String,
      killAfterTier: Option[String] = None): Seq[TierResult] = {

    // NO .cache() anywhere: measured on 14M turns, building Spark's
    // in-memory columnar cache costs 122s and reading it back is ~2x
    // SLOWER than re-scanning parquet (text columns compress badly in
    // the columnar cache). Each pass re-reads the (pushdown-pruned)
    // parquet scan instead — 3-17s per pass. See BENCH/BASELINE.md.
    // bound planning-read cost on long-lived warehouses: every
    // completedPartitions/failedRetryCounts call below is latest-wins
    // over all state files, so compact them first when fragmented
    state.compactIfNeeded()
    val validated = Transcripts.validate(input)
    val (valid, rejects) = Transcripts.splitValid(validated)
    locally {
      // ONE planning pass over the input: reject count, day partitions,
      // and per-day max ts (watermark = global max) in a single scan —
      // separate rejects.count()/distinct()/max() scans each cost a
      // full pass at 10^7+ rows.
      phase("start: planning pass")
      val okCol = col("ts").isNotNull && col("conv_id").isNotNull
      val dayStats = validated
        .groupBy(okCol.as("ok"), dayOf(col("ts")).as("p"))
        .agg(count(lit(1)).as("n"),
          max(unix_micros(col("ts").cast("timestamp"))).as("max_ts"))
        .collect()
      val rejectCount = dayStats.filter(!_.getBoolean(0)).map(_.getLong(2)).sum
      val okStats = dayStats.filter(_.getBoolean(0))
      phase(s"planned: ${okStats.length} day partitions, $rejectCount rejects")
      if (rejectCount > 0) {
        // rare path: a second scan materializes the reject rows
        rejectsTable.append(
          rejects.withColumn("p", coalesce(dayOf(col("ts")), lit("invalid"))), "p")
        state.commitLineage(Seq(state.LineageRow(
          "ingest", "rejects", "FAILED", "null ts or conv_id", 0, rejectCount,
          jobId, state.nextSeq())))
        state.log("WARNING", "ingest",
          s"$rejectCount rows rejected (null ts or conv_id), side-written to rejects", jobId)
      }
      val watermarkUs =
        if (okStats.isEmpty) Long.MinValue else okStats.map(_.getLong(3)).max
      val rawParts = okStats.map(_.getString(1)).toSet
      // per-day raw census from the SAME planning pass — recorded in
      // every checkpoint and compared on resume: a CLOSED day whose
      // census moved has late arrivals the plain anti-join would skip
      val dayRawN = okStats.map(r => r.getString(1) -> r.getLong(2)).toMap

      def rawFor(target: Seq[String]): DataFrame =
        // skip the per-row day filter when every partition is a target
        // (the common first-run case) — it costs a date_format + N-way
        // isin over every input row
        if (target.size == rawParts.size) valid
        else valid.filter(dayOf(col("ts")).isin(target: _*))

      /** The per-tier commit step, shared by the cascade tiers and the
        * block tier: plan the target days of `allParts`, compute them
        * with `frame`, commit through [[commitWithRetry]], then write
        * checkpoints, lineage and metrics. Returns the result and the
        * poisoned partitions (excluded from planning).
        */
      def commitTier(name: String, allParts: Set[String], table: SnapshotTable)(
          frame: Seq[String] => DataFrame): (TierResult, Set[String]) = {
        val done = state.completedPartitions(name)
        // cross-run retry cap: skip partitions poisoned by repeated
        // failed runs (latest lineage FAILED, retryCount >= cap)
        val poisoned = state.failedRetryCounts(name)
          .filter(_._2 >= maxCrossRunRetries).keySet
        if (poisoned.nonEmpty) {
          state.log("WARNING", name,
            s"skipping ${poisoned.size} poisoned partition(s) after " +
              s"$maxCrossRunRetries failed runs: ${poisoned.toSeq.sorted.mkString(",")}",
            jobId)
          state.commitMetrics(Seq(state.MetricsRow(
            jobId, name, 0, poisoned.size, state.nextSeq())))
        }
        // late-data backfill: COMPLETED days whose raw census moved are
        // dirty — pulled back into the target set and recomputed through
        // the same idempotent partition overwrite the resume path uses.
        // Every tier compares its OWN recorded census, so a kill between
        // tiers cannot strand a coarser tier on stale finer data.
        val dirty = state.dirtyPartitions(name, dayRawN)
          .intersect(allParts) -- poisoned
        if (dirty.nonEmpty)
          state.log("WARNING", name,
            s"${dirty.size} closed day(s) have late arrivals; recomputing: " +
              dirty.toSeq.sorted.mkString(","), jobId)
        val target = (allParts -- done -- poisoned ++ dirty).toSeq.sorted
        phase(s"tier $name: ${target.size} target partitions planned")
        if (target.isEmpty) return (RollupJob.TierResult(name, Seq.empty, 0L), poisoned)
        // cluster the write by day via RANGE partitioning on
        // (p, conv_id): sampling balances task row counts even when
        // day sizes are skewed or the day count is below / barely
        // above the task count (hash-by-day left cores idle on few
        // days and straggled on hot days), while contiguous ranges
        // keep each day in O(1) files — not tasks×days small files.
        // Sorted for parquet encoding locality; the row count
        // afterwards comes from the committed files' parquet FOOTERS
        // (metadata-only) — never recompute the aggregation.
        val withP = writeClustered(
          frame(target).withColumn("p", dayOf(col("window_start"))))
        phase(s"tier $name: computing + staging write")
        val rows = commitWithRetry(name, jobId, target) {
          val manifest = table.overwritePartitions(withP, "p", clusterKey = "conv_id")
          table.rowCount(spark, manifest.files.filter(f => target.contains(f.partition)))
        }
        phase(s"tier $name: committed $rows rows")
        state.log("INFO", name,
          s"committed $rows rows across ${target.size} partition(s)", jobId)
        // per-partition checkpoint: closed days are COMPLETED
        state.commitCheckpoints(target.map { p =>
          val dayEndUs = (java.time.LocalDate.parse(p).plusDays(1)
            .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond) * 1000000L
          state.Checkpoint(name, p, watermarkUs,
            if (dayEndUs <= watermarkUs) "COMPLETED" else "IN_PROGRESS", jobId,
            state.nextSeq(), dayRawN.getOrElse(p, -1L))
        })
        state.commitLineage(target.map(p => state.LineageRow(
          name, p, "COMPLETED", "", 0, rows, jobId, state.nextSeq())))
        state.commitMetrics(Seq(state.MetricsRow(
          jobId, name, rows, 0, state.nextSeq())))
        (RollupJob.TierResult(name, target, rows), poisoned)
      }

      val results = scala.collection.mutable.ArrayBuffer[TierResult]()
      // day partitions align across tiers (1m/1h/1d windows nest in days)
      var finerParts = rawParts
      for (tier <- Tier.cascade) {
        val (result, poisoned) = commitTier(tier.name, finerParts, tierTable(tier)) {
          target => tier match {
            case Tier.M1 => Rollup.fromRaw(rawFor(target), Tier.M1)
            case t =>
              val finer = Tier.cascade(Tier.cascade.indexOf(t) - 1)
              Rollup.cascade(tierTable(finer).read(spark, Some(target.toSet)), t)
          }
        }
        results += result
        // downstream tiers only see partitions that exist at this tier —
        // a poisoned partition must not be read (empty) one level up
        finerParts = finerParts -- poisoned
        if (killAfterTier.contains(tier.name))
          throw new SimulatedKill(s"killed after tier ${tier.name}")
      }

      // encoded block tier (Gorilla/DoD binary columns per (conv, 1h
      // window)) — same commit step, own checkpoint stream, computed
      // from raw, so the raw tier is droppable after retention without
      // losing point-level answers.
      results += commitTier("blocks_1h", rawParts, blocksTable(Tier.H1)) { target =>
        graft.rollup.BlockRollup.encode(rawFor(target), Tier.H1)
      }._1
      results.toSeq
    }
  }

  /** Manual poison clear — the analogue of the reference operator's
    * `row_processing` status reset (the only recovery the reference has
    * for rows FAILED past `max_retries`): appends a RESET lineage row
    * (retryCount 0) superseding each currently-poisoned partition of
    * `tier`, so the NEXT run plans them again (RESET is neither FAILED
    * nor COMPLETED: it clears the poison filter without marking work
    * done). Returns the partitions reset.
    */
  def resetPoisoned(tier: String, jobId: String = "poison-reset"): Seq[String] = {
    val poisoned = state.failedRetryCounts(tier)
      .filter(_._2 >= maxCrossRunRetries).keys.toSeq.sorted
    if (poisoned.nonEmpty) {
      state.commitLineage(poisoned.map(p => state.LineageRow(
        tier, p, "RESET", "manual poison reset", 0, 0, jobId, state.nextSeq())))
      state.log("INFO", tier,
        s"reset ${poisoned.size} poisoned partition(s): ${poisoned.mkString(",")}", jobId)
    }
    poisoned
  }

  /** Reference retry policy: `min(base·2^attempt, cap)` backoff
    * (`IoTDBWriter.java:272-291`); terminal failure marks lineage FAILED
    * (`IoTDBWriter.java:249-269`) — one row PER TARGET PARTITION with
    * the accumulated cross-run failure count (prior FAILED count + 1),
    * feeding the resume planner's poison filter — and rethrows.
    */
  private def commitWithRetry[A](tier: String, jobId: String,
      partitions: Seq[String])(body: => A): A = {
    var attempt = 0
    while (true) {
      try {
        commitFault(tier, commitAttempts.getAndIncrement())
        return body
      } catch {
        case k: SimulatedKill => throw k
        case e: Exception if attempt < maxRetries =>
          state.commitLineage(Seq(state.LineageRow(
            tier, "*", "RETRY", String.valueOf(e.getMessage), attempt + 1, 0,
            jobId, state.nextSeq())))
          state.log("WARNING", tier,
            s"transient commit failure (attempt ${attempt + 1}/$maxRetries): ${e.getMessage}",
            jobId)
          sleeper(math.min(retryBaseMs * (1L << attempt), retryCapMs))
          attempt += 1
        case e: Exception =>
          val prior = state.failedRetryCounts(tier)
          state.commitLineage(partitions.map(p => state.LineageRow(
            tier, p, "FAILED", String.valueOf(e.getMessage),
            prior.getOrElse(p, 0) + 1, 0, jobId, state.nextSeq())))
          state.log("ERROR", tier,
            s"commit failed terminally after $attempt in-process retries: ${e.getMessage}",
            jobId)
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object RollupJob {
  /** What one tier committed in a run: its recomputed partitions and
    * rows. Top-level (not a member of the job instance), so a pattern
    * match on it needs no outer-reference check.
    */
  final case class TierResult(tier: String, partitions: Seq[String], rows: Long)
}

final class SimulatedKill(msg: String) extends RuntimeException(msg)
