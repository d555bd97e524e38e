package perfbench

import graft.ingest.Transcripts
import graft.jobs.RollupJob
import graft.model.Tier
import graft.retention.Retention
import graft.rollup.{BlockRollup, Rollup}
import graft.table.SnapshotTable
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `RollupJob.run` (and the retention pass after it) replayed through
  * the same public calls, in the same order, with a span around each:
  *
  *  1. validate / split / day-census planning (`ingest.validate`,
  *     `jobs.plan`);
  *  2. per tier, the state reads that plan it (`state.read`), the
  *     computation forced to the `noop` sink (`rollup.agg_1m`,
  *     `rollup.cascade_1h`, `rollup.cascade_1d`, `codec.blocks`), then
  *     `overwritePartitions` + `rowCount` (`table.write_<tier>`,
  *     `table.rowcount`) and the `StateStore` commits (`state.commit`);
  *  3. `Retention.expire` per table (`retention.expire`).
  *
  * Forcing the frame to `noop` first separates computing a tier from
  * writing it: the write span recomputes the frame, so the write's own
  * cost is the write span minus the compute span. The recomputation is
  * part of the replay's overhead over the real run.
  */
object Replay {

  /** Per tier: committed rows, committed partitions. */
  final case class Outcome(committed: Map[String, Seq[Long]], dropped: Int, filesDeleted: Long,
      filesWritten: Long, bytesWritten: Long, bytesRewritten: Long, rowsIn: Long,
      rowsRejected: Long, targets: Long, dirty: Long)

  private def dayOf(c: Column) = date_format(c, "yyyy-MM-dd")

  /** The write layout of `RollupJob` (range-partitioned on day and
    * conversation, sorted within partitions).
    */
  private def clustered(df: DataFrame): DataFrame =
    df.repartitionByRange(col("p"), col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("window_start"))

  private def dayEndUs(p: String): Long =
    java.time.LocalDate.parse(p).plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond * 1000000L

  private def dataFiles(root: String): Long = {
    val p = Paths.get(root, "data")
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.toString.endsWith(".parquet")).count() finally s.close()
    }
  }

  def run(t: Tracer, spark: SparkSession, warehouse: String, input: DataFrame, jobId: String,
      retentionDay: Option[String]): Outcome = t.span("jobs.run") {
    val job = t.span("state.read")(new RollupJob(warehouse))
    val state = job.state
    t.span("state.commit")(state.compactIfNeeded())
    val (validated, valid, rejects) = t.span("ingest.validate") {
      val v = Transcripts.validate(input)
      val (ok, bad) = Transcripts.splitValid(v)
      (v, ok, bad)
    }
    val dayStats = t.span("jobs.plan") {
      val okCol = col("ts").isNotNull && col("conv_id").isNotNull
      validated.groupBy(okCol.as("ok"), dayOf(col("ts")).as("p"))
        .agg(count(lit(1)).as("n"), max(unix_micros(col("ts").cast("timestamp"))).as("max_ts"))
        .collect()
    }
    val rejectCount = dayStats.filter(!_.getBoolean(0)).map(_.getLong(2)).sum
    val okStats = dayStats.filter(_.getBoolean(0))
    if (rejectCount > 0) t.span("table.write_rejects") {
      job.rejectsTable.append(
        rejects.withColumn("p", coalesce(dayOf(col("ts")), lit("invalid"))), "p")
      state.commitLineage(Seq(state.LineageRow("ingest", "rejects", "FAILED",
        "null ts or conv_id", 0, rejectCount, jobId, state.nextSeq())))
      state.log("WARNING", "ingest",
        s"$rejectCount rows rejected (null ts or conv_id), side-written to rejects", jobId)
    }
    val watermarkUs = if (okStats.isEmpty) Long.MinValue else okStats.map(_.getLong(3)).max
    val rawParts = okStats.map(_.getString(1)).toSet
    val dayRawN = okStats.map(r => r.getString(1) -> r.getLong(2)).toMap
    val maxCrossRunRetries = 3

    var filesWritten, bytesWritten, bytesRewritten, targets, dirtyN = 0L

    /** Plan, compute, write and checkpoint one tier's target days. */
    def tier(name: String, allParts: Set[String], computeSpan: String,
        table: SnapshotTable)(frame: Seq[String] => DataFrame): (Long, Int, Set[String]) = {
      val (done, poisoned, dirty) = t.span("state.read") {
        (state.completedPartitions(name),
          state.failedRetryCounts(name).filter(_._2 >= maxCrossRunRetries).keySet,
          state.dirtyPartitions(name, dayRawN))
      }
      val dirtyHere = dirty.intersect(allParts) -- poisoned
      if (poisoned.nonEmpty || dirtyHere.nonEmpty) t.span("state.commit") {
        if (poisoned.nonEmpty) state.log("WARNING", name,
          s"skipping ${poisoned.size} poisoned partition(s)", jobId)
        if (dirtyHere.nonEmpty) state.log("WARNING", name,
          s"${dirtyHere.size} closed day(s) have late arrivals; recomputing: " +
            dirtyHere.toSeq.sorted.mkString(","), jobId)
      }
      val target = (allParts -- done -- poisoned ++ dirtyHere).toSeq.sorted
      targets += target.size
      dirtyN += dirtyHere.size
      if (target.isEmpty) return (0L, 0, poisoned)
      val withP = clustered(frame(target).withColumn("p", dayOf(col("window_start"))))
      t.span(computeSpan)(withP.write.format("noop").mode("overwrite").save())
      val rows = t.span(s"table.write_$name") {
        val before = table.currentManifest.toSeq.flatMap(_.files)
        val manifest = table.overwritePartitions(withP, "p", clusterKey = "conv_id")
        val committed = manifest.files.filter(f => target.contains(f.partition))
        val touched = committed.map(_.partition).toSet
        filesWritten += committed.size
        bytesWritten += committed.map(_.bytes).sum
        bytesRewritten += before.filter(f => touched.contains(f.partition)).map(_.bytes).sum
        t.span("table.rowcount")(table.rowCount(spark, committed))
      }
      t.span("state.commit") {
        if (name != "blocks_1h")
          state.log("INFO", name, s"committed $rows rows across ${target.size} partition(s)", jobId)
        state.commitCheckpoints(target.map(p => state.Checkpoint(name, p, watermarkUs,
          if (dayEndUs(p) <= watermarkUs) "COMPLETED" else "IN_PROGRESS", jobId,
          state.nextSeq(), dayRawN.getOrElse(p, -1L))))
        state.commitLineage(target.map(p => state.LineageRow(
          name, p, "COMPLETED", "", 0, rows, jobId, state.nextSeq())))
        state.commitMetrics(Seq(state.MetricsRow(jobId, name, rows, 0, state.nextSeq())))
      }
      (rows, target.size, poisoned)
    }

    def rawFor(target: Seq[String]): DataFrame =
      if (target.size == rawParts.size) valid else valid.filter(dayOf(col("ts")).isin(target: _*))

    val committed = scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    var finerParts = rawParts
    Tier.cascade.foreach { tr =>
      val (rows, parts, poisoned) = tr match {
        case Tier.M1 =>
          tier(tr.name, rawParts, "rollup.agg_1m", job.tierTable(tr))(target =>
            Rollup.fromRaw(rawFor(target), Tier.M1))
        case _ =>
          val finer = Tier.cascade(Tier.cascade.indexOf(tr) - 1)
          tier(tr.name, finerParts, s"rollup.cascade_${tr.name}", job.tierTable(tr))(target =>
            Rollup.cascade(t.span("table.read")(
              job.tierTable(finer).read(spark, Some(target.toSet))), tr))
      }
      committed(tr.name) = Seq(rows, parts.toLong)
      finerParts = finerParts -- poisoned
    }
    val (blockRows, blockParts, _) = tier("blocks_1h", rawParts, "codec.blocks",
      job.blocksTable(Tier.H1))(target => BlockRollup.encode(rawFor(target), Tier.H1))
    committed("blocks_1h") = Seq(blockRows, blockParts.toLong)

    var dropped, deleted = 0L
    retentionDay.foreach { day =>
      val policy = Retention.Policy()
      Main.retentionTables(job).foreach { case (horizonKey, table) =>
        val filesBefore = dataFiles(table.root)
        dropped += t.span("retention.expire")(Retention.expire(table, horizonKey, day, policy)).size
        deleted += filesBefore - dataFiles(table.root)
      }
    }
    Outcome(committed.toMap, dropped.toInt, deleted, filesWritten, bytesWritten, bytesRewritten,
      okStats.map(_.getLong(2)).sum, rejectCount, targets, dirtyN)
  }
}
