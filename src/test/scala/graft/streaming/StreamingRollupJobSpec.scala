package graft.streaming

import graft.SparkTestBase
import graft.ingest.Synth
import graft.model.Tier
import graft.rollup.Rollup
import graft.state.StateStore
import graft.table.SnapshotTable
import org.apache.spark.sql.functions.lit

class StreamingRollupJobSpec extends SparkTestBase {

  test("durable streaming rollup: closed windows land in the snapshot table with lineage") {
    val in = tmpDir("sj-in")
    val wh = tmpDir("sj-wh")
    val ckpt = tmpDir("sj-ckpt")
    val turns = Synth.transcripts(spark, nConvs = 8, avgTurns = 40, seed = 33L).toDF()
    turns.write.mode("overwrite").parquet(in)

    val q = StreamingRollupJob.start(spark, in, wh, ckpt, Tier.M1)
    q.processAllAvailable()
    q.stop()

    val table = new SnapshotTable(StreamingRollupJob.tablePath(wh, Tier.M1))
    val stored = table.read(spark).drop("p")
    val emitted = stored.count()
    assert(emitted > 0, "watermark should have closed windows into the table")
    // the stream stores the batch tier schema
    assert(stored.columns.toSeq == Rollup.columns)
    // every stored window matches the batch rollup exactly, on all columns
    val batch = Rollup.fromRaw(turns, Tier.M1)
    assert(stored.exceptAll(batch).isEmpty, "stored windows must be batch-identical")
    // lineage rows recorded per committed batch under the STREAM
    // namespace (never the batch planner's tier key), rows exact
    val state = new StateStore(s"$wh/_state")
    val lin = state.lineage.filter(_.tier == "stream_1m")
    assert(lin.nonEmpty && lin.forall(_.status == "COMPLETED"))
    assert(lin.map(_.rows).sum == emitted, s"lineage rows ${lin.map(_.rows).sum} vs $emitted")
    assert(state.lineage.forall(_.tier != "1m"),
      "streaming must not write into the batch planner's tier namespace")
    // the manifest carries each batch's idempotence key atomically
    assert(table.currentManifest.get.batchKeys.nonEmpty)
  }

  test("restart from the same checkpoint continues without duplicating windows") {
    import org.apache.spark.sql.functions._
    val in = tmpDir("sj-restart-in")
    val wh = tmpDir("sj-restart-wh")
    val ckpt = tmpDir("sj-restart-ckpt")
    val all = Synth.transcripts(spark, nConvs = 6, avgTurns = 60, seed = 55L).toDF()
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("ts", "conv_id", "turn_idx")))
    val n = all.count()
    import scala.jdk.CollectionConverters._
    // the file stream lists TOP-LEVEL files: stage each half to a temp
    // dir and move its single part file into the watched dir
    def drop(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val tmp = tmpDir(s"sj-stage-$tag")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).next()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(in, s"$tag.parquet"))
    }
    // first half before the restart, second half after
    drop(all.filter(col("r") <= n / 2).drop("r"), "a")

    val q1 = StreamingRollupJob.start(spark, in, wh, ckpt, Tier.M1)
    q1.processAllAvailable(); q1.stop()

    drop(all.filter(col("r") > n / 2).drop("r"), "b")
    val q2 = StreamingRollupJob.start(spark, in, wh, ckpt, Tier.M1)
    q2.processAllAvailable(); q2.stop()

    val table = new SnapshotTable(StreamingRollupJob.tablePath(wh, Tier.M1))
    val stored = table.read(spark).drop("p")
    // no (conv, window) appears twice — the restart neither re-emitted
    // nor re-appended anything
    val dups = stored.groupBy("conv_id", "window_start").count().filter(col("count") > 1)
    assert(dups.isEmpty, s"duplicated windows: ${dups.head(3).mkString(",")}")
    // every stored window matches the batch rollup over the FULL input
    val batch = Rollup.fromRaw(all.drop("r"), Tier.M1)
    assert(stored.exceptAll(batch).isEmpty,
      "stored windows must be batch-identical after restart")
    assert(stored.count() > 0)
  }

  test("micro-batch replay is idempotent; a NEW checkpoint's ids do not collide") {
    import spark.implicits._
    val wh = tmpDir("sj-idem")
    val state = new StateStore(s"$wh/_state")
    val table = new SnapshotTable(s"$wh/rollup_stream_1m")
    val batch = Seq(
      ("c1", java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 3L, 2L, 1L, 0L, 30L, 5L, 15L),
      ("c2", java.sql.Timestamp.valueOf("2024-03-01 10:01:00"), 1L, 1L, 0L, 0L, 9L, 9L, 9L))
      .toDF("conv_id", "window_start", "turn_count", "user_turns",
        "assistant_turns", "tool_calls", "char_len_sum", "char_len_min", "char_len_max")
    val committed = StreamingRollupJob.loadCommitted(state, table, "1m")
    val scope = StreamingRollupJob.batchScope("/tmp/ckpts/q1/")
    assert(scope.startsWith("q1-"))
    // trailing slash is normalized away; SAME basename under different
    // parents yields different scopes (the silent-skip collision case)
    assert(scope == StreamingRollupJob.batchScope("/tmp/ckpts/q1"))
    assert(StreamingRollupJob.batchScope("/data/run1/checkpoint") !=
      StreamingRollupJob.batchScope("/data/run2/checkpoint"))

    val first = StreamingRollupJob.commitBatch(state, table, "1m", committed, scope, batch, 7L, "idem")
    assert(first == 2L)
    // crash-replay of the SAME batch id: skipped, logged, no double rows
    assert(StreamingRollupJob.commitBatch(state, table, "1m", committed, scope, batch, 7L, "idem") == 0L)
    assert(table.read(spark).count() == 2L)
    assert(state.logs.exists(l =>
      l.level == "WARNING" && l.message.contains("replayed")))
    // restart (committed set re-read from manifest ∪ lineage) still skips it
    val reloaded = StreamingRollupJob.loadCommitted(state, table, "1m")
    assert(StreamingRollupJob.commitBatch(state, table, "1m", reloaded, scope, batch, 7L, "idem") == 0L)
    // an empty idle trigger commits nothing: no rows, no snapshot churn
    val vBefore = table.currentManifest.get.version
    assert(StreamingRollupJob.commitBatch(state, table, "1m", reloaded, scope,
      batch.filter(lit(false)), 9L, "idem") == 0L)
    assert(table.currentManifest.get.version == vBefore)
    // a SECOND query (fresh checkpoint, batchIds restart at 0) must NOT
    // be swallowed by the first query's committed ids
    val scope2 = StreamingRollupJob.batchScope("/tmp/ckpts/q2")
    assert(StreamingRollupJob.commitBatch(state, table, "1m", reloaded, scope2, batch, 7L, "re") == 2L)
    assert(table.read(spark).count() == 4L)
  }

  test("crash between table commit and lineage write does NOT duplicate the batch on replay") {
    import spark.implicits._
    val wh = tmpDir("sj-crash")
    // inject the crash exactly in the old at-least-once window: after
    // the manifest commit, before the lineage row lands
    class CrashingStore(root: String) extends StateStore(root) {
      @volatile var boom = true
      override def commitLineage(rows: Seq[LineageRow]): Unit = {
        if (boom && rows.exists(_.tier.startsWith("stream_")))
          throw new RuntimeException("crash before lineage")
        super.commitLineage(rows)
      }
    }
    val state = new CrashingStore(s"$wh/_state")
    val table = new SnapshotTable(s"$wh/rollup_stream_1m")
    val batch = Seq(
      ("c1", java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 3L, 2L, 1L, 0L, 30L, 5L, 15L))
      .toDF("conv_id", "window_start", "turn_count", "user_turns",
        "assistant_turns", "tool_calls", "char_len_sum", "char_len_min", "char_len_max")
    val scope = StreamingRollupJob.batchScope("/tmp/ckpts/crash")
    val committed = StreamingRollupJob.loadCommitted(state, table, "1m")
    intercept[RuntimeException] {
      StreamingRollupJob.commitBatch(state, table, "1m", committed, scope, batch, 0L, "c")
    }
    assert(table.read(spark).count() == 1L, "the table commit itself succeeded")
    assert(state.lineage.isEmpty, "the lineage row was lost to the crash")
    // restart: Spark replays batch 0 with a fresh committed set — the
    // manifest's atomic batch key must swallow it
    state.boom = false
    val reloaded = StreamingRollupJob.loadCommitted(state, table, "1m")
    assert(StreamingRollupJob.commitBatch(state, table, "1m", reloaded, scope, batch, 0L, "c") == 0L)
    assert(table.read(spark).count() == 1L, "replay after the crash must not re-append")
  }

  test("manifest batch keys are bounded; evicted batches stay covered by lineage") {
    import spark.implicits._
    val wh = tmpDir("sj-bound")
    val state = new StateStore(s"$wh/_state")
    val table = new SnapshotTable(s"$wh/rollup_stream_1m")
    val row = Seq(("c1", "2024-03-01", 1L))
      .toDF("conv_id", "p", "turn_count")
    // append with a small bound stands in for maxBatchKeys batches
    for (id <- 0 until 5) {
      table.append(row.drop("p").withColumn("p", lit("2024-03-01")), "p",
        batchKey = Some(s"s-batch-$id"), maxBatchKeys = 3)
      state.commitLineage(Seq(state.LineageRow(
        "stream_1m", s"s-batch-$id", "COMPLETED", "", 0, 1L, "b", state.nextSeq())))
    }
    val keys = table.currentManifest.get.batchKeys
    assert(keys == Seq("s-batch-2", "s-batch-3", "s-batch-4"),
      s"oldest keys evicted, newest retained: $keys")
    // a fresh restart still sees EVERY batch as committed: evicted keys
    // come back through the lineage record
    val reloaded = StreamingRollupJob.loadCommitted(state, table, "1m")
    assert((0 until 5).forall(id => reloaded.contains(s"s-batch-$id")))
    // manifests parse back with their keys after reopen
    assert(new SnapshotTable(s"$wh/rollup_stream_1m").currentManifest.get.batchKeys == keys)
  }

  test("legacy lineage under the bare tier key still counts as committed (upgrade path)") {
    val wh = tmpDir("sj-legacy")
    val state = new StateStore(s"$wh/_state")
    val table = new SnapshotTable(s"$wh/rollup_stream_1m")
    // a warehouse written before the stream_ namespace: batch lineage
    // under tier '1m', no manifest batchKeys
    state.commitLineage(Seq(
      state.LineageRow("1m", "old-ckpt-ab12-batch-41", "COMPLETED", "", 0, 5L, "old", state.nextSeq()),
      // day-partition rows (the batch planner's) must NOT leak in
      state.LineageRow("1m", "2024-03-01", "COMPLETED", "", 0, 5L, "old", state.nextSeq())))
    val committed = StreamingRollupJob.loadCommitted(state, table, "1m")
    assert(committed.contains("old-ckpt-ab12-batch-41"),
      "pre-upgrade batch lineage must still suppress its replay")
    assert(!committed.contains("2024-03-01"),
      "batch-planner day partitions must not enter the streaming committed set")
  }

  test("every compactEvery committed batches the day partition is compacted without changing a row") {
    import spark.implicits._
    val in = tmpDir("sj-compact-in")
    val wh = tmpDir("sj-compact-wh")
    val ckpt = tmpDir("sj-compact-ckpt")
    import scala.jdk.CollectionConverters._
    def drop(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val tmp = tmpDir(s"sj-compact-stage-$tag")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).next()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(in, s"$tag.parquet"))
    }
    def turns(rows: Seq[(String, Int, String, String, String, java.sql.Timestamp)]) =
      rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime
    // three drops into ONE day, each 20 minutes of two conversations,
    // in event-time order: each closes windows, so each commits a batch
    val drops = (0 until 3).map { d =>
      turns(for (c <- Seq("c1", "c2"); j <- 0 until 10) yield {
        val idx = d * 10 + j
        (c, idx, if (j % 2 == 0) "user" else "assistant", s"$c turn $idx " * (1 + j % 3),
          if (j % 4 == 3) "search" else null,
          new java.sql.Timestamp(t0 + (d * 30 + j * 2) * 60000L))
      })
    }
    // a next-day turn moves the watermark past the whole day; its own
    // window stays open, so every stored row belongs to the one day
    val pusher = turns(Seq(("cz", 0, "user", "late night", null,
      java.sql.Timestamp.valueOf("2024-03-02 00:30:00"))))

    val q = StreamingRollupJob.start(spark, in, wh, ckpt, Tier.M1,
      compactEvery = 2, compactMaxFiles = 1)
    try {
      drops.zipWithIndex.foreach { case (df, i) => drop(df, s"d$i"); q.processAllAvailable() }
      drop(pusher, "p"); q.processAllAvailable()
    } finally q.stop()

    val table = new SnapshotTable(StreamingRollupJob.tablePath(wh, Tier.M1))
    val versions = (0L to table.currentVersion.get).map(table.readManifest)
    // a compaction commit carries its parent's batch keys unchanged;
    // every append adds its own key
    val compactions = versions.zip(versions.tail).filter { case (prev, m) =>
      m.batchKeys == prev.batchKeys }
    assert(compactions.nonEmpty, s"no compaction among ${versions.size} versions")
    for ((prev, m) <- compactions) {
      assert(prev.files.count(_.partition == "2024-03-01") > 1)
      assert(m.files.count(_.partition == "2024-03-01") <= 1,
        s"v${m.version}: ${m.files.map(_.partition)}")
      assert(m.batchKeys.nonEmpty)
      val before = table.readFiles(spark, prev.files)
      val after = table.readFiles(spark, m.files)
      assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty,
        s"v${m.version}: compaction changed stored rows")
    }
    // the day's windows are all closed and stored exactly once
    val stored = table.read(spark).drop("p")
    val batch = Rollup.fromRaw(drops.reduce(_ union _), Tier.M1)
    assert(stored.count() > 0)
    assert(stored.exceptAll(batch).isEmpty && batch.exceptAll(stored).isEmpty,
      "stored windows must equal the batch rollup of the closed day")
    val state = new StateStore(s"$wh/_state")
    assert(state.logs.exists(l => l.level == "INFO" && l.tier == "1m" &&
      l.message == "compacted streaming table partitions"))
  }
}
