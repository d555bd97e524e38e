package graft.jobs

import graft.SparkTestBase
import graft.ingest.Synth
import graft.model.Tier

class ResumeSpec extends SparkTestBase {

  private def freshInput() = Synth.transcripts(
    spark, nConvs = 12, avgTurns = 40, seed = 11L).toDF()

  test("uninterrupted run commits all tiers with COMPLETED/IN_PROGRESS checkpoints") {
    val wh = tmpDir("wh-clean")
    val job = new RollupJob(wh)
    val res = job.run(spark, freshInput(), "job-1")
    assert(res.map(_.tier) == Seq("1m", "1h", "1d", "blocks_1h"))
    assert(res.forall(_.rows > 0))
    val cps = job.state.checkpoints
    assert(cps.nonEmpty)
    // the last day with data can't be closed; earlier days must be COMPLETED
    val m1 = cps.collect { case ((t, p), c) if t == "1m" => p -> c.status }.toMap
    val lastDay = m1.keys.max
    assert(m1(lastDay) == "IN_PROGRESS")
    assert((m1 - lastDay).values.forall(_ == "COMPLETED"))
  }

  test("tier files of each committed day hold pairwise disjoint conv_id ranges") {
    // the range layout's property: a point read (readForKey) opens at
    // most one file per day. ~20 conversations a day (a synthetic one
    // lasts under an hour) and 16 uncoalesced range partitions put
    // every tier's days across several files of several conversations
    val wh = tmpDir("wh-layout")
    val input = Synth.transcripts(spark, nConvs = 600, avgTurns = 4, seed = 11L).toDF()
    val confs = Map("spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.get(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try new RollupJob(wh).run(spark, input, "layout")
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    for (t <- Seq(Tier.M1, Tier.H1, Tier.D1)) {
      val m = new graft.table.SnapshotTable(s"$wh/rollup_${t.name}").currentManifest.get
      assert(m.clusterKey == "conv_id")
      val perDay = m.files.groupBy(_.partition)
      assert(perDay.values.exists(_.size > 1), s"tier ${t.name}: no day spans two files")
      for ((day, files) <- perDay) {
        assert(files.forall(f => f.minKey.nonEmpty && f.maxKey.nonEmpty))
        val byMin = files.sortBy(_.minKey)
        byMin.zip(byMin.tail).foreach { case (a, b) =>
          assert(a.maxKey < b.minKey, s"tier ${t.name} day $day: " +
            s"[${a.minKey}, ${a.maxKey}] overlaps [${b.minKey}, ${b.maxKey}]")
        }
      }
    }
  }

  test("kill after 1m tier → resume completes 1h/1d and recomputes only open partitions") {
    val wh = tmpDir("wh-resume")
    val input = freshInput()

    val killed = new RollupJob(wh)
    intercept[SimulatedKill] {
      killed.run(spark, input, "job-1", killAfterTier = Some("1m"))
    }
    // 1m committed, 1h/1d absent
    assert(killed.tierTable(Tier.M1).currentVersion.nonEmpty)
    assert(killed.tierTable(Tier.H1).currentVersion.isEmpty)

    val resumed = new RollupJob(wh)
    val res = resumed.run(spark, input, "job-2")
    // resume recomputed only the non-COMPLETED (open) 1m partitions
    val m1Recomputed = res.find(_.tier == "1m").get.partitions
    val completedBefore = killed.state.completedPartitions("1m")
    assert(m1Recomputed.toSet.intersect(completedBefore).isEmpty)
    assert(res.find(_.tier == "1h").get.rows > 0)

    // final state identical to an uninterrupted run in a fresh warehouse
    val whRef = tmpDir("wh-ref")
    val ref = new RollupJob(whRef)
    ref.run(spark, input, "job-ref")
    for (t <- Seq(Tier.M1, Tier.H1, Tier.D1)) {
      assertSameRows(
        ref.tierTable(t).read(spark),
        resumed.tierTable(t).read(spark))
    }
  }

  test("rerun after success is a no-op for completed partitions") {
    val wh = tmpDir("wh-noop")
    val input = freshInput()
    val job = new RollupJob(wh)
    job.run(spark, input, "job-1")
    val res2 = new RollupJob(wh).run(spark, input, "job-2")
    val completed = job.state.completedPartitions("1m")
    // second run touches only the still-open partitions
    assert(res2.find(_.tier == "1m").get.partitions.toSet.intersect(completed).isEmpty)
  }

  test("late rows for a CLOSED day mark it dirty and recompute every tier") {
    import org.apache.spark.sql.functions._
    val wh = tmpDir("wh-late")
    val input = freshInput().cache()
    val job = new RollupJob(wh)
    job.run(spark, input, "job-1")
    val closed = job.state.completedPartitions("1m")
    assert(closed.nonEmpty)
    val lateDay = closed.min
    // late arrivals: clone one turn of the closed day with a new
    // turn_idx (same conv, same day, ts +1s — still inside the day)
    val donor = input
      .filter(date_format(col("ts"), "yyyy-MM-dd") === lateDay)
      .orderBy(col("conv_id"), col("turn_idx")).limit(1)
      .withColumn("turn_idx", col("turn_idx") + 100000)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 SECOND"))
    val withLate = input.union(donor)

    val res2 = new RollupJob(wh).run(spark, withLate, "job-2")
    // the dirty closed day is recomputed at EVERY tier; no other
    // closed day is touched
    for (t <- Seq("1m", "1h", "1d", "blocks_1h")) {
      val parts = res2.find(_.tier == t).get.partitions.toSet
      assert(parts.contains(lateDay), s"$t must recompute the late day")
      assert(parts.intersect(closed - lateDay).isEmpty,
        s"$t must not touch other closed days: $parts")
    }
    // and the warehouse now equals a fresh run over the late input
    val ref = new RollupJob(tmpDir("wh-late-ref"))
    ref.run(spark, withLate, "job-ref")
    for (t <- Seq(Tier.M1, Tier.H1, Tier.D1)) {
      assertSameRows(
        ref.tierTable(t).read(spark),
        new RollupJob(wh).tierTable(t).read(spark))
    }
    // a third run over the SAME late input is a no-op again (census
    // matches the updated checkpoints)
    val res3 = new RollupJob(wh).run(spark, withLate, "job-3")
    for (t <- Seq("1m", "1h", "1d", "blocks_1h")) {
      val parts = res3.find(_.tier == t).get.partitions.toSet
      assert(!parts.contains(lateDay), s"$t must not recompute again: $parts")
    }
    // the warning surfaced in the log stream
    assert(job.state.logs.exists(l =>
      l.level == "WARNING" && l.message.contains("late arrivals")))
    input.unpersist()
  }

  test("pre-rawCount checkpoints (unknown census) never read as dirty") {
    val wh = tmpDir("wh-late-compat")
    val input = freshInput()
    val job = new RollupJob(wh)
    job.run(spark, input, "job-1")
    // simulate an upgraded store: strip rawCount from every checkpoint
    // line (the pre-upgrade on-disk format)
    val st = job.state
    val rewritten = st.checkpoints.values.map(c =>
      c.copy(rawCount = -1L, seq = st.nextSeq())).toSeq
    st.commitCheckpoints(rewritten)
    assert(st.dirtyPartitions("1m",
      Map(st.completedPartitions("1m").min -> 999999L)).isEmpty,
      "unknown recorded census must not be dirty")
    val res2 = new RollupJob(wh).run(spark, input, "job-2")
    val completed = job.state.completedPartitions("1m")
    assert(res2.find(_.tier == "1m").get.partitions.toSet
      .intersect(completed).isEmpty)
  }

  test("transient commit failure retries with backoff and records RETRY lineage") {
    val wh = tmpDir("wh-flaky")
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val job = new RollupJob(wh, maxRetries = 5, retryBaseMs = 50, retryCapMs = 1000,
      sleeper = sleeps.append(_))
    var failures = 0
    job.commitFault = (tier, _) =>
      if (tier == "1m" && failures < 3) { failures += 1; throw new RuntimeException(s"flaky $failures") }
    val res = job.run(spark, freshInput(), "job-flaky")
    assert(res.forall(r => r.tier != "1m" || r.rows > 0))
    val retries = job.state.lineage.filter(_.status == "RETRY")
    assert(retries.map(_.retryCount).sorted == Seq(1, 2, 3))
    // reference backoff: min(base·2^attempt, cap) → 50, 100, 200
    assert(sleeps.toSeq == Seq(50L, 100L, 200L))
  }

  test("null-ts rows are rejected to lineage, run survives") {
    val wh = tmpDir("wh-rejects")
    val input = Synth.transcripts(spark, nConvs = 5, avgTurns = 20, seed = 3L,
      nullTsEvery = 7).toDF()
    val job = new RollupJob(wh)
    val res = job.run(spark, input, "job-rej")
    assert(res.forall(_.rows >= 0))
    val rej = job.state.lineage.filter(r => r.tier == "ingest" && r.status == "FAILED")
    assert(rej.nonEmpty && rej.head.rows > 0)
    assert(job.rejectsTable.read(spark).count() == rej.head.rows)
    // reject warnings are routed into the leveled log stream
    // (migration_logs analogue, H2DatabaseManager.java:55-62)
    val warns = job.state.logs.filter(l => l.level == "WARNING" && l.tier == "ingest")
    assert(warns.exists(_.message.contains("rejected")), s"got: ${job.state.logs}")
  }

  test("a multi-day run with rejects starts no child process on its warehouse") {
    // without libhadoop, Hadoop's local FS chmods each created file and
    // directory through a `chmod` child process; staged writes must not
    val wh = tmpDir("wh-nofork")
    val input = Synth.transcripts(spark, nConvs = 12, avgTurns = 40, seed = 11L,
      nullTsEvery = 7).toDF()
    val job = new RollupJob(wh)
    val (res, commands) = processStarts {
      val r = job.run(spark, input, "job-nofork")
      // control: the recording sees a child process that names wh
      new ProcessBuilder("test", "-d", wh).start().waitFor()
      r
    }
    assert(res.find(_.tier == "1m").get.partitions.size > 1)
    assert(job.rejectsTable.read(spark).count() > 0)
    val onWarehouse = commands.filter(_.contains(wh))
    assert(onWarehouse == Seq(s"test -d $wh"), s"child processes on the warehouse: $onWarehouse")
  }

  test("a partition poisoned across maxCrossRunRetries runs is excluded and surfaced") {
    val input = freshInput()
    // the cascade tiers and the block tier share one commit step, so a
    // fault at either poisons, surfaces and resets the same way
    for (faultTier <- Seq("1m", "blocks_1h")) {
      val wh = tmpDir(s"wh-poison-$faultTier")
      // three runs that fail terminally at the faulted commit (no
      // in-process retries) accumulate per-partition FAILED lineage
      // with rising counts
      for (i <- 1 to 3) {
        val bad = new RollupJob(wh, maxRetries = 0, maxCrossRunRetries = 3)
        bad.commitFault = (tier, _) =>
          if (tier == faultTier) throw new RuntimeException("poisoned input")
        intercept[RuntimeException](bad.run(spark, input, s"bad-$i"))
      }
      val counts = new RollupJob(wh).state.failedRetryCounts(faultTier)
      assert(counts.nonEmpty && counts.values.forall(_ == 3), s"$faultTier: got $counts")

      // the next (healthy) run skips the poisoned partitions entirely...
      val healthy = new RollupJob(wh, maxCrossRunRetries = 3)
      val res = healthy.run(spark, input, "healthy")
      assert(res.find(_.tier == faultTier).get.partitions.isEmpty)
      if (faultTier == "1m") {
        // ...and downstream tiers don't try to read never-written data
        assert(res.find(_.tier == "1h").get.partitions.isEmpty)
        // blocks_1h is computed from raw, independent of the poisoned tier
        assert(res.find(_.tier == "blocks_1h").get.rows > 0)
      } else {
        // ...while the cascade tiers, which never read blocks, completed
        assert(healthy.state.completedPartitions("1d").nonEmpty)
      }
      // surfaced: WARNING log naming the partitions + a failed-count metric
      val warn = healthy.state.logs.find(l =>
        l.level == "WARNING" && l.tier == faultTier && l.message.contains("poisoned"))
      assert(warn.nonEmpty, s"logs: ${healthy.state.logs}")
      assert(healthy.state.metrics.exists(m =>
        m.jobId == "healthy" && m.tier == faultTier && m.failed == counts.size),
        s"$faultTier metrics: ${healthy.state.metrics}")

      // recovery path: a poisoned partition is EXCLUDED from planning, so
      // no run can self-heal it — the explicit reset (the reference
      // operator's manual row_processing status reset) clears the poison
      // and the next run, at the SAME cap, processes it to COMPLETED
      val reset = healthy.resetPoisoned(faultTier, "reset-job")
      assert(reset.toSet == counts.keySet, s"reset $reset vs poisoned ${counts.keySet}")
      assert(healthy.resetPoisoned(faultTier).isEmpty) // idempotent: nothing left

      // a post-reset failure counts from 1 again (not 4): the partitions
      // stay below the cap, so the subsequent healthy run — still at the
      // SAME cap — plans and completes them
      val again = new RollupJob(wh, maxRetries = 0, maxCrossRunRetries = 3)
      again.commitFault = (tier, _) =>
        if (tier == faultTier) throw new RuntimeException("fresh fault")
      intercept[RuntimeException](again.run(spark, input, "again"))
      assert(again.state.failedRetryCounts(faultTier).values.forall(_ == 1))
      val retried = new RollupJob(wh, maxCrossRunRetries = 3)
      val res2 = retried.run(spark, input, "retried")
      assert(res2.find(_.tier == faultTier).get.rows > 0)
      assert(retried.state.failedRetryCounts(faultTier).isEmpty)
    }
  }

  test("precision-loss warnings route into the log stream") {
    import spark.implicits._
    val state = new graft.state.StateStore(tmpDir("state-loss"))
    val events = Seq((1L, 1.5, "x", "{}"), (2L, 2.0, "y", "{}"))
      .toDF("event_id", "value", "event_type", "props")
    val out = graft.operators.RefOps.typedCastLogged(events, state, "j")
    // the loss count rides THIS action (observe) — no action, no log
    assert(state.logs.forall(_.level != "WARNING"))
    assert(out.count() == 2)
    // listener delivery is async on the shared bus: poll briefly
    def warnings() =
      state.logs.filter(l => l.level == "WARNING" && l.message.contains("precision"))
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (warnings().isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    val w = warnings()
    assert(w.nonEmpty && w.head.message.startsWith("1 value"))
    // per-PASS accounting (the reference flags loss per converted
    // batch): a second action over the frame logs a second WARNING —
    // the watcher is live, not a log-once latch
    assert(out.count() == 2)
    val d2 = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (warnings().size < 2 && System.nanoTime() < d2) Thread.sleep(50)
    assert(warnings().size == 2, s"second pass must log too: ${warnings()}")
  }

  test("tier commits write INFO log rows; terminal failures write ERROR") {
    val wh = tmpDir("wh-logs")
    val job = new RollupJob(wh)
    job.run(spark, freshInput(), "job-logs")
    val infos = job.state.logs.filter(_.level == "INFO")
    assert(Seq("1m", "1h", "1d").forall(t => infos.exists(_.tier == t)))

    val bad = new RollupJob(tmpDir("wh-logs-bad"), maxRetries = 0)
    bad.commitFault = (tier, _) =>
      if (tier == "1m") throw new RuntimeException("boom")
    intercept[RuntimeException](bad.run(spark, freshInput(), "job-err"))
    assert(bad.state.logs.exists(l => l.level == "ERROR" && l.tier == "1m"))
  }
}
