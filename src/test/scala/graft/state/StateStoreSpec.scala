package graft.state

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Compaction contract: a latest-wins snapshot rewrite must be
  * invisible to every reader (checkpoints / latestLineage /
  * failedRetryCounts / metrics sums / log record), preserve the seq
  * counter across restart, and shrink each kind to one file.
  */
class StateStoreSpec extends AnyFunSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("state-spec")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def fileCount(root: String, kind: String): Int =
    Files.list(Paths.get(root, kind)).iterator().asScala
      .count(!_.getFileName.toString.startsWith("."))

  /** 1,000 commits across all kinds: 10 tiers × 10 partitions, each
    * checkpoint/lineage key overwritten multiple times (latest wins),
    * plus metrics and log rows that must survive verbatim.
    */
  private def writeCommits(s: StateStore): Unit = {
    for (round <- 0 until 4; t <- 0 until 5; p <- 0 until 10) {
      val tier = s"t$t"
      val part = s"2026-01-${"%02d".format(p + 1)}"
      s.commitCheckpoints(Seq(s.Checkpoint(tier, part, round * 1000L,
        if (round == 3) "COMPLETED" else "IN_PROGRESS", s"job$round", s.nextSeq())))
      s.commitLineage(Seq(s.LineageRow(tier, part,
        if (round == 3 && p % 3 == 0) "FAILED" else "COMPLETED",
        if (round == 3 && p % 3 == 0) "boom \"quoted\"" else "",
        round, 100L + round, s"job$round", s.nextSeq())))
      if (round % 2 == 0)
        s.commitMetrics(Seq(s.MetricsRow(s"job$round", tier, 10L, 1L, s.nextSeq())))
      if (p == 0)
        s.log("WARNING", tier, s"round $round warning", s"job$round")
    }
  }

  private def snapshot(s: StateStore) = (
    s.checkpoints, s.latestLineage,
    (0 until 5).map(t => s"t$t" -> s.failedRetryCounts(s"t$t")).toMap,
    s.metrics.map(m => (m.jobId, m.tier, m.processed, m.failed, m.seq)).sorted,
    s.logs.map(l => (l.level, l.tier, l.message, l.jobId, l.seq)).sorted,
    (0 until 5).map(t => s"t$t" -> s.completedPartitions(s"t$t")).toMap)

  test("compact preserves every read view across 1,000 commits and shrinks to one file per kind") {
    val root = tmp()
    val s = new StateStore(root)
    writeCommits(s)
    val before = snapshot(s)
    assert(fileCount(root, "lineage") > 100, "precondition: fragmented state")

    s.compact()
    assert(snapshot(s) == before, "compaction must not change any read view")
    for (kind <- Seq("checkpoints", "lineage", "metrics", "logs"))
      assert(fileCount(root, kind) == 1, s"$kind should be one snapshot file")

    // seq counter survives a restart over the compacted store: new seqs
    // never reissue (the snapshot retains the max row seq)
    val maxSeq = (before._4.map(_._5) ++ before._5.map(_._5) ++
      before._1.values.map(_.seq) ++ before._2.values.map(_.seq)).max
    val reopened = new StateStore(root)
    assert(reopened.nextSeq() > maxSeq, "restart must continue past the pre-compaction max seq")
    assert(snapshot(reopened) == before)
  }

  test("commits after compaction supersede snapshot rows; second compact is idempotent") {
    val root = tmp()
    val s = new StateStore(root)
    writeCommits(s)
    s.compact()
    s.commitCheckpoints(Seq(s.Checkpoint("t0", "2026-01-01", 9999L, "COMPLETED", "late", s.nextSeq())))
    s.commitMetrics(Seq(s.MetricsRow("late", "t0", 7L, 0L, s.nextSeq())))
    assert(s.checkpoints(("t0", "2026-01-01")).jobId == "late")
    val mid = snapshot(s)
    s.compact()
    assert(snapshot(s) == mid)
    s.compact() // no-op on an already-compacted store
    assert(snapshot(s) == mid)
  }

  test("deletion debris from a crash mid-compact is invisible to readers") {
    val root = tmp()
    val s = new StateStore(root)
    writeCommits(s)
    val before = snapshot(s)
    // simulate the crash window: compact, then RESTORE one absorbed
    // commit file (as if deletion never ran for it). Its name-seq is
    // below the snapshot's, so readers must skip it.
    val lineageDir = Paths.get(root, "lineage")
    val preFiles = Files.list(lineageDir).iterator().asScala.toSeq
    val victim = preFiles.head
    val saved = Files.readAllBytes(victim)
    val savedName = victim.getFileName.toString
    s.compact()
    Files.write(lineageDir.resolve(savedName), saved)
    assert(snapshot(s) == before, "debris below the snapshot seq must be ignored")
    // metrics double-count is the failure mode this protocol prevents
    val s2 = new StateStore(root)
    assert(snapshot(s2) == before)
  }

  test("commits after a compact-then-exit restart are visible (name-seq seeding)") {
    val root = tmp()
    val s = new StateStore(root)
    for (i <- 0 until 5)
      s.commitLineage(Seq(s.LineageRow("t", s"p$i", "COMPLETED", "", 0, 1L, "j", s.nextSeq())))
    s.commitCheckpoints(Seq(s.Checkpoint("t", "p0", 1L, "COMPLETED", "j", s.nextSeq())))
    // compaction is the process's LAST act: its snapshot name-seq
    // exceeds every row seq inside it
    s.compact()
    // a restarted process seeded from row seqs alone would write its
    // first commit under a name-seq at or below the snapshot's cover —
    // invisible forever
    val s2 = new StateStore(root)
    s2.commitCheckpoints(Seq(s2.Checkpoint("t9", "late", 9L, "COMPLETED", "late", s2.nextSeq())))
    s2.commitLineage(Seq(s2.LineageRow("t9", "late", "COMPLETED", "", 0, 7L, "late", s2.nextSeq())))
    assert(s2.checkpoints.contains(("t9", "late")), "post-restart commit must be readable")
    val s3 = new StateStore(root)
    assert(s3.checkpoints.contains(("t9", "late")))
    assert(s3.latestLineage.contains(("t9", "late")))
    // and a further compaction retains it
    s3.compact()
    assert(new StateStore(root).checkpoints(("t9", "late")).jobId == "late")
  }

  test("a later compaction sweeps crash debris below the cover") {
    val root = tmp()
    val s = new StateStore(root)
    writeCommits(s)
    val lineageDir = Paths.get(root, "lineage")
    val victim = Files.list(lineageDir).iterator().asScala.toSeq.head
    val saved = Files.readAllBytes(victim)
    val savedName = victim.getFileName.toString
    s.compact()
    Files.write(lineageDir.resolve(savedName), saved) // crash debris
    assert(fileCount(root, "lineage") == 2)
    val before = snapshot(s)
    s.compact()
    assert(fileCount(root, "lineage") == 1, "debris must be swept, not immortal")
    assert(snapshot(s) == before)
  }

  test("lineage errors and log messages read back as the exact strings written") {
    val root = tmp()
    val s = new StateStore(root)
    val texts = Seq("boom \"q\" back\\slash\nline2", "tab\there, \\n is not a newline",
      "ctl \u0001 ünïcødé 🙂")
    texts.zipWithIndex.foreach { case (t, i) =>
      s.commitLineage(Seq(s.LineageRow("t", s"p$i", "FAILED", t, 1, 0L, "j", s.nextSeq())))
      s.log("ERROR", "t", t, "j")
    }
    def check(st: StateStore, when: String): Unit = {
      assert(texts.indices.map(i => st.latestLineage(("t", s"p$i")).error) == texts, when)
      assert(st.logs.sortBy(_.seq).map(_.message) == texts, when)
    }
    check(s, "as committed")
    s.compact()
    check(s, "after compact")
    check(new StateStore(root), "after reopen")
  }

  test("compactIfNeeded is a no-op below the threshold and compacts above it") {
    val root = tmp()
    val s = new StateStore(root)
    for (i <- 0 until 10)
      s.commitLineage(Seq(s.LineageRow("t", s"p$i", "COMPLETED", "", 0, 1L, "j", s.nextSeq())))
    s.compactIfNeeded(minFiles = 64)
    assert(fileCount(root, "lineage") == 10)
    s.compactIfNeeded(minFiles = 10)
    assert(fileCount(root, "lineage") == 1)
  }
}
