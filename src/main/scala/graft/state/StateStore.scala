package graft.state

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Checkpoint / lineage / metrics state, mirroring the reference's H2
  * state machine (`H2DatabaseManager.java:43-86`):
  *
  *  - [[graft.state.StateStore.Checkpoint]] ≈ `csv_settings` + `jobs` —
  *    per (tier, partition) watermark + status instead of per-file status;
  *  - [[graft.state.StateStore.LineageRow]] ≈ `row_processing` — per
  *    (tier, partition) work unit with status ∈
  *    PENDING/PROCESSING/COMPLETED/FAILED/RETRY
  *    (`DAO/RowProcessingStatus.java:5-10`) and `retry_count`;
  *  - [[graft.state.StateStore.MetricsRow]] ≈
  *    `jobs.processed_rows/failed_rows` counters;
  *  - [[graft.state.StateStore.LogRow]] ≈ `migration_logs`, the leveled
  *    job log.
  *
  * Storage: JSON-lines files, one per commit, under `<root>/<kind>/`,
  * each written temp-then-ATOMIC_MOVE so a kill mid-commit never leaves
  * a torn record (the H2 analogue was transaction-per-batch,
  * `MigrateTask.java:101`). Latest-wins per key, exactly like the
  * reference's MERGE upsert (`RowProcessingDAO.java:184-194`).
  *
  * State volume is O(tiers × partitions), not O(rows) — at 100 TB the
  * partition count is ~10^4-10^5, so driver-side JSON stays trivially
  * small while the data path stays fully distributed.
  *
  * **Compaction** ([[compact]]): every read is latest-wins over ALL
  * commit files ever written, so a long-lived warehouse — especially a
  * streaming job committing one lineage file per micro-batch — would
  * accrete O(total-commits) tiny files re-scanned at each planning pass
  * and each restart (the reference avoids this with an indexed H2
  * store, `H2DatabaseManager.java:43-86`). Compaction rewrites each
  * kind into ONE snapshot file: checkpoints/lineage keep only the
  * latest row per (tier, partition) (their only read semantics);
  * metrics and logs are append-semantics (sums / human record) so every
  * row is preserved, just coalesced. Crash-safe without multi-file
  * atomicity: the snapshot is written (atomic move) under a name whose
  * seq exceeds every file it absorbed, readers ignore commit files with
  * name-seq ≤ the newest snapshot's, and only then are the absorbed
  * files deleted — a crash mid-delete leaves duplicates that are
  * already invisible.
  *
  * **Writer model: ONE process writes a store root at a time.** Batch
  * and streaming jobs may share a root SEQUENTIALLY (each seeds its seq
  * counter from the files on open), never concurrently: compaction's
  * debris sweep deletes every file not in the effective snapshot cover,
  * so a second live writer whose counter trails the cover would have
  * fresh commits first rendered invisible (name-seq ≤ snapshot) and
  * then deleted. Concurrent DEPLOYMENTS split roots — the lineage
  * namespace (`stream_<tier>`) separates facts, not writers.
  *
  * Not final so tests can inject commit faults by overriding a commit
  * method (crash-window specs).
  */
class StateStore(root: String) {

  // the row types live in the companion object, so a pattern match on
  // them needs no outer-reference check; the aliases keep
  // `store.Checkpoint(...)` call sites working
  type Checkpoint = StateStore.Checkpoint
  val Checkpoint = StateStore.Checkpoint
  type LineageRow = StateStore.LineageRow
  val LineageRow = StateStore.LineageRow
  type MetricsRow = StateStore.MetricsRow
  val MetricsRow = StateStore.MetricsRow
  type LogRow = StateStore.LogRow
  val LogRow = StateStore.LogRow

  private def dir(kind: String) = Paths.get(root, kind)

  private val seqCounter = new java.util.concurrent.atomic.AtomicLong(loadMaxSeq())

  private def loadMaxSeq(): Long = {
    val entries = for {
      // every kind that carries a seq — omitting one (the log stream is
      // written LAST in a run, so it often holds the global max) would
      // re-issue its seq values after a restart
      kind <- Seq("checkpoints", "lineage", "metrics", "logs")
      if Files.exists(dir(kind))
      f <- Files.list(dir(kind)).iterator().asScala.toSeq
      if !f.getFileName.toString.startsWith(".")
    } yield f
    val rowSeqs = entries.flatMap(fileRows).map(_.path("seq").asLong)
    // file-NAME seqs count too: writeRows/compactKind consume counter
    // values for names beyond any row seq, and a compaction snapshot
    // written as the process's LAST act has a name-seq ABOVE every row
    // inside it — seeding from rows alone would let the next process
    // issue name-seqs at or below that snapshot's cover, making its
    // first commits permanently invisible to effectiveFiles
    val nameSeqs = entries.map(f => nameSeq(f.getFileName.toString))
    (rowSeqs ++ nameSeqs ++ Seq(0L)).max
  }

  def nextSeq(): Long = seqCounter.incrementAndGet()

  private def writeFile(kind: String, name: String, rows: Seq[JsonNode]): Unit = {
    Files.createDirectories(dir(kind))
    val tmp = dir(kind).resolve(s".$name.tmp")
    Files.write(tmp, rows.map(Json.mapper.writeValueAsString)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir(kind).resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeRows(kind: String, rows: Seq[JsonNode]): Unit = {
    if (rows.isEmpty) return
    // incrementAndGet (not get): file-name seqs are strictly monotone
    // within a process, so a compaction snapshot's name-seq strictly
    // bounds every file it absorbed and every later commit exceeds it
    writeFile(kind,
      f"commit-${seqCounter.incrementAndGet()}%012d-${java.util.UUID.randomUUID()}.jsonl",
      rows)
  }

  /** One file's rows: each line is one JSON object, key order = the
    * `commit*` writers' (the on-disk format).
    */
  private def fileRows(f: Path): Seq[JsonNode] =
    Files.readAllLines(f).asScala.toSeq.map { line =>
      val row = try Json.mapper.readTree(line) catch { case _: JsonProcessingException => null }
      if (row == null || !row.isObject)
        throw new IllegalStateException(s"state file $f: not a JSON object: $line")
      row
    }

  private def nameSeq(name: String): Long =
    name.stripPrefix("commit-").takeWhile(_.isDigit) match {
      case "" => -1L; case d => d.toLong
    }

  /** The files a read must scan: the newest compaction snapshot (if
    * any) plus commit files strictly newer than it. Commit files at or
    * below the snapshot's name-seq existed when the snapshot was
    * written (name-seqs are monotone), so their rows are already inside
    * it — they are deletion debris from a crash mid-[[compact]].
    */
  private def effectiveFiles(kind: String): Seq[java.nio.file.Path] = {
    if (!Files.exists(dir(kind))) return Seq.empty
    val all = Files.list(dir(kind)).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
    val compacts = all.filter(_.getFileName.toString.contains("-compact-"))
    val kept =
      if (compacts.isEmpty) all
      else {
        val best = compacts.maxBy(p =>
          (nameSeq(p.getFileName.toString), p.getFileName.toString))
        val cover = nameSeq(best.getFileName.toString)
        best +: all.filter(p => !p.getFileName.toString.contains("-compact-") &&
          nameSeq(p.getFileName.toString) > cover)
      }
    kept.sortBy(_.getFileName.toString)
  }

  private def readRows(kind: String): Seq[JsonNode] = effectiveFiles(kind).flatMap(fileRows)

  private val kinds = Seq("checkpoints", "lineage", "metrics", "logs")

  /** Rewrite each kind into one snapshot file (see class doc). Safe to
    * call any time the single writer is not mid-commit.
    */
  def compact(): Unit = kinds.foreach(k => compactKind(k, effectiveFiles(k)))

  /** Compact only kinds fragmented into ≥ `minFiles` files — the cheap
    * periodic form for job entry points and streaming hooks.
    */
  def compactIfNeeded(minFiles: Int = 64): Unit =
    kinds.foreach { k =>
      val files = effectiveFiles(k)
      if (files.size >= minFiles) compactKind(k, files)
    }

  private def compactKind(kind: String,
      effective: Seq[java.nio.file.Path]): Unit = {
    // sweep crash debris FIRST (files below the cover, invisible to
    // readers since an earlier crash mid-delete) — even when there is
    // nothing to rewrite, or debris would survive every future
    // compaction and keep growing the loadMaxSeq startup scan
    if (Files.exists(dir(kind))) {
      val eff = effective.toSet
      Files.list(dir(kind)).iterator().asScala.toSeq
        .filterNot(eff.contains)
        .filterNot(_.getFileName.toString.startsWith("."))
        .foreach(Files.deleteIfExists(_))
    }
    if (effective.size < 2 &&
        !effective.exists(f => !f.getFileName.toString.contains("-compact-"))) return
    val all = effective.flatMap(fileRows)
    if (all.isEmpty) return
    val retained = kind match {
      case "checkpoints" | "lineage" =>
        // latest-wins per (tier, partition) — the only read semantics
        // these kinds have; preserve seq order for determinism
        all.groupBy(r => (r.path("tier").asText, r.path("partition").asText))
          .map { case (_, vs) => vs.maxBy(_.path("seq").asLong) }
          .toSeq.sortBy(_.path("seq").asLong)
      case _ => all // metrics sum, logs are the human record: keep all
    }
    val name =
      f"commit-${seqCounter.incrementAndGet()}%012d-compact-${java.util.UUID.randomUUID()}.jsonl"
    writeFile(kind, name, retained)
    // delete the absorbed files LAST: a crash here leaves files whose
    // name-seq ≤ the snapshot's — invisible to effectiveFiles, swept
    // by the next compaction's debris pass
    effective.foreach(Files.deleteIfExists(_))
  }

  // --- checkpoints ----------------------------------------------------

  def commitCheckpoints(cps: Seq[Checkpoint]): Unit =
    writeRows("checkpoints", cps.map(c => Json.mapper.createObjectNode()
      .put("tier", c.tier).put("partition", c.partition).put("watermarkUs", c.watermarkUs)
      .put("status", c.status).put("jobId", c.jobId).put("seq", c.seq)
      .put("rawCount", c.rawCount)))

  /** Latest checkpoint per (tier, partition), by seq. */
  def checkpoints: Map[(String, String), Checkpoint] =
    readRows("checkpoints")
      .map(r => Checkpoint(r.path("tier").asText, r.path("partition").asText,
        r.path("watermarkUs").asLong, r.path("status").asText, r.path("jobId").asText,
        r.path("seq").asLong,
        // pre-rawCount lines read as unknown, not as count 0 — an
        // upgraded store must not mark every old closed day dirty
        r.path("rawCount").asLong(-1L)))
      .groupBy(c => (c.tier, c.partition))
      .map { case (k, vs) => k -> vs.maxBy(_.seq) }

  /** COMPLETED partitions whose recorded raw-input census no longer
    * matches the current one — late arrivals (or removals) for CLOSED
    * days, which the plain resume anti-join would silently skip.
    * Unknown recorded counts (-1) never read as dirty; a day missing
    * from `currentCounts` entirely is not reported (there is nothing
    * to recompute FROM — the append-only input model does not delete
    * whole days).
    */
  def dirtyPartitions(tier: String, currentCounts: Map[String, Long]): Set[String] =
    checkpoints.collect {
      case ((t, p), c) if t == tier && c.status == "COMPLETED" &&
        c.rawCount >= 0 && currentCounts.get(p).exists(_ != c.rawCount) => p
    }.toSet

  /** Partitions of `tier` already COMPLETED — the resume planner's
    * anti-join set (reference: replay-only-failed,
    * `MigrationInitializer.java:62-75`).
    */
  def completedPartitions(tier: String): Set[String] =
    completedPartitions(tier, checkpoints)

  /** Overload over a pre-read checkpoint map — callers inspecting
    * several tiers (the serving stitch) read the files once and keep
    * the ONE COMPLETED-status predicate defined here.
    */
  def completedPartitions(tier: String,
      cps: Map[(String, String), Checkpoint]): Set[String] =
    cps.collect {
      case ((t, p), c) if t == tier && c.status == "COMPLETED" => p
    }.toSet

  // --- lineage ----------------------------------------------------------

  def commitLineage(rows: Seq[LineageRow]): Unit =
    writeRows("lineage", rows.map(r => Json.mapper.createObjectNode()
      .put("tier", r.tier).put("partition", r.partition).put("status", r.status)
      .put("error", r.error).put("retryCount", r.retryCount).put("rows", r.rows)
      .put("jobId", r.jobId).put("seq", r.seq)))

  def lineage: Seq[LineageRow] =
    readRows("lineage").map(r => LineageRow(
      r.path("tier").asText, r.path("partition").asText, r.path("status").asText,
      r.path("error").asText, r.path("retryCount").asInt, r.path("rows").asLong,
      r.path("jobId").asText, r.path("seq").asLong))

  /** Latest lineage row per (tier, partition). */
  def latestLineage: Map[(String, String), LineageRow] =
    lineage.groupBy(r => (r.tier, r.partition))
      .map { case (k, vs) => k -> vs.maxBy(_.seq) }

  // --- metrics ----------------------------------------------------------

  def commitMetrics(rows: Seq[MetricsRow]): Unit =
    writeRows("metrics", rows.map(r => Json.mapper.createObjectNode()
      .put("jobId", r.jobId).put("tier", r.tier).put("processed", r.processed)
      .put("failed", r.failed).put("seq", r.seq)))

  def metrics: Seq[MetricsRow] =
    readRows("metrics").map(r => MetricsRow(
      r.path("jobId").asText, r.path("tier").asText, r.path("processed").asLong,
      r.path("failed").asLong, r.path("seq").asLong))

  // --- leveled migration log -------------------------------------------

  private val logLevels = Set("INFO", "WARNING", "ERROR")

  def log(level: String, tier: String, message: String, jobId: String): Unit = {
    require(logLevels.contains(level), s"bad log level: $level")
    commitLogs(Seq(LogRow(
      System.currentTimeMillis(), level, tier, message, jobId, nextSeq())))
  }

  def commitLogs(rows: Seq[LogRow]): Unit =
    writeRows("logs", rows.map(r => Json.mapper.createObjectNode()
      .put("tsMs", r.tsMs).put("level", r.level).put("tier", r.tier)
      .put("message", r.message).put("jobId", r.jobId).put("seq", r.seq)))

  def logs: Seq[LogRow] =
    readRows("logs").map(r => LogRow(
      r.path("tsMs").asLong, r.path("level").asText, r.path("tier").asText,
      r.path("message").asText, r.path("jobId").asText, r.path("seq").asLong))

  /** Cross-run retry state: partitions of `tier` whose LATEST lineage is
    * FAILED, with their accumulated failed-run count — the resume
    * planner's poison filter (`RowProcessingDAO.java:121-135`:
    * `status='FAILED' AND retry_count < max`).
    */
  def failedRetryCounts(tier: String): Map[String, Int] =
    latestLineage.collect {
      case ((t, p), r) if t == tier && r.status == "FAILED" && p != "*" =>
        p -> r.retryCount
    }
}

object StateStore {

  /** `rawCount` records how many RAW input rows the partition's day had
    * when the checkpoint was written — the late-arrival detector: a
    * COMPLETED day whose current input census disagrees gets recomputed
    * (idempotent overwrite) instead of silently keeping stale rollups.
    * -1 = unknown (checkpoints written before the field existed, or
    * callers without a census); unknown never reads as dirty.
    */
  final case class Checkpoint(
      tier: String, partition: String, watermarkUs: Long, status: String,
      jobId: String, seq: Long, rawCount: Long = -1L)

  final case class LineageRow(
      tier: String, partition: String, status: String, error: String,
      retryCount: Int, rows: Long, jobId: String, seq: Long)

  final case class MetricsRow(
      jobId: String, tier: String, processed: Long, failed: Long, seq: Long)

  /** Append-only leveled job log — the reference's `migration_logs`
    * stream (`H2DatabaseManager.java:55-62`: ts, level
    * INFO/WARNING/ERROR, message per job). Lineage rows carry errors;
    * this is the human-facing channel for non-fatal signals (precision
    * loss, rejects, retries) that the reference logs at WARNING.
    */
  final case class LogRow(
      tsMs: Long, level: String, tier: String, message: String,
      jobId: String, seq: Long)
}
