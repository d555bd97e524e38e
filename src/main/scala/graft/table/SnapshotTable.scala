package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot table emulated over partitioned Parquet —
  * no Iceberg jar exists in this sandbox (SURVEY.md §7), so the engine
  * implements the narrow slice of semantics the north rule uses:
  *
  *  - **snapshot isolation**: readers resolve the `CURRENT` pointer once
  *    and read only files listed in that manifest; a concurrent commit
  *    never changes what an in-flight reader sees;
  *  - **atomic commit**: stage parquet → write manifest vN+1 → atomic
  *    rename of the CURRENT pointer (the all-or-nothing step; reference
  *    analogue: transaction-per-batch commit, `MigrateTask.java:101`);
  *  - **MERGE-style upsert**: [[overwritePartitions]] replaces exactly
  *    the partitions present in the incoming frame (idempotent rollup
  *    window commits — rerunning a window is a no-op-equivalent rewrite,
  *    reference analogue: `MERGE INTO row_processing`,
  *    `RowProcessingDAO.java:184-194`);
  *  - **retention**: [[compact]] rewrites a partition's small files;
  *    [[dropPartitions]] + [[expireSnapshots]] implement tier expiry
  *    (Iceberg `rewrite_data_files`/`expire_snapshots` analogue).
  *
  * Layout: `root/data/stage-&#42;/_p=&lt;val&gt;/part-&#42;.parquet`,
  * `root/snapshots/v&lt;N&gt;.json`, `root/CURRENT` (text: version number).
  * The partition column is duplicated into the data files (written via
  * an aliased `_p` dir column), so manifest-listed files can be read
  * directly — no partition-discovery `basePath` needed — while the
  * manifest still knows each file's partition for engine-side pruning.
  *
  * Single-writer per table is assumed and documented (the driver is the
  * only committer in this engine, like the reference's per-file
  * single-thread ownership `ThreadManager.java:18-44`).
  */
final class SnapshotTable(val root: String) {

  private val snapshotsDir = Paths.get(root, "snapshots")
  private val currentPtr = Paths.get(root, "CURRENT")

  /** One data file in a snapshot. `minKey`/`maxKey` are the file's
    * clustering-key bounds (conv_id — tier writes are range-partitioned
    * and sorted on it), the Iceberg manifest column-stats analogue:
    * per-conversation reads prune to the files whose key range covers
    * the conversation, without opening any footer. Empty string = bounds
    * unknown (file never pruned by key). `rows` is the file's record
    * count, read from the same footer at staging (-1 = unknown: a
    * manifest written before counts were recorded), so [[rowCount]]
    * opens no footer for files committed with it.
    */
  final case class FileEntry(path: String, partition: String, bytes: Long,
      minKey: String = "", maxKey: String = "", rows: Long = -1L)
  final case class Manifest(
      version: Long,
      partitionCol: String,
      files: Seq[FileEntry],
      parentVersion: Long,
      /** Clustering-key column whose per-file bounds are tracked ("" = none). */
      clusterKey: String = "",
      /** Idempotence keys of recently committed streaming micro-batches
        * (most recent last, bounded to [[SnapshotTable.maxBatchKeys]]).
        * Carried INSIDE the atomic manifest commit so "did batch N
        * land?" and "are batch N's files visible?" are one fact — the
        * streaming sink's exactly-once marker (see
        * [[graft.streaming.StreamingRollupJob]]). The bound is safe
        * because a replay is always the LAST uncommitted batch of a
        * checkpoint, never hundreds back.
        */
      batchKeys: Seq[String] = Seq.empty)

  // --- manifest (de)serialization: tiny hand-rolled JSON, no deps ----

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  private def manifestJson(m: Manifest): String = {
    val files = m.files
      .map(f => s"""{"path":"${esc(f.path)}","partition":"${esc(f.partition)}","bytes":${f.bytes},"minKey":"${esc(f.minKey)}","maxKey":"${esc(f.maxKey)}","rows":${f.rows}}""")
      .mkString("[", ",", "]")
    val keys = m.batchKeys.map(k => s""""${esc(k)}"""").mkString("[", ",", "]")
    s"""{"version":${m.version},"partitionCol":"${esc(m.partitionCol)}","clusterKey":"${esc(m.clusterKey)}","parentVersion":${m.parentVersion},"batchKeys":$keys,"files":$files}"""
  }

  private def parseManifest(json: String): Manifest = {
    // fields are engine-written with known shapes; a minimal parser is safe
    def longField(name: String): Long =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(s"bad manifest: $name"))
    def strField(src: String, name: String): String =
      s""""$name":"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(src).map(m => unesc(m.group(1)))
        .getOrElse(throw new IllegalStateException(s"bad manifest: $name"))
    val fileRe = ("""\{"path":"((?:[^"\\]|\\.)*)","partition":"((?:[^"\\]|\\.)*)","bytes":(\d+)""" +
      """(?:,"minKey":"((?:[^"\\]|\\.)*)","maxKey":"((?:[^"\\]|\\.)*)")?""" +
      """(?:,"rows":(-?\d+))?\}""").r
    val files = fileRe.findAllMatchIn(json).map { m =>
      FileEntry(unesc(m.group(1)), unesc(m.group(2)), m.group(3).toLong,
        Option(m.group(4)).map(unesc).getOrElse(""),
        Option(m.group(5)).map(unesc).getOrElse(""),
        Option(m.group(6)).map(_.toLong).getOrElse(-1L))
    }.toSeq
    val clusterKey = // absent in pre-stats manifests
      """"clusterKey":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(json)
        .map(m => unesc(m.group(1))).getOrElse("")
    val batchKeys = // absent in pre-streaming manifests
      """"batchKeys":\[((?:[^\]"]|"(?:[^"\\]|\\.)*")*)\]""".r.findFirstMatchIn(json)
        .map(m => """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(m.group(1))
          .map(g => unesc(g.group(1))).toSeq)
        .getOrElse(Seq.empty)
    Manifest(longField("version"), strField(json, "partitionCol"), files,
      longField("parentVersion"), clusterKey, batchKeys)
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'u' => sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => sb += other; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  // --- snapshot pointer ----------------------------------------------

  def currentVersion: Option[Long] =
    if (Files.exists(currentPtr))
      Some(new String(Files.readAllBytes(currentPtr), StandardCharsets.UTF_8).trim.toLong)
    else None

  def currentManifest: Option[Manifest] = currentVersion.map(readManifest)

  def readManifest(v: Long): Manifest =
    parseManifest(new String(
      Files.readAllBytes(snapshotsDir.resolve(s"v$v.json")), StandardCharsets.UTF_8))

  /** The atomic commit step: manifest file first, then pointer swap via
    * ATOMIC_MOVE — a crash before the move leaves the previous snapshot
    * current and the staged files orphaned (cleaned by [[expireSnapshots]]).
    */
  private def commitManifest(m: Manifest): Unit = {
    Files.createDirectories(snapshotsDir)
    val mf = snapshotsDir.resolve(s"v${m.version}.json")
    Files.write(mf, manifestJson(m).getBytes(StandardCharsets.UTF_8))
    val tmp = Paths.get(root, s".CURRENT.tmp.${m.version}")
    Files.write(tmp, m.version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // --- read ------------------------------------------------------------

  /** Read the current snapshot, optionally pruned to a partition subset
    * BEFORE any file is opened (manifest-level partition pruning — the
    * 100 TB path never lists or opens expired/foreign partitions). Lazy:
    * no Spark job runs before an action on the result (see
    * [[readFiles]] for where the schema comes from).
    */
  def read(spark: SparkSession, partitions: Option[Set[String]] = None): DataFrame =
    readFiles(spark, planFiles(partitions))

  /** Unsigned UTF-8 byte comparison — parquet footer min/max statistics
    * for BINARY/UTF8 columns are ordered by unsigned bytes; Java String
    * comparison (UTF-16 code units) disagrees for supplementary
    * characters, which could wrongly prune a covering file. All key
    * range checks go through this, matching the writer's ordering.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Manifest-level file planning: partition pruning + clustering-key
    * range pruning (for a point lookup `keyEquals`, keep only files
    * whose [minKey, maxKey] covers the key — the "bucketed by conv_id"
    * read path: tier writes range-cluster + sort on conv_id, so one
    * conversation lives in O(1) files per day partition).
    */
  def planFiles(partitions: Option[Set[String]] = None,
      keyEquals: Option[String] = None): Seq[FileEntry] = {
    currentManifest match {
      case None => Seq.empty
      case Some(m) =>
        val byPart = partitions match {
          case Some(ps) => m.files.filter(f => ps.contains(f.partition))
          case None => m.files
        }
        keyEquals match {
          case Some(k) => byPart.filter(f =>
            f.minKey.isEmpty || f.maxKey.isEmpty ||
              (utf8Compare(f.minKey, k) <= 0 && utf8Compare(k, f.maxKey) <= 0))
          case None => byPart
        }
    }
  }

  /** Read exactly `files` with the Spark schema stored in the FIRST
    * file's footer ([[ParquetFooters.sparkSchema]], one in-process
    * footer open) — the file Spark's own inference would read first, so
    * the schema is the same, while a bare `spark.read.parquet(paths)`
    * would start a schema-inference JOB on every call (one per tier
    * read of a stitch query). No job runs before an action. A file whose
    * footer has no Spark schema fails, naming it; there is no fallback
    * to inference. No files → a zero-column empty frame.
    */
  def readFiles(spark: SparkSession, files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read
      .schema(ParquetFooters.sparkSchema(
        files.head.path, spark.sparkContext.hadoopConfiguration))
      .parquet(files.map(_.path): _*)

  /** Point lookup by clustering key: manifest key-range pruning BEFORE
    * any file is opened, then the parquet-level filter. Throws when the
    * table tracks no clustering key (or the column is missing from the
    * data) — a silent full-table return from a point-lookup API hides
    * the bug that matters most at scale.
    */
  def readForKey(spark: SparkSession, key: String,
      partitions: Option[Set[String]] = None): DataFrame = {
    val keyCol = currentManifest.map(_.clusterKey).filter(_.nonEmpty).getOrElse(
      throw new IllegalStateException(
        s"readForKey on $root: table has no clusterKey — use read()"))
    val df = readFiles(spark, planFiles(partitions, keyEquals = Some(key)))
    if (df.columns.isEmpty) df // no files matched: empty frame
    else if (!df.columns.contains(keyCol))
      throw new IllegalStateException(
        s"readForKey on $root: clusterKey column '$keyCol' absent from data")
    else df.filter(col(keyCol) === key)
  }

  def partitionsOf: Set[String] =
    currentManifest.map(_.files.map(_.partition).toSet).getOrElse(Set.empty)

  // --- write -----------------------------------------------------------

  /** Stage a write and REGISTER the stage directory as in-flight: the
    * orphan vacuum must never sweep a stage that is still heading for a
    * commit, no matter how long the (100 TB) write outlives the vacuum
    * grace window — per-file mtime is not evidence of abandonment.
    * Callers release the stage (in a finally) once the manifest commit
    * has succeeded or failed for good.
    */
  private def stageWrite(df: DataFrame, partitionCol: String,
      clusterKey: String = "", maxRecordsPerFile: Long = 0L): (Path, Seq[FileEntry]) = {
    val stage = Paths.get(root, "data", s"stage-${java.util.UUID.randomUUID()}")
    registerStage(stage)
    try stageWriteInto(stage, df, partitionCol, clusterKey, maxRecordsPerFile)
    catch { case e: Throwable =>
      // a failed staging job is abandoned here and now — let the vacuum
      // have it instead of shielding it forever
      releaseStage(stage)
      throw e
    }
  }

  /** Register a stage as in-flight with BOTH protections the vacuum
    * honors: the in-process registry (same-JVM retention pass) and a
    * durable sibling marker `<stage>._STARTED` for a vacuum running in
    * a DIFFERENT process — the plausible 100 TB deployment of an ingest
    * job and a retention cron as separate spark-submits, where the
    * other process has no view of this JVM's registry and a staging
    * write can outlive any mtime grace. The marker is a SIBLING file,
    * not one inside the stage: the staged parquet write runs in
    * ErrorIfExists mode and would refuse a pre-populated directory.
    */
  private def registerStage(stage: Path): Unit = {
    Files.createDirectories(stage.getParent)
    Files.write(SnapshotTable.markerFor(stage), Array.emptyByteArray)
    SnapshotTable.activeStages.add(stage.toString)
  }

  /** Release once the manifest commit has succeeded or the write failed
    * for good: from here the staged files are either referenced by a
    * manifest (protected by reference) or abandoned (vacuumed after the
    * grace window).
    */
  private def releaseStage(stage: Path): Unit = {
    Files.deleteIfExists(SnapshotTable.markerFor(stage))
    SnapshotTable.activeStages.remove(stage.toString)
  }

  private def stageWriteInto(stage: Path, df: DataFrame, partitionCol: String,
      clusterKey: String, maxRecordsPerFile: Long): (Path, Seq[FileEntry]) = {
    // maxRecordsPerFile = the reference's batchSize knob
    // (`MigrationSettings.java:5`, consumed `MigrateTask.java:99-103`)
    // at the file-commit granularity: bounds the rows a single task
    // commits into one file (0 = let split sizing decide)
    val writer = df.withColumn("_p", col(partitionCol).cast("string"))
      .write.partitionBy("_p")
    (if (maxRecordsPerFile > 0)
      writer.option("maxRecordsPerFile", maxRecordsPerFile)
    else writer).parquet(stage.toString)
    if (!Files.exists(stage)) return (stage, Seq.empty)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val entries = Files.list(stage).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("_p="))
      .flatMap { dir =>
        val part = unescapePathName(dir.getFileName.toString.stripPrefix("_p="))
        Files.list(dir).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { f =>
            val (lo, hi, rows) = footerStats(f.toString, clusterKey, conf)
            FileEntry(f.toString, part, Files.size(f), lo, hi, rows)
          }
      }
    (stage, entries)
  }

  /** Hive-style path unescape: decode `%XX` sequences ONLY. This is
    * deliberately NOT `URLDecoder.decode`, which also turns a literal
    * `+` into a space (Hive path escaping never encodes `+`), so a
    * partition value containing `+` would be recorded wrong in the
    * manifest — breaking later overwrite/prune/drop of that partition.
    */
  private def unescapePathName(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Clustering-key bounds and record count of one parquet file, from
    * ONE footer open (row-group statistics only, no data pages read) —
    * the write-side cost of the manifest column-stats analogue. Bounds
    * for BINARY (string) keys only: footer stats are ordered by
    * unsigned UTF-8 bytes, and a numeric key's minAsString would prune
    * lexicographically ('10' < '9'), so any non-BINARY physical type,
    * or no `column` at all, yields empty bounds (file never pruned).
    */
  private def footerStats(path: String, column: String,
      conf: org.apache.hadoop.conf.Configuration): (String, String, Long) =
    ParquetFooters.withFooter(path, conf) { r =>
      var lo: String = null
      var hi: String = null
      var nonBinary = false
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .foreach { c =>
            if (c.getPrimitiveType.getPrimitiveTypeName !=
                org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY) {
              nonBinary = true
            } else {
              val s = c.getStatistics
              if (s != null && !s.isEmpty) {
                val mn = s.minAsString
                val mx = s.maxAsString
                if (lo == null || utf8Compare(mn, lo) < 0) lo = mn
                if (hi == null || utf8Compare(mx, hi) > 0) hi = mx
              }
            }
          }
      }
      if (nonBinary || lo == null) ("", "", r.getRecordCount)
      else (lo, hi, r.getRecordCount)
    }

  /** Replace exactly the partitions present in `df` (dynamic partition
    * overwrite = the idempotent MERGE of rollup windows).
    */
  def overwritePartitions(df: DataFrame, partitionCol: String,
      clusterKey: String = "", maxRecordsPerFile: Long = 0L): Manifest = {
    val (stage, staged) = stageWrite(df, partitionCol, clusterKey, maxRecordsPerFile)
    try {
      val touched = staged.map(_.partition).toSet
      val prev = currentManifest
      val kept = prev.map(_.files.filterNot(f => touched.contains(f.partition))).getOrElse(Seq.empty)
      val m = Manifest(
        prev.map(_.version + 1).getOrElse(0L), partitionCol, kept ++ staged,
        prev.map(_.version).getOrElse(-1L),
        if (clusterKey.nonEmpty) clusterKey else prev.map(_.clusterKey).getOrElse(""),
        prev.map(_.batchKeys).getOrElse(Seq.empty))
      commitManifest(m)
      m
    } finally releaseStage(stage)
  }

  /** Row count of a set of committed files: the counts the manifest
    * recorded at staging, and parquet FOOTER metadata (in-process, no
    * Spark job) only for files whose count is unknown — a Spark count()
    * costs a full job-schedule round trip per tier.
    */
  def rowCount(spark: SparkSession, files: Seq[FileEntry]): Long = {
    lazy val conf = spark.sparkContext.hadoopConfiguration
    files.map(f =>
      if (f.rows >= 0) f.rows else ParquetFooters.fileRowCount(f.path, conf)).sum
  }

  /** Append-only commit. `batchKey`: a streaming micro-batch's
    * idempotence key, recorded in the SAME atomic manifest commit as
    * the appended files — the all-or-nothing step that closes the
    * replay-duplication window a separate post-append marker write
    * would leave (the reference's insert-then-UPDATE ordering,
    * `MigrateTask.java:79-111`, has exactly that window).
    */
  def append(df: DataFrame, partitionCol: String,
      batchKey: Option[String] = None,
      maxBatchKeys: Int = SnapshotTable.maxBatchKeys): Manifest = {
    val (stage, staged) = stageWrite(df, partitionCol)
    try {
      val prev = currentManifest
      val keys = (prev.map(_.batchKeys).getOrElse(Seq.empty) ++ batchKey)
        .takeRight(maxBatchKeys)
      val m = Manifest(
        prev.map(_.version + 1).getOrElse(0L), partitionCol,
        prev.map(_.files).getOrElse(Seq.empty) ++ staged,
        prev.map(_.version).getOrElse(-1L),
        prev.map(_.clusterKey).getOrElse(""),
        keys)
      commitManifest(m)
      m
    } finally releaseStage(stage)
  }

  /** Drop whole partitions (tier-expiry retention: raw/fine tiers past
    * their horizon). Metadata-only — data files are unlinked by
    * [[expireSnapshots]] once no retained snapshot references them.
    */
  def dropPartitions(partitions: Set[String]): Manifest = {
    val prev = currentManifest.getOrElse(
      throw new IllegalStateException(s"dropPartitions on empty table $root"))
    val m = Manifest(
      prev.version + 1, prev.partitionCol,
      prev.files.filterNot(f => partitions.contains(f.partition)),
      prev.version, prev.clusterKey,
      // batchKeys MUST survive retention: wiping them here would reopen
      // the streaming replay-duplication window on the next restart
      prev.batchKeys)
    commitManifest(m)
    m
  }

  /** Rewrite fragmented partitions into ~one file each (Iceberg
    * `rewrite_data_files` analogue). Only partitions with more than
    * `maxFiles` files are rewritten.
    */
  def compact(spark: SparkSession, maxFiles: Int = 4): Manifest = {
    val prev = currentManifest.getOrElse(
      throw new IllegalStateException(s"compact on empty table $root"))
    val byPart = prev.files.groupBy(_.partition)
    val (frag, fine) = byPart.partition(_._2.size > maxFiles)
    if (frag.isEmpty) return prev
    val stagedAll = scala.collection.mutable.ArrayBuffer[(Path, Seq[FileEntry])]()
    try {
      frag.toSeq.foreach { case (_, files) =>
        val df = readFiles(spark, files).coalesce(1)
        stagedAll += stageWrite(df, prev.partitionCol, prev.clusterKey)
      }
      val m = Manifest(
        prev.version + 1, prev.partitionCol,
        fine.values.flatten.toSeq ++ stagedAll.flatMap(_._2).toSeq, prev.version,
        prev.clusterKey, prev.batchKeys)
      commitManifest(m)
      m
    } finally stagedAll.foreach(s => releaseStage(s._1))
  }

  /** Delete snapshots older than the last `keep`, unlink data files no
    * retained snapshot references, and VACUUM crash-orphaned staged
    * files: a write that staged parquet but died before
    * [[commitManifest]] leaves a `data/stage-*` tree referenced by NO
    * manifest — without this pass every failed/retried attempt on the
    * 100 TB path permanently leaks a full staged copy. Only orphans
    * older than `vacuumGraceMs` are removed, so an IN-FLIGHT
    * stage-then-commit (single-writer, but expiry may run concurrently
    * with a write elsewhere in the same process) is never swept.
    *
    * `staleMarkerMs`: an in-flight stage is ALSO protected, regardless
    * of file age, by its durable `_STARTED` sibling marker — the
    * cross-process shield (a retention cron in a separate spark-submit
    * sees no in-process registry, and a 100 TB staging write outlives
    * any reasonable mtime grace). A marker older than `staleMarkerMs`
    * stops protecting: that is the hard-crash reclamation bound (a
    * writer killed between staging and commit leaks its stage only
    * until the marker goes stale). Size it above the longest staging
    * write the deployment can see; default 7 days.
    */
  def expireSnapshots(keep: Int = 2, vacuumGraceMs: Long = 3600000L,
      staleMarkerMs: Long = 7L * 24 * 3600 * 1000): Unit = {
    val cur = currentVersion.getOrElse(return)
    val all = Files.list(snapshotsDir).iterator().asScala.toSeq
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
    val retained = all.filter(v => v > cur - keep && v <= cur)
    val referenced = retained.map(readManifest).flatMap(_.files.map(_.path)).toSet
    val expired = all.filterNot(retained.contains)
    val expiredRefs = expired.map(readManifest).flatMap(_.files.map(_.path)).toSet
    (expiredRefs -- referenced).foreach(p => Files.deleteIfExists(Paths.get(p)))
    expired.foreach(v => Files.deleteIfExists(snapshotsDir.resolve(s"v$v.json")))

    // orphan vacuum: any parquet under data/ that no retained manifest
    // references and that is older than the grace window. IN-FLIGHT
    // stages (registered by stageWrite, released after their manifest
    // commit) are excluded REGARDLESS of age: a 100 TB staging write
    // easily outlives any mtime grace, and sweeping its early files
    // would let the subsequent commit publish a manifest referencing
    // deleted data. Two protection sources: the in-process registry
    // (same-JVM retention) and the durable `_STARTED` sibling markers
    // (retention running in a DIFFERENT process), the latter honored
    // until staleMarkerMs reclaims hard-crashed writers.
    val dataDir = Paths.get(root, "data")
    if (Files.exists(dataDir)) {
      val now = System.currentTimeMillis()
      val liveMarkers = {
        val ls = Files.list(dataDir)
        try ls.iterator().asScala
          .filter(_.getFileName.toString.endsWith(SnapshotTable.markerSuffix))
          .filter(m => Files.getLastModifiedTime(m).toMillis >= now - staleMarkerMs)
          .toSet
        finally ls.close()
      }
      val active = SnapshotTable.activeStages.asScala.toSet.map(Paths.get(_: String)) ++
        liveMarkers.map(m => m.resolveSibling(
          m.getFileName.toString.stripSuffix(SnapshotTable.markerSuffix)))
      def inActiveStage(p: Path): Boolean = active.exists(p.startsWith)
      val cutoff = now - vacuumGraceMs
      val walk = Files.walk(dataDir)
      try {
        walk.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .filterNot(p => referenced.contains(p.toString))
          .filterNot(inActiveStage)
          // a live marker is itself unreferenced — never sweep it, or
          // the cross-process protection dies with it
          .filterNot(liveMarkers.contains)
          .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
          .foreach(Files.deleteIfExists(_))
      } finally walk.close()
      // prune now-empty stage/partition directories (deepest first)
      val dirs = Files.walk(dataDir)
      try {
        dirs.iterator().asScala.toSeq
          .filter(p => Files.isDirectory(p) && p != dataDir)
          .filterNot(inActiveStage)
          .sortBy(-_.getNameCount)
          .foreach { d =>
            val ls = Files.list(d)
            val empty = try !ls.iterator().hasNext finally ls.close()
            if (empty) Files.deleteIfExists(d)
          }
      } finally dirs.close()
    }
  }
}

object SnapshotTable {
  /** Streaming idempotence keys retained per manifest (see
    * [[SnapshotTable.Manifest.batchKeys]]).
    */
  val maxBatchKeys = 256

  /** Stage directories with a write in flight, JVM-wide — the vacuum's
    * do-not-touch set (single writer per table, but retention may run
    * concurrently with a write elsewhere in the same process). The
    * durable `_STARTED` sibling markers carry the same fact across
    * PROCESS boundaries (see `registerStage`).
    */
  private[table] val activeStages: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[table] val markerSuffix = "._STARTED"

  /** Durable in-flight marker for a stage directory: a SIBLING file
    * (`data/stage-<uuid>._STARTED`), not a file inside the stage — the
    * staged parquet write runs in ErrorIfExists mode and would refuse a
    * pre-populated target directory.
    */
  private[table] def markerFor(stage: Path): Path =
    stage.resolveSibling(stage.getFileName.toString + markerSuffix)
}
