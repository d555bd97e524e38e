package graft.table

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SnapshotTableSpec extends SparkTestBase {
  import spark.implicits._

  private def df(rows: (String, Int)*) =
    rows.toDF("p_key", "v").withColumn("p", col("p_key"))

  test("commit + read roundtrip, snapshot isolation") {
    val t = new SnapshotTable(tmpDir("snap"))
    t.overwritePartitions(df("a" -> 1, "b" -> 2), "p")
    val v0 = t.currentVersion.get
    val snapshot0 = t.read(spark).collect().map(r => (r.getAs[String]("p_key"), r.getAs[Int]("v"))).toSet
    assert(snapshot0 == Set("a" -> 1, "b" -> 2))

    // second commit replaces only partition b
    t.overwritePartitions(df("b" -> 20), "p")
    assert(t.currentVersion.get == v0 + 1)
    val now = t.read(spark).collect().map(r => (r.getAs[String]("p_key"), r.getAs[Int]("v"))).toSet
    assert(now == Set("a" -> 1, "b" -> 20))

    // old manifest still readable (reader pinned to v0 is unaffected)
    val old = t.readManifest(v0)
    assert(old.files.map(_.partition).toSet == Set("a", "b"))
  }

  test("overwritePartitions is idempotent per partition") {
    val t = new SnapshotTable(tmpDir("snap-idem"))
    t.overwritePartitions(df("a" -> 1), "p")
    t.overwritePartitions(df("a" -> 1), "p")
    t.overwritePartitions(df("a" -> 1), "p")
    assert(t.read(spark).count() == 1)
    assert(t.partitionsOf == Set("a"))
  }

  test("manifest-level partition pruning reads only requested partitions") {
    val t = new SnapshotTable(tmpDir("snap-prune"))
    t.overwritePartitions(df("a" -> 1, "b" -> 2, "c" -> 3), "p")
    val only = t.read(spark, Some(Set("b")))
    assert(only.collect().map(_.getAs[Int]("v")).toSeq == Seq(2))
  }

  test("dropPartitions + expireSnapshots unlink expired data files") {
    val t = new SnapshotTable(tmpDir("snap-drop"))
    t.overwritePartitions(df("a" -> 1, "b" -> 2), "p")
    val before = t.currentManifest.get.files.map(_.path)
    t.dropPartitions(Set("a"))
    assert(t.partitionsOf == Set("b"))
    t.expireSnapshots(keep = 1)
    val aFiles = before.filter(_.contains("_p=a"))
    assert(aFiles.nonEmpty && aFiles.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // surviving partition still reads
    assert(t.read(spark).count() == 1)
  }

  test("clustering-key bounds prune files for point lookups (bucketed-read path)") {
    val t = new SnapshotTable(tmpDir("snap-key"))
    // one day partition, conv-clustered into two files via range partition
    val rows = (0 until 400).map(i => (f"conv-$i%03d", i, "d1"))
      .toDF("conv_id", "v", "p")
      .repartitionByRange(2, col("p"), col("conv_id"))
      .sortWithinPartitions(col("conv_id"))
    t.overwritePartitions(rows, "p", clusterKey = "conv_id")
    val m = t.currentManifest.get
    assert(m.clusterKey == "conv_id")
    assert(m.files.size == 2 && m.files.forall(f => f.minKey.nonEmpty && f.maxKey.nonEmpty))
    // a point lookup must plan strictly fewer files than the partition holds
    val planned = t.planFiles(Some(Set("d1")), keyEquals = Some("conv-001"))
    assert(planned.size == 1, s"expected 1 file, planned ${planned.size}")
    val got = t.readForKey(spark, "conv-001").collect()
    assert(got.length == 1 && got.head.getAs[Int]("v") == 1)
    // keys outside every file range plan zero files
    assert(t.planFiles(Some(Set("d1")), keyEquals = Some("zzz")).isEmpty)
  }

  test("key pruning follows unsigned UTF-8 order for non-ASCII keys") {
    val t = new SnapshotTable(tmpDir("snap-utf8"))
    // 😀 (U+1F600) sorts BELOW 'ﬀ' (U+FB00) in UTF-16 code units (its
    // high surrogate 0xD83D < 0xFB00) but ABOVE it in UTF-8 bytes
    // (0xF0... > 0xEF...) — the ordering parquet stats use. A String<=
    // comparison would wrongly prune the covering file for such keys.
    val keys = Seq("alpha", "ﬀlig", "😀emoji", "zz")
    val rows = keys.zipWithIndex.map { case (k, i) => (k, i, "d1") }
      .toDF("conv_id", "v", "p").coalesce(1).sortWithinPartitions(col("conv_id"))
    t.overwritePartitions(rows, "p", clusterKey = "conv_id")
    keys.foreach { k =>
      val got = t.readForKey(spark, k).collect()
      assert(got.length == 1, s"key $k: got ${got.length} rows")
    }
  }

  test("non-string clustering key yields empty bounds, never wrong pruning") {
    val t = new SnapshotTable(tmpDir("snap-numkey"))
    // numeric keys: '10' < '9' lexicographically — bounds must be empty
    val rows = (1 to 12).map(i => (i.toLong, i, "d1")).toDF("k", "v", "p")
    t.overwritePartitions(rows, "p", clusterKey = "k")
    val m = t.currentManifest.get
    assert(m.files.forall(f => f.minKey.isEmpty && f.maxKey.isEmpty))
    // point lookup still answers (no manifest pruning, filter applies)
    assert(t.readForKey(spark, "10").count() == 1)
  }

  test("maxRecordsPerFile bounds rows per committed file (batching knob)") {
    val t = new SnapshotTable(tmpDir("snap-batch"))
    val rows = (0 until 400).map(i => (i, "d1")).toDF("v", "p").coalesce(1)
    t.overwritePartitions(rows, "p", maxRecordsPerFile = 100L)
    val m = t.currentManifest.get
    assert(m.files.size >= 4, s"expected >=4 files, got ${m.files.size}")
    assert(t.rowCount(spark, m.files) == 400L)
  }

  test("readForKey on a table without a clustering key throws") {
    val t = new SnapshotTable(tmpDir("snap-nokey"))
    t.overwritePartitions(df("a" -> 1), "p")
    intercept[IllegalStateException](t.readForKey(spark, "a"))
  }

  test("compact rewrites fragmented partitions without changing content") {
    val t = new SnapshotTable(tmpDir("snap-compact"))
    // 6 separate commits to the same partition → 6 files
    (1 to 6).foreach(i => t.append(df("a" -> i), "p"))
    assert(t.currentManifest.get.files.size == 6)
    t.compact(spark, maxFiles = 4)
    assert(t.currentManifest.get.files.size == 1)
    assert(t.read(spark).agg(sum("v")).head().getLong(0) == 21L)
    t.expireSnapshots(keep = 1)
    assert(t.read(spark).agg(sum("v")).head().getLong(0) == 21L)
  }

  test("partition values with '+' are not corrupted to spaces (Hive unescape, not URL)") {
    val t = new SnapshotTable(tmpDir("snap-plus"))
    t.overwritePartitions(df("a+b" -> 1, "x y" -> 2, "p%25c" -> 3), "p")
    val parts = t.currentManifest.get.files.map(_.partition).toSet
    assert(parts == Set("a+b", "x y", "p%25c"), s"got $parts")
    // overwrite of the '+' partition actually replaces it
    t.overwritePartitions(df("a+b" -> 10), "p")
    val rows = t.read(spark).collect().map(r => (r.getAs[String]("p_key"), r.getAs[Int]("v"))).toSet
    assert(rows == Set("a+b" -> 10, "x y" -> 2, "p%25c" -> 3), s"got $rows")
    // pruned read by the escaped value
    assert(t.read(spark, Some(Set("a+b"))).count() == 1)
  }

  test("expireSnapshots vacuums crash-orphaned staged files past the grace window") {
    val t = new SnapshotTable(tmpDir("snap-vacuum"))
    t.overwritePartitions(df("a" -> 1), "p")
    // simulate a crash after stageWrite, before commit: a stage dir
    // with a parquet no manifest references
    val orphanDir = java.nio.file.Paths.get(t.root, "data", "stage-orphan", "_p=z")
    java.nio.file.Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-orphan.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
    java.nio.file.Files.setLastModifiedTime(orphan, old)

    // within grace: fresh orphans survive (in-flight write protection)
    t.expireSnapshots(keep = 2, vacuumGraceMs = 86400000L)
    assert(java.nio.file.Files.exists(orphan))
    // past grace: orphan and its empty dirs are swept, live data intact
    t.expireSnapshots(keep = 2, vacuumGraceMs = 3600000L)
    assert(!java.nio.file.Files.exists(orphan), "orphan should be vacuumed")
    assert(!java.nio.file.Files.exists(orphanDir.getParent), "empty stage dir pruned")
    assert(t.read(spark).count() == 1)
  }

  test("vacuum never sweeps an IN-FLIGHT stage, no matter how old its files are") {
    val t = new SnapshotTable(tmpDir("snap-inflight"))
    t.overwritePartitions(df("a" -> 1), "p")
    // a staged write that has been running LONGER than the grace window
    // (the 100 TB case): registered as active, files old by mtime
    val stageDir = java.nio.file.Paths.get(t.root, "data", "stage-inflight")
    val partDir = stageDir.resolve("_p=z")
    java.nio.file.Files.createDirectories(partDir)
    val f = partDir.resolve("part-early.parquet")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
    java.nio.file.Files.setLastModifiedTime(f, old)
    SnapshotTable.activeStages.add(stageDir.toString)
    try {
      t.expireSnapshots(keep = 2, vacuumGraceMs = 3600000L)
      assert(java.nio.file.Files.exists(f),
        "active stage files must survive the vacuum regardless of age")
    } finally SnapshotTable.activeStages.remove(stageDir.toString)
    // once released (commit finished or write abandoned), the vacuum may have it
    t.expireSnapshots(keep = 2, vacuumGraceMs = 3600000L)
    assert(!java.nio.file.Files.exists(f))
  }

  test("a SECOND process's vacuum honors the durable _STARTED marker") {
    // cross-process scenario: ingest job and retention cron as separate
    // spark-submits — the cron's JVM has NO in-process stage registry,
    // only the filesystem. Simulated here by hand-building the stage
    // (so activeStages never saw it) and vacuuming via a FRESH handle.
    val t = new SnapshotTable(tmpDir("snap-xproc"))
    t.overwritePartitions(df("a" -> 1), "p")
    val stageDir = java.nio.file.Paths.get(t.root, "data", "stage-xproc")
    val partDir = stageDir.resolve("_p=z")
    java.nio.file.Files.createDirectories(partDir)
    val f = partDir.resolve("part-early.parquet")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
    java.nio.file.Files.setLastModifiedTime(f, old)
    val marker = java.nio.file.Paths.get(t.root, "data", "stage-xproc._STARTED")
    java.nio.file.Files.write(marker, Array.emptyByteArray)

    // past the mtime grace, different handle, nothing registered: the
    // marker alone must keep every staged file (and itself) alive
    new SnapshotTable(t.root).expireSnapshots(keep = 2, vacuumGraceMs = 3600000L)
    assert(java.nio.file.Files.exists(f),
      "marker-protected stage files must survive a cross-process vacuum")
    assert(java.nio.file.Files.exists(marker), "the live marker itself must survive")

    // a STALE marker (hard-crashed writer) stops protecting: stage and
    // marker are both reclaimed
    java.nio.file.Files.setLastModifiedTime(marker, old)
    new SnapshotTable(t.root).expireSnapshots(
      keep = 2, vacuumGraceMs = 3600000L, staleMarkerMs = 3600000L)
    assert(!java.nio.file.Files.exists(f), "stale-marker stage must be reclaimed")
    assert(!java.nio.file.Files.exists(marker), "stale marker must be reclaimed")
    assert(!java.nio.file.Files.exists(stageDir), "empty stage dir pruned")
    assert(t.read(spark).count() == 1)
  }

  test("commits release their durable marker; a crashed write's marker persists") {
    val t = new SnapshotTable(tmpDir("snap-marker-rel"))
    t.overwritePartitions(df("a" -> 1), "p")
    t.append(df("b" -> 2), "p")
    val dataDir = java.nio.file.Paths.get(t.root, "data")
    val ls = java.nio.file.Files.list(dataDir)
    val markers =
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith("._STARTED")).toSeq
      } finally ls.close()
    assert(markers.isEmpty, s"committed writes must release markers, found: $markers")
  }

  test("ParquetFooters.rowCount == a Spark count, file and directory paths") {
    val t = new SnapshotTable(tmpDir("snap-footers"))
    t.overwritePartitions(df("a" -> 3, "b" -> 2), "p")
    assert(ParquetFooters.rowCount(spark, t.root) == t.read(spark).count())
    // the driver testdata shape (a parquet table path) — the q32/q38
    // training-sample hint path runs NO Spark job
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    assert(ParquetFooters.rowCount(spark, emb) == spark.read.parquet(emb).count())
  }

  /** A small RollupJob warehouse: conv-clustered tier and blocks tables. */
  private lazy val rollupWh: graft.jobs.RollupJob = {
    val job = new graft.jobs.RollupJob(tmpDir("snap-rollup-wh"))
    job.run(spark, graft.ingest.Synth.transcripts(
      spark, nConvs = 12, avgTurns = 20, seed = 5L).toDF(), "snap-spec-build")
    job
  }

  test("read takes the schema Spark would infer, from a footer (tier and blocks tables)") {
    import graft.model.Tier
    for (t <- Seq(rollupWh.tierTable(Tier.H1), rollupWh.blocksTable(Tier.H1))) {
      val files = t.planFiles()
      assert(files.size > 1, s"${t.root}: want several files, got ${files.size}")
      assert(t.read(spark).schema == spark.read.parquet(files.map(_.path): _*).schema,
        t.root)
    }
  }

  test("read and readForKey start no Spark job before an action") {
    import graft.model.Tier
    val t = rollupWh.tierTable(Tier.M1)
    val key = t.currentManifest.get.files.head.minKey
    val ((all, one), jobs) = jobsStarted {
      (t.read(spark), t.readForKey(spark, key, Some(t.partitionsOf)))
    }
    assert(jobs == 0, s"lazy reads started $jobs job(s)")
    assert(all.count() > 0 && one.count() > 0)
  }

  test("a file without a Spark schema in its footer fails, naming the file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message m { required int32 v; }")
    val path = java.nio.file.Paths.get(tmpDir("snap-foreign"), "foreign.parquet").toString
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("v", 1))
    finally w.close()
    val t = new SnapshotTable(tmpDir("snap-foreign-table"))
    val e = intercept[IllegalStateException](
      t.readFiles(spark, Seq(t.FileEntry(path, "d1", java.nio.file.Files.size(
        java.nio.file.Paths.get(path))))))
    assert(e.getMessage.contains(path) && e.getMessage.contains(ParquetFooters.SparkSchemaKey),
      e.getMessage)
  }

  test("row counts recorded at staging persist; unknown counts fall back to footers") {
    val t = new SnapshotTable(tmpDir("snap-rows"))
    val rows = (0 until 300).map(i => (i, s"d${i % 3}")).toDF("v", "p")
    t.overwritePartitions(rows, "p", maxRecordsPerFile = 40L)
    val files = new SnapshotTable(t.root).currentManifest.get.files
    assert(files.forall(_.rows > 0), files)
    assert(files.map(_.rows).sum == 300L)
    files.foreach(f => assert(f.rows == ParquetFooters.fileRowCount(
      f.path, spark.sparkContext.hadoopConfiguration), f))
    // a manifest written before counts were recorded: rows = -1, and
    // rowCount reads those files' footers instead
    val mf = java.nio.file.Paths.get(t.root, "snapshots", s"v${t.currentVersion.get}.json")
    val legacy = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      .replaceAll(""","rows":\d+""", "")
    java.nio.file.Files.write(mf, legacy.getBytes("UTF-8"))
    val reopened = new SnapshotTable(t.root)
    val unknown = reopened.currentManifest.get.files
    assert(unknown.forall(_.rows == -1L) && unknown.map(_.path) == files.map(_.path))
    assert(reopened.rowCount(spark, unknown) == 300L)
    val mixed = unknown.take(1) ++
      unknown.zip(files).drop(1).map { case (u, f) => u.copy(rows = f.rows) }
    assert(reopened.rowCount(spark, mixed) == 300L)
  }

  test("manifest batchKeys survive JSON roundtrip including escapes") {
    val t = new SnapshotTable(tmpDir("snap-keys"))
    t.append(df("a" -> 1), "p", batchKey = Some("""ck pt"odd\name-1a2b-batch-0"""))
    t.append(df("a" -> 2), "p", batchKey = Some("plain-batch-1"))
    val reopened = new SnapshotTable(t.root)
    assert(reopened.currentManifest.get.batchKeys ==
      Seq("""ck pt"odd\name-1a2b-batch-0""", "plain-batch-1"))
    // a non-streaming commit preserves the keys untouched
    t.overwritePartitions(df("a" -> 3), "p")
    assert(t.currentManifest.get.batchKeys.size == 2)
    // retention operations preserve them too — wiping on dropPartitions
    // would reopen the streaming replay-duplication window
    t.append(df("b" -> 4), "p")
    t.dropPartitions(Set("b"))
    assert(t.currentManifest.get.batchKeys.size == 2, "dropPartitions must keep batchKeys")
    t.compact(spark, maxFiles = 0)
    assert(t.currentManifest.get.batchKeys.size == 2, "compact must keep batchKeys")
  }
}
