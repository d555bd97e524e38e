package graft

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.state.StateStore
import graft.table.SnapshotTable
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Golden files of the durable formats (`src/test/resources/formats/`):
  * snapshot manifests and the four state-store kinds, written by the
  * engine's writers before they moved to the shared Jackson codec.
  * The legacy manifest and the last checkpoint line are those writers'
  * output with the fields that older writers did not emit removed.
  * Old files must read to the exact values, and the current writers must
  * reproduce the current-format bytes, so a warehouse written by either
  * codec reads on the other.
  */
class DurableFormatSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/formats/$name")
    try in.readAllBytes() finally in.close()
  }

  private def tmp(): Path = {
    val d = Files.createTempDirectory("format-spec")
    d.toFile.deleteOnExit()
    d
  }

  private def tableWith(version: Long, manifest: Array[Byte]): SnapshotTable = {
    val root = tmp()
    Files.createDirectories(root.resolve("snapshots"))
    Files.write(root.resolve(s"snapshots/v$version.json"), manifest)
    Files.write(root.resolve("CURRENT"), version.toString.getBytes(UTF_8))
    new SnapshotTable(root.toString)
  }

  /** A store whose `kind` holds one commit file with the given bytes. */
  private def storeWith(kind: String, bytes: Array[Byte]): (Path, StateStore) = {
    val root = tmp()
    Files.createDirectories(root.resolve(kind))
    Files.write(root.resolve(kind).resolve("commit-000000000001-fixture.jsonl"), bytes)
    (root, new StateStore(root.toString))
  }

  /** The bytes `write` commits into `kind` once its files are removed. */
  private def rewritten(root: Path, kind: String)(write: => Unit): String = {
    Files.list(root.resolve(kind)).iterator().asScala.toSeq.foreach(Files.delete)
    write
    val files = Files.list(root.resolve(kind)).iterator().asScala.toSeq
    assert(files.size == 1, files)
    new String(Files.readAllBytes(files.head), UTF_8)
  }

  private def text(name: String) = new String(fixture(name), UTF_8)

  test("current manifest: exact values, and re-serialized to the same bytes") {
    val t = tableWith(7, fixture("manifest_current.json"))
    val m = t.currentManifest.get
    assert(m == t.Manifest(7L, "p", Seq(
      t.FileEntry("data/stage-5f0c/_p=2024-01-01/part-00000.parquet", "2024-01-01", 18234L,
        "c0001", "c0042", 321L),
      t.FileEntry("data/stage-5f0c/_p=2024-01-02/part-00000-é日本🙂.parquet", "2024-01-02", 99L,
        "conv \"q\"\nline2", "conv\\back/slash", 0L),
      t.FileEntry("data/stage-91ab/_p=2024-01-02/part-00001.parquet", "2024-01-02", 4096L)),
      6L, "conv_id", Seq("ck pt\"odd\\name-1a2b-batch-0", "plain-batch-1")))
    assert(t.manifestJson(m) == text("manifest_current.json"))
  }

  test("legacy manifest: absent stats, cluster key and batch keys read as defaults") {
    val t = tableWith(3, fixture("manifest_legacy.json"))
    val m = t.currentManifest.get
    assert(m == t.Manifest(3L, "p", Seq(
      t.FileEntry("data/stage-0a/_p=2023-12-31/part\t00000.parquet", "2023-12-31", 512L),
      t.FileEntry("data/stage-0b/_p=2024-01-01/part-00000-ü.parquet", "2024-01-01", 1024L)),
      2L))
    assert(m.clusterKey == "" && m.batchKeys.isEmpty &&
      m.files.forall(f => f.minKey == "" && f.maxKey == "" && f.rows == -1L))
  }

  test("a manifest missing a required field fails, naming the field") {
    for (field <- Seq("version", "partitionCol", "parentVersion")) {
      val m = Json.mapper.readTree(fixture("manifest_current.json")).asInstanceOf[ObjectNode]
      m.remove(field)
      val t = tableWith(7, Json.mapper.writeValueAsBytes(m))
      val e = intercept[IllegalStateException](t.currentManifest)
      assert(e.getMessage.contains(field), e.getMessage)
    }
  }

  test("checkpoints: exact values, absent rawCount reads as unknown (-1)") {
    val (root, s) = storeWith("checkpoints", fixture("checkpoints.jsonl"))
    val cps = s.checkpoints.values.toSeq.sortBy(_.seq)
    assert(cps == Seq(
      s.Checkpoint("1m", "2024-01-01", 1704153599000000L, "COMPLETED", "job-a", 1L, 420L),
      s.Checkpoint("blocks_1h", "2024-01-02", 1704153599000000L, "IN_PROGRESS", "job-a", 2L, -1L),
      s.Checkpoint("1d", "2023-12-31", 1704067199000000L, "COMPLETED", "job-old", 3L, -1L)))
    assert(s.nextSeq() == 4L, "the seq counter resumes past the rows read")
    // the current writer spells the unknown census out
    assert(rewritten(root, "checkpoints")(s.commitCheckpoints(cps)) ==
      text("checkpoints.jsonl").replace("\"seq\":3}", "\"seq\":3,\"rawCount\":-1}"))
  }

  test("lineage: exact values including escaped text, and the same bytes back") {
    val (root, s) = storeWith("lineage", fixture("lineage.jsonl"))
    val rows = s.lineage
    assert(rows == Seq(
      s.LineageRow("1m", "2024-01-01", "COMPLETED", "", 0, 1340L, "job-a", 4L),
      s.LineageRow("1h", "*", "RETRY", "flaky \"disk\" at C:\\tmp\nretrying", 2, 0L, "job-a", 5L),
      s.LineageRow("blocks_1h", "2024-01-02", "FAILED", "poisoned: ünïcødé 🙂", 3, 0L,
        "job-b", 6L)))
    assert(s.nextSeq() == 7L)
    assert(rewritten(root, "lineage")(s.commitLineage(rows)) == text("lineage.jsonl"))
  }

  test("metrics: exact values and the same bytes back") {
    val (root, s) = storeWith("metrics", fixture("metrics.jsonl"))
    val rows = s.metrics
    assert(rows == Seq(
      s.MetricsRow("job-a", "1m", 1340L, 0L, 7L),
      s.MetricsRow("job-b", "blocks_1h", 0L, 2L, 8L)))
    assert(rewritten(root, "metrics")(s.commitMetrics(rows)) == text("metrics.jsonl"))
  }

  test("logs: exact values including escaped text, and the same bytes back") {
    val (root, s) = storeWith("logs", fixture("logs.jsonl"))
    val rows = s.logs
    assert(rows == Seq(
      s.LogRow(1760000000000L, "INFO", "1m", "committed 1340 rows across 2 partition(s)",
        "job-a", 9L),
      s.LogRow(1760000000123L, "WARNING", "ingest", "3 rows rejected: \"bad\" ts\nsee \\rejects",
        "job-a", 10L)))
    assert(rewritten(root, "logs")(s.commitLogs(rows)) == text("logs.jsonl"))
  }

  test("a state line that is not a JSON object fails, naming its file") {
    for (bad <- Seq("not json", "[1,2]", """{"tier":"1m","seq":""")) {
      val e = intercept[IllegalStateException](
        storeWith("lineage", (bad + "\n").getBytes(UTF_8)))
      assert(e.getMessage.contains("commit-000000000001-fixture.jsonl"), e.getMessage)
    }
  }
}
