package graft.jobs

import graft.SparkTestBase
import graft.ingest.TranscriptSettings
import graft.model.Tier
import graft.table.SnapshotTable
import org.apache.spark.sql.functions._

/** `--source settings:<json>` orchestration: N declared sources, each
  * through ingest → rollup with per-setting status/metrics and
  * isolation — the analogue of the reference's whole `Main.java:36-60`
  * loop over `CsvSettings`, mirrored on its fixture shapes (standard +
  * `different_delimiter`).
  */
class SettingsMainSpec extends SparkTestBase {

  private def write(name: String, content: String): String = {
    val p = java.nio.file.Paths.get(tmpDir(s"set-$name"), s"$name.csv")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("two fixture-mirrored settings into one warehouse, disjoint lineage") {
    // setting 0: standard comma/ISO, one bad-ts row (csv-level reject)
    val a = write("std",
      """conv_id,turn_idx,role,text,tool,ts
        |a1,0,user,hello,,2024-03-01T10:00:00
        |a1,1,assistant,hi,,2024-03-01T10:00:30
        |a1,2,user,broken,,not_a_ts""".stripMargin)
    // setting 1: the different_delimiter fixture shape + UNIX seconds
    val b = write("semi",
      """conv_id;turn_idx;role;text;tool;ts
        |b1;0;user;hola;;1709287200
        |b1;1;assistant;buenas;;1709287260""".stripMargin)
    val cfg = java.nio.file.Paths.get(tmpDir("set-cfg"), "settings.json")
    java.nio.file.Files.write(cfg,
      s"""{"settings": [
         |  {"paths": ["$a"], "tsFormat": "ISO"},
         |  {"paths": ["$b"], "delimiter": ";", "tsFormat": "UNIX"},
         |  {"paths": ["/nonexistent/missing.csv"]}
         |]}""".stripMargin.getBytes("UTF-8"))

    val wh = tmpDir("set-wh")
    val runs = RollupMain.runSettings(spark, wh, cfg.toString, "multi")

    assert(runs.map(_.status) == Seq("COMPLETED", "COMPLETED", "FAILED"),
      s"a failing setting must not abort the others: $runs")
    assert(runs(0).rows1m > 0 && runs(1).rows1m > 0)
    assert(runs(0).rejects == 1 && runs(1).rejects == 0, s"got $runs")

    // each setting's data landed in ITS sub-warehouse (day partitions
    // from different settings must never clobber each other)
    val t0 = new SnapshotTable(s"$wh/setting-0/rollup_${Tier.M1.name}")
    val t1 = new SnapshotTable(s"$wh/setting-1/rollup_${Tier.M1.name}")
    assert(t0.read(spark).select("conv_id").distinct().collect()
      .map(_.getString(0)).toSet == Set("a1"))
    assert(t1.read(spark).select("conv_id").distinct().collect()
      .map(_.getString(0)).toSet == Set("b1"))
    // and the UNIX-seconds setting landed at the right instant
    assert(t1.read(spark).agg(min("window_start")).head().getTimestamp(0)
      .toInstant.toString == "2024-03-01T10:00:00Z")

    // orchestration store: one status row per setting, jobIds disjoint
    val orch = new graft.state.StateStore(s"$wh/_settings_state")
    val rows = orch.lineage.filter(_.tier == "csv_setting")
    assert(rows.map(r => r.partition -> r.status).sorted == Seq(
      "setting-0" -> "COMPLETED", "setting-1" -> "COMPLETED",
      "setting-2" -> "FAILED"))
    assert(rows.map(_.jobId).toSet == Set("multi-s0", "multi-s1", "multi-s2"))
    assert(orch.metrics.map(m => m.tier -> m.failed).toMap
      .get("csv_setting_0").contains(1L))

    // per-setting tier lineage lives in the sub-warehouse, under the
    // per-setting jobId — disjoint by construction
    val s0 = new graft.state.StateStore(s"$wh/setting-0/_state")
    assert(s0.lineage.nonEmpty && s0.lineage.forall(_.jobId == "multi-s0"))

    // rerun = resume semantics per setting: completed partitions are
    // planned away, nothing duplicates
    val rerun = RollupMain.runSettings(spark, wh, cfg.toString, "multi2")
    assert(rerun.map(_.status) == Seq("COMPLETED", "COMPLETED", "FAILED"))
    assert(t0.read(spark).count() ==
      t0.read(spark).dropDuplicates("conv_id", "window_start").count())
  }

  test("settings json: shape errors fail fast, runtime errors do not") {
    intercept[IllegalArgumentException](TranscriptSettings.parse("""{"settings": []}"""))
    intercept[IllegalArgumentException](
      TranscriptSettings.parse("""{"settings": [{"delimiter": ","}]}"""))
    intercept[IllegalArgumentException](TranscriptSettings.parse(
      """{"settings": [{"paths": ["x.csv"], "tsFormat": "BOGUS"}]}"""))
    intercept[IllegalArgumentException](TranscriptSettings.parse(
      """{"settings": [{"paths": ["x.csv"], "tsFormat": "CUSTOM"}]}"""))
    // a parseable setting whose file is MISSING is a runtime failure,
    // not a shape failure — load succeeds, the run records FAILED
    val s = TranscriptSettings.parse("""{"settings": [{"paths": ["/no/such.csv"]}]}""")
    assert(s.head.paths == Seq("/no/such.csv"))
    // custom zone + escaped quote roundtrip
    val c = TranscriptSettings.parse(
      """{"settings": [{"paths": ["a.csv"], "quote": "\"", "delimiter": ";",
        |"tsFormat": "CUSTOM", "pattern": "dd/MM/yyyy HH:mm", "zone": "Europe/Paris"}]}""".stripMargin)
    assert(c.head.tsFormat ==
      graft.ingest.CsvSource.Custom("dd/MM/yyyy HH:mm", "Europe/Paris"))
    assert(c.head.quote == "\"" && c.head.delimiter == ";")
    // the full JSON escape set: a TSV setting writes "\t" — it must
    // become a TAB, not the letter 't' (review catch)
    val tsv = TranscriptSettings.parse(
      """{"settings": [{"paths": ["t.csv"], "delimiter": "\t"}]}""")
    assert(tsv.head.delimiter == "\t")
    intercept[IllegalArgumentException](TranscriptSettings.parse(
      """{"settings": [{"paths": ["x.csv"], "delimiter": "\q"}]}"""))
    // \u escapes: valid hex roundtrips; truncated / non-hex / signed
    // sequences are the same pointed settings-json error, never a raw
    // StringIndexOutOfBounds or a silently wrong char from parseInt('-')
    val uesc = "\\" + "u0041" // literal A (dodging Scala's lexer)
    assert(TranscriptSettings.parse(
      s"""{"settings": [{"paths": ["u.csv"], "delimiter": "$uesc"}]}""")
      .head.delimiter == "A")
    for (bad <- Seq("\\u12", "\\uZZZZ", "\\u-001"))
      assert(intercept[IllegalArgumentException](TranscriptSettings.parse(
        s"""{"settings": [{"paths": ["x.csv"], "delimiter": "$bad"}]}"""))
        .getMessage.contains("settings json"), bad)
    // paths reach spark.read.csv verbatim, so glob brackets and braces
    // (and a brace inside any other string) load as the exact strings
    val globs = TranscriptSettings.parse(
      """{"settings": [{"paths": ["/data/part-[0-9].csv", "/data/{a,b}.csv"],
        |"tsFormat": "CUSTOM", "pattern": "yyyy-MM-dd'}'HH:mm"}]}""".stripMargin)
    assert(globs.head.paths == Seq("/data/part-[0-9].csv", "/data/{a,b}.csv"))
    assert(globs.head.tsFormat == graft.ingest.CsvSource.Custom("yyyy-MM-dd'}'HH:mm", "UTC"))
    // a document that is not JSON, or a non-string where a string
    // belongs, is a settings-json error too
    for (bad <- Seq("""{"settings": [""", "settings", """{"settings": [{"paths": ["a.csv"]}""",
        """{"settings": [{"paths": [1]}]}""",
        """{"settings": [{"paths": ["a.csv"], "delimiter": null}]}"""))
      assert(intercept[IllegalArgumentException](TranscriptSettings.parse(bad))
        .getMessage.startsWith("settings json:"), bad)
  }
}
