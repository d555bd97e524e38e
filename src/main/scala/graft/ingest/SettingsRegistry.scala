package graft.ingest

import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-setting source registry — the analogue of the reference's
  * settings loop (`Main.java:51-60`: N independent `CsvSettings`, each
  * with its own status rows): the config graph is validated ONCE up
  * front ([[ConfigValidator]], fail-fast before any read), then each
  * setting reads through [[CsvSource.readDeclared]] and reports its own
  * (valid, reject) counts, optionally checkpointed per setting into a
  * [[StateStore]] lineage stream (status COMPLETED/FAILED per setting,
  * like the reference's per-file `row_processing` rows).
  *
  * Spark-first note: the reference dedicates a thread pool to settings;
  * here each setting is a lazy read plan and Spark's scheduler owns all
  * parallelism — the registry only sequences validation, naming, and
  * status.
  */
final class SettingsRegistry(
    val config: ConfigModel.MigrationConfig,
    state: Option[StateStore] = None,
    checkFiles: Boolean = true) {

  ConfigValidator.validate(config, checkFiles)

  /** One setting's read outcome
    * ([[graft.ingest.SettingsRegistry.SettingResult]], declared in the
    * companion object so a pattern match on it needs no outer-reference
    * check).
    */
  type SettingResult = SettingsRegistry.SettingResult
  val SettingResult = SettingsRegistry.SettingResult

  def size: Int = config.csvSettings.size

  /** Lazy read plans for setting `i` — no data moves until acted on. */
  def read(spark: SparkSession, i: Int): (DataFrame, DataFrame) =
    CsvSource.readDeclared(spark, config.csvSettings(i))

  /** Read every setting, record per-setting status. A failing setting
    * is recorded FAILED and does not abort the others (the reference
    * isolates per-setting failures the same way).
    */
  def runAll(spark: SparkSession, jobId: String = "settings"): Seq[SettingResult] =
    config.csvSettings.indices.map { i =>
      val result =
        try {
          // one scan for both counts — counting the (valid, rejects)
          // frames separately re-reads and re-parses every file twice
          val (v, r) = CsvSource.declaredCounts(spark, config.csvSettings(i))
          SettingResult(i, v, r, "COMPLETED")
        } catch {
          case e: Exception =>
            state.foreach(s => s.commitLineage(Seq(s.LineageRow(
              "csv_setting", s"setting-$i", "FAILED",
              String.valueOf(e.getMessage), 0, 0, jobId, s.nextSeq()))))
            SettingResult(i, 0, 0, "FAILED")
        }
      if (result.status == "COMPLETED") state.foreach { s =>
        s.commitLineage(Seq(s.LineageRow(
          "csv_setting", s"setting-$i", "COMPLETED", "", 0,
          result.validRows, jobId, s.nextSeq())))
        s.commitMetrics(Seq(s.MetricsRow(
          jobId, s"csv_setting_$i", result.validRows, result.rejectRows,
          s.nextSeq())))
      }
      result
    }
}

object SettingsRegistry {
  final case class SettingResult(
      index: Int, validRows: Long, rejectRows: Long, status: String)
}
