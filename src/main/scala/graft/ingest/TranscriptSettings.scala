package graft.ingest

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Declared multi-source ingest settings for the TRANSCRIPT pipeline —
  * the config surface behind `RollupMain --source settings:<json>`, the
  * analogue of the reference's whole orchestration entry
  * (`Main.java:36-60`: load config, validate, then run every declared
  * `CsvSettings` with per-setting status rows).
  *
  * JSON shape (standard JSON, read with the engine's one codec
  * [[graft.Json]]; paths go to `spark.read.csv` verbatim, so globs such
  * as `part-[0-9].csv` or `{a,b}.csv` work):
  *
  * {{{
  * {"settings": [
  *   {"paths": ["/data/a.csv"], "delimiter": ",", "quote": "\"",
  *    "tsFormat": "ISO"},
  *   {"paths": ["/data/b.csv"], "tsFormat": "UNIX"},
  *   {"paths": ["/data/c.csv"], "tsFormat": "CUSTOM",
  *    "pattern": "dd/MM/yyyy HH:mm", "zone": "Europe/Paris"}
  * ]}
  * }}}
  *
  * Validation split mirrors the engine's two failure planes: SHAPE
  * errors (no settings, a setting without paths, unknown tsFormat,
  * CUSTOM without pattern) fail the whole load fail-fast, like
  * [[ConfigValidator]]; RUNTIME errors (missing file, malformed rows)
  * surface later as per-setting FAILED status without aborting the
  * other settings — the reference isolates per-setting failures the
  * same way (`Main.java:51-60` catches per-setting).
  */
object TranscriptSettings {

  final case class Setting(
      paths: Seq[String],
      delimiter: String = ",",
      quote: String = "\"",
      tsFormat: CsvSource.TsFormat = CsvSource.Iso) {
    def options: CsvSource.Options =
      CsvSource.Options(delimiter, quote, tsFormat)
  }

  def load(path: String): Seq[Setting] =
    parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private[graft] def parse(json: String): Seq[Setting] = {
    val root =
      try Json.mapper.readTree(json)
      catch { case e: JsonProcessingException => fail(s"settings json: ${e.getOriginalMessage}") }
    val arr = root.path("settings")
    if (!arr.isArray) fail("settings json: missing \"settings\" array")
    if (arr.isEmpty) fail("settings json: empty \"settings\" array")
    arr.asScala.toSeq.map { obj =>
      def str(name: String, v: JsonNode): String =
        if (v.isTextual) v.asText else fail(s"settings json: \"$name\" must hold strings")
      def strField(name: String): Option[String] = Option(obj.get(name)).map(str(name, _))
      val paths = obj.path("paths").asScala.map(str("paths", _)).toSeq
      if (paths.isEmpty) fail("settings json: each setting needs a non-empty \"paths\" array")
      val fmt = strField("tsFormat").getOrElse("ISO") match {
        case "ISO" => CsvSource.Iso
        case "UNIX" => CsvSource.Unix
        case "CUSTOM" => CsvSource.Custom(
          strField("pattern").getOrElse(
            fail("settings json: CUSTOM tsFormat needs a \"pattern\"")),
          strField("zone").getOrElse("UTC"))
        case other => fail(s"settings json: unknown tsFormat '$other' (ISO|UNIX|CUSTOM)")
      }
      Setting(paths, strField("delimiter").getOrElse(","),
        strField("quote").getOrElse("\""), fmt)
    }
  }
}
