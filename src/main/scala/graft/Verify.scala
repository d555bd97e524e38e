package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.matching.Regex
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: a query-name regex (substring match) — lets
    // a dev loop re-check one family without dumping the whole suite;
    // with two args every query is dumped.
    val (sfDir, outDir, nameFilter) = args match {
      case Array(sf, out)    => (sf, out, ".*")
      case Array(sf, out, f) => (sf, out, f)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [nameRegex]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val re = nameFilter.r
    SparkEntry.queries
      .filter { case (name, _) => re.findFirstIn(name).isDefined }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(re))
    spark.stop()
  }

  /** `oracle_sql.json`: query name → DuckDB SQL for the oracle queries
    * whose name `re` matches (substring match), one JSON object.
    */
  private[graft] def oracleJson(re: Regex): String = {
    val o = Json.mapper.createObjectNode()
    SparkEntry.oracleSql.foreach { case (k, v) => if (re.findFirstIn(k).isDefined) o.put(k, v) }
    Json.mapper.writeValueAsString(o)
  }
}
