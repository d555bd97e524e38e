package graft.jobs

import graft.ingest.Synth
import org.apache.spark.sql.SparkSession

/** Write a seeded synthetic transcripts table to parquet — the input
  * for `RollupMain --source parquet:<path>`, e.g. an N-vs-4N scaling
  * pair (the job must READ from storage, not generate inline, so both
  * cluster sizes do identical I/O + compute work).
  *
  * Usage: spark-submit --class graft.jobs.SynthMain <jar> \
  *          <outPath> <nConvs> <avgTurns> <seed> [hotConvs hotFactor]
  */
object SynthMain {
  def main(args: Array[String]): Unit = {
    val Array(out, nConvs, avgTurns, seed) = args.take(4)
    val (hot, factor) = if (args.length >= 6) (args(4).toInt, args(5).toInt) else (0, 50)
    val spark = SparkSession.builder()
      .appName("graft-synth")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Synth.transcripts(spark, nConvs.toInt, avgTurns.toInt, seed.toLong, hot, factor)
      .toDF()
      .repartition(64)
      .write.mode("overwrite").parquet(out)
    println(s"[synth] wrote ${spark.read.parquet(out).count()} turns to $out")
    spark.stop()
  }
}
