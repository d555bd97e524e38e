package graft.jobs

import graft.ingest.{Synth, Transcripts}
import graft.model.Tier
import graft.retention.Retention
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the rollup pipeline (north rule: "run
  * via spark-submit on a multi-executor cluster at two cluster sizes").
  *
  * Usage:
  *   spark-submit --class graft.jobs.RollupMain <jar> \
  *     --warehouse /path/wh [--source synth:<nConvs>:<avgTurns>:<seed>[:hot:<n>:<factor>]
  *                           | --source events:<sfDir> | --source parquet:<path>
  *                           | --source settings:<json>]
  *     [--job-id <id>] [--retention-watermark yyyy-MM-dd]
  *
  * `settings:<json>` is the multi-source orchestration (the analogue of
  * the reference's whole `Main.java:36-60` loop): every setting
  * declared in the [[graft.ingest.TranscriptSettings]] file runs
  * ingest → rollup with its own status/metrics rows — see
  * [[runSettings]].
  *
  * Parallelism comes from the cluster (`--master`/executors), not from
  * this code: the same binary runs `local[8]`, `local[32]`, or a real
  * cluster unchanged — that is the N vs 4N scaling axis.
  */
object RollupMain {

  def main(args: Array[String]): Unit = {
    val Args(warehouse, source, jobId, retentionWatermark) = parseArgs(args)

    val builder = SparkSession.builder().appName("graft-rollup")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // default master only when not provided by spark-submit
    val spark = (sys.props.get("spark.master") match {
      case Some(_) => builder
      case None => builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
        .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (source.startsWith("settings:")) {
      val results = runSettings(spark, warehouse,
        source.stripPrefix("settings:"), jobId)
      results.foreach(r => println(
        s"[settings] setting=${r.index} status=${r.status} rows_1m=${r.rows1m} " +
          s"rejects=${r.rejects}" +
          (if (r.error.nonEmpty) s" error=${r.error}" else "")))
      spark.stop()
      return
    }

    val input = source.split(":").toList match {
      case "synth" :: n :: t :: s :: rest =>
        val (hot, factor) = rest match {
          case "hot" :: h :: f :: Nil => (h.toInt, f.toInt)
          case _ => (0, 50)
        }
        Synth.transcripts(spark, n.toInt, t.toInt, s.toLong, hot, factor).toDF()
      case "events" :: dir :: Nil => Transcripts.fromEvents(spark, dir)
      case "parquet" :: path :: Nil => spark.read.parquet(path)
      case other => sys.error(s"unknown --source: $other")
    }

    val job = new RollupJob(warehouse)
    val t0 = System.nanoTime()
    val results = job.run(spark, input, jobId)
    val secs = (System.nanoTime() - t0) / 1e9

    results.foreach(r =>
      println(s"[rollup] tier=${r.tier} partitions=${r.partitions.size} rows=${r.rows}"))
    val turns = job.state.metrics.filter(m => m.jobId == jobId && m.tier == "1m")
      .map(_.processed).sum
    println(f"[rollup] job=$jobId wall=$secs%.2fs" +
      (if (turns > 0) f" committed_1m_rows_per_s=${turns / secs}%.0f" else ""))
    // leveled-log summary (migration_logs analogue): surface WARNING and
    // ERROR rows at job end so rejects/poisoned partitions aren't silent
    val jobLogs = job.state.logs.filter(_.jobId == jobId)
    val byLevel = jobLogs.groupBy(_.level).view.mapValues(_.size).toMap
    println(s"[rollup] log: INFO=${byLevel.getOrElse("INFO", 0)} " +
      s"WARNING=${byLevel.getOrElse("WARNING", 0)} ERROR=${byLevel.getOrElse("ERROR", 0)}")
    jobLogs.filter(l => l.level == "WARNING" || l.level == "ERROR")
      .foreach(l => println(s"[rollup] ${l.level} ${l.tier}: ${l.message}"))

    retentionWatermark.foreach { day =>
      val policy = Retention.Policy()
      for (t <- Tier.cascade) {
        val dropped = Retention.expire(job.tierTable(t), t.name, day, policy)
        println(s"[retention] tier=${t.name} dropped=${dropped.size}")
      }
      // the encoded-blocks table is a first-class retention target too:
      // it outlives raw (long horizon), but its expiry/orphan-vacuum
      // must still run or the stream of daily block commits accretes
      // snapshots and crash-orphans forever
      val droppedBlocks = Retention.expire(
        job.blocksTable(Tier.H1), Retention.blocksKey, day, policy)
      println(s"[retention] tier=${Retention.blocksKey} dropped=${droppedBlocks.size}")
    }
    spark.stop()
  }

  final case class SettingRun(
      index: Int, status: String, rows1m: Long, rejects: Long, error: String = "")

  /** Multi-setting orchestration — each declared source runs
    * ingest → rollup into its OWN sub-warehouse (`<wh>/setting-<i>`),
    * because tier tables are day-partitioned and
    * `overwritePartitions` is a per-day REPLACE: two settings sharing
    * a day would clobber each other's rollups in a shared table (the
    * reference keeps per-setting sink paths for the same reason).
    * A top-level orchestration [[graft.state.StateStore]]
    * (`<wh>/_settings_state`) records one COMPLETED/FAILED lineage row + a metrics row
    * (valid/reject counts) per setting — the `Main.java:51-60` status
    * loop — while each sub-warehouse keeps its full per-tier lineage
    * under its per-setting jobId, so lineage stays disjoint by
    * construction. A failing setting is recorded FAILED and does NOT
    * abort the others (reference per-setting isolation).
    */
  def runSettings(spark: SparkSession, warehouse: String, cfgPath: String,
      jobId: String): Seq[SettingRun] = {
    val settings = graft.ingest.TranscriptSettings.load(cfgPath)
    val orchestration = new graft.state.StateStore(s"$warehouse/_settings_state")
    settings.zipWithIndex.map { case (s, i) =>
      val sid = s"$jobId-s$i"
      val run =
        try {
          val (valid, rejects) = graft.ingest.CsvSource.read(spark, s.paths, s.options)
          val results = new RollupJob(s"$warehouse/setting-$i").run(spark, valid, sid)
          val rows = results.find(_.tier == "1m").map(_.rows).getOrElse(0L)
          // csv-level reject count (bad turn_idx / unparseable ts):
          // one bounded action on the reject side — the valid side's
          // accounting already rode the rollup's own planning pass
          SettingRun(i, "COMPLETED", rows, rejects.count())
        } catch {
          case e: Exception =>
            SettingRun(i, "FAILED", 0, 0, String.valueOf(e.getMessage))
        }
      orchestration.commitLineage(Seq(orchestration.LineageRow(
        "csv_setting", s"setting-$i", run.status, run.error, 0, run.rows1m,
        sid, orchestration.nextSeq())))
      orchestration.commitMetrics(Seq(orchestration.MetricsRow(
        sid, s"csv_setting_$i", run.rows1m, run.rejects, orchestration.nextSeq())))
      run
    }
  }

  final case class Args(warehouse: String, source: String, jobId: String,
      retentionWatermark: Option[String])

  private val flags = Set("warehouse", "source", "job-id", "retention-watermark")

  /** Every flag, parsed and validated before a session exists: an
    * unknown or repeated flag, a flag without a value, a stray argument,
    * a missing `--warehouse` or a watermark that is not an ISO day
    * (yyyy-MM-dd) throws an IllegalArgumentException naming the flag —
    * none of them is dropped silently, and a bad watermark fails before
    * any tier commits rather than inside
    * [[graft.retention.Retention.expire]] after all of them.
    */
  private[jobs] def parseArgs(args: Array[String]): Args = {
    def bad(msg: String) = throw new IllegalArgumentException(msg)
    val opts = args.grouped(2).foldLeft(Map.empty[String, String]) {
      case (acc, Array(k, v)) if k.startsWith("--") && !v.startsWith("--") =>
        val name = k.stripPrefix("--")
        if (!flags.contains(name)) bad(s"unknown flag $k")
        if (acc.contains(name)) bad(s"flag $k given twice")
        acc + (name -> v)
      case (_, Array(k, _*)) if k.startsWith("--") => bad(s"flag $k needs a value")
      case (_, kv) => bad(s"unexpected argument '${kv.head}' (flags are --name value)")
    }
    val day = opts.get("retention-watermark")
    day.foreach { d =>
      try java.time.LocalDate.parse(d)
      catch { case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"--retention-watermark must be an ISO day (yyyy-MM-dd), got '$d'", e) }
    }
    Args(
      opts.getOrElse("warehouse", bad("--warehouse is required")),
      opts.getOrElse("source", "synth:100:100:42"),
      opts.getOrElse("job-id", s"rollup-${java.util.UUID.randomUUID()}"),
      day)
  }
}
