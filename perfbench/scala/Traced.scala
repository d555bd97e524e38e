package perfbench

import graft.jobs.RollupJob
import graft.model.Tier
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The traced pass. It is separate from the timed runs and gives the
  * per-layer metrics of all three workloads:
  *
  *  - `cold.*`: the real `RollupJob.run` into an empty warehouse timed,
  *    then the traced [[Replay]] into another; the replay's overhead is
  *    its traced total minus the real run's wall time. Both run warm:
  *    building yesterday's warehouse for the daily pair comes first;
  *  - `daily.*`: the same pair on two copies of yesterday's warehouse,
  *    each followed by the retention pass;
  *  - `serve.*`: stitch queries with spans around the lazy
  *    `stitchRangeServing` call and the `collect` that forces it;
  *  - `cold.jobs.scaling_eff_1_to_n`: the cold run again at `local[1]`
  *    (report only), against the real run at `local[n]`.
  *
  * Every metric leaves as a `layer` record with its unit. `check`
  * records hold the replay-equals-real and stitch-equals-raw checks.
  */
object Traced {
  import Main.{timed, Opts}

  private def layer(name: String, value: Double, unit: String): Unit =
    Emit.record("layer", "name" -> name, "value" -> value, "unit" -> unit)

  def run(spark0: SparkSession, o: Opts): Unit = {
    val full = spark0.read.parquet(o.data("full"))
    val cores = o.int("cores")

    // yesterday's warehouse for the daily pair; being the JVM's first
    // pipeline run, it also warms the JIT for the cold pair
    val base = Main.freshDir(o.work, "wh-daily-base")
    new RollupJob(base).run(spark0, spark0.read.parquet(o.data("daily_base")), "trace-base")

    // --- cold ------------------------------------------------------------
    val coldWh = Main.freshDir(o.work, "wh-cold-real")
    val coldJob = new RollupJob(coldWh)
    val (coldReal, coldWall) = timed(coldJob.run(spark0, full, "trace-cold"))
    pipeline(spark0, o, "cold", full, coldWall, Workloads.committed(coldReal), coldJob, 0, None)
    Main.deleteTree(Paths.get(coldWh))

    // --- daily -----------------------------------------------------------
    val dailyWh = Main.freshDir(o.work, "wh-daily-real")
    Main.copyTree(Paths.get(base), Paths.get(dailyWh))
    val day = o("last_day")
    val ((dailyReal, dailyDropped, dailyJob), dailyWall) = timed {
      val job = new RollupJob(dailyWh)
      val r = job.run(spark0, full, "trace-daily")
      (r, Main.retention(job, day), job)
    }
    pipeline(spark0, o, "daily", full, dailyWall, Workloads.committed(dailyReal), dailyJob,
      dailyDropped, Some(base -> day))

    // --- serve -----------------------------------------------------------
    serve(spark0, o, full)

    // --- local[1] baseline (report only) ---------------------------------
    spark0.stop()
    val spark1 = Main.session(1, o.work)
    try {
      val (_, wall1) = timed(new RollupJob(Main.freshDir(o.work, "wh-cold-1"))
        .run(spark1, spark1.read.parquet(o.data("full")), "trace-cold-1"))
      layer("cold.jobs.local1_wall_s", wall1, "s")
      layer("cold.jobs.scaling_eff_1_to_n", wall1 / (cores * coldWall), "ratio")
    } finally spark1.stop()
  }

  /** Replay one pipeline run traced, check it committed what the real
    * run did, and emit its layer metrics under `prefix`.
    */
  private def pipeline(spark: SparkSession, o: Opts, prefix: String, input: DataFrame,
      realWall: Double, real: Map[String, Seq[Long]], realJob: RollupJob, realDropped: Int,
      daily: Option[(String, String)]): Unit = {
    val t = new Tracer(spark)
    val wh = Main.freshDir(o.work, s"wh-$prefix-replay")
    daily.foreach { case (base, _) => Main.copyTree(Paths.get(base), Paths.get(wh)) }
    val out = Replay.run(t, spark, wh, input, s"replay-$prefix", daily.map(_._2))
    t.close()
    val root = t.root("jobs.run")
    Checks.Result(s"${prefix}_replay_commits", out.committed == real && out.dropped == realDropped,
      s"replay ${out.committed.toSeq.sortBy(_._1).mkString(" ")} dropped ${out.dropped}; " +
        s"real ${real.toSeq.sortBy(_._1).mkString(" ")} dropped $realDropped").emit()

    def secs(name: String): Double = t.named(name, root).map(_.seconds).sum
    def self(name: String): Double = t.named(name, root).map(t.selfSeconds).sum
    def counters(names: String*) = t.counters(names.flatMap(t.named(_, root)))
    def l(name: String, v: Double, unit: String): Unit = layer(s"$prefix.$name", v, unit)

    val writeNames = Seq("1m" -> "rollup.agg_1m", "1h" -> "rollup.cascade_1h",
      "1d" -> "rollup.cascade_1d", "blocks_1h" -> "codec.blocks")
    val computeSpans = writeNames.map(_._2)
    // a tier's own write cost: its write span minus the computation it repeats
    val netWrite = writeNames.map { case (tier, compute) =>
      tier -> math.max(0.0, self(s"table.write_$tier") - secs(compute))
    }.toMap
    val traced = root.seconds
    val accounted = Seq("jobs.plan", "ingest.validate", "state.read", "state.commit",
      "table.read", "table.rowcount", "retention.expire").map(self).sum +
      computeSpans.map(secs).sum + netWrite.values.sum

    l("jobs.wall_s", realWall, "s")
    l("jobs.traced_s", traced, "s")
    l("jobs.replay_overhead_s", traced - realWall, "s")
    l("jobs.self_time_coverage", accounted / realWall, "ratio")
    l("jobs.plan_s", self("jobs.plan"), "s")
    l("jobs.target_partitions", out.targets.toDouble, "count")
    l("jobs.dirty_partitions", out.dirty.toDouble, "count")
    l("jobs.retry_rows", realJob.state.lineage.count(_.status == "RETRY").toDouble, "count")
    l("ingest.rows_in", out.rowsIn.toDouble, "count")
    l("ingest.rows_rejected", out.rowsRejected.toDouble, "count")

    val agg = counters("rollup.agg_1m")
    l("rollup.agg_1m_s", secs("rollup.agg_1m"), "s")
    l("rollup.agg_1m_shuffle_bytes", agg.shuffleWrite.toDouble, "bytes")
    l("rollup.agg_1m_combine_ratio",
      out.rowsIn.toDouble / math.max(1L, out.committed("1m").head), "ratio")
    l("rollup.agg_1m_spill_bytes", agg.spill.toDouble, "bytes")
    l("rollup.agg_1m_task_skew", t.skew(agg), "ratio")
    l("rollup.cascade_1h_s", secs("rollup.cascade_1h"), "s")
    l("rollup.cascade_1d_s", secs("rollup.cascade_1d"), "s")
    l("rollup.cascade_read_bytes",
      counters("rollup.cascade_1h", "rollup.cascade_1d").inputBytes.toDouble, "bytes")

    l("codec.blocks_s", secs("codec.blocks"), "s")
    val blockBytes =
      realJob.blocksTable(Tier.H1).currentManifest.toSeq.flatMap(_.files).map(_.bytes).sum
    l("codec.bytes_per_point", blockBytes.toDouble / math.max(1L, out.rowsIn), "bytes")

    netWrite.foreach { case (tier, s) => l(s"table.write_${tier.stripSuffix("_1h")}_s", s, "s") }
    l("table.files_written", out.filesWritten.toDouble, "count")
    l("table.bytes_written", out.bytesWritten.toDouble, "bytes")
    l("table.bytes_rewritten", out.bytesRewritten.toDouble, "bytes")
    l("table.rowcount_ms", secs("table.rowcount") * 1e3, "ms")

    l("state.read_ms", secs("state.read") * 1e3, "ms")
    l("state.commit_ms", secs("state.commit") * 1e3, "ms")
    l("state.files", stateFiles(wh).toDouble, "count")

    if (daily.nonEmpty) {
      l("retention.expire_ms", secs("retention.expire") * 1e3, "ms")
      l("retention.partitions_dropped", out.dropped.toDouble, "count")
      l("retention.files_deleted", out.filesDeleted.toDouble, "count")
    }

    val writes = writeNames.map(w => s"table.write_${w._1}")
    Seq("agg_1m" -> Seq("rollup.agg_1m"),
      "cascade" -> Seq("rollup.cascade_1h", "rollup.cascade_1d"),
      "blocks" -> Seq("codec.blocks"), "write" -> writes).foreach { case (span, names) =>
      val c = counters(names: _*)
      l(s"$span.task_cpu_s", c.cpuNs / 1e9, "s")
      l(s"$span.gc_s", c.gcMs / 1e3, "s")
      l(s"$span.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes")
      l(s"$span.spill_bytes", c.spill.toDouble, "bytes")
    }
    Main.deleteTree(Paths.get(wh))
  }

  private def stateFiles(wh: String): Long = {
    val s = Files.walk(Paths.get(wh, "_state"))
    try s.filter(Files.isRegularFile(_)).count() finally s.close()
  }

  private object Scans extends AdaptiveSparkPlanHelper

  /** Traced stitch queries over the lagging warehouse. */
  private def serve(spark: SparkSession, o: Opts, full: DataFrame): Unit = {
    val job = Workloads.serveWarehouse(spark, o)
    val pool = Workloads.rangePool(o)
    val picks = Ranges.picks(o("seed").toLong, pool.size)
    val warmups = Ranges.picks(o("seed").toLong + 1, pool.size)
    (0 until o.int("warmup")).foreach(_ => Workloads.stitch(spark, job, full, pool(warmups.next())))
    val rawRoot = Paths.get(o.data("full")).toUri.getPath.stripSuffix("/")
    val t = new Tracer(spark)
    val tables = Tier.cascade.map(job.tierTable)
    final case class Q(r: Ranges.Range, digest: String, files: Long, rawRows: Long)
    val qs = t.span("serve.queries")((0 until o.int("queries")).map { _ =>
      val r = pool(picks.next())
      // what the stitch call does first, timed on its own: read every
      // checkpoint, and plan the three tier tables' files for the range
      t.span("state.read")(job.state.checkpoints)
      val to = java.time.LocalDateTime.parse(r.to.replace(' ', 'T'))
      val days = Iterator.iterate(java.time.LocalDate.parse(r.from.take(10)))(_.plusDays(1))
        .takeWhile(_.atStartOfDay.isBefore(to)).map(_.toString).toSet
      t.span("table.plan_files")(tables.foreach(_.planFiles(Some(days))))
      val df = t.span("rollup.stitch_plan")(graft.rollup.Rollup.stitchRangeServing(
        spark, tables(0), tables(1), tables(2), job.state, full, r.from, r.to))
      val rows = t.span("rollup.stitch_exec")(df.collect().toSeq)
      val scans = Scans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      val (raw, stored) = scans.partition(_.relation.location.rootPaths.exists(
        _.toUri.getPath.stripSuffix("/") == rawRoot))
      def metric(s: FileSourceScanExec, m: String) = s.metrics.get(m).map(_.value).getOrElse(0L)
      Q(r, Checks.digest(rows), stored.map(metric(_, "numFiles")).sum,
        raw.map(metric(_, "numOutputRows")).sum)
    })
    t.close()
    val rawAnswers = Checks.rawAnswers(spark, full, qs.map(_.r).distinct)
    Checks.Result("serve_stitch_vs_raw", qs.forall(q => rawAnswers(q.r) == q.digest),
      s"${qs.size} traced answers over ${rawAnswers.size} distinct ranges").emit()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val root = t.root("serve.queries")
    def medianMs(span: String) = median(t.named(span, root).map(_.seconds * 1e3))
    layer("serve.queries", qs.size.toDouble, "count")
    layer("serve.rollup.stitch_plan_ms", medianMs("rollup.stitch_plan"), "ms")
    layer("serve.rollup.stitch_exec_ms", medianMs("rollup.stitch_exec"), "ms")
    layer("serve.rollup.stitch_raw_rows", qs.map(_.rawRows).sum.toDouble / qs.size, "count")
    layer("serve.table.plan_files_ms", medianMs("table.plan_files"), "ms")
    layer("serve.table.files_read", median(qs.map(_.files.toDouble)), "count")
    layer("serve.state.read_ms", medianMs("state.read"), "ms")
    layer("serve.state.files", stateFiles(Paths.get(o.work, "wh-serve").toString).toDouble, "count")
    val c = t.counters(t.named("rollup.stitch_exec", root))
    layer("serve.stitch.task_cpu_s", c.cpuNs / 1e9 / qs.size, "s")
    layer("serve.stitch.gc_s", c.gcMs / 1e3 / qs.size, "s")
    layer("serve.stitch.shuffle_write_bytes", c.shuffleWrite.toDouble / qs.size, "bytes")
    layer("serve.stitch.spill_bytes", c.spill.toDouble / qs.size, "bytes")
  }
}
