package perfbench

import graft.jobs.RollupJob
import graft.model.Tier
import graft.rollup.Rollup
import java.nio.file.Paths
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The timed workloads. Each builds a warehouse in set-up (a `build`
  * record), then emits a `setup` record (seconds from JVM launch until
  * timing starts), one `op` record per timed operation, and `check`
  * records from the output checks that follow the timed region.
  */
object Workloads {
  import Main.{timed, Opts}

  /** What a pipeline run committed: rows and partitions per tier. */
  def committed(results: Seq[RollupJob#TierResult]): Map[String, Seq[Long]] =
    results.map(r => r.tier -> Seq(r.rows, r.partitions.size.toLong)).toMap

  /** A full `RollupJob.run` into the empty warehouse `dir`. As the
    * JVM's first pipeline run it is cold, like a nightly spark-submit's;
    * its wall time leaves as a `build` record.
    */
  def build(spark: SparkSession, dir: String, input: String, jobId: String): Unit = {
    val (_, wall) = timed(new RollupJob(dir).run(spark, spark.read.parquet(input), jobId))
    Emit.record("build", "build_s" -> wall)
  }

  /** The nightly cycle `RollupMain --retention-watermark` runs: a
    * resumed `RollupJob.run` over the full input against yesterday's
    * warehouse, then retention on every tier. Yesterday's warehouse is
    * built once, in set-up, and each cycle runs on a copy of it. The
    * first `warmup_cycles` cycles are untimed set-up: a production JVM
    * would have run cycles before, and the first one after a cold build
    * pays the incremental path's JIT and codegen warm-up. Each timed
    * cycle starts from a collected heap, so no cycle pays for the
    * garbage of the one before.
    */
  def daily(spark: SparkSession, o: Opts): Unit = {
    val full = spark.read.parquet(o.data("full"))
    val base = Main.freshDir(o.work, "wh-daily-base")
    build(spark, base, o.data("daily_base"), "bench-base")
    val watermark = o("last_day")
    def cycle(rep: Int) = {
      Main.deleteTree(Paths.get(o.work, s"wh-daily-${rep - 1}"))
      val dir = Main.freshDir(o.work, s"wh-daily-$rep")
      Main.copyTree(Paths.get(base), Paths.get(dir))
      val stolen0 = Main.hostStealS()
      val (out, wall) = timed {
        val job = new RollupJob(dir)
        val results = job.run(spark, full, "bench-daily")
        (results, Main.retention(job, watermark), job)
      }
      (out, wall, Main.hostStealS() - stolen0)
    }
    val warmups = o.int("warmup_cycles")
    require(warmups >= 1, "warmup_cycles= must be at least 1")
    // the first cycle's commits are the reference every timed cycle must repeat
    val ((firstResults, firstDropped, _), _, _) = cycle(0)
    val first = (committed(firstResults), firstDropped)
    (1 until warmups).foreach(cycle)
    Emit.record("setup", "setup_s" -> Main.sinceJvmStart())
    val deadline = System.nanoTime() + (o.int("seconds") * 1e9).toLong
    var reps = 0
    var last: RollupJob = null
    while (reps < o.int("min_ops") || System.nanoTime() < deadline) {
      System.gc()
      val ((results, dropped, job), wall, stolen) = cycle(warmups + reps)
      val done = committed(results)
      Emit.record("op", "wall_s" -> wall, "steal_s" -> stolen, "ok" -> (first == ((done, dropped))),
        "committed" -> done, "dropped" -> dropped,
        "stored_bytes" -> Main.storedBytes(job), "peak_rss_mb" -> Main.peakRssMb())
      last = job
      reps += 1
    }
    Checks.pipeline(spark, full, last, Some(watermark)).foreach(_.emit())
  }

  /** One stitch query, timed: the lazy `stitchRangeServing` call and
    * the `collect` that forces it.
    */
  def stitch(spark: SparkSession, job: RollupJob, input: DataFrame,
      r: Ranges.Range): (Seq[Row], Double) =
    timed(Rollup.stitchRangeServing(spark, job.tierTable(Tier.M1), job.tierTable(Tier.H1),
      job.tierTable(Tier.D1), job.state, input, r.from, r.to).collect().toSeq)

  /** The lagging serving warehouse: every day but the input's last
    * few, built by one `RollupJob.run`.
    */
  def serveWarehouse(spark: SparkSession, o: Opts): RollupJob = {
    val dir = Main.freshDir(o.work, "wh-serve")
    build(spark, dir, o.data("serve_lag"), "bench-serve")
    new RollupJob(dir)
  }

  def rangePool(o: Opts): Seq[Ranges.Range] =
    Ranges.pool(o("seed").toLong, LocalDate.parse(o("first_day")),
      LocalDate.parse(o("horizon")), LocalDate.parse(o("last_day")), o.int("ranges"))

  /** Closed loop, one client: each query is sent when the previous
    * answer has arrived. Timing starts after `warmup` queries.
    */
  def serve(spark: SparkSession, o: Opts): Unit = {
    val full = spark.read.parquet(o.data("full"))
    val job = serveWarehouse(spark, o)
    val pool = rangePool(o)
    val picks = Ranges.picks(o("seed").toLong, pool.size)
    val answers = scala.collection.mutable.ArrayBuffer[(Ranges.Range, String, Double, Boolean)]()
    val warmups = Ranges.picks(o("seed").toLong + 1, pool.size)
    def query(timedOp: Boolean): Unit = {
      val r = pool((if (timedOp) picks else warmups).next())
      val (ok, rows, wall) =
        try {
          val (rows, wall) = stitch(spark, job, full, r)
          (true, rows, wall)
        } catch { case e: Exception =>
          System.err.println(s"stitch [${r.from}, ${r.to}) failed: $e")
          (false, Seq.empty[Row], 0.0)
        }
      if (timedOp) answers += ((r, if (ok) Checks.digest(rows) else "", wall, ok))
    }
    (0 until o.int("warmup")).foreach(_ => query(timedOp = false))
    Emit.record("setup", "setup_s" -> Main.sinceJvmStart())
    val deadline = System.nanoTime() + (o.int("seconds") * 1e9).toLong
    val t0 = System.nanoTime()
    val stolen0 = Main.hostStealS()
    while (answers.size < o.int("min_ops") || System.nanoTime() < deadline) query(timedOp = true)
    val loop = Main.seconds(t0)
    val stolen = Main.hostStealS() - stolen0
    val rss = Main.peakRssMb()
    val raw = Checks.rawAnswers(spark, full, answers.map(_._1).distinct.toSeq)
    answers.foreach { case (r, d, wall, ok) =>
      Emit.record("op", "wall_s" -> wall, "range" -> r.kind, "ok" -> (ok && raw(r) == d))
    }
    Checks.Result("stitch_vs_raw", answers.forall { case (r, d, _, ok) => ok && raw(r) == d },
      s"${answers.size} answers over ${raw.size} distinct ranges").emit()
    Emit.record("serve", "loop_s" -> loop, "steal_s" -> stolen, "queries" -> answers.size,
      "stored_bytes" -> Main.storedBytes(job), "peak_rss_mb" -> rss)
  }
}
