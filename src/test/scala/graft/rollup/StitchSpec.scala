package graft.rollup

import graft.SparkTestBase
import graft.ingest.Synth
import java.time.LocalDateTime
import java.time.temporal.ChronoUnit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tier-stitch range queries ([[Rollup.rangeSlices]] /
  * [[Rollup.stitchRange]]): the ladder decomposition is exact (cover /
  * order / alignment / bounded slice counts) and the stitched answer
  * equals direct aggregation of raw turns over the range — for ragged,
  * aligned, sub-minute, and empty ranges.
  */
class StitchSpec extends SparkTestBase {

  private lazy val turns = Synth.transcripts(
    spark, nConvs = 30, avgTurns = 50, seed = 11L, hotConvs = 1, hotFactor = 30)
    .toDF().cache()

  /** The q140 oracle's semantics in Spark: aggregate raw directly. */
  private def direct(lo: String, hi: String): DataFrame = {
    val tsType = turns.schema("ts").dataType
    val f = turns.filter(
      col("ts") >= lit(lo).cast(tsType) && col("ts") < lit(hi).cast(tsType))
    f.withColumn("char_len", length(col("text")).cast("long"))
      .withColumn("tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("turn_count"),
        count_if(col("role") === "user").as("user_turns"),
        count_if(col("role") === "assistant").as("assistant_turns"),
        count(col("tool")).as("tool_calls"),
        sum(col("char_len")).as("char_len_sum"),
        min(col("char_len")).as("char_len_min"),
        max(col("char_len")).as("char_len_max"),
        sum(col("tokens")).as("token_sum"),
        min(col("turn_idx")).as("min_turn_idx"),
        max(col("turn_idx")).as("max_turn_idx"),
        min_by(col("text"), col("turn_idx")).as("first_text"),
        max_by(col("text"), col("turn_idx")).as("last_text"))
      .withColumn("char_len_avg",
        col("char_len_sum") * lit(1.0) / col("turn_count"))
  }

  test("rangeSlices: hand-checked ladder for the q140 ragged range") {
    val s = Rollup.rangeSlices(
      LocalDateTime.parse("2024-01-03T07:41:23"),
      LocalDateTime.parse("2024-01-27T18:22:05"))
    def t(x: String) = LocalDateTime.parse(x)
    assert(s == Seq(
      ("raw", t("2024-01-03T07:41:23"), t("2024-01-03T07:42:00")),
      ("1m", t("2024-01-03T07:42:00"), t("2024-01-03T08:00:00")),
      ("1h", t("2024-01-03T08:00:00"), t("2024-01-04T00:00:00")),
      ("1d", t("2024-01-04T00:00:00"), t("2024-01-27T00:00:00")),
      ("1h", t("2024-01-27T00:00:00"), t("2024-01-27T18:00:00")),
      ("1m", t("2024-01-27T18:00:00"), t("2024-01-27T18:22:00")),
      ("raw", t("2024-01-27T18:22:00"), t("2024-01-27T18:22:05"))))
  }

  test("rangeSlices: no-whole-day range never emits a misaligned tier slice") {
    val s = Rollup.rangeSlices(
      LocalDateTime.parse("2024-01-05T23:10:30"),
      LocalDateTime.parse("2024-01-06T01:50:00"))
    def t(x: String) = LocalDateTime.parse(x)
    assert(s == Seq(
      ("raw", t("2024-01-05T23:10:30"), t("2024-01-05T23:11:00")),
      ("1m", t("2024-01-05T23:11:00"), t("2024-01-06T00:00:00")),
      ("1h", t("2024-01-06T00:00:00"), t("2024-01-06T01:00:00")),
      ("1m", t("2024-01-06T01:00:00"), t("2024-01-06T01:50:00"))))
  }

  test("rangeSlices properties: cover, order, alignment, bounded counts") {
    val unitOf = Map("1m" -> ChronoUnit.MINUTES, "1h" -> ChronoUnit.HOURS,
      "1d" -> ChronoUnit.DAYS)
    val ranges = Seq(
      ("2024-01-03T07:41:23", "2024-01-27T18:22:05"),
      ("2024-01-01T00:00:00", "2024-01-31T00:00:00"), // fully day-aligned
      ("2024-01-10T00:00:00", "2024-01-10T00:00:41"), // sub-minute, aligned lo
      ("2024-01-10T13:59:59", "2024-01-10T14:00:01"), // raw straddling an hour
      ("2024-01-05T23:10:30", "2024-01-06T01:50:00"),
      ("2024-01-10T06:30:00", "2024-01-10T06:30:00"), // empty
      ("2023-12-31T23:59:59", "2024-02-01T00:00:01"))
    for ((a, b) <- ranges) {
      val lo = LocalDateTime.parse(a); val hi = LocalDateTime.parse(b)
      val s = Rollup.rangeSlices(lo, hi)
      if (lo == hi) assert(s.isEmpty)
      else {
        assert(s.head._2 == lo && s.last._3 == hi, s"cover fails for [$a,$b)")
        s.sliding(2).foreach {
          case Seq((_, _, h1), (_, l2, _)) => assert(h1 == l2, s"gap in [$a,$b)")
          case _ =>
        }
        s.foreach { case (tier, l, h) =>
          assert(l.isBefore(h), s"empty slice $tier in [$a,$b)")
          unitOf.get(tier).foreach { u =>
            assert(l.truncatedTo(u) == l && h.truncatedTo(u) == h,
              s"misaligned $tier slice [$l,$h) in [$a,$b)")
          }
        }
        val n = s.groupBy(_._1).view.mapValues(_.size).toMap
        assert(n.getOrElse("raw", 0) <= 2 && n.getOrElse("1m", 0) <= 2 &&
          n.getOrElse("1h", 0) <= 2 && n.getOrElse("1d", 0) <= 1,
          s"slice counts $n for [$a,$b)")
      }
    }
  }

  test("stitchRange equals direct raw aggregation on every range shape") {
    val ranges = Seq(
      ("2024-01-03 07:41:23", "2024-01-27 18:22:05"),
      ("2024-01-02 00:00:00", "2024-01-29 00:00:00"),
      ("2024-01-10 00:00:00", "2024-01-10 00:00:41"),
      ("2024-01-10 13:59:59", "2024-01-10 14:00:01"),
      ("2024-01-05 23:10:30", "2024-01-06 01:50:00"))
    for ((a, b) <- ranges) {
      val st = Rollup.stitchRange(turns, a, b)
      assertSameRows(st, direct(a, b))
    }
  }

  test("stitchRange: fractional-second boundaries are rejected, not truncated") {
    val e = intercept[IllegalArgumentException] {
      Rollup.stitchRange(turns, "2024-01-03 07:41:23.500", "2024-01-04 00:00:00")
    }
    assert(e.getMessage.contains("whole seconds"), e.getMessage)
  }

  // ---- stored-tier mode ---------------------------------------------------

  /** Warehouse built ONCE for the stored-mode tests: the full
    * RollupJob pipeline commits rollup_1m/1h/1d SnapshotTables over
    * `turns`, and stitchRangeStored serves ranges from them.
    */
  private lazy val storedWh: String = {
    val wh = tmpDir("stitch-stored-wh")
    new graft.jobs.RollupJob(wh).run(spark, turns, "stitch-spec-build")
    wh
  }
  private def storedStitch(lo: String, hi: String): DataFrame =
    Rollup.stitchRangeStored(spark,
      new graft.table.SnapshotTable(s"$storedWh/rollup_1m"),
      new graft.table.SnapshotTable(s"$storedWh/rollup_1h"),
      new graft.table.SnapshotTable(s"$storedWh/rollup_1d"),
      turns, lo, hi)

  test("stitchRangeStored equals direct raw aggregation on every range shape") {
    val ranges = Seq(
      ("2024-01-03 07:41:23", "2024-01-27 18:22:05"),
      ("2024-01-02 00:00:00", "2024-01-29 00:00:00"),
      ("2024-01-10 00:00:00", "2024-01-10 00:00:41"),
      ("2024-01-10 13:59:59", "2024-01-10 14:00:01"),
      ("2024-01-05 23:10:30", "2024-01-06 01:50:00"))
    for ((a, b) <- ranges)
      assertSameRows(storedStitch(a, b), direct(a, b))
  }

  test("stitchRangeStored plan: aligned range reads ONLY pruned 1d files, zero raw") {
    // whole-day-aligned range → a single 1d slice; the raw input (an
    // in-memory frame here) must not appear in the plan at all, and
    // the manifest must have pruned the parquet scan to exactly the
    // two in-range day partitions of rollup_1d
    val df = storedStitch("2024-01-04 00:00:00", "2024-01-06 00:00:00")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val files = scans.flatMap(_.relation.location.inputFiles)
    assert(files.nonEmpty, "expected parquet reads of the stored 1d tier")
    assert(files.forall(_.contains("rollup_1d")),
      s"aligned whole-day range must be served from 1d only:\n${files.mkString("\n")}")
    assert(files.forall(f => f.contains("p=2024-01-04") || f.contains("p=2024-01-05")),
      s"manifest pruning must keep only in-range day partitions:\n${files.mkString("\n")}")
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("LocalTableScan") && !plan.contains("InMemoryTableScan")
      && !plan.contains("ExistingRDD"),
      s"raw input must not be scanned for an aligned range:\n$plan")
  }

  test("stitchRangeStored plan: ragged range touches raw ONLY at the sub-minute edges") {
    val df = storedStitch("2024-01-03 07:41:23", "2024-01-27 18:22:05")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val files = scans.flatMap(_.relation.location.inputFiles)
    // all three tiers contribute; every scanned file is a tier file
    assert(files.exists(_.contains("rollup_1d")) &&
      files.exists(_.contains("rollup_1h")) && files.exists(_.contains("rollup_1m")),
      s"expected all three tier tables in the scan set:\n${files.mkString("\n")}")
    assert(files.forall(f => f.contains("rollup_1")),
      s"only tier files may be scanned from disk:\n${files.mkString("\n")}")
    // the ladder has two 1h and two 1m slices, yet each tier table is
    // scanned ONCE: a tier's slices share one read
    val byTier = scans.groupBy { s =>
      val tiers = s.relation.location.inputFiles
        .flatMap(f => "rollup_(1[mhd])".r.findFirstMatchIn(f).map(_.group(1))).toSet
      assert(tiers.size == 1, s"a scan spans tiers $tiers")
      tiers.head
    }
    assert(byTier.keySet == Set("1m", "1h", "1d") && byTier.values.forall(_.size == 1),
      s"scans per tier: ${byTier.view.mapValues(_.size).toMap}")
    // the 1m scan prunes to the two edge days
    val dayRe = "p=(\\d{4}-\\d{2}-\\d{2})".r
    val m1Days = byTier("1m").head.relation.location.inputFiles
      .flatMap(f => dayRe.findFirstMatchIn(f).map(_.group(1))).toSet
    assert(m1Days == Set("2024-01-03", "2024-01-27"),
      s"1m reads must prune to the edge days: $m1Days")
  }

  // ---- serving mode (lagging warehouse + live raw tail) -------------------

  /** Warehouse built from input TRUNCATED at Jan 15: days up to Jan 13
    * are CLOSED (Jan 14 holds the watermark, IN_PROGRESS), everything
    * later is absent — the lag shape stitchRangeServing must hide.
    */
  private lazy val lagWh: String = {
    val wh = tmpDir("stitch-serving-wh")
    val tsType = turns.schema("ts").dataType
    new graft.jobs.RollupJob(wh).run(spark,
      turns.filter(col("ts") < lit("2024-01-15 00:00:00").cast(tsType)),
      "stitch-serving-build")
    wh
  }
  private def serving(lo: String, hi: String): DataFrame =
    Rollup.stitchRangeServing(spark,
      new graft.table.SnapshotTable(s"$lagWh/rollup_1m"),
      new graft.table.SnapshotTable(s"$lagWh/rollup_1h"),
      new graft.table.SnapshotTable(s"$lagWh/rollup_1d"),
      new graft.state.StateStore(s"$lagWh/_state"),
      turns, lo, hi)

  test("stitchRangeServing equals direct aggregation across the horizon") {
    val ranges = Seq(
      // spans the horizon: stored prefix + raw tail
      ("2024-01-03 07:41:23", "2024-01-27 18:22:05"),
      // entirely CLOSED: stored only
      ("2024-01-04 00:00:00", "2024-01-12 06:30:15"),
      // entirely past the horizon: raw only
      ("2024-01-16 03:10:00", "2024-01-25 12:00:00"),
      // starts ON the open boundary day (Jan 14 is IN_PROGRESS)
      ("2024-01-14 00:00:00", "2024-01-20 00:00:00"))
    for ((a, b) <- ranges)
      assertSameRows(serving(a, b), direct(a, b))
  }

  test("stitchRangeServing plan: tier files only before the horizon, raw only after") {
    val df = serving("2024-01-04 00:00:00", "2024-01-20 00:00:00")
    val files = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.flatMap(_.relation.location.inputFiles)
    assert(files.nonEmpty, "stored prefix must read tier files")
    // every scanned file is a tier file from a CLOSED day (< Jan 14)
    assert(files.forall(_.contains("rollup_1")),
      s"only tier files may come from disk:\n${files.mkString("\n")}")
    val dayRe = "p=(\\d{4}-\\d{2}-\\d{2})".r
    val days = files.flatMap(f => dayRe.findFirstMatchIn(f).map(_.group(1)))
    assert(days.nonEmpty && days.forall(_ < "2024-01-14"),
      s"stored reads must stop at the serving horizon: ${days.distinct.sorted}")
    // the raw tail IS present (the in-memory turns frame)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("LocalTableScan")
      || plan.contains("ExistingRDD"),
      s"live tail must read raw transcripts:\n$plan")
  }

  test("stitchRangeServing starts no Spark job until collect") {
    val (lo, hi) = ("2024-01-03 07:41:23", "2024-01-20 18:22:05")
    assert(lagWh.nonEmpty) // build the warehouse outside the probe
    val (df, jobs) = jobsStarted(serving(lo, hi))
    assert(jobs == 0, s"the lazy serving call started $jobs job(s)")
    assertSameRows(df, direct(lo, hi))
  }

  test("stitchRangeServing: late row in a CLOSED day serves the committed answer until the job heals it") {
    // the continuous-aggregate consistency contract: a late arrival
    // into an already-closed day is invisible to the serving read
    // until the next RollupJob run recomputes the dirty day — the
    // read must NOT silently mix stale tier rows with the late raw row
    val wh = tmpDir("stitch-late-wh")
    val tsType = turns.schema("ts").dataType
    val base = turns.filter(col("ts") < lit("2024-01-10 00:00:00").cast(tsType))
    new graft.jobs.RollupJob(wh).run(spark, base, "late-build-1")
    val late = turns.sparkSession.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row("late-conv", 0, "user", "late text", null,
          java.sql.Timestamp.valueOf("2024-01-05 12:00:00"))),
      base.schema)
    val withLate = base.unionByName(late)
    def serve(raw: DataFrame) = Rollup.stitchRangeServing(spark,
      new graft.table.SnapshotTable(s"$wh/rollup_1m"),
      new graft.table.SnapshotTable(s"$wh/rollup_1h"),
      new graft.table.SnapshotTable(s"$wh/rollup_1d"),
      new graft.state.StateStore(s"$wh/_state"),
      raw, "2024-01-04 00:00:00", "2024-01-08 00:00:00")
    // before healing: the closed-day range serves the COMMITTED
    // answer (no late-conv row), even though raw already has it
    val stale = serve(withLate).collect()
    assert(!stale.exists(_.getString(0) == "late-conv"),
      "closed days must serve the committed snapshot, not mix in raw")
    // the healing run marks the day dirty (census moved) and
    // recomputes it; the same serving read now includes the late row
    new graft.jobs.RollupJob(wh).run(spark, withLate, "late-build-2")
    val healed = serve(withLate)
    assert(healed.collect().exists(_.getString(0) == "late-conv"))
    assertSameRows(healed,
      Rollup.stitchRange(withLate, "2024-01-04 00:00:00", "2024-01-08 00:00:00"))
  }

  test("stitchRange: empty range yields zero rows with the full schema") {
    val st = Rollup.stitchRange(turns, "2024-01-10 06:30:00", "2024-01-10 06:30:00")
    assert(st.columns.toSeq == Seq("conv_id", "turn_count", "user_turns",
      "assistant_turns", "tool_calls", "char_len_sum", "char_len_min",
      "char_len_max", "token_sum", "min_turn_idx", "max_turn_idx",
      "first_text", "last_text", "char_len_avg"))
    assert(st.count() == 0L)
  }
}
