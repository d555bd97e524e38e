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

  test("stitchRangeServing over a fully built warehouse gives the stored answer") {
    // the horizon lies past the range, so serving mode degenerates to
    // the stored mode: both equal the recompute over raw
    val (a, b) = ("2024-01-04 05:06:07", "2024-01-20 10:11:12")
    val served = Rollup.stitchRangeServing(spark,
      new graft.table.SnapshotTable(s"$storedWh/rollup_1m"),
      new graft.table.SnapshotTable(s"$storedWh/rollup_1h"),
      new graft.table.SnapshotTable(s"$storedWh/rollup_1d"),
      new graft.state.StateStore(s"$storedWh/_state"),
      turns, a, b)
    assertSameRows(served, storedStitch(a, b))
    assertSameRows(served, Rollup.stitchRange(turns, a, b))
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
  private def serving(lo: String, hi: String, input: DataFrame = turns): DataFrame =
    Rollup.stitchRangeServing(spark,
      new graft.table.SnapshotTable(s"$lagWh/rollup_1m"),
      new graft.table.SnapshotTable(s"$lagWh/rollup_1h"),
      new graft.table.SnapshotTable(s"$lagWh/rollup_1d"),
      new graft.state.StateStore(s"$lagWh/_state"),
      input, lo, hi)

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

  test("stitchRangeServing plan: a ragged range across the horizon derives raw once") {
    // the sub-minute edge at `from` and the live tail share one raw pass;
    // every other leaf is a tier file scan
    val df = serving("2024-01-03 07:41:23", "2024-01-27 18:22:05")
    val plan = df.queryExecution.sparkPlan
    val rawLeaves = plan.collectLeaves().filterNot(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(rawLeaves.size == 1, s"expected one raw leaf:\n$plan")
  }

  test("stitchRangeServing starts no Spark job until collect") {
    val (lo, hi) = ("2024-01-03 07:41:23", "2024-01-20 18:22:05")
    assert(lagWh.nonEmpty) // build the warehouse outside the probe
    val (df, jobs) = jobsStarted(serving(lo, hi))
    assert(jobs == 0, s"the lazy serving call started $jobs job(s)")
    assertSameRows(df, direct(lo, hi))
  }

  /** The executed plan's nodes, inside AQE's final plan and its stages. */
  private def executedNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    object Nodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Nodes.collect(df.queryExecution.executedPlan) { case p => p }
  }
  private def exchanges(df: DataFrame) = executedNodes(df).collect {
    case e: org.apache.spark.sql.execution.exchange.Exchange => e
  }

  /** [[Rollup.stitchRangeServing]] over `storedWh` for a range whose
    * days are all closed there, so the answer is tier rows only. Synth
    * leaves quiet days open (no checkpoint), and an open day would put
    * a raw tail into the range.
    */
  private def closedServing(a: String, b: String): DataFrame = {
    val state = new graft.state.StateStore(s"$storedWh/_state")
    val cps = state.checkpoints
    val closed = Seq("1m", "1h", "1d").map(state.completedPartitions(_, cps)).reduce(_ intersect _)
    val days = Iterator.iterate(LocalDateTime.parse(a.replace(' ', 'T')).toLocalDate)(_.plusDays(1))
      .takeWhile(_.atStartOfDay.isBefore(LocalDateTime.parse(b.replace(' ', 'T')))).toSeq
    assert(days.forall(d => closed(d.toString)), s"[$a, $b) needs closed days; closed: ${closed.toSeq.sorted}")
    Rollup.stitchRangeServing(spark,
      new graft.table.SnapshotTable(s"$storedWh/rollup_1m"),
      new graft.table.SnapshotTable(s"$storedWh/rollup_1h"),
      new graft.table.SnapshotTable(s"$storedWh/rollup_1d"),
      state, turns, a, b)
  }

  test("stitchRangeServing: an aligned range runs ONE job, with no exchange") {
    // closed days, minute-aligned ends: tier rows only, merged in one
    // partition — no shuffle, so no map-stage job for AQE to split off
    assert(storedWh.nonEmpty) // build the warehouse outside the probe
    val (a, b) = ("2024-01-02 03:10:00", "2024-01-04 07:00:00")
    val df = closedServing(a, b)
    val (rows, jobs) = jobsStarted(df.collect())
    assert(jobs == 1, s"an aligned range started $jobs jobs:\n${df.queryExecution.executedPlan}")
    assert(exchanges(df).isEmpty, s"an aligned range must not shuffle:\n${df.queryExecution.executedPlan}")
    // AQE still wraps the plan (Spark applies it to any plan whose
    // aggregate requires a distribution), but with no exchange its only
    // stage is the result stage: nothing runs before it to re-plan on
    val stages = executedNodes(df).collect {
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => s.getClass.getSimpleName
    }
    assert(stages == Seq("ResultQueryStageExec"),
      s"an aligned range leaves AQE nothing to re-plan:\n${df.queryExecution.executedPlan}")
    assertSameRows(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), direct(a, b))
  }

  test("stitchRangeServing: an aligned range above Spark's smallest split keeps its exchange") {
    // the one-partition merge holds only for a prefix that fits the
    // smallest split Spark's scan ever makes, min(openCostInBytes,
    // maxPartitionBytes): at exactly the prefix's bytes it merges in one
    // partition; one byte less and the merge exchanges. One minimum scan
    // partition makes the split size Spark picks for these files their
    // bytes plus every file's open cost, more than the prefix: the bound
    // must not follow that
    val (a, b) = ("2024-01-02 03:10:00", "2024-01-04 07:00:00")
    val bytes = closedServing(a, b).inputFiles
      .map(u => new java.io.File(new java.net.URI(u)).length).sum
    val keys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    val minParts = "spark.sql.files.minPartitionNum"
    val saved = (keys :+ minParts).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(minParts, "1")
      for (k <- keys; (v, shuffles) <- Seq(bytes -> false, (bytes - 1) -> true)) {
        keys.foreach(spark.conf.unset)
        spark.conf.set(k, v.toString)
        val df = closedServing(a, b)
        val rows = df.collect()
        assert(exchanges(df).nonEmpty == shuffles,
          s"$k=$v, prefix $bytes bytes:\n${df.queryExecution.executedPlan}")
        assertSameRows(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), direct(a, b))
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("stitchRangeServing: ragged and horizon-crossing ranges keep their exchange plans") {
    // a raw part's turns enter the per-conversation merge as per-turn
    // partials, so that merge's exchange is the plan's only one, whether
    // the raw input is cached or read from parquet
    val dir = tmpDir("stitch-turns-parquet")
    turns.write.mode("overwrite").parquet(dir)
    val ranges = Seq(
      ("2024-01-04 07:41:23", "2024-01-09 18:22:05"), // ragged, closed days
      ("2024-01-10 00:00:00", "2024-01-20 00:00:00")) // crosses the horizon
    for (input <- Seq(turns, spark.read.parquet(dir)); (a, b) <- ranges) {
      val df = serving(a, b, input)
      val rows = df.collect()
      assert(exchanges(df).size == 1,
        s"[$a, $b) must merge through exactly one exchange:\n${df.queryExecution.executedPlan}")
      assertSameRows(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), direct(a, b))
    }
  }

  test("stitchRangeServing: a second aligned range compiles no new class") {
    // the tier filters hold their spans as reference objects, not
    // literals, so two ranges over the same tiers share generated code
    closedServing("2024-01-02 03:10:00", "2024-01-04 07:00:00").collect()
    val (a, b) = ("2024-01-12 05:01:00", "2024-01-14 22:59:00")
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val df = closedServing(a, b)
    val rows = df.collect()
    assert(compiles.getCount == before,
      s"the second range compiled ${compiles.getCount - before} class(es)")
    assertSameRows(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), direct(a, b))
  }

  test("span predicate selects exactly what the literal OR-chain selects") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    val t0 = LocalDateTime.parse("2024-01-01T00:00:00")
    val t0us = t0.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val windowS = 3L * 86400
    val gen = for {
      k <- Gen.choose(1, 3)
      // 2k distinct whole seconds, paired in order: disjoint spans
      cuts <- Gen.listOfN(4 * k, Gen.choose(0L, windowS)).map(_.distinct.sorted.take(2 * k))
      if cuts.size == 2 * k
      spans = cuts.grouped(2).map(p => (t0.plusSeconds(p(0)), t0.plusSeconds(p(1)))).toSeq
      edges = spans.flatMap(s => Seq(s._1, s._2))
        .map(t => t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
      ts <- Gen.listOfN(120, Gen.frequency(
        6 -> Gen.choose(t0us - 3600L * 1000000L, t0us + (windowS + 3600) * 1000000L).map(Option(_)),
        3 -> Gen.oneOf(edges).flatMap(e => Gen.oneOf(e - 1, e, e + 1)).map(Option(_)),
        1 -> Gen.const(Option.empty[Long])))
    } yield (spans, ts)
    def external(us: Long, dt: DataType): Any = dt match {
      case TimestampType => java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
      case _ => LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC)
    }
    val modes = Seq(
      Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "true"),
      Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"))
    val saved = modes.head.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      new graft.PropHelpers {}.forAllN(gen, n = 12) { case (spans, ts) =>
        for (dt <- Seq(TimestampType, TimestampNTZType); mode <- modes) {
          mode.foreach { case (k, v) => spark.conf.set(k, v) }
          val schema = StructType(Seq(StructField("id", IntegerType), StructField("ts", dt)))
          // an RDD source, so the optimizer cannot fold the predicates
          val df = spark.createDataFrame(spark.sparkContext.parallelize(
            ts.zipWithIndex.map { case (v, i) => Row(i, v.map(external(_, dt)).orNull) }, 2),
            schema)
          val native = Rollup.inSpans("ts", spans)
          // the reference: the OR of `lo <= ts < hi` over literal bounds
          // cast to the column's own flavor
          def bound(t: LocalDateTime) = lit(t.format(Rollup.stitchFmt)).cast(dt)
          val literal = spans.map { case (lo, hi) =>
            col("ts") >= bound(lo) && col("ts") < bound(hi)
          }.reduce(_ || _)
          def opt(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getBoolean(i))
          val both = df.select(col("id"), native, literal).collect()
            .map(r => (r.getInt(0), opt(r, 1), opt(r, 2)))
          both.foreach { case (i, n, l) =>
            assert(n == l, s"$dt $mode row $i (${ts(i)}): native $n, literal $l, spans $spans")
          }
          val kept = df.filter(native).collect().map(_.getInt(0)).sorted.toSeq
          assert(kept == df.filter(literal).collect().map(_.getInt(0)).sorted.toSeq,
            s"$dt $mode spans $spans")
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
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
