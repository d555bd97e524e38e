package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ingest.Synth
import graft.rollup.Rollup

/** Specs for the round-4 timeseries additions: sliding (hopping)
  * window rollup, time-weighted average, and rolling z-score.
  */
class TimeseriesOpsSpec extends SparkTestBase {

  private lazy val turns = Synth.transcripts(
    spark, nConvs = 30, avgTurns = 50, seed = 11L).toDF().cache()

  // ---- sliding rollup ------------------------------------------------

  test("sliding: every turn lands in exactly window/slide overlapping windows") {
    val total = turns.filter(col("ts").isNotNull).count()
    val sumCounts = Rollup.sliding(turns)
      .agg(sum(col("turn_count"))).collect()(0).getLong(0)
    assert(sumCounts == 2 * total, s"expected ${2 * total}, got $sumCounts")
  }

  test("sliding equals a brute-force shifted-trunc expansion") {
    // independent construction: a turn at ts belongs to the hour windows
    // starting at trunc30(ts) and trunc30(ts) - 30m
    val us = unix_micros(col("ts").cast("timestamp"))
    val slideUs = 1800L * 1000000L
    val brute = turns
      .filter(col("ts").isNotNull)
      .withColumn("char_len", length(col("text")).cast("long"))
      .withColumn("k", explode(array(lit(0L), lit(1L))))
      .withColumn("window_start",
        // Synth turns carry LTZ timestamps, so window() yields LTZ here
        // (the driver parquet path is NTZ; type tracked, values equal)
        timestamp_micros(us - pmod(us, lit(slideUs)) - col("k") * slideUs))
      .groupBy(col("conv_id"), col("window_start"))
      .agg(
        count(lit(1)).as("turn_count"),
        count_if(col("role") === "user").as("user_turns"),
        count(col("tool")).as("tool_calls"),
        sum(col("char_len")).as("char_len_sum"))
      .withColumn("char_len_avg", col("char_len_sum") * lit(1.0) / col("turn_count"))
    assertSameRows(Rollup.sliding(turns), brute)
  }

  test("sliding with slide == window degenerates to the tumbling rollup") {
    import graft.model.Tier
    val slid = Rollup.sliding(turns, "1 hour", "1 hour")
    val tumb = Rollup.fromRaw(turns, Tier.H1).select(
      col("conv_id"), col("window_start"), col("turn_count"),
      col("user_turns"), col("tool_calls"), col("char_len_sum"), col("char_len_avg"))
    assertSameRows(slid, tumb)
  }

  // ---- time-weighted average ----------------------------------------

  private def turnsDf(rows: Seq[(String, Int, String, String, String, String)]) = {
    import spark.implicits._
    rows.map { case (c, i, r, x, tl, ts) =>
      (c, i, r, x, tl, if (ts == null) null else Timestamp.valueOf(ts))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  test("timeWeightedAvg golden values; last turn carries no weight") {
    // len 10 holds 10s, len 20 holds 30s, len 30 excluded (no successor)
    val df = turnsDf(Seq(
      ("A", 0, "user", "a" * 10, null, "2024-01-01 00:00:00"),
      ("A", 1, "assistant", "b" * 20, null, "2024-01-01 00:00:10"),
      ("A", 2, "user", "c" * 30, null, "2024-01-01 00:00:40")))
    val out = RefOps.timeWeightedAvg(df).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Double]("twa_char_len") == (10.0 * 10 + 20.0 * 30) / 40.0)
  }

  test("timeWeightedAvg: single-turn conv yields no row; same-instant conv yields NULL") {
    val df = turnsDf(Seq(
      ("ONE", 0, "user", "hello", null, "2024-01-01 00:00:00"),
      ("ZERO", 0, "user", "aa", null, "2024-01-01 00:00:00"),
      ("ZERO", 1, "user", "bbbb", null, "2024-01-01 00:00:00")))
    val out = RefOps.timeWeightedAvg(df).collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    assert(!out.contains("ONE"))
    assert(out("ZERO") == null) // dt sum 0 → NULL, never NaN
  }

  test("timeWeightedAvg survives year-scale gaps on large turns (no ANSI long overflow)") {
    // one product is 10000 chars × 40 years of µs ≈ 1.3e19 > Long.MAX;
    // the decimal sum path must stay exact where a long sum would throw
    val df = turnsDf(Seq(
      ("A", 0, "user", "a" * 10000, null, "1970-01-01 00:00:00"),
      ("A", 1, "user", "b" * 5, null, "2010-01-01 00:00:00"),
      ("A", 2, "user", "c", null, "2010-01-02 00:00:00")))
    val dt0 = BigInt(Timestamp.valueOf("2010-01-01 00:00:00").getTime) * 1000
    val dt1 = BigInt(86400L) * 1000000L
    val expected =
      (BigDecimal(dt0 * 10000 + dt1 * 5) / BigDecimal(dt0 + dt1)).toDouble
    val got = RefOps.timeWeightedAvg(df).collect()(0).getAs[Double]("twa_char_len")
    assert(math.abs(got - expected) < 1e-9 * expected)
  }

  test("timeWeightedAvg of a constant series is the constant") {
    val const = turns.filter(col("ts").isNotNull)
      .withColumn("text", lit("x" * 7))
    val out = RefOps.timeWeightedAvg(const)
      .filter(col("twa_char_len").isNotNull)
    assert(out.count() > 0)
    assert(out.filter(col("twa_char_len") =!= 7.0).count() == 0)
  }

  // ---- rolling z-score ----------------------------------------------

  test("rollingZscore: warm-up and zero-variance frames are NULL") {
    // 9 constant turns: frames reaching minPoints still have var 0
    val df = turnsDf((0 until 9).map(i =>
      ("C", i, "user", "xxxx", null, s"2024-01-01 00:00:0$i")))
    val out = RefOps.rollingZscore(df).collect()
    assert(out.length == 9)
    assert(out.forall(r => r.get(3) == null && r.get(4) == null))
  }

  test("rollingZscore golden value on a hand-computed frame") {
    // frame = 8 alternating lengths 2,4 (mean 3, sample var 8/7), then a spike
    val lens = Seq(2, 4, 2, 4, 2, 4, 2, 4, 40)
    val df = turnsDf(lens.zipWithIndex.map { case (n, i) =>
      ("C", i, "user", "x" * n, null, s"2024-01-01 00:00:${10 + i}")
    })
    val rows = RefOps.rollingZscore(df).collect()
      .map(r => r.getAs[Int]("turn_idx") -> r).toMap
    // warm-up: first minPoints frames are short
    (0 until 8).foreach(i => assert(rows(i).get(3) == null, s"turn $i"))
    val expected = (40.0 - 3.0) / math.sqrt(8.0 / 7.0)
    // output is round(z, 6) — compare against the unrounded value with
    // a tolerance wider than the quantization step
    assert(math.abs(rows(8).getAs[Double]("zscore") - expected) < 1e-5)
    assert(rows(8).getAs[Boolean]("is_anomaly"))
  }

  test("rollingZscore: frame excludes the current row (self-masking guard)") {
    // if the spike were inside its own frame the z-score would shrink;
    // verify against an explicit leave-self-out computation
    val lens = Seq(10, 14, 11, 15, 9, 13, 12, 16, 10, 14, 200)
    val df = turnsDf(lens.zipWithIndex.map { case (n, i) =>
      ("C", i, "user", "x" * n, null, s"2024-01-01 00:00:${10 + i}")
    })
    val frame = lens.take(10).map(_.toDouble)
    val mean = frame.sum / frame.length
    val varS = frame.map(v => (v - mean) * (v - mean)).sum / (frame.length - 1)
    val expected = (200.0 - mean) / math.sqrt(varS)
    val got = RefOps.rollingZscore(df).filter(col("turn_idx") === 10)
      .collect()(0).getAs[Double]("zscore")
    assert(math.abs(got - expected) < 1e-6)
  }

  test("timeWeightedAvg: a null-text sample is dropped and the prior turn holds across it") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "a" * 10, null, "2024-01-01 00:00:00"),
      ("A", 1, "user", null, null, "2024-01-01 00:00:10"), // missing sample
      ("A", 2, "user", "c" * 30, null, "2024-01-01 00:00:40")))
    // len 10 holds the FULL 40s (LOCF across the hole), len 30 excluded
    val got = RefOps.timeWeightedAvg(df).collect()(0).getAs[Double]("twa_char_len")
    assert(got == 10.0)
  }

  // ---- length-drift correlation -------------------------------------

  test("lengthDriftCorr drops null-length observations whole (no moment mixing)") {
    // y = 10 + 10x plus a trailing null row: r must stay exactly 1,
    // not a moments-over-different-row-sets artifact
    val df = turnsDf(
      (0 until 4).map(i => ("LIN", i, "user", "x" * (10 + 10 * i), null: String,
        s"2024-01-01 00:00:0$i")) :+
      ("LIN", 4, "user", null, null, "2024-01-01 00:00:04"))
    val out = RefOps.lengthDriftCorr(df).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n") == 4L)
    assert(out(0).getAs[Double]("drift_corr") == 1.0)
  }

  test("lengthDriftCorr: perfect and degenerate correlations") {
    val df = turnsDf(
      // LIN: y = 10 + 3x → r = 1; ANTI: y = 40 - 2x → r = -1
      (0 until 5).map(i => ("LIN", i, "user", "x" * (10 + 3 * i), null: String,
        s"2024-01-01 00:00:0$i")) ++
      (0 until 5).map(i => ("ANTI", i, "user", "x" * (40 - 2 * i), null: String,
        s"2024-01-01 00:00:0$i")) ++
      // CONST: zero variance on y → NULL; TWO: n < 3 → NULL
      (0 until 4).map(i => ("CONST", i, "user", "xxx", null: String,
        s"2024-01-01 00:00:0$i")) ++
      (0 until 2).map(i => ("TWO", i, "user", "x" * (i + 1), null: String,
        s"2024-01-01 00:00:0$i")))
    val out = RefOps.lengthDriftCorr(df).collect()
      .map(r => r.getString(0) -> Option(r.get(2))).toMap
    assert(out("LIN") == Some(1.0))
    assert(out("ANTI") == Some(-1.0))
    assert(out("CONST").isEmpty && out("TWO").isEmpty)
  }

  test("lengthDriftCorr agrees with Spark's corr aggregate") {
    val builtin = turns
      .select(col("conv_id"), col("turn_idx").cast("double").as("x"),
        length(col("text")).cast("double").as("y"))
      .groupBy("conv_id").agg(corr(col("x"), col("y")).as("r"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("r")).toMap
    val ours = RefOps.lengthDriftCorr(turns).collect()
      .filter(_.get(2) != null)
      .map(r => r.getString(0) -> r.getAs[Double]("drift_corr"))
    assert(ours.nonEmpty)
    ours.foreach { case (c, r) =>
      assert(math.abs(r - builtin(c)) < 1e-5, s"$c: $r vs ${builtin(c)}")
    }
  }

  // ---- char-length histogram ----------------------------------------

  test("charLenHistogram: counts partition the input and pct sums to 1 per window") {
    import graft.model.Tier
    val hist = Rollup.charLenHistogram(turns, Tier.H1, bucketWidth = 50).cache()
    val total = hist.agg(sum(col("cnt"))).collect()(0).getLong(0)
    assert(total == turns.filter(col("ts").isNotNull).count())
    val badPct = hist.groupBy(col("window_start"))
      .agg(sum(col("pct")).as("p"))
      .filter(abs(col("p") - 1.0) > 1e-9)
    assert(badPct.count() == 0)
    assert(hist.filter(col("bucket") < 0).count() == 0)
  }

  test("charLenHistogram golden buckets at the boundary") {
    import graft.model.Tier
    val df = turnsDf(Seq(
      ("A", 0, "user", "x" * 49, null, "2024-01-01 00:10:00"), // bucket 0
      ("A", 1, "user", "x" * 50, null, "2024-01-01 00:20:00"), // bucket 1
      ("B", 0, "user", "x" * 149, null, "2024-01-01 00:30:00"), // bucket 2
      ("B", 1, "user", "x" * 10, null, "2024-01-01 01:30:00"))) // next window
    val rows = Rollup.charLenHistogram(df, Tier.H1, bucketWidth = 50).collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[Long]("bucket")) -> (r.getAs[Long]("cnt"), r.getAs[Double]("pct")))
      .toMap
    assert(rows(("2024-01-01 00:00:00.0", 0L)) == ((1L, 1.0 / 3)))
    assert(rows(("2024-01-01 00:00:00.0", 1L)) == ((1L, 1.0 / 3)))
    assert(rows(("2024-01-01 00:00:00.0", 2L)) == ((1L, 1.0 / 3)))
    assert(rows(("2024-01-01 01:00:00.0", 0L)) == ((1L, 1.0)))
    intercept[IllegalArgumentException](
      Rollup.charLenHistogram(df, Tier.H1, bucketWidth = 0))
  }

  // ---- EWMA ----------------------------------------------------------

  test("ewma golden fold and degenerate cases") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x" * 10, null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "x" * 20, null, "2024-01-01 00:00:10"),
      ("A", 2, "user", "x" * 30, null, "2024-01-01 00:00:20"),
      ("ONE", 0, "user", "x" * 7, null, "2024-01-01 00:00:00"),
      ("HOLE", 0, "user", "x" * 4, null, "2024-01-01 00:00:00"),
      ("HOLE", 1, "user", null, null, "2024-01-01 00:00:10"),
      ("HOLE", 2, "user", "x" * 8, null, null)))
    val out = RefOps.ewma(df, alpha = 0.3).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("ewma_char_len")))
      .toMap
    // acc=10 -> 0.3*20+0.7*10=13 -> 0.3*30+0.7*13=18.1
    assert(out("A")._1 == 3L && math.abs(out("A")._2 - 18.1) < 1e-12)
    assert(out("ONE") == ((1L, 7.0)))
    // null text AND null ts are both missing samples
    assert(out("HOLE") == ((1L, 4.0)))
    intercept[IllegalArgumentException](RefOps.ewma(df, alpha = 0.0))
    intercept[IllegalArgumentException](RefOps.ewma(df, alpha = 1.5))
  }

  test("ewma drops null-turn_idx observations (order-key integrity)") {
    // turnsDf can't carry a null Int — build with an explicit nullable
    // schema; the null-turn_idx row has an extreme length so inclusion
    // under EITHER tiebreak order would visibly shift the fold
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType)))
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = java.util.Arrays.asList(
      Row("A", Integer.valueOf(0), "user", "x" * 10, null, t0),
      Row("A", null, "user", "x" * 999, null, t0),
      Row("A", Integer.valueOf(1), "user", "x" * 20, null,
        Timestamp.valueOf("2024-01-01 00:00:10")))
    val df = spark.createDataFrame(rows, schema)
    val out = RefOps.ewma(df, alpha = 0.3).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n") == 2L)
    // mirror the operator's exact float shape: (1.0 - alpha), not a
    // 0.7 literal (they can differ by an ulp at a round-to-even tie)
    assert(out(0).getAs[Double]("ewma_char_len") == 0.3 * 20 + (1.0 - 0.3) * 10)
  }

  test("ewma equals a driver-side sequential fold on synth data") {
    val expected = turns
      // mirror the operator's full missing-sample filter — getDouble
      // would silently read a null length as 0.0
      .filter(col("ts").isNotNull && col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("ts"), col("turn_idx"), length(col("text")).cast("double").as("v"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues { rows =>
        val vs = rows.sortBy(r =>
          (r.getTimestamp(1).getTime, r.getTimestamp(1).getNanos, r.getInt(2))).map(_.getDouble(3))
        vs.tail.foldLeft(vs.head)((acc, x) => 0.3 * x + (1.0 - 0.3) * acc)
      }.toMap
    val got = RefOps.ewma(turns).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("ewma_char_len")).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (c, v) => assert(v == expected(c), s"$c: $v vs ${expected(c)}") }
  }

  test("rollingZscore rejects invalid parameters") {
    val df = turnsDf(Seq(("C", 0, "user", "x", null, "2024-01-01 00:00:00")))
    intercept[IllegalArgumentException](RefOps.rollingZscore(df, lookback = 1))
    intercept[IllegalArgumentException](RefOps.rollingZscore(df, lookback = 5, minPoints = 6))
    intercept[IllegalArgumentException](RefOps.rollingZscore(df, minPoints = 1))
  }

  // ---- CUSUM changepoint ----------------------------------------------

  test("cusum golden step-change values; both sides drift on a step") {
    // lengths 10×4 then 30×4: mean is exactly 20, slack 1, so
    // d⁺ = x−21 ∈ {−11, +9} and d⁻ = 19−x ∈ {+9, −11}. The negative
    // side accumulates FIRST (first half below the retrospective
    // mean), then decays — the monitor flags the shift from both ends
    val df = turnsDf((0 until 8).map(i =>
      ("A", i, "user", "x" * (if (i < 4) 10 else 30), null,
        s"2024-01-01 00:00:0$i")))
    val out = RefOps.cusumChangepoint(df, slack = 1L, threshold = 3L)
      .collect().map(r => r.getInt(1) ->
        ((r.getAs[Double]("cusum_pos"), r.getAs[Double]("cusum_neg"),
          r.getAs[Boolean]("is_change")))).toMap
    val expPos = Seq(0.0, 0.0, 0.0, 0.0, 9.0, 18.0, 27.0, 36.0)
    val expNeg = Seq(9.0, 18.0, 27.0, 36.0, 25.0, 14.0, 3.0, 0.0)
    (0 until 8).foreach { i =>
      assert(out(i)._1 == expPos(i), s"pos@$i: ${out(i)._1}")
      assert(out(i)._2 == expNeg(i), s"neg@$i: ${out(i)._2}")
      assert(out(i)._3 == (expPos(i) > 3.0 || expNeg(i) > 3.0), s"flag@$i")
    }
    intercept[IllegalArgumentException](RefOps.cusumChangepoint(df, slack = -1L))
    intercept[IllegalArgumentException](RefOps.cusumChangepoint(df, threshold = 0L))
    // over-cap tunables must be an analysis-time error, not a bare
    // ANSI overflow from the n-scaled products mid-query
    intercept[IllegalArgumentException](
      RefOps.cusumChangepoint(df, slack = 1000001L))
    intercept[IllegalArgumentException](
      RefOps.cusumChangepoint(df, threshold = Long.MaxValue / 2))
  }

  test("cusum closed form equals a driver-side clamped recurrence on synth data") {
    // independent construction: run the clamped recurrence directly in
    // scaled-integer space (d = n·x − Σx − n·k, clamp at 0) and derive
    // the same rounded division the operator emits
    val raw = turns
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), length(col("text")).cast("long"))
      .collect()
      .groupBy(_.getString(0))
    val expected = raw.view.mapValues { rows =>
      val xs = rows.sortBy(_.getInt(1)).map(r => (r.getInt(1), r.getLong(2)))
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum
      var sp = 0L; var sn = 0L
      xs.map { case (ti, x) =>
        sp = math.max(0L, sp + (n * x - sx - n * 1L))
        sn = math.max(0L, sn + (sx - n * x - n * 1L))
        // mirror the operator's exact float shape: IEEE division first,
        // THEN decimal rounding of that double (Spark's Round on
        // DoubleType rounds the decimal repr of the double, HALF_UP)
        def div6(s: Long) = BigDecimal(s.toDouble / n.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        ti -> ((div6(sp), div6(sn), sp > n * 3L || sn > n * 3L))
      }.toMap
    }.toMap
    val got = RefOps.cusumChangepoint(turns).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getAs[Double]("cusum_pos"), r.getAs[Double]("cusum_neg"),
          r.getAs[Boolean]("is_change"))))
    assert(got.nonEmpty && got.length == expected.values.map(_.size).sum)
    // the monitor must actually fire somewhere on this synth input —
    // an all-false column would leave the alarm path untested
    assert(got.exists(_._2._3))
    got.foreach { case ((c, ti), v) =>
      assert(v == expected(c)(ti), s"$c@$ti: $v vs ${expected(c)(ti)}")
    }
  }

  // ---- lag autocorrelation ---------------------------------------------

  test("lagAutocorr golden: perfect alternation is -1, monotone ramp is +1") {
    val df = turnsDf(
      (0 until 6).map(i => ("ALT", i, "user",
        "x" * (if (i % 2 == 0) 10 else 20), null, "2024-01-01 00:00:00")) ++
      (0 until 5).map(i => ("RAMP", i, "user",
        "x" * (10 + 10 * i), null, "2024-01-01 00:00:00")) ++
      (0 until 5).map(i => ("CONST", i, "user", "x" * 7, null,
        "2024-01-01 00:00:00")) ++
      (0 until 3).map(i => ("TINY", i, "user", "x" * (7 + i), null,
        "2024-01-01 00:00:00")))
    val out = RefOps.lagAutocorr(df).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_pairs"),
        Option(r.getAs[java.lang.Double]("autocorr")))).toMap
    assert(out("ALT") == ((5L, Some(java.lang.Double.valueOf(-1.0)))))
    assert(out("RAMP") == ((4L, Some(java.lang.Double.valueOf(1.0)))))
    // zero variance and too-few-pairs both pin NULL
    assert(out("CONST") == ((4L, None)))
    assert(out("TINY") == ((2L, None)))
    intercept[IllegalArgumentException](RefOps.lagAutocorr(df, lagK = 0))
    intercept[IllegalArgumentException](RefOps.lagAutocorr(df, lagK = 100001))
  }

  test("lagAutocorr equals Spark's own corr over the lag pairs; gaps pair across") {
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val pairs = turns
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("double").as("y"))
      .withColumn("x", lag(col("y"), 1).over(w))
      .filter(col("x").isNotNull)
    val expected = pairs.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n"), corr(col("x"), col("y")).as("r"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.getAs[java.lang.Double]("r")))).toMap
    val got = RefOps.lagAutocorr(turns).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_pairs"),
        Option(r.getAs[java.lang.Double]("autocorr")))).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (c, (n, a)) =>
      val (en, er) = expected(c)
      assert(n == en, s"$c pairs: $n vs $en")
      (a, er) match {
        case (Some(av), Some(ev)) =>
          // corr is Welford-based and unrounded; the exact-moment form
          // is rounded at scale 6 — agree to half-ulp-of-round plus
          // float tolerance (the operator's own cross-engine guarantee
          // is the integer moments, not this cross-check)
          assert(math.abs(av - ev) < 6e-7, s"$c: $av vs $ev")
        case (None, _) => // operator pins NULL where corr may emit NaN/1.0
        case other => fail(s"$c: $other")
      }
    }
  }

  test("madOutliers golden: median, MAD, modified z and the 3.5 cutoff") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x" * 1, null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "x" * 2, null, "2024-01-01 00:00:00"),
      ("A", 2, "user", "x" * 3, null, "2024-01-01 00:00:00"),
      ("A", 3, "user", "x" * 4, null, "2024-01-01 00:00:00"),
      ("A", 4, "user", "x" * 100, null, "2024-01-01 00:00:00"),
      // even count: median interpolates to 2.0, MAD to 1.0
      ("E", 0, "user", "x" * 1, null, "2024-01-01 00:00:00"),
      ("E", 1, "user", "x" * 3, null, "2024-01-01 00:00:00"),
      // >half at the median: MAD is 0, everything pins NULL
      ("Z", 0, "user", "x" * 5, null, "2024-01-01 00:00:00"),
      ("Z", 1, "user", "x" * 5, null, "2024-01-01 00:00:00"),
      ("Z", 2, "user", "x" * 5, null, "2024-01-01 00:00:00"),
      ("Z", 3, "user", "x" * 9, null, "2024-01-01 00:00:00")))
    val out = RefOps.madOutliers(df).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((Option(r.getAs[java.lang.Double]("robust_z")),
          Option(r.getAs[java.lang.Boolean]("is_outlier"))))).toMap
    // A: median 3, absdev [2,1,0,1,97], MAD 1
    assert(out(("A", 2)) == ((Some(0.0), Some(false))))
    assert(out(("A", 4)) ==
      ((Some(BigDecimal(0.6745 * 97.0 / 1.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble), Some(true))))
    assert(out(("E", 0)) == ((Some(-0.6745), Some(false))))
    assert(out(("E", 1)) == ((Some(0.6745), Some(false))))
    (0 until 4).foreach(i => assert(out(("Z", i)) == ((None, None)), s"Z@$i"))
    intercept[IllegalArgumentException](RefOps.madOutliers(df, threshold = 0.0))
  }

  test("madOutliers equals a driver-side type-7 median/MAD on synth data") {
    val raw = turns
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), length(col("text")).cast("long"))
      .collect().groupBy(_.getString(0))
    def type7(sorted: Array[Double]): Double = {
      // Spark Percentile's linear-combination form (see turnGapStats spec)
      val pos = (sorted.length - 1) * 0.5
      val lo = pos.toInt
      if (pos == lo) sorted(lo)
      else (lo + 1 - pos) * sorted(lo) + (pos - lo) * sorted(lo + 1)
    }
    val expected = raw.view.mapValues { rows =>
      val xs = rows.map(r => (r.getInt(1), r.getLong(2)))
      val med = type7(xs.map(_._2.toDouble).sorted)
      val mad = type7(xs.map(p => math.abs(p._2.toDouble - med)).sorted)
      xs.map { case (ti, x) =>
        ti -> (if (mad > 0)
          Some(BigDecimal(0.6745 * (x.toDouble - med) / mad)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None)
      }.toMap
    }.toMap
    val got = RefOps.madOutliers(turns).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        Option(r.getAs[java.lang.Double]("robust_z")))
    assert(got.nonEmpty && got.exists(_._2.isDefined))
    got.foreach { case ((c, ti), v) =>
      assert(v == expected(c)(ti), s"$c@$ti: $v vs ${expected(c)(ti)}")
    }
  }

  // ---- turn-gap stats --------------------------------------------------

  test("turnGapStats golden: exact quantiles, gap spans missing samples, single turn drops") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "a", null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "b", null, "2024-01-01 00:00:10"),
      ("A", 2, "user", "c", null, "2024-01-01 00:00:40"),
      ("ONE", 0, "user", "d", null, "2024-01-01 00:00:00"),
      ("HOLE", 0, "user", "e", null, "2024-01-01 00:00:00"),
      ("HOLE", 1, "user", "f", null, null),
      ("HOLE", 2, "user", "g", null, "2024-01-01 00:00:40")))
    val out = RefOps.turnGapStats(df).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_gaps"),
        r.getAs[Double]("gap_p50_us"), r.getAs[Double]("gap_p95_us"),
        r.getAs[Long]("gap_max_us")))).toMap
    // A: gaps [10s, 30s] → p50 = 10e6 + 0.5·20e6, p95 = 10e6 + 0.95·20e6
    assert(out("A") == ((2L, 2.0e7, 2.9e7, 30000000L)))
    // the null-ts turn is a missing sample: ONE gap spanning it
    assert(out("HOLE") == ((1L, 4.0e7, 4.0e7, 40000000L)))
    assert(!out.contains("ONE"))
  }

  test("turnGapStats equals a driver-side type-7 quantile on synth data") {
    def type7(sorted: Array[Double], q: Double): Double = {
      // Spark's Percentile evaluates the LINEAR-COMBINATION form
      // (hi−pos)·lo + (pos−lo)·hi, which differs from lo+frac·(hi−lo)
      // in the last ulps — mirror it exactly
      val pos = (sorted.length - 1) * q
      val lo = pos.toInt
      if (pos == lo) sorted(lo)
      else (lo + 1 - pos) * sorted(lo) + (pos - lo) * sorted(lo + 1)
    }
    val raw = turns
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), unix_micros(col("ts").cast("timestamp")),
        col("turn_idx"))
      .collect().groupBy(_.getString(0))
    val expected = raw.view.mapValues { rows =>
      val us = rows.sortBy(r => (r.getLong(1), r.getInt(2))).map(_.getLong(1))
      us.sliding(2).filter(_.length == 2).map(p => p(1) - p(0)).toArray
    }.filter(_._2.nonEmpty).mapValues { gaps =>
      val s = gaps.map(_.toDouble).sorted
      (gaps.length.toLong, type7(s, 0.5), type7(s, 0.95), gaps.max)
    }.toMap
    val got = RefOps.turnGapStats(turns).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_gaps"),
        r.getAs[Double]("gap_p50_us"), r.getAs[Double]("gap_p95_us"),
        r.getAs[Long]("gap_max_us")))).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (c, v) => assert(v == expected(c), s"$c: $v vs ${expected(c)}") }
  }

  // ---- Spearman drift ---------------------------------------------------

  test("spearmanDrift golden: monotone is ±1 even with outliers; ties average") {
    val df = turnsDf(
      (0 until 5).map(i => ("UP", i, "user", "x" * (10 + i), null,
        "2024-01-01 00:00:00")) ++
      (0 until 5).map(i => ("DOWN", i, "user", "x" * (20 - i), null,
        "2024-01-01 00:00:00")) ++
      // monotone with a huge last value: Pearson < 1, Spearman exactly 1
      (0 until 5).map(i => ("OUT", i, "user",
        "x" * (if (i == 4) 5000 else 10 + i), null, "2024-01-01 00:00:00")) ++
      // lengths [10, 10, 20]: tie-averaged ranks [1.5, 1.5, 3] vs
      // positions [1, 2, 3] → the known 0.866025 value
      Seq(("TIE", 0, "user", "x" * 10, null, "2024-01-01 00:00:00"),
        ("TIE", 1, "user", "x" * 10, null, "2024-01-01 00:00:00"),
        ("TIE", 2, "user", "x" * 20, null, "2024-01-01 00:00:00")) ++
      (0 until 4).map(i => ("CONST", i, "user", "x" * 7, null,
        "2024-01-01 00:00:00")))
    val out = RefOps.spearmanDrift(df).collect()
      .map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Double]("spearman_corr")).map(_.doubleValue)).toMap
    assert(out("UP").contains(1.0))
    assert(out("DOWN").contains(-1.0))
    assert(out("OUT").contains(1.0))
    assert(out("TIE").contains(0.866025))
    // all-tied lengths: zero rank variance pins NULL
    assert(out("CONST").isEmpty)
  }

  test("spearmanDrift equals a driver-side fractional-rank Pearson on synth data") {
    val raw = turns
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), length(col("text")).cast("long"))
      .collect().groupBy(_.getString(0))
    val expected = raw.view.mapValues { rows =>
      val xs = rows.sortBy(_.getInt(1)).map(_.getLong(2))
      val n = xs.length.toLong
      // doubled ranks, mirroring the operator: x = 2·position,
      // y = 2·minRank + peers − 1
      val sortedVals = xs.sorted
      val minRank = sortedVals.zipWithIndex.reverse.map { case (v, i) => v -> (i + 1L) }.toMap
      val peers = xs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val pts = xs.zipWithIndex.map { case (v, i) =>
        ((i + 1L) * 2L, minRank(v) * 2L + peers(v) - 1L)
      }
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val syy = pts.map(p => p._2 * p._2).sum
      val nd = n.toDouble
      val cov = nd * sxy - sx.toDouble * sy
      val vx = nd * sxx - sx.toDouble * sx
      val vy = nd * syy - sy.toDouble * sy
      if (n >= 3 && vx > 0 && vy > 0)
        Some(BigDecimal(cov / math.sqrt(vx * vy))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }.toMap
    val got = RefOps.spearmanDrift(turns).collect()
      .map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Double]("spearman_corr")).map(_.doubleValue)).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (c, v) => assert(v == expected(c), s"$c: $v vs ${expected(c)}") }
  }

  // ---- Holt smoothing ---------------------------------------------------

  test("holtSmooth golden recurrence and degenerate cases") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x" * 10, null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "x" * 20, null, "2024-01-01 00:00:10"),
      ("A", 2, "user", "x" * 15, null, "2024-01-01 00:00:20"),
      ("ONE", 0, "user", "x" * 7, null, "2024-01-01 00:00:00"),
      ("HOLE", 0, "user", "x" * 4, null, "2024-01-01 00:00:00"),
      ("HOLE", 1, "user", null, null, "2024-01-01 00:00:10"),
      ("HOLE", 2, "user", "x" * 8, null, "2024-01-01 00:00:20")))
    val out = RefOps.holtSmooth(df, alpha = 0.3, beta = 0.2).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"),
        r.getAs[Double]("holt_level"), r.getAs[Double]("holt_trend"),
        r.getAs[Double]("holt_forecast")))).toMap
    // hand fold, mirroring the operator's exact float shape
    var (l, b) = (10.0, 0.0)
    for (x <- Seq(20.0, 15.0)) {
      val ln = 0.3 * x + (1.0 - 0.3) * (l + b)
      val bn = 0.2 * (ln - l) + (1.0 - 0.2) * b
      l = ln; b = bn
    }
    assert(out("A") == ((3L, l, b, l + b)))
    // single sample: level = the sample, trend = seed 0, forecast = level
    assert(out("ONE") == ((1L, 7.0, 0.0, 7.0)))
    // null text is a missing sample: the fold runs over [4, 8]
    val hl = 0.3 * 8 + (1.0 - 0.3) * (4.0 + 0.0)
    val hb = 0.2 * (hl - 4.0) + (1.0 - 0.2) * 0.0
    assert(out("HOLE") == ((2L, hl, hb, hl + hb)))
    intercept[IllegalArgumentException](RefOps.holtSmooth(df, alpha = 0.0))
    intercept[IllegalArgumentException](RefOps.holtSmooth(df, beta = 1.5))
  }

  test("holtSmooth drops null-turn_idx observations (order-key integrity)") {
    // same hazard as the ewma sibling spec: a null order key would sort
    // nulls-first in Spark's struct compare but nulls-last in SQL
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType)))
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = java.util.Arrays.asList(
      Row("A", Integer.valueOf(0), "user", "x" * 10, null, t0),
      // extreme length: leaking in under EITHER tiebreak visibly
      // shifts the fold seed
      Row("A", null, "user", "x" * 999, null, t0),
      Row("A", Integer.valueOf(1), "user", "x" * 20, null, t0))
    val out = RefOps.holtSmooth(spark.createDataFrame(rows, schema)).collect()
    assert(out.length == 1 && out(0).getAs[Long]("n") == 2L)
    val l1 = 0.3 * 20 + (1.0 - 0.3) * (10.0 + 0.0)
    val b1 = 0.2 * (l1 - 10.0) + (1.0 - 0.2) * 0.0
    assert(out(0).getAs[Double]("holt_level") == l1)
    assert(out(0).getAs[Double]("holt_trend") == b1)
  }

  test("holtSmooth equals a driver-side sequential fold on synth data") {
    val expected = turns
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), length(col("text")).cast("double"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues { rows =>
        val vs = rows.sortBy(_.getInt(1)).map(_.getDouble(2))
        var (l, b) = (vs.head, 0.0)
        for (x <- vs.tail) {
          val ln = 0.3 * x + (1.0 - 0.3) * (l + b)
          val bn = 0.2 * (ln - l) + (1.0 - 0.2) * b
          l = ln; b = bn
        }
        (vs.length.toLong, l, b, l + b)
      }.toMap
    val got = RefOps.holtSmooth(turns).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"),
        r.getAs[Double]("holt_level"), r.getAs[Double]("holt_trend"),
        r.getAs[Double]("holt_forecast")))).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (c, v) => assert(v == expected(c), s"$c: $v vs ${expected(c)}") }
  }

  test("cusum drops null text / null turn_idx observations whole") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType)))
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // the dropped rows carry extreme lengths: leaking either into the
    // mean or the recurrence would visibly shift every output
    val rows = java.util.Arrays.asList(
      Row("A", Integer.valueOf(0), "user", "x" * 10, null, t0),
      Row("A", Integer.valueOf(1), "user", null, null, t0),
      Row("A", null, "user", "x" * 999, null, t0),
      Row("A", Integer.valueOf(2), "user", "x" * 30, null, t0))
    val out = RefOps.cusumChangepoint(spark.createDataFrame(rows, schema))
      .collect().map(r => r.getInt(1) -> r.getAs[Double]("cusum_pos")).toMap
    // surviving pair: mean 20, slack 1 → s⁺ = [0, 9]
    assert(out == Map(0 -> 0.0, 2 -> 9.0))
  }

  // ---- role runs --------------------------------------------------------

  test("roleRuns golden: breaks, null-role runs, null-text mass, 1-based ids") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "aa", null, "2024-01-01 00:00:00"),
      ("A", 1, "user", null, null, "2024-01-01 00:00:01"),
      ("A", 2, "assistant", "bbb", null, "2024-01-01 00:00:02"),
      ("A", 3, null, "cccc", null, "2024-01-01 00:00:03"),
      ("A", 4, null, null, null, "2024-01-01 00:00:04"),
      ("A", 5, "user", "d", null, "2024-01-01 00:00:05"),
      // conversation OPENING with a null role: the first-row detection
      // must ride lag(turn_idx), not lag(role) — else run ids start at 0
      ("B", 0, null, "xx", null, "2024-01-01 00:00:00"),
      ("B", 1, null, "y", null, "2024-01-01 00:00:01"),
      // an all-null-text run carries NULL char mass, not 0
      ("C", 0, "user", null, null, "2024-01-01 00:00:00")))
    val got = RefOps.roleRuns(df).collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        ((Option(r.getString(2)), r.getAs[Long]("run_len"),
          r.getAs[Int]("start_idx"), r.getAs[Int]("end_idx"),
          Option(r.getAs[java.lang.Long]("char_len_sum")).map(_.longValue)))
    }.toMap
    assert(got(("A", 1L)) == ((Some("user"), 2L, 0, 1, Some(2L))))
    assert(got(("A", 2L)) == ((Some("assistant"), 1L, 2, 2, Some(3L))))
    // two adjacent unattributed turns are ONE run (null-safe compare)
    assert(got(("A", 3L)) == ((None, 2L, 3, 4, Some(4L))))
    assert(got(("A", 4L)) == ((Some("user"), 1L, 5, 5, Some(1L))))
    assert(got(("B", 1L)) == ((None, 2L, 0, 1, Some(3L))))
    assert(got(("C", 1L)) == ((Some("user"), 1L, 0, 0, None)))
    assert(got.size == 6)
  }

  test("roleRuns reconstructs the conversation: spans tile, roles alternate") {
    val runs = RefOps.roleRuns(turns).collect()
      .groupBy(_.getString(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    val base = turns.filter(col("turn_idx").isNotNull)
    assert(runs.values.map(_.map(_.getAs[Long]("run_len")).sum).sum == base.count())
    runs.foreach { case (conv, rs) =>
      // ids are 1..k dense; spans are contiguous, ordered, non-overlapping
      assert(rs.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq, conv)
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Int]("end_idx") < b.getAs[Int]("start_idx"),
            s"$conv: spans overlap")
          // adjacent runs MUST differ in role, else they were one run
          assert(Option(a.getString(2)) != Option(b.getString(2)), conv)
        case _ =>
      }
      // run_len equals the span width (no holes inside a conversation:
      // synth turn_idx is dense)
      rs.foreach(r => assert(r.getAs[Long]("run_len") ==
        r.getAs[Int]("end_idx") - r.getAs[Int]("start_idx") + 1L))
    }
  }

  test("roleRuns drops null-turn_idx observations whole") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType)))
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // the dropped row sits between two same-role turns with a DIFFERENT
    // role: leaking it in would split run 1 into three
    val rows = java.util.Arrays.asList(
      Row("A", Integer.valueOf(0), "user", "x" * 10, null, t0),
      Row("A", null, "assistant", "x" * 999, null, t0),
      Row("A", Integer.valueOf(1), "user", "x" * 20, null, t0))
    val out = RefOps.roleRuns(spark.createDataFrame(rows, schema)).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("run_len") == 2L)
    assert(out(0).getAs[Long]("char_len_sum") == 30L)
  }

  // ---- burst flags -------------------------------------------------------

  test("burstFlags golden: trailing counts, inclusive boundary, symmetric ties") {
    val df = turnsDf(Seq(
      ("E", 0, "user", "a", null, "2024-01-01 00:00:00"),
      ("E", 1, "user", "b", null, "2024-01-01 00:00:10"),
      ("E", 2, "user", "c", null, "2024-01-01 00:00:20"),
      ("E", 3, "user", "d", null, "2024-01-01 00:10:00"),
      // exactly windowSeconds apart: the frame is INCLUSIVE at the left
      ("F", 0, "user", "a", null, "2024-01-01 00:00:00"),
      ("F", 1, "user", "b", null, "2024-01-01 00:05:00"),
      // equal-µs ties are order-key peers: each counts the other
      ("G", 0, "user", "a", null, "2024-01-01 00:00:00"),
      ("G", 1, "user", "b", null, "2024-01-01 00:00:00"),
      // a null-ts turn has no place on the time axis: dropped WHOLE —
      // were it kept it would yield an output row AND (under any
      // null-ordering) shift a neighbor's count past the flag line
      ("E", 9, "user", "z", null, null)))
    val got = RefOps.burstFlags(df, windowSeconds = 300L, minTurns = 3L)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getAs[Long]("burst_count"), r.getAs[Boolean]("is_burst")))).toMap
    assert(!got.contains(("E", 9)), "null-ts row must drop whole")
    assert(got.size == 8)
    assert(got(("E", 0)) == ((1L, false)))
    assert(got(("E", 1)) == ((2L, false)))
    assert(got(("E", 2)) == ((3L, true)))
    assert(got(("E", 3)) == ((1L, false)))
    assert(got(("F", 1)) == ((2L, false)))
    assert(got(("G", 0)) == ((2L, false)))
    assert(got(("G", 1)) == ((2L, false)))
  }

  test("burstFlags equals a driver-side brute count on synth data; tunable guards") {
    val ws = 600L
    val rows = turns
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        unix_micros(col("ts").cast("timestamp")))
      .collect().groupBy(_.getString(0))
    val expected = rows.toSeq.flatMap { case (conv, rs) =>
      val us = rs.map(_.getLong(2))
      rs.map { r =>
        val t = r.getLong(2)
        (conv, r.getInt(1)) -> us.count(u => u >= t - ws * 1000000L && u <= t).toLong
      }
    }
    val got = RefOps.burstFlags(turns, windowSeconds = ws, minTurns = 4L)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[Long]("burst_count")).toMap
    assert(got == expected.toMap && got.nonEmpty)
    intercept[IllegalArgumentException](RefOps.burstFlags(turns, windowSeconds = 0L))
    intercept[IllegalArgumentException](RefOps.burstFlags(turns, minTurns = 0L))
  }

  // ---- tool diversity ----------------------------------------------------

  test("toolDiversity golden: moments, dominance, even spread, no-tool convs") {
    val df = turnsDf(Seq(
      // tools [a, a, b]: n=3, Σc²=5 → simpson 1−5/9, effective 9/5
      ("A", 0, "user", "x", "a", "2024-01-01 00:00:00"),
      ("A", 1, "user", "x", "a", "2024-01-01 00:00:01"),
      ("A", 2, "user", "x", "b", "2024-01-01 00:00:02"),
      // single tool, many calls: zero diversity, one effective tool
      ("B", 0, "user", "x", "t", "2024-01-01 00:00:00"),
      ("B", 1, "user", "x", "t", "2024-01-01 00:00:01"),
      // two tools, one call each: simpson 1−1/2, effective exactly 2
      ("C", 0, "user", "x", "p", "2024-01-01 00:00:00"),
      ("C", 1, "user", "x", "q", "2024-01-01 00:00:01"),
      // no tool calls at all → NO row (null tool is the no-call marker)
      ("D", 0, "user", "x", null, "2024-01-01 00:00:00")))
    val got = RefOps.toolDiversity(df).collect().map(r =>
      r.getString(0) -> ((r.getAs[Long]("n_tools"), r.getAs[Long]("n_tool_calls"),
        r.getAs[Double]("simpson_diversity"), r.getAs[Double]("effective_tools")))).toMap
    assert(got("A") == ((2L, 3L, BigDecimal(1.0 - 5.0 / 9.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 1.8)))
    assert(got("B") == ((1L, 2L, 0.0, 1.0)))
    assert(got("C") == ((2L, 2L, 0.5, 2.0)))
    assert(!got.contains("D") && got.size == 3)
  }

  test("toolTransitionDiversity golden: pairs, dominance tie-break, intervening non-tool turns") {
    val df = turnsDf(Seq(
      // tool sequence a,a,b,a -> pairs a>a, a>b, b>a: 3 transitions,
      // all distinct (Σc²=3) → simpson 1−3/9, effective 3; top pair
      // ties at c=1 → lexicographic min "a>a"
      ("A", 0, "user", "x", "a", "2024-01-01 00:00:00"),
      ("A", 1, "user", "x", "a", "2024-01-01 00:00:01"),
      // a non-tool turn between calls must NOT break the chain
      ("A", 2, "user", "x", null, "2024-01-01 00:00:02"),
      ("A", 3, "user", "x", "b", "2024-01-01 00:00:03"),
      ("A", 4, "user", "x", "a", "2024-01-01 00:00:04"),
      // one repeated transition dominates: t>t ×2 → simpson 0
      ("B", 0, "user", "x", "t", "2024-01-01 00:00:00"),
      ("B", 1, "user", "x", "t", "2024-01-01 00:00:01"),
      ("B", 2, "user", "x", "t", "2024-01-01 00:00:02"),
      // single tool call → no transition → NO row
      ("C", 0, "user", "x", "p", "2024-01-01 00:00:00")))
    val got = RefOps.toolTransitionDiversity(df).collect().map(r =>
      r.getString(0) -> ((r.getAs[Long]("n_pairs"), r.getAs[Long]("transitions"),
        r.getAs[Double]("simpson_diversity"), r.getAs[Double]("effective_pairs"),
        r.getAs[String]("top_pair"), r.getAs[Double]("top_share")))).toMap
    assert(got("A") == ((3L, 3L, BigDecimal(1.0 - 3.0 / 9.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 3.0,
      "a>a", BigDecimal(1.0 / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got("B") == ((1L, 2L, 0.0, 1.0, "t>t", 1.0)))
    assert(!got.contains("C") && got.size == 2)
  }

  test("toolDiversity equals driver-side exact moments on synth data") {
    val raw = turns.filter(col("tool").isNotNull)
      .select(col("conv_id"), col("tool")).collect()
      .groupBy(_.getString(0))
    val expected = raw.view.mapValues { rows =>
      val cs = rows.groupBy(_.getString(1)).values.map(_.length.toLong)
      val n = cs.sum
      val ss = cs.map(c => c * c).sum
      def r6(d: Double) =
        BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (cs.size.toLong, n, r6(1.0 - ss.toDouble / (n.toDouble * n)),
        r6(n.toDouble * n / ss.toDouble))
    }.toMap
    val got = RefOps.toolDiversity(turns).collect().map(r =>
      r.getString(0) -> ((r.getAs[Long]("n_tools"), r.getAs[Long]("n_tool_calls"),
        r.getAs[Double]("simpson_diversity"), r.getAs[Double]("effective_tools")))).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (c, v) => assert(v == expected(c), s"$c: $v vs ${expected(c)}") }
  }

  // ---- role transitions ----------------------------------------------------

  test("roleTransitions golden: null-role transitions kept, last turns excluded") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 00:00:00"),
      ("A", 1, "assistant", "x", null, "2024-01-01 00:00:01"),
      ("A", 2, "user", "x", null, "2024-01-01 00:00:02"),
      // transition INTO and OUT OF an unattributed (null-role) turn —
      // both must survive the successor-existence filter
      ("B", 0, "user", "x", null, "2024-01-01 00:00:00"),
      ("B", 1, null, "x", null, "2024-01-01 00:00:01"),
      ("B", 2, "user", "x", null, "2024-01-01 00:00:02"),
      // single-turn conversation: no pair at all
      ("C", 0, "tool", "x", null, "2024-01-01 00:00:00")))
    val got = RefOps.roleTransitions(df).collect().map(r =>
      (Option(r.getString(0)), Option(r.getString(1))) ->
        ((r.getAs[Long]("cnt"), r.getAs[Double]("share")))).toMap
    // user row-total = 2 (A2/B2 are LAST turns — no pair): →assistant 1,
    // →null 1; A1→A2 and B1→B2 close the loops
    assert(got((Some("user"), Some("assistant"))) == ((1L, 0.5)))
    assert(got((Some("user"), None)) == ((1L, 0.5)))
    assert(got((Some("assistant"), Some("user"))) == ((1L, 1.0)))
    assert(got((None, Some("user"))) == ((1L, 1.0)))
    assert(got.size == 4)
  }

  test("toolVocabGrowth golden: steps on first use only, defined at every turn") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "x", "search", "2024-01-01 00:00:01"),
      ("A", 2, "user", "x", "search", "2024-01-01 00:00:02"),
      ("A", 3, "user", "x", "calc", "2024-01-01 00:00:03"),
      ("A", 4, "user", "x", null, "2024-01-01 00:00:04"),
      ("A", 5, "user", "x", "search", "2024-01-01 00:00:05"),
      ("B", 0, "user", "x", null, "2024-01-01 00:00:00")))
    val got = RefOps.toolVocabGrowth(df).collect().map(r =>
      (r.getString(0), r.getInt(1)) -> r.getAs[Long]("distinct_tools_so_far")).toMap
    assert(got == Map(
      ("A", 0) -> 0L, ("A", 1) -> 1L, ("A", 2) -> 1L,
      ("A", 3) -> 2L, ("A", 4) -> 2L, ("A", 5) -> 2L,
      ("B", 0) -> 0L))
  }

  test("toolVocabGrowth drops null-turn_idx observations whole") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", TimestampType)))
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // the dropped row is the FIRST use of a tool later reused: leaking
    // it in would emit an extra output row AND make turn 1 the SECOND
    // occurrence of 'search', visibly flattening the curve
    val rows = java.util.Arrays.asList(
      Row("A", Integer.valueOf(0), "user", "x", null, t0),
      Row("A", null, "user", "x", "search", t0),
      Row("A", Integer.valueOf(1), "user", "x", "search", t0))
    val out = RefOps.toolVocabGrowth(spark.createDataFrame(rows, schema))
      .collect().map(r => r.getInt(1) -> r.getAs[Long]("distinct_tools_so_far"))
      .toMap
    assert(out == Map(0 -> 0L, 1 -> 1L))
  }

  test("toolVocabGrowth: monotone, ends at the distinct count, rows preserved") {
    val got = RefOps.toolVocabGrowth(turns).collect()
      .groupBy(_.getString(0))
    val base = turns.filter(col("turn_idx").isNotNull)
    assert(got.values.map(_.length.toLong).sum == base.count())
    val endStates = base.filter(col("tool").isNotNull)
      .groupBy(col("conv_id"))
      .agg(countDistinct(col("tool")).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (conv, rows) =>
      val curve = rows.sortBy(_.getInt(1)).map(_.getAs[Long]("distinct_tools_so_far"))
      curve.sliding(2).foreach {
        case Array(a, b) => assert(a <= b && b <= a + 1, s"$conv: non-step jump")
        case _ =>
      }
      assert(curve.last == endStates.getOrElse(conv, 0L), conv)
    }
  }

  test("hourlyProfile golden: cells, dow convention, null text/ts handling") {
    // timestamps built from INSTANTS, not Timestamp.valueOf: valueOf
    // parses in the JVM default zone, and this is the one golden test
    // asserting raw UTC calendar fields — it must not depend on the
    // developer machine's zone (the session zone is pinned UTC by
    // SparkTestBase; the JVM zone is not pinned by anything)
    import spark.implicits._
    def at(iso: String): Timestamp =
      Timestamp.from(java.time.Instant.parse(iso))
    val df = Seq(
      // 2024-01-01 is a Monday → Spark dayofweek = 2
      ("A", 0, "user", "aaaa", "t1", at("2024-01-01T09:15:00Z")),
      ("A", 1, "user", "bb", null, at("2024-01-01T09:45:00Z")),
      // null text holds its count slot but adds no chars
      ("B", 0, "user", null, "t2", at("2024-01-01T09:59:59Z")),
      // Sunday → dow 1; different hour cell
      ("C", 0, "user", "cc", null, at("2024-01-07T23:00:00Z")),
      // null ts: no calendar cell, dropped whole
      ("D", 0, "user", "zzzz", "t3", null: Timestamp))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val got = RefOps.hourlyProfile(df).collect().map(r =>
      (r.getInt(0), r.getInt(1)) -> ((r.getAs[Long]("turn_count"),
        r.getAs[Long]("tool_calls"), r.getAs[Long]("char_len_sum"),
        r.getAs[Double]("char_len_avg")))).toMap
    assert(got((2, 9)) == ((3L, 2L, 6L, 2.0)))
    assert(got((1, 23)) == ((1L, 0L, 2L, 2.0)))
    assert(got.size == 2)
  }

  test("hourlyProfile refuses a non-UTC session (calendar fields read the zone)") {
    // field extraction is session-zone-dependent for EVERY timestamp
    // type — the guard must fire even for plain TimestampType, where
    // the µs-arithmetic operators' NTZ-only check stays silent
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException](RefOps.hourlyProfile(turns))
      assert(e.getMessage.contains("session-timezone-dependent"), e.getMessage)
      // semantically-UTC aliases must PASS: Spark's default session zone
      // is the JVM zone, which reports 'Etc/UTC' on UTC hosts — a bare
      // string equality crashed a UTC-host run on exactly that
      // (measured); any zero-fixed-offset zone has identical rules
      for (alias <- Seq("Etc/UTC", "GMT", "Z", "+00:00")) {
        spark.conf.set("spark.sql.session.timeZone", alias)
        assert(RefOps.hourlyProfile(turns).columns.contains("dow"), alias)
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("hourlyProfile cells partition the corpus and bound at 168") {
    val rows = RefOps.hourlyProfile(turns).collect()
    assert(rows.length <= 168)
    assert(rows.map(_.getAs[Long]("turn_count")).sum ==
      turns.filter(col("ts").isNotNull).count())
    rows.foreach { r =>
      assert(r.getInt(0) >= 1 && r.getInt(0) <= 7)
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 23)
    }
  }

  test("roleTransitions: pair mass and per-role share totals on synth data") {
    val base = turns.filter(col("turn_idx").isNotNull)
    val nTurns = base.count()
    val nConvs = base.select(col("conv_id")).distinct().count()
    val rows = RefOps.roleTransitions(turns).collect()
    // every non-final turn contributes exactly one pair
    assert(rows.map(_.getAs[Long]("cnt")).sum == nTurns - nConvs)
    // shares row-normalize: each role's outgoing shares sum to 1
    rows.groupBy(r => Option(r.getString(0))).foreach { case (role, rs) =>
      val s = rs.map(_.getAs[Double]("share")).sum
      assert(math.abs(s - 1.0) < 1e-9, s"$role: $s")
    }
  }
}
