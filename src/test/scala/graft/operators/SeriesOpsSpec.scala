package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ingest.Synth

/** Specs for the series-shape operators: OHLC candles, day-over-day
  * deltas, and the missing-data gap report.
  */
class SeriesOpsSpec extends SparkTestBase {

  private lazy val turns = Synth.transcripts(
    spark, nConvs = 30, avgTurns = 50, seed = 17L).toDF().cache()

  private def turnsDf(rows: Seq[(String, Int, String, String, String, String)]) = {
    import spark.implicits._
    rows.map { case (c, i, r, x, tl, ts) =>
      (c, i, r, x, tl, if (ts == null) null else Timestamp.valueOf(ts))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  // ---- OHLC candles ---------------------------------------------------

  test("ohlcCandles golden: endpoints by turn order, extremes, null doctrine") {
    val df = turnsDf(Seq(
      // window 00:00 — open len 10 (idx 0), close len 5 (idx 3),
      // high 30, low 5; the null-text idx 2 sample is dropped whole
      ("A", 0, "user", "a" * 10, null, "2024-01-01 00:01:00"),
      ("A", 1, "assistant", "b" * 30, null, "2024-01-01 00:10:00"),
      ("A", 2, "user", null, null, "2024-01-01 00:20:00"),
      ("A", 3, "assistant", "d" * 5, null, "2024-01-01 00:59:59"),
      // window 01:00 — single sample: open = close = high = low
      ("A", 4, "user", "e" * 7, null, "2024-01-01 01:00:00"),
      // unplaceable / unorderable observations drop whole
      ("A", 5, "user", "f" * 9, null, null),
      ("B", 0, "user", "g" * 4, null, "2024-01-01 00:30:00")))
      .withColumn("turn_idx",
        when(col("conv_id") === "A" && col("turn_idx") === 5,
          lit(null).cast("int")).otherwise(col("turn_idx")))
    val out = SeriesOps.ohlcCandles(df).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    assert(out.size == 3)
    assert(out(("A", "2024-01-01 00:00:00.0")) == ((3L, 10L, 30L, 5L, 5L, 25L)))
    assert(out(("A", "2024-01-01 01:00:00.0")) == ((1L, 7L, 7L, 7L, 7L, 0L)))
    assert(out(("B", "2024-01-01 00:00:00.0")) == ((1L, 4L, 4L, 4L, 4L, 0L)))
  }

  test("ohlcCandles extremes agree with the brute groupBy; endpoints with first/last") {
    val clean = turns.filter(
      col("ts").isNotNull && col("turn_idx").isNotNull && col("text").isNotNull)
    val us = unix_micros(col("ts").cast("timestamp"))
    val wUs = 3600L * 1000000L
    val keyed = clean.select(
      col("conv_id"),
      timestamp_micros(us - pmod(us, lit(wUs))).as("window_start"),
      col("turn_idx"),
      length(col("text")).cast("long").as("char_len"))
    // independent construction: sort_array over collected (idx, len)
    // structs — endpoints are the first/last elements, extremes min/max
    val brute = keyed
      .groupBy(col("conv_id"), col("window_start"))
      .agg(
        count(lit(1)).as("n_samples"),
        sort_array(collect_list(struct(col("turn_idx"), col("char_len"))))
          .as("_s"),
        max(col("char_len")).as("high_len"),
        min(col("char_len")).as("low_len"))
      .select(col("conv_id"), col("window_start"), col("n_samples"),
        element_at(col("_s"), 1).getField("char_len").as("open_len"),
        col("high_len"), col("low_len"),
        element_at(col("_s"), -1).getField("char_len").as("close_len"),
        (col("high_len") - col("low_len")).as("hl_range"))
    assertSameRows(SeriesOps.ohlcCandles(turns), brute)
  }

  test("ohlcCandles rejects invalid window tunables") {
    intercept[IllegalArgumentException] { SeriesOps.ohlcCandles(turns, 0L) }
    intercept[IllegalArgumentException] {
      SeriesOps.ohlcCandles(turns, 400000000L)
    }
  }

  // ---- daily deltas ---------------------------------------------------

  test("dailyDeltas golden: sparse-day lag, first-day NULLs, count census") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 08:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 09:00:00"),
      ("A", 2, "user", null, null, "2024-01-01 10:00:00"), // null text counts
      // day 2 absent entirely; day 3 is compared against day 1
      ("A", 3, "user", "x", null, "2024-01-03 08:00:00"),
      ("A", 4, "user", "x", null, null), // unplaceable: dropped
      ("B", 0, "user", "x", null, "2024-01-02 00:00:00")))
    val out = SeriesOps.dailyDeltas(df).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString) ->
        (r.getLong(2), Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))
      .toMap
    assert(out.size == 3)
    assert(out(("A", "2024-01-01 00:00:00.0")) == ((3L, None, None, None)))
    assert(out(("A", "2024-01-03 00:00:00.0")) ==
      ((1L, Some(3L), Some(-2L), Some(-0.666667d))))
    assert(out(("B", "2024-01-02 00:00:00.0")) == ((1L, None, None, None)))
  }

  test("dailyDeltas: deltas telescope to last-minus-first per conversation") {
    val d = SeriesOps.dailyDeltas(turns).cache()
    val sums = d.groupBy(col("conv_id")).agg(
      sum(col("delta")).as("delta_sum"),
      max_by(col("turn_count"), col("day_start")).as("last_c"),
      min_by(col("turn_count"), col("day_start")).as("first_c"),
      count(lit(1)).as("days"))
      .collect()
    assert(sums.nonEmpty)
    sums.foreach { r =>
      val expected =
        if (r.getLong(4) == 1L) null else r.getLong(2) - r.getLong(3)
      assert(r.get(1) == expected, s"conv ${r.getString(0)}")
    }
    // census: per-conv day totals re-add to the placeable turn count
    val total = d.agg(sum(col("turn_count"))).collect()(0).getLong(0)
    assert(total == turns.filter(col("ts").isNotNull).count())
    d.unpersist()
  }

  // ---- PAA + SAX ------------------------------------------------------

  test("paaSax golden: balanced segments, z-scores, quartile symbols") {
    // lens 10,20,30,40: mu=25, population var=125, sigma=11.1803...
    // seg0 paa=15 -> z=-0.894 -> 'a'; seg1 paa=35 -> z=+0.894 -> 'd'
    val df = turnsDf(Seq(
      ("A", 0, "user", "a" * 10, null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "a" * 20, null, "2024-01-01 00:01:00"),
      ("A", 2, "user", "a" * 30, null, "2024-01-01 00:02:00"),
      ("A", 3, "user", "a" * 40, null, "2024-01-01 00:03:00")))
    val out = SeriesOps.paaSax(df, segments = 2).collect()
      .map(r => r.getLong(1) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getString(5)))
      .toMap
    assert(out.size == 2)
    assert(out(0L) == ((2L, 15.0, -0.894427, "a")))
    assert(out(1L) == ((2L, 35.0, 0.894427, "d")))
  }

  test("paaSax: constant series pins z=0 and symbol 'c'; null samples drop") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "a" * 7, null, "2024-01-01 00:00:00"),
      ("A", 1, "user", null, null, "2024-01-01 00:01:00"), // dropped
      ("A", 2, "user", "a" * 7, null, "2024-01-01 00:02:00"),
      ("A", 3, "user", "a" * 7, null, "2024-01-01 00:03:00")))
      .withColumn("turn_idx",
        when(col("turn_idx") === 3, lit(null).cast("int"))
          .otherwise(col("turn_idx"))) // dropped too
    val out = SeriesOps.paaSax(df, segments = 2).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getDouble(4) == 0.0 && r.getString(5) == "c")
      assert(r.getDouble(3) == 7.0)
    }
    assert(out.map(_.getLong(2)).sum == 2L)
  }

  test("paaSax: segments partition each conversation near-evenly") {
    val out = SeriesOps.paaSax(turns, segments = 8).cache()
    val perConv = out.groupBy(col("conv_id")).agg(
      sum(col("n_in_seg")).as("total"),
      max(col("n_in_seg")).as("mx"),
      min(col("n_in_seg")).as("mn"),
      count(lit(1)).as("segs"),
      max(col("seg")).as("max_seg"),
      min(col("seg")).as("min_seg")).collect()
    val expected = turns
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .groupBy(col("conv_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perConv.nonEmpty)
    perConv.foreach { r =>
      val n = expected(r.getString(0))
      assert(r.getLong(1) == n)
      assert(r.getLong(2) - r.getLong(3) <= 1L, s"uneven split for ${r.getString(0)}")
      assert(r.getLong(4) == math.min(8L, n))
      // max occupied segment is ((n-1)*8) div n: S-1 once n >= S, but
      // sparser (e.g. {0,2,4,6} at n=4) for short conversations
      assert(r.getLong(6) == 0L && r.getLong(5) == (n - 1L) * 8L / n)
    }
    out.unpersist()
    intercept[IllegalArgumentException] { SeriesOps.paaSax(turns, 1) }
    intercept[IllegalArgumentException] { SeriesOps.paaSax(turns, 65) }
  }

  // ---- Theil-Sen slope ------------------------------------------------

  test("theilSenSlope golden: exact line, outlier robustness, tail window") {
    // B is y = 3x + 5 exactly; C has one wild outlier the median ignores
    val df = turnsDf(Seq(
      ("B", 0, "user", "b" * 5, null, "2024-01-01 00:00:00"),
      ("B", 1, "user", "b" * 8, null, "2024-01-01 00:01:00"),
      ("B", 2, "user", "b" * 11, null, "2024-01-01 00:02:00"),
      ("B", 3, "user", "b" * 14, null, "2024-01-01 00:03:00"),
      ("C", 0, "user", "c" * 10, null, "2024-01-01 00:00:00"),
      ("C", 1, "user", "c" * 20, null, "2024-01-01 00:01:00"),
      ("C", 2, "user", "c" * 30, null, "2024-01-01 00:02:00"),
      ("C", 3, "user", "c" * 1000, null, "2024-01-01 00:03:00")))
    val out = SeriesOps.theilSenSlope(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("B") == ((6L, 3.0)))
    // C slopes sorted: [10, 10, 10, 330, 490, 970] -> lower median 10
    assert(out("C") == ((6L, 10.0)))
    // tailK=2 keeps only turns 2,3 of B: one pair, slope 3
    val tail = SeriesOps.theilSenSlope(df, tailK = 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(tail("B") == ((1L, 3.0)))
    intercept[IllegalArgumentException] { SeriesOps.theilSenSlope(df, 1) }
  }

  test("theilSenSlope equals a self-join brute force on synth data") {
    val k = 16
    val base = turns
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx").cast("long").as("x"),
        length(col("text")).cast("long").as("y"))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("conv_id")).orderBy(col("x").desc)))
      .filter(col("_rn") <= k)
      .drop("_rn")
    val pairs = base.as("a").join(base.as("b"),
      col("a.conv_id") === col("b.conv_id") && col("a.x") < col("b.x"))
      .select(col("a.conv_id").as("conv_id"),
        ((col("b.y") - col("a.y")).cast("double") /
          (col("b.x") - col("a.x")).cast("double")).as("slope"))
    val brute = pairs.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sort_array(collect_list(col("slope"))).as("_sl"))
      .select(col("conv_id"), col("n_pairs"),
        round(element_at(col("_sl"),
          ((col("n_pairs") + 1L) / 2L).cast("int")), 6).as("theil_slope"))
    assertSameRows(SeriesOps.theilSenSlope(turns, tailK = k), brute)
  }

  // ---- seasonal residual ----------------------------------------------

  test("seasonalResidual golden: cell baseline across weeks, fixed-shape ratio") {
    // same Monday-05h cell two weeks apart: counts 2 and 4, avg 3
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 05:10:00"),
      ("A", 1, "user", "x", null, "2024-01-01 05:50:00"),
      ("B", 0, "user", "x", null, "2024-01-08 05:05:00"),
      ("B", 1, "user", "x", null, "2024-01-08 05:15:00"),
      ("B", 2, "user", "x", null, "2024-01-08 05:25:00"),
      ("B", 3, "user", "x", null, "2024-01-08 05:35:00"),
      // a different cell entirely (Tuesday 06h)
      ("C", 0, "user", "x", null, "2024-01-02 06:00:00")))
    val out = SeriesOps.seasonalResidual(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toMap
    assert(out.size == 3)
    // 2024-01-01 is a Monday: Spark dayofweek = 2
    assert(out("2024-01-01 05:00:00.0") ==
      ((2, 5, 2L, 2L, 3.0, -1.0, 0.666667)))
    assert(out("2024-01-08 05:00:00.0") ==
      ((2, 5, 4L, 2L, 3.0, 1.0, 1.333333)))
    assert(out("2024-01-02 06:00:00.0") ==
      ((3, 6, 1L, 1L, 1.0, 0.0, 1.0)))
  }

  test("seasonalResidual: residuals cancel and ratios average to 1 per cell") {
    val out = SeriesOps.seasonalResidual(turns).cache()
    val cells = out.groupBy(col("dow"), col("hod")).agg(
      sum(col("residual")).as("rsum"),
      sum(col("ratio")).as("ratio_sum"),
      count(lit(1)).as("wins"),
      min(col("cell_windows")).as("cw")).collect()
    assert(cells.nonEmpty)
    cells.foreach { r =>
      assert(math.abs(r.getDouble(2)) < 1e-4, s"cell ${r.getInt(0)}/${r.getInt(1)}")
      assert(math.abs(r.getDouble(3) - r.getLong(4)) < 1e-4)
      assert(r.getLong(4) == r.getLong(5)) // every window of the cell present
    }
    // census: window counts re-add to the placeable turn count
    val total = out.agg(sum(col("turn_count"))).collect()(0).getLong(0)
    assert(total == turns.filter(col("ts").isNotNull).count())
    out.unpersist()
  }

  // ---- tool co-occurrence ----------------------------------------------

  test("toolCooccurrence golden: reach counts once per conv, jaccard overlap") {
    // A:{search,calc} B:{search,calc,db} C:{search}; repeats collapse
    val df = turnsDf(Seq(
      ("A", 0, "tool", "x", "search", "2024-01-01 00:00:00"),
      ("A", 1, "tool", "x", "calc", "2024-01-01 00:01:00"),
      ("A", 2, "tool", "x", "calc", "2024-01-01 00:02:00"), // repeat
      ("B", 0, "tool", "x", "search", "2024-01-01 00:00:00"),
      ("B", 1, "tool", "x", "calc", "2024-01-01 00:01:00"),
      ("B", 2, "tool", "x", "db", "2024-01-01 00:02:00"),
      ("C", 0, "tool", "x", "search", "2024-01-01 00:00:00"),
      ("C", 1, "user", "x", null, "2024-01-01 00:01:00"))) // no-call marker
    val out = SeriesOps.toolCooccurrence(df).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(out.size == 3)
    assert(out(("calc", "search")) == ((2L, 2L, 3L, 0.666667)))
    assert(out(("calc", "db")) == ((1L, 2L, 1L, 0.5)))
    assert(out(("db", "search")) == ((1L, 1L, 3L, 0.333333)))
  }

  test("toolCooccurrence: canonical pairs, bounded overlap, exact reach") {
    val out = SeriesOps.toolCooccurrence(turns).collect()
    val reach = turns.filter(col("tool").isNotNull)
      .select(col("conv_id"), col("tool")).distinct()
      .groupBy(col("tool")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, b, both) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(a < b)
      assert(r.getLong(3) == reach(a) && r.getLong(4) == reach(b))
      assert(both >= 1 && both <= math.min(reach(a), reach(b)))
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  // ---- daily heavy hitters ----------------------------------------------

  test("heavyHittersDaily golden: count-desc name-asc ties, day share") {
    val mk = (c: String, i: Int, t: String, m: Int) =>
      (c, i, "tool", "x", t, f"2024-01-01 00:$m%02d:00")
    val df = turnsDf(Seq(
      mk("A", 0, "beta", 0), mk("A", 1, "beta", 1), mk("A", 2, "beta", 2),
      mk("A", 3, "alpha", 3), mk("A", 4, "alpha", 4), mk("A", 5, "alpha", 5),
      mk("A", 6, "gamma", 6),
      // next day: single tool
      ("B", 0, "tool", "x", "gamma", "2024-01-02 00:00:00")))
    val out = SeriesOps.heavyHittersDaily(df, k = 2).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out.size == 3)
    assert(out(("2024-01-01 00:00:00.0", 1L)) == (("alpha", 3L, 0.428571)))
    assert(out(("2024-01-01 00:00:00.0", 2L)) == (("beta", 3L, 0.428571)))
    assert(out(("2024-01-02 00:00:00.0", 1L)) == (("gamma", 1L, 1.0)))
    intercept[IllegalArgumentException] { SeriesOps.heavyHittersDaily(df, 0) }
  }

  test("heavyHittersDaily: ranks are dense from 1, calls nonincreasing per day") {
    val out = SeriesOps.heavyHittersDaily(turns, k = 3).cache()
    val perDay = out.groupBy(col("day_start")).agg(
      collect_list(struct(col("rank"), col("calls"))).as("rc"),
      sum(col("share")).as("share_sum"))
      .collect()
    assert(perDay.nonEmpty)
    perDay.foreach { r =>
      val rc = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
      assert(rc.map(_._1) == (1L to rc.length.toLong))
      assert(rc.sliding(2).forall(s => s.length < 2 || s(0)._2 >= s(1)._2))
      // k shares each rounded HALF_UP to 6 dp can overshoot by k*5e-7
      assert(r.getDouble(2) <= 1.0 + rc.length * 5e-7)
    }
    out.unpersist()
  }

  // ---- response latency --------------------------------------------------

  test("responseLatency golden: nearest following assistant, baton on null ts") {
    val df = turnsDf(Seq(
      // exchange 1: tool turn sits inside without breaking the pair
      ("A", 0, "user", "x", null, "2024-01-01 00:00:00"),
      ("A", 1, "tool", "x", "search", "2024-01-01 00:00:30"),
      ("A", 2, "assistant", "x", null, "2024-01-01 00:01:40"),
      // exchange 2: the null-ts assistant is unplaceable; baton passes
      ("A", 3, "user", "x", null, "2024-01-01 00:10:00"),
      ("A", 4, "assistant", "x", null, null),
      ("A", 5, "assistant", "x", null, "2024-01-01 00:15:00"),
      // tail user turn: no sample
      ("A", 6, "user", "x", null, "2024-01-01 00:20:00"),
      // single-exchange conv
      ("B", 0, "user", "x", null, "2024-01-01 00:00:00"),
      ("B", 1, "assistant", "x", null, "2024-01-01 00:00:10")))
    val out = SeriesOps.responseLatency(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    // A: samples 100s and 300s -> p50 = 200s (midpoint), max 300s
    assert(out("A") == ((2L, 200000000.0, 290000000.0, 300000000L)))
    assert(out("B") == ((1L, 10000000.0, 10000000.0, 10000000L)))
  }

  test("responseLatency: sample count and max match a brute self-join") {
    val base = turns.filter(col("ts").isNotNull && col("turn_idx").isNotNull)
    val users = base.filter(col("role") === "user")
      .select(col("conv_id"), col("turn_idx").as("u_idx"),
        unix_micros(col("ts").cast("timestamp")).as("u_us"))
    val assistants = base.filter(col("role") === "assistant")
      .select(col("conv_id"), col("turn_idx").as("a_idx"),
        unix_micros(col("ts").cast("timestamp")).as("a_us"))
    val brute = users.join(assistants, Seq("conv_id"))
      .filter(col("a_idx") > col("u_idx"))
      .groupBy(col("conv_id"), col("u_idx"), col("u_us"))
      .agg(min_by(col("a_us"), col("a_idx")).as("a_us"))
      .select(col("conv_id"), (col("a_us") - col("u_us")).as("latency_us"))
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_responses"), max(col("latency_us")).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = SeriesOps.responseLatency(turns).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(got.nonEmpty && got.keySet == brute.keySet)
    got.foreach { case (c, v) => assert(v == brute(c), s"conv $c") }
  }

  // ---- cohort retention ---------------------------------------------------

  test("cohortRetention golden: observed-age cells, self-contained size") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 08:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 09:00:00"), // same day: once
      ("A", 2, "user", "x", null, "2024-01-03 08:00:00"), // age 2
      ("B", 0, "user", "x", null, "2024-01-01 23:00:00"),
      ("C", 0, "user", "x", null, "2024-01-02 00:00:00")))
    val out = SeriesOps.cohortRetention(df).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out.size == 3)
    assert(out(("2024-01-01 00:00:00.0", 0L)) == ((2L, 2L, 1.0)))
    assert(out(("2024-01-01 00:00:00.0", 2L)) == ((1L, 2L, 0.5)))
    assert(out(("2024-01-02 00:00:00.0", 0L)) == ((1L, 1L, 1.0)))
  }

  test("cohortRetention: age-0 is full, grid re-adds to conv-day census") {
    val out = SeriesOps.cohortRetention(turns).cache()
    assert(out.filter(col("age_days") === 0L && col("retention") =!= 1.0)
      .count() == 0)
    val gridTotal = out.agg(sum(col("active_convs"))).collect()(0).getLong(0)
    val dayUs = 86400L * 1000000L
    val us = unix_micros(col("ts").cast("timestamp"))
    val convDays = turns.filter(col("ts").isNotNull)
      .select(col("conv_id"), (us - pmod(us, lit(dayUs))).as("d"))
      .distinct().count()
    assert(gridTotal == convDays)
    val cohortTotal = out.filter(col("age_days") === 0L)
      .agg(sum(col("active_convs"))).collect()(0).getLong(0)
    assert(cohortTotal == turns.select(col("conv_id")).distinct().count())
    out.unpersist()
  }

  // ---- SAX motifs -----------------------------------------------------

  test("saxMotifs golden: shared shapes group, short convs keep short signatures") {
    val df = turnsDf(Seq(
      // A and B: same ramp shape -> same 2-segment signature "ad"
      ("A", 0, "user", "a" * 10, null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "a" * 20, null, "2024-01-01 00:01:00"),
      ("A", 2, "user", "a" * 30, null, "2024-01-01 00:02:00"),
      ("A", 3, "user", "a" * 40, null, "2024-01-01 00:03:00"),
      ("B", 0, "user", "b" * 20, null, "2024-01-01 00:00:00"),
      ("B", 1, "user", "b" * 40, null, "2024-01-01 00:01:00"),
      ("B", 2, "user", "b" * 60, null, "2024-01-01 00:02:00"),
      ("B", 3, "user", "b" * 80, null, "2024-01-01 00:03:00"),
      // C: constant -> "cc"
      ("C", 0, "user", "c" * 7, null, "2024-01-01 00:00:00"),
      ("C", 1, "user", "c" * 7, null, "2024-01-01 00:01:00")))
    val out = SeriesOps.saxMotifs(df, segments = 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.size == 2)
    assert(out("ad") == ((2L, "A")))
    assert(out("cc") == ((1L, "C")))
  }

  test("saxMotifs: signature census covers every sampled conversation") {
    val out = SeriesOps.saxMotifs(turns, segments = 8).cache()
    val convs = turns
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id")).distinct().count()
    assert(out.agg(sum(col("n_convs"))).collect()(0).getLong(0) == convs)
    // signatures are SAX alphabet only, length <= segments
    out.collect().foreach { r =>
      val sig = r.getString(0)
      assert(sig.nonEmpty && sig.length <= 8 && sig.forall("abcd".contains(_)))
    }
    out.unpersist()
  }

  // ---- conversation lifecycle -------------------------------------------

  test("convLifecycle golden: span vs active days, unplaceable turns drop") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 00:00:00"),
      ("A", 1, "user", null, null, "2024-01-01 12:00:00"), // null text counts
      ("A", 2, "user", "x", null, "2024-01-06 00:00:00"),  // day 5: 2 active days
      ("A", 3, "user", "x", null, null),                   // unplaceable: dropped
      ("B", 0, "user", "x", null, "2024-01-02 10:00:00")))
    val out = SeriesOps.convLifecycle(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getTimestamp(2).toString, r.getTimestamp(3).toString,
          r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    assert(out("A") == ((3L, "2024-01-01 00:00:00.0", "2024-01-06 00:00:00.0",
      432000000000L, 2L, 1.5)))
    assert(out("B") == ((1L, "2024-01-02 10:00:00.0", "2024-01-02 10:00:00.0",
      0L, 1L, 1.0)))
  }

  test("convLifecycle: census re-adds, active days match the cohort grid") {
    val out = SeriesOps.convLifecycle(turns).cache()
    assert(out.agg(sum(col("n_turns"))).collect()(0).getLong(0) ==
      turns.filter(col("ts").isNotNull).count())
    // Σ active_days over convs == Σ active_convs over the cohort grid
    val gridTotal = SeriesOps.cohortRetention(turns)
      .agg(sum(col("active_convs"))).collect()(0).getLong(0)
    assert(out.agg(sum(col("active_days"))).collect()(0).getLong(0) == gridTotal)
    out.collect().foreach { r =>
      // a span crossing k midnights touches at most k+1 days, and
      // k <= floor(span/day) + 1 -> active_days <= span/day + 2
      assert(r.getLong(5) >= 1L &&
        r.getLong(4) >= 0L &&
        r.getLong(5) <= r.getLong(4) / 86400000000L + 2L,
        s"conv ${r.getString(0)}: active days exceed the span envelope")
    }
    out.unpersist()
  }

  // ---- term top-k ---------------------------------------------------------

  test("termTopK golden: token-sum convention, count-desc term-asc cutoff") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "the cat  sat", null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "the dog", null, "2024-01-01 00:01:00"),
      ("B", 0, "user", null, null, "2024-01-01 00:00:00"), // contributes nothing
      ("B", 1, "user", "the", null, "2024-01-01 00:01:00")))
    // tokens: the×3, cat, ""(double space), sat, dog -> total 7
    val out = SeriesOps.termTopK(df, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.size == 3)
    assert(out(1L) == (("the", 3L, 0.428571)))
    assert(out(2L) == (("", 1L, 0.142857)))   // empty sorts first among ties
    assert(out(3L) == (("cat", 1L, 0.142857)))
    intercept[IllegalArgumentException] { SeriesOps.termTopK(df, 0) }
  }

  test("termTopK: ranks dense, counts nonincreasing, share denominator is token_sum") {
    // the synth vocabulary is 15 words; k=10 keeps the cutoff real
    val out = SeriesOps.termTopK(turns, k = 10).collect().sortBy(_.getLong(0))
    assert(out.length == 10)
    assert(out.map(_.getLong(0)).toSeq == (1L to 10L))
    assert(out.sliding(2).forall(s => s(0).getLong(2) >= s(1).getLong(2)))
    val total = turns.filter(col("text").isNotNull)
      .agg(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    out.foreach { r =>
      val expect = BigDecimal(r.getLong(2).toDouble / total.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == expect, s"term ${r.getString(1)}")
    }
  }

  // ---- term top-k sketch (Misra-Gries) --------------------------------

  test("termTopKSketch exhaustive capacity == exact termTopK bit-for-bit") {
    // synth vocabulary is small, so capacity 4096 never trims: every
    // counter is exact and the sketch output IS the exact top-k
    assertSameRows(
      SeriesOps.termTopKSketch(turns, k = 10, capacity = 4096),
      SeriesOps.termTopK(turns, k = 10))
    // partitioning-invariant at exhaustive capacity (mergeability with
    // no trims: merge order cannot matter when nothing is ever dropped)
    assertSameRows(
      SeriesOps.termTopKSketch(turns.repartition(13), 10, 4096),
      SeriesOps.termTopK(turns, k = 10))
    intercept[IllegalArgumentException] {
      SeriesOps.termTopKSketch(turns, k = 100, capacity = 50)
    }
  }

  test("termTopKSketch sub-capacity: MG error bound holds, heavy terms survive") {
    import spark.implicits._
    // skewed stream: term t0 x 600, t1 x 300, then 200 distinct singletons
    val texts = Seq.fill(600)("t0") ++ Seq.fill(300)("t1") ++
      (0 until 200).map(i => s"rare$i")
    val df = texts.zipWithIndex.map { case (t, i) =>
      ("c" + (i % 7), i / 7, "user", t, null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val n = 1100.0
    val cap = 16
    val out = SeriesOps.termTopKSketch(df, k = 5, capacity = cap)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val trueCounts = Map("t0" -> 600L, "t1" -> 300L).withDefaultValue(1L)
    // every estimate is an underestimate within N/(capacity+1)
    out.foreach { case (t, est) =>
      assert(est <= trueCounts(t), s"$t overestimated: $est")
      assert(est >= trueCounts(t) - (n / (cap + 1)).toLong - 1,
        s"$t below the MG bound: $est")
    }
    // the true heavy hitters clear the bound and must be in the top-k
    assert(out.contains("t0") && out.contains("t1"))
    assert(out("t0") > out("t1"))
  }

  test("termTopKSketch plan: single-row exchange, no per-term shuffle") {
    val p = SeriesOps.termTopKSketch(turns, 10, 4096)
      .queryExecution.executedPlan.toString
    // the global sketch aggregation exchanges ONE summary row per
    // partition (SinglePartition), never a (term, count) pair per term
    assert(p.contains("SinglePartition"), s"expected single-group agg:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  // ---- term lift ------------------------------------------------------

  test("termLift golden: exact-rational lift, minTf cut after mass count") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x x y", null, "2024-01-01 00:00:00"),
      ("B", 0, "user", "x z z", null, "2024-01-01 00:00:00")))
    // tokens: A{x:2,y:1} B{x:1,z:2}; ctf x:3 y:1 z:2; ct=6; cv=3 each
    val out = SeriesOps.termLift(df, k = 5, minTf = 2L).collect()
      .map(r => (r.getString(0), r.getString(2)) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out.size == 2)
    assert(out(("A", "x")) == ((1L, 2L, 3L, 1.333333))) // (2·6)/(3·3)
    assert(out(("B", "z")) == ((1L, 2L, 2L, 2.0)))      // (2·6)/(2·3)
    // minTf=1 admits the hapaxes; conv mass still counts ALL tokens
    val all = SeriesOps.termLift(df, k = 5, minTf = 1L).collect()
      .map(r => (r.getString(0), r.getString(2)) -> (r.getLong(1), r.getDouble(5)))
      .toMap
    assert(all(("A", "y")) == ((1L, 2.0)))       // (1·6)/(1·3) beats x
    assert(all(("A", "x")) == ((2L, 1.333333)))
    assert(all(("B", "x")) == ((2L, 0.666667)))  // (1·6)/(3·3)
    intercept[IllegalArgumentException] { SeriesOps.termLift(df, 0) }
  }

  test("termLift: dense ranks per conv, tf floor respected, lift positive") {
    val out = SeriesOps.termLift(turns, k = 3, minTf = 2L).cache()
    out.collect().groupBy(_.getString(0)).foreach { case (c, rows) =>
      val ranks = rows.map(_.getLong(1)).sorted.toSeq
      assert(ranks == (1L to ranks.length), s"conv $c ranks not dense: $ranks")
      assert(ranks.length <= 3)
    }
    assert(out.filter(col("tf") < 2L).count() == 0)
    assert(out.filter(col("lift") <= 0.0).count() == 0)
    out.unpersist()
  }

  // ---- Mann-Kendall ---------------------------------------------------

  test("mannKendall golden: sign counts, tie handling, tau-b NULL pin") {
    val mk = (lens: Seq[Int], conv: String) => lens.zipWithIndex.map {
      case (n, i) => (conv, i, "user", "a" * n, null, "2024-01-01 00:00:00")
    }
    val df = turnsDf(
      mk(Seq(1, 2, 2, 5), "A") ++  // S=5 of 6 pairs, 1 tied
        mk(Seq(3, 2, 1), "B") ++   // strictly decreasing: S=-3
        mk(Seq(7), "C") ++         // single sample: no pairs, no row
        mk(Seq(4, 4), "D"))        // all tied: tau_b undefined
    val out = SeriesOps.mannKendall(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), if (r.isNullAt(6)) null else r.getDouble(6))).toMap
    assert(out.size == 3)
    assert(out("A") == ((4L, 6L, 1L, 5L, 0.833333, 0.912871))) // 5/sqrt(30)
    assert(out("B") == ((3L, 3L, 0L, -3L, -1.0, -1.0)))
    assert(out("D") == ((2L, 1L, 1L, 0L, 0.0, null)))
    // tailK window: only the trailing samples enter the test
    val tail = SeriesOps.mannKendall(turnsDf(mk(Seq(9, 1, 2), "E")), tailK = 2)
      .collect()(0)
    assert(tail.getLong(4) == 1L && tail.getLong(2) == 1L) // one rising pair
  }

  test("mannKendall: pair algebra invariants on the sampled corpus") {
    val out = SeriesOps.mannKendall(turns).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, n0, t, s) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n >= 2 && n <= 32)
      assert(n0 == n * (n - 1) / 2, s"n_pairs mismatch for ${r.getString(0)}")
      assert(math.abs(s) <= n0 - t, "S exceeds the untied pair count")
      val tauA = r.getDouble(5)
      assert(tauA >= -1.0 && tauA <= 1.0)
      // |tau_b| >= |tau_a|: the tie-corrected denominator only shrinks
      if (!r.isNullAt(6))
        assert(math.abs(r.getDouble(6)) + 1e-9 >= math.abs(tauA))
    }
  }

  // ---- rescaled range -------------------------------------------------

  test("rescaledRange golden: exact deviation range, zero-variance NULL pin") {
    val mk = (lens: Seq[Int], conv: String) => lens.zipWithIndex.map {
      case (n, i) => (conv, i, "user", "a" * n, null, "2024-01-01 00:00:00")
    }
    val df = turnsDf(mk(Seq(1, 2, 3), "A") ++ mk(Seq(5, 5), "B") ++ mk(Seq(7), "C"))
    val out = SeriesOps.rescaledRange(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    // A: dev = [-3,-3,0] -> range 3; var_num = 3·14−36 = 6; 3/sqrt(6)
    assert(out("A") == ((3L, 3L, 1.224745)))
    assert(out("B") == ((2L, 0L, null))) // constant: zero variance
    assert(out("C") == ((1L, 0L, null)))
  }

  test("rescaledRange: matches a driver-side exact recompute per conversation") {
    val out = SeriesOps.rescaledRange(turns).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    val series = turns
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"), length(col("text")).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    assert(out.size == series.size)
    series.foreach { case (conv, rows) =>
      val ys = rows.sortBy(_._2).map(_._3)
      val n = ys.length.toLong
      val s = ys.sum
      val ss = ys.map(y => BigInt(y) * y).sum
      val devs = ys.scanLeft(0L)(_ + _).tail.zipWithIndex.map {
        case (c, i) => n * c - (i + 1) * s
      }
      val varNum = BigInt(n) * ss - BigInt(s) * s
      val expect =
        if (varNum > 0)
          BigDecimal((devs.max - devs.min).toDouble /
            math.sqrt(varNum.toDouble))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else null
      assert(out(conv) == ((n, devs.max - devs.min, expect)), s"conv $conv")
    }
  }

  // ---- day activity rank ----------------------------------------------

  test("dayActivityRank golden: competition ties, single-conv-day pct pin") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 02:00:00"),
      ("A", 2, "user", "x", null, "2024-01-01 03:00:00"),
      ("B", 0, "user", "x", null, "2024-01-01 04:00:00"),
      ("C", 0, "user", "x", null, "2024-01-01 05:00:00"),
      ("A", 3, "user", "x", null, "2024-01-02 01:00:00"),
      ("A", 4, "user", "x", null, "2024-01-02 02:00:00")))
    val out = SeriesOps.dayActivityRank(df).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out(("2024-01-01 00:00:00.0", "A")) == ((3L, 3L, 1L, 0.0)))
    assert(out(("2024-01-01 00:00:00.0", "B")) == ((1L, 3L, 2L, 0.5)))
    assert(out(("2024-01-01 00:00:00.0", "C")) == ((1L, 3L, 2L, 0.5)))
    assert(out(("2024-01-02 00:00:00.0", "A")) == ((2L, 1L, 1L, 0.0)))
  }

  test("dayActivityRank: census re-adds, percentiles bounded, ranks anchored") {
    val out = SeriesOps.dayActivityRank(turns).cache()
    assert(out.agg(sum(col("turn_count"))).collect()(0).getLong(0) ==
      turns.filter(col("ts").isNotNull).count())
    out.collect().groupBy(_.getTimestamp(0)).foreach { case (day, rows) =>
      assert(rows.map(_.getLong(4)).min == 1L, s"day $day has no rank-1 row")
      assert(rows.forall(r => r.getLong(3) == rows.length))
      assert(rows.forall(r => r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0))
    }
    out.unpersist()
  }

  // ---- tool pair correlation --------------------------------------------

  test("toolPairCorrelation golden: zero-fill alignment, degenerate pins") {
    val df = turnsDf(Seq(
      // day 1: s=2 b=4 c=1 | day 2: s=1 b=2 c=1 | day 3: s=3 b=6 d=1 c=1
      ("A", 0, "user", "x", "s", "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", "s", "2024-01-01 02:00:00"),
      ("A", 2, "user", "x", "b", "2024-01-01 03:00:00"),
      ("A", 3, "user", "x", "b", "2024-01-01 04:00:00"),
      ("A", 4, "user", "x", "b", "2024-01-01 05:00:00"),
      ("A", 5, "user", "x", "b", "2024-01-01 06:00:00"),
      ("A", 6, "user", "x", "c", "2024-01-01 07:00:00"),
      ("A", 7, "user", "x", "s", "2024-01-02 01:00:00"),
      ("A", 8, "user", "x", "b", "2024-01-02 02:00:00"),
      ("A", 9, "user", "x", "b", "2024-01-02 03:00:00"),
      ("A", 10, "user", "x", "c", "2024-01-02 04:00:00"),
      ("A", 11, "user", "x", "s", "2024-01-03 01:00:00"),
      ("A", 12, "user", "x", "s", "2024-01-03 02:00:00"),
      ("A", 13, "user", "x", "s", "2024-01-03 03:00:00"),
      ("A", 14, "user", "x", "b", "2024-01-03 04:00:00"),
      ("A", 15, "user", "x", "b", "2024-01-03 05:00:00"),
      ("A", 16, "user", "x", "b", "2024-01-03 06:00:00"),
      ("A", 17, "user", "x", "b", "2024-01-03 07:00:00"),
      ("A", 18, "user", "x", "b", "2024-01-03 08:00:00"),
      ("A", 19, "user", "x", "b", "2024-01-03 09:00:00"),
      ("A", 20, "user", "x", "d", "2024-01-03 10:00:00"),
      ("A", 21, "user", "x", "c", "2024-01-03 10:30:00"),
      ("A", 22, "user", "x", null, "2024-01-03 11:00:00"))) // no-call marker
    val out = SeriesOps.toolPairCorrelation(df).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out.size == 6) // C(4,2) canonical pairs
    assert(out(("b", "s")) == ((3L, 1.0)))      // s = b/2 exactly
    assert(out(("b", "d")) == ((3L, 0.866025))) // d = [0,0,1] zero-filled
    assert(out(("d", "s")) == ((3L, 0.866025)))
    // constant series c = [1,1,1]: zero variance pins NULL
    assert(out(("b", "c")) == ((3L, null)))
    assert(out(("c", "d")) == ((3L, null)))
    assert(out(("c", "s")) == ((3L, null)))
    // fewer than 3 aligned days pins NULL regardless of variance
    val short = SeriesOps.toolPairCorrelation(df.filter(
      col("ts") < java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))).collect()
    assert(short.forall(_.isNullAt(3)))
  }

  test("toolPairCorrelation: canonical pairs, bounded corr, shared n_days") {
    val out = SeriesOps.toolPairCorrelation(turns).collect()
    assert(out.nonEmpty)
    val nDays = out.head.getLong(2)
    out.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs must be canonical a<b")
      assert(r.getLong(2) == nDays, "zero-fill must align every pair")
      if (!r.isNullAt(3))
        assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9)
    }
  }

  // ---- binary split -----------------------------------------------------

  test("binarySplit golden: max-gain split, constant ties to smallest k") {
    val mk = (lens: Seq[Int], conv: String) => lens.zipWithIndex.map {
      case (n, i) => (conv, i, "user", "a" * n, null, "2024-01-01 00:00:00")
    }
    val df = turnsDf(
      mk(Seq(1, 1, 9, 9), "A") ++ mk(Seq(5, 5, 5), "B") ++ mk(Seq(7), "C"))
    val out = SeriesOps.binarySplit(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(out.size == 2) // C has no interior split
    // A: D = [-16,-32,-16], gains [21.33, 64, 21.33] -> k=2 splits 1,1|9,9
    assert(out("A") == ((4L, 2L, 1.0, 9.0, 64.0)))
    // B constant: all gains 0, tie breaks to k=1
    assert(out("B") == ((3L, 1L, 5.0, 5.0, 0.0)))
  }

  test("binarySplit: matches a driver-side exact argmax per conversation") {
    val out = SeriesOps.binarySplit(turns).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val series = turns
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"), length(col("text")).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .filter(_._2.length >= 2)
    assert(out.size == series.size)
    series.foreach { case (conv, rows) =>
      val ys = rows.sortBy(_._2).map(_._3)
      val n = ys.length.toLong
      val s = ys.sum
      val gains = ys.scanLeft(0L)(_ + _).tail.dropRight(1).zipWithIndex.map {
        case (c, i) =>
          val k = i + 1L
          val d = (n * c - k * s).toDouble
          (k, d * d / ((k * (n - k)).toDouble * n.toDouble))
      }
      val best = gains.minBy { case (k, g) => (-g, k) }._1
      assert(out(conv) == ((n, best)), s"conv $conv split mismatch")
    }
  }

  // ---- tool cadence -----------------------------------------------------

  test("toolCadence golden: per-key gaps, single-call NULL stats") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", "search", "2024-01-01 00:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 00:05:00"), // not a call
      ("A", 2, "user", "x", "search", "2024-01-01 00:10:00"),
      ("A", 3, "user", "x", "search", "2024-01-01 00:40:00"),
      ("A", 4, "user", "x", "db", "2024-01-01 01:00:00")))
    val out = SeriesOps.toolCadence(df).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getTimestamp(3).toString, r.getTimestamp(4).toString,
          if (r.isNullAt(5)) null else r.getDouble(5),
          if (r.isNullAt(7)) null else r.getLong(7))).toMap
    // search gaps: [600s, 1800s] -> p50 = 1200s
    assert(out(("A", "search")) == ((3L, "2024-01-01 00:00:00.0",
      "2024-01-01 00:40:00.0", 1.2e9, 1800000000L)))
    assert(out(("A", "db")) == ((1L, "2024-01-01 01:00:00.0",
      "2024-01-01 01:00:00.0", null, null)))
  }

  test("toolCadence: census re-adds, quantiles ordered per key") {
    val out = SeriesOps.toolCadence(turns).cache()
    val calls = turns.filter(col("ts").isNotNull && col("tool").isNotNull &&
      col("turn_idx").isNotNull).count()
    assert(out.agg(sum(col("n_calls"))).collect()(0).getLong(0) == calls)
    out.collect().foreach { r =>
      if (!r.isNullAt(5)) {
        assert(r.getDouble(5) <= r.getDouble(6) + 1e-9)
        assert(r.getDouble(6) <= r.getLong(7).toDouble + 1e-9)
        assert(r.getLong(2) >= 2)
      } else assert(r.getLong(2) == 1L)
    }
    out.unpersist()
  }

  // ---- term vocabulary growth ---------------------------------------------

  test("termVocabGrowth golden: first-seen census, running vocabulary") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "a b", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "a", null, "2024-01-01 02:00:00"),
      ("B", 0, "user", "b c", null, "2024-01-02 01:00:00"),
      ("B", 1, "user", "a", null, "2024-01-03 01:00:00"),
      ("B", 2, "user", null, null, "2024-01-04 01:00:00"))) // nothing
    val out = SeriesOps.termVocabGrowth(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.size == 3)
    assert(out("2024-01-01 00:00:00.0") == ((3L, 2L, 2L, 2L)))
    assert(out("2024-01-02 00:00:00.0") == ((2L, 2L, 1L, 3L)))
    assert(out("2024-01-03 00:00:00.0") == ((1L, 1L, 0L, 3L)))
  }

  test("termVocabGrowth: growth telescopes to the corpus vocabulary") {
    val out = SeriesOps.termVocabGrowth(turns).collect().sortBy(_.getTimestamp(0))
    val placeable = turns.filter(col("ts").isNotNull && col("text").isNotNull)
    val vocab = placeable
      .select(explode(split(col("text"), " ")).as("t")).distinct().count()
    val tokens = placeable
      .agg(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    assert(out.map(_.getLong(3)).sum == vocab)
    assert(out.last.getLong(4) == vocab)
    assert(out.map(_.getLong(1)).sum == tokens)
    // cum_vocab is nondecreasing and equals the running new_terms sum
    out.foldLeft(0L) { (acc, r) =>
      val next = acc + r.getLong(3)
      assert(r.getLong(4) == next); next
    }
  }

  // ---- gap report -----------------------------------------------------

  test("gapReport golden: strict threshold, bounding ids, null doctrine") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 00:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 00:30:00"), // exactly 30m: NOT a gap
      ("A", 2, "user", "x", null, "2024-01-01 01:00:01"), // 30m1s: gap
      ("A", 3, "user", "x", null, null), // unplaceable: dropped
      ("A", 4, "user", "x", null, "2024-01-01 03:00:00"), // gap from idx 2
      ("B", 0, "user", "x", null, "2024-01-01 00:00:00")))
    val out = SeriesOps.gapReport(df, minGapSeconds = 1800L).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(5)))
      .sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(
      ("A", 1, 2, 1801000000L),
      ("A", 2, 4, 7199000000L)))
  }

  test("gapReport is Sessionize's break set: gaps + 1 == sessions per conv") {
    val clean = turns.filter(col("ts").isNotNull && col("turn_idx").isNotNull)
    val gaps = SeriesOps.gapReport(clean, minGapSeconds = 1800L)
      .groupBy(col("conv_id")).agg(count(lit(1)).as("n_gaps"))
    val sessions = Sessionize.assign(clean, gapSeconds = 1800L)
      .groupBy(col("conv_id"))
      .agg(max(col("session_idx")).as("n_sessions"))
    val joined = sessions.join(gaps, Seq("conv_id"), "left")
      .select(col("conv_id"), col("n_sessions"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + 1L, s"conv ${r.getString(0)}")
    }
  }

  // ---- daily cardinality (exact + HLL++ sibling) ----------------------

  test("dailyCardinality golden: day truncation, DISTINCT skips null tool, null ts drops") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", "search", "2024-01-01 00:01:00"),
      ("A", 1, "assistant", "y", "search", "2024-01-01 23:59:59"),
      ("B", 0, "user", "z", "browse", "2024-01-01 12:00:00"),
      ("B", 1, "user", "w", null, "2024-01-01 13:00:00"), // null tool: counted turn, no tool
      ("B", 2, "user", "v", "search", "2024-01-02 00:00:00"), // next day boundary
      ("C", 0, "user", "u", "db", null))) // null ts drops whole
    val out = SeriesOps.dailyCardinality(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 2)
    assert(out("2024-01-01 00:00:00.0") == ((4L, 2L, 2L)))
    assert(out("2024-01-02 00:00:00.0") == ((1L, 1L, 1L)))
  }

  test("dailyCardinalityApprox tracks exact within the HLL++ bound and shares null doctrine") {
    val exact = SeriesOps.dailyCardinality(turns).collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val approx = SeriesOps.dailyCardinalityApprox(turns, rsd = 0.05).collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(approx.keySet == exact.keySet, "same day grid")
    approx.foreach { case (day, (turnsN, aConv, aTool)) =>
      val (eTurns, eConv, eTool) = exact(day)
      assert(turnsN == eTurns, s"turn count is exact, day $day")
      // HLL++ rsd=0.05 ⇒ 3σ relative error 15%; at this scale the
      // sparse mode is typically exact, but the CONTRACT is the bound
      assert(math.abs(aConv - eConv) <= math.max(1L, (0.15 * eConv).toLong),
        s"conv estimate off: $aConv vs $eConv on $day")
      assert(math.abs(aTool - eTool) <= math.max(1L, (0.15 * eTool).toLong),
        s"tool estimate off: $aTool vs $eTool on $day")
    }
    // determinism: the sketch hash is seedless — same input, same estimate
    val again = SeriesOps.dailyCardinalityApprox(turns, rsd = 0.05).collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == approx)
    // the rsd guard covers HLL++'s real ceiling (>= 4 addressing bits
    // needs rsd <= ~0.391): 0.395 must fail HERE with the pointed
    // message, not inside Spark's planner
    val e = intercept[IllegalArgumentException] {
      SeriesOps.dailyCardinalityApprox(turns, rsd = 0.395)
    }
    assert(e.getMessage.contains("rsd"), e.getMessage)
  }

  // ---- daily-series autocorrelation ------------------------------------

  test("dailyAutocorr golden: zero-fill, perfect lag correlation, variance gate") {
    // days 1..4 with turn counts 1,2,3,4 (linear): every lag correlates
    // perfectly (1.0) while enough pairs exist; day 3 is SILENT and
    // must enter as a real 0 — so the series is 1,2,0,4
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 10:00:00"),
      ("A", 1, "user", "x", null, "2024-01-02 10:00:00"),
      ("A", 2, "user", "x", null, "2024-01-02 11:00:00"),
      ("B", 0, "user", "x", null, "2024-01-04 09:00:00"),
      ("B", 1, "user", "x", null, "2024-01-04 10:00:00"),
      ("B", 2, "user", "x", null, "2024-01-04 11:00:00"),
      ("B", 3, "user", "x", null, "2024-01-04 12:00:00"),
      ("C", 0, "user", "x", null, null))) // null ts drops
    val out = SeriesOps.dailyAutocorr(df, maxLag = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // series (1, 2, 0, 4): lag-1 pairs ((1,2),(2,0),(0,4)) n=3;
    // lag-2 ((1,0),(2,4)) n=2 < 3 -> NULL; lag-3 ((1,4)) n=1 -> NULL
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L)._1 == 3L && out(1L)._2.isDefined)
    // exact check: x=(1,2,0) y=(2,0,4): n=3 sx=3 sy=6 sxy=2 sxx=5 syy=20
    // cov=3*2-18=-12 vx=15-9=6 vy=60-36=24 corr=-12/12=-1.0
    assert(out(1L)._2.get == -1.0, out(1L).toString)
    assert(out(2L) == ((2L, None)) && out(3L) == ((1L, None)))
  }

  test("toolLeadLag golden: perfect lead at lag 1, asymmetry, contiguous-range zero-fill") {
    // tool a fires 1,2,3 calls on days 1-3; tool b fires the SAME
    // pattern one day later (days 2-4). Contiguous grid day 1..4:
    //   a = (1, 2, 3, 0),  b = (0, 1, 2, 3)
    // a leads b at lag 1 perfectly: x=a[1..3]=(1,2,3), y=b[2..4]=(1,2,3)
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", "a", "2024-01-01 10:00:00"),
      ("A", 1, "user", "x", "a", "2024-01-02 10:00:00"),
      ("A", 2, "user", "x", "a", "2024-01-02 11:00:00"),
      ("A", 3, "user", "x", "a", "2024-01-03 10:00:00"),
      ("A", 4, "user", "x", "a", "2024-01-03 11:00:00"),
      ("A", 5, "user", "x", "a", "2024-01-03 12:00:00"),
      ("B", 0, "user", "x", "b", "2024-01-02 10:00:00"),
      ("B", 1, "user", "x", "b", "2024-01-03 10:00:00"),
      ("B", 2, "user", "x", "b", "2024-01-03 11:00:00"),
      ("B", 3, "user", "x", "b", "2024-01-04 10:00:00"),
      ("B", 4, "user", "x", "b", "2024-01-04 11:00:00"),
      ("B", 5, "user", "x", "b", "2024-01-04 12:00:00")))
    val out = SeriesOps.toolLeadLag(df, maxLag = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    // ordered pairs x lags with n >= 1: (a,b,1/2) and (b,a,1/2)
    assert(out.size == 4, out.keySet.toString)
    assert(out(("a", "b", 1L)) == ((3L, Some(1.0))), out(("a", "b", 1L)).toString)
    // the reverse direction is NOT 1.0 — lead-lag is directional:
    // x=b(0,1,2), y=a(2,3,0) -> corr = -6/sqrt(6*14)
    assert(out(("b", "a", 1L))._2.get == BigDecimal(-6.0 / math.sqrt(84.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // lag 2 has n=2 < 3 -> NULL corr, rows still present
    assert(out(("a", "b", 2L)) == ((2L, None)))
    assert(out(("b", "a", 2L)) == ((2L, None)))
  }

  test("dailyAutocorr matches a brute-force driver computation on synth data") {
    import java.sql.Timestamp
    val clean = turns.filter(col("ts").isNotNull)
    val us = unix_micros(col("ts").cast("timestamp"))
    val daily = clean
      .select(timestamp_micros(us - pmod(us, lit(86400L * 1000000L))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("turns"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val d0 = daily.keys.min((a: Timestamp, b: Timestamp) => a.compareTo(b))
    val d1 = daily.keys.max((a: Timestamp, b: Timestamp) => a.compareTo(b))
    val series = Iterator.iterate(d0)(t =>
        Timestamp.from(t.toInstant.plusSeconds(86400L)))
      .takeWhile(!_.after(d1)).map(t => daily.getOrElse(t, 0L)).toArray
    val got = SeriesOps.dailyAutocorr(turns, maxLag = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    (1 to 5).foreach { lag =>
      val pairs = series.dropRight(lag).zip(series.drop(lag))
      val n = pairs.length.toLong
      val (exp, expN) = if (n == 0) (None, 0L) else {
        val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
        val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
        val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
        val syy = pairs.map(p => BigInt(p._2) * p._2).sum
        val cov = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
        val vx = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
        val vy = n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
        (if (n >= 3 && vx > 0 && vy > 0)
          Some(BigDecimal(cov / math.sqrt(vx * vy))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None, n)
      }
      if (expN == 0) assert(!got.contains(lag.toLong), s"lag $lag")
      else assert(got(lag.toLong) == ((expN, exp)), s"lag $lag: ${got.get(lag.toLong)} vs ($expN, $exp)")
    }
  }

  // ---- daily Gini / survival curve / active streaks --------------------

  test("dailyGini golden: rank formula, equality day, single-conv day, null doctrine") {
    val df = turnsDf(Seq(
      // day 1: A has 3 turns, B has 1 -> x sorted (1,3), ranks (1,2),
      // srx = 1*1 + 2*3 = 7, G = (14 - 3*4)/(2*4) = 0.25
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 02:00:00"),
      ("A", 2, "user", "x", null, "2024-01-01 03:00:00"),
      ("B", 0, "user", "x", null, "2024-01-01 04:00:00"),
      // day 2: perfectly equal (2 and 2) -> G = 0
      ("A", 3, "user", "x", null, "2024-01-02 01:00:00"),
      ("A", 4, "user", "x", null, "2024-01-02 02:00:00"),
      ("B", 1, "user", "x", null, "2024-01-02 03:00:00"),
      ("B", 2, "user", "x", null, "2024-01-02 04:00:00"),
      // day 3: single conversation -> G = 0 by the formula
      ("C", 0, "user", "x", null, "2024-01-03 01:00:00"),
      ("C", 1, "user", "x", null, "2024-01-03 02:00:00"),
      // unplaceable observations drop
      ("D", 0, "user", "x", null, null)))
      .withColumn("conv_id",
        when(col("conv_id") === "D", lit(null).cast("string"))
          .otherwise(col("conv_id")))
    val out = SeriesOps.dailyGini(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.size == 3)
    assert(out("2024-01-01 00:00:00.0") == ((2L, 4L, 0.25)))
    assert(out("2024-01-02 00:00:00.0") == ((2L, 4L, 0.0)))
    assert(out("2024-01-03 00:00:00.0") == ((1L, 2L, 0.0)))
  }

  test("dailyGini matches a brute-force driver computation on synth data") {
    val us = unix_micros(col("ts").cast("timestamp"))
    val dayUs = 86400L * 1000000L
    val census = turns.filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .groupBy(timestamp_micros(us - pmod(us, lit(dayUs))).as("day"), col("conv_id"))
      .count().collect()
      .map(r => (r.getTimestamp(0), r.getLong(2)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sorted }
    val got = SeriesOps.dailyGini(turns).collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == census.keySet)
    census.foreach { case (day, xs) =>
      val n = xs.length.toLong
      val st = xs.sum
      val srx = xs.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      val g = (2d * srx.toDouble - (n + 1).toDouble * st.toDouble) /
        (n.toDouble * st.toDouble)
      val exp = BigDecimal(g).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(day) == ((n, st, exp)), s"day $day: ${got(day)} vs ($n, $st, $exp)")
    }
  }

  test("survivalCurve golden: histogram, suffix survivors, fraction; null conv drops") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("B", 0, "user", "x", null, "2024-01-01 02:00:00"),
      // C is 3 turns; the null-ts row still counts (length counts ALL rows)
      ("C", 0, "user", "x", null, "2024-01-01 03:00:00"),
      ("C", 1, "user", "x", null, null),
      ("C", 2, "user", "x", null, "2024-01-01 05:00:00"),
      // null conv_id has no identity and drops
      ("D", 0, "user", "x", null, "2024-01-01 06:00:00")))
      .withColumn("conv_id",
        when(col("conv_id") === "D", lit(null).cast("string"))
          .otherwise(col("conv_id")))
    val out = SeriesOps.survivalCurve(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      1L -> ((2L, 3L, 1.0)),
      3L -> ((1L, 1L, 0.333333))))
  }

  test("survivalCurve invariants on synth: monotone survivors, total anchor") {
    val rows = SeriesOps.survivalCurve(turns).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val total = rows.map(_._2).sum
    // surviving at the smallest observed length is the whole corpus
    assert(rows.head._3 == total && rows.head._4 == 1.0)
    // suffix-cumulative: each row's survivors = its count + the next row's survivors
    rows.sliding(2).foreach {
      case Array((_, c, s, _), (_, _, s2, _)) => assert(s == c + s2)
      case _ =>
    }
    assert(rows.last._3 == rows.last._2)
  }

  test("activeStreaks golden: islands split on gaps, span covers holes") {
    val df = turnsDf(Seq(
      // A: days 1,2,3 then a hole, then day 5 -> streaks (3, 1)
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 23:00:00"), // same day collapses
      ("A", 2, "user", "x", null, "2024-01-02 01:00:00"),
      ("A", 3, "user", "x", null, "2024-01-03 01:00:00"),
      ("A", 4, "user", "x", null, "2024-01-05 01:00:00"),
      // B: one day only
      ("B", 0, "user", "x", null, "2024-01-02 12:00:00"),
      // null ts drops; a conv with ONLY null ts yields no row
      ("C", 0, "user", "x", null, null)))
    val out = SeriesOps.activeStreaks(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      "A" -> ((4L, 2L, 3L, 5L)),
      "B" -> ((1L, 1L, 1L, 1L))))
  }

  // ---- growth accounting / adoption / duplication monitor --------------

  test("newVsReturning golden: first-seen split, cumulative, null doctrine") {
    val df = turnsDf(Seq(
      // day 1: A and B both new
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 02:00:00"), // same day collapses
      ("B", 0, "user", "x", null, "2024-01-01 03:00:00"),
      // day 2: A returns, C is new
      ("A", 2, "user", "x", null, "2024-01-02 01:00:00"),
      ("C", 0, "user", "x", null, "2024-01-02 02:00:00"),
      // day 4: all three return, nothing new
      ("A", 3, "user", "x", null, "2024-01-04 01:00:00"),
      ("B", 1, "user", "x", null, "2024-01-04 02:00:00"),
      ("C", 1, "user", "x", null, "2024-01-04 03:00:00"),
      ("D", 0, "user", "x", null, null))) // null ts drops
    val out = SeriesOps.newVsReturning(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      "2024-01-01 00:00:00.0" -> ((2L, 2L, 0L, 2L)),
      "2024-01-02 00:00:00.0" -> ((2L, 1L, 1L, 3L)),
      "2024-01-04 00:00:00.0" -> ((3L, 0L, 3L, 3L))))
  }

  test("newVsReturning invariants on synth: parts sum, cum monotone to total") {
    val rows = SeriesOps.newVsReturning(turns).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1.getTime)
    rows.foreach { case (_, act, nw, ret, _) => assert(act == nw + ret) }
    rows.sliding(2).foreach {
      case Array((_, _, _, _, c1), (_, _, nw2, _, c2)) => assert(c2 == c1 + nw2)
      case _ =>
    }
    val totalConvs = turns.filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id")).distinct().count()
    assert(rows.last._5 == totalConvs)
  }

  test("toolAdoption golden: first use per (conv, tool), per-tool running sum") {
    val df = turnsDf(Seq(
      // conv A uses search on day 1 (twice — one adoption) and browse day 2
      ("A", 0, "user", "x", "search", "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", "search", "2024-01-01 02:00:00"),
      ("A", 2, "user", "x", "browse", "2024-01-02 01:00:00"),
      // conv B adopts search on day 2; its day-3 search is NOT a new adoption
      ("B", 0, "user", "x", "search", "2024-01-02 03:00:00"),
      ("B", 1, "user", "x", "search", "2024-01-03 01:00:00"),
      // null tool is the no-call marker
      ("C", 0, "user", "x", null, "2024-01-01 05:00:00")))
    val out = SeriesOps.toolAdoption(df).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      ("search", "2024-01-01 00:00:00.0") -> ((1L, 1L)),
      ("search", "2024-01-02 00:00:00.0") -> ((1L, 2L)),
      ("browse", "2024-01-02 00:00:00.0") -> ((1L, 1L))))
  }

  test("toolAdoption invariants on synth: final cum equals distinct (conv, tool) pairs") {
    val rows = SeriesOps.toolAdoption(turns).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (tool, trs) =>
      val sorted = trs.sortBy(_._2.getTime)
      assert(sorted.map(_._3).sum == sorted.last._4, s"tool $tool")
      val expected = turns.filter(col("ts").isNotNull && col("conv_id").isNotNull
          && col("tool") === tool)
        .select(col("conv_id")).distinct().count()
      assert(sorted.last._4 == expected, s"tool $tool total")
    }
  }

  test("dailyDupRate golden: clone families, null text drops, exact rate") {
    val df = turnsDf(Seq(
      // day 1: texts x, x, x, y -> 4 turns, 2 distinct, 2 dups, max clone 3
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 02:00:00"),
      ("B", 0, "user", "x", null, "2024-01-01 03:00:00"),
      ("B", 1, "user", "y", null, "2024-01-01 04:00:00"),
      ("B", 2, "user", null, null, "2024-01-01 05:00:00"), // null text drops
      // day 2: all unique
      ("A", 2, "user", "p", null, "2024-01-02 01:00:00"),
      ("A", 3, "user", "q", null, "2024-01-02 02:00:00")))
    val out = SeriesOps.dailyDupRate(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out == Map(
      "2024-01-01 00:00:00.0" -> ((4L, 2L, 2L, 3L, 0.5)),
      "2024-01-02 00:00:00.0" -> ((2L, 2L, 0L, 1L, 0.0))))
  }

  test("convBurstiness golden: zero days enter analytically, regular cadence is 0") {
    val df = turnsDf(Seq(
      // A: 1 turn/day for 3 consecutive days -> variance 0 -> fano 0
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-02 01:00:00"),
      ("A", 2, "user", "x", null, "2024-01-03 01:00:00"),
      // B: 4 turns day 1, silent day 2, 0 turns... then 2 turns day 3
      // series over span 3: (4, 0, 2): S=6 D=3 scc=20
      // fano = (3*20 - 36)/(3*6) = 24/18 = 1.333333
      ("B", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("B", 1, "user", "x", null, "2024-01-01 02:00:00"),
      ("B", 2, "user", "x", null, "2024-01-01 03:00:00"),
      ("B", 3, "user", "x", null, "2024-01-01 04:00:00"),
      ("B", 4, "user", "x", null, "2024-01-03 01:00:00"),
      ("B", 5, "user", "x", null, "2024-01-03 02:00:00"),
      // C: single day -> span 1, fano = (scc - S^2)/S with scc = S^2 -> 0
      ("C", 0, "user", "x", null, "2024-01-05 01:00:00"),
      ("C", 1, "user", "x", null, "2024-01-05 02:00:00")))
    val out = SeriesOps.convBurstiness(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out == Map(
      "A" -> ((3L, 3L, 3L, 0.0)),
      "B" -> ((3L, 2L, 6L, 1.333333)),
      "C" -> ((1L, 1L, 2L, 0.0))))
  }

  test("charHalfLife golden: integer crossing, front-loaded vs even, null doctrine") {
    val df = turnsDf(Seq(
      // A: lens 10, 1, 1 -> total 12, cum (10, 11, 12); first 2*cum>=12
      // at pos 1 -> half_frac 1/3
      ("A", 0, "user", "x" * 10, null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "y", null, "2024-01-01 02:00:00"),
      ("A", 2, "user", "z", null, "2024-01-01 03:00:00"),
      // B: even lens 2,2,2,2 -> total 8, first 2*cum>=8 at pos 2 -> 0.5
      ("B", 0, "user", "aa", null, "2024-01-01 01:00:00"),
      ("B", 1, "user", "bb", null, "2024-01-01 02:00:00"),
      ("B", 2, "user", "cc", null, "2024-01-01 03:00:00"),
      ("B", 3, "user", "dd", null, "2024-01-01 04:00:00"),
      // C: null text drops the observation; the remaining single turn
      // is the whole mass -> pos 1 of 1
      ("C", 0, "user", null, null, "2024-01-01 01:00:00"),
      ("C", 1, "user", "kk", null, "2024-01-01 02:00:00")))
    val out = SeriesOps.charHalfLife(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out == Map(
      "A" -> ((3L, 12L, 1L, 0.333333)),
      "B" -> ((4L, 8L, 2L, 0.5)),
      "C" -> ((1L, 2L, 1L, 1.0))))
  }

  test("whaleConvsDaily golden: total order cutoff, share, k clamp") {
    val df = turnsDf(Seq(
      // day 1: A=3, B=2, C=1, D=1 -> top-2 is A then B; tie C/D unused
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 02:00:00"),
      ("A", 2, "user", "x", null, "2024-01-01 03:00:00"),
      ("B", 0, "user", "x", null, "2024-01-01 04:00:00"),
      ("B", 1, "user", "x", null, "2024-01-01 05:00:00"),
      ("C", 0, "user", "x", null, "2024-01-01 06:00:00"),
      ("D", 0, "user", "x", null, "2024-01-01 07:00:00"),
      // day 2: single conversation -> one row despite k=2
      ("E", 0, "user", "x", null, "2024-01-02 01:00:00")))
    val out = SeriesOps.whaleConvsDaily(df, k = 2).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out == Map(
      ("2024-01-01 00:00:00.0", 1L) -> (("A", 3L, 7L, 0.428571)),
      ("2024-01-01 00:00:00.0", 2L) -> (("B", 2L, 7L, 0.285714)),
      ("2024-01-02 00:00:00.0", 1L) -> (("E", 1L, 1L, 1.0))))
    // tie at the cutoff breaks to the smaller conv_id
    val tied = SeriesOps.whaleConvsDaily(df.filter(col("conv_id").isin("C", "D")), k = 1)
      .collect()
    assert(tied.length == 1 && tied.head.getString(2) == "C")
  }

  test("whaleConvsDaily/convBurstiness invariants on synth") {
    // whales: ranks are 1..k dense per day, shares <= 1, ordered desc
    SeriesOps.whaleConvsDaily(turns, k = 3).collect()
      .groupBy(_.getTimestamp(0)).foreach { case (day, rows) =>
        val byRank = rows.sortBy(_.getLong(1))
        assert(byRank.map(_.getLong(1)).toSeq == (1L to byRank.length).toSeq, s"$day")
        byRank.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getLong(3) >= b.getLong(3), s"$day: turns must not increase")
          case _ =>
        }
      }
    // burstiness: fano >= 0, and single-active-day convs get
    // fano = (scc - S^2)/S = 0 only when span is 1
    SeriesOps.convBurstiness(turns).collect().foreach { r =>
      assert(r.getDouble(4) >= 0.0, r.toString)
      assert(r.getLong(2) <= r.getLong(1), "active <= span")
      assert(r.getLong(3) >= r.getLong(2), "turns >= active days")
    }
  }

  test("activeStreaks invariants on synth: parts sum, streak bounds, span envelope") {
    SeriesOps.activeStreaks(turns).collect().foreach { r =>
      val (active, streaks, longest, span) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(active >= 1 && streaks >= 1 && longest >= 1)
      assert(longest <= active && active <= span, r.toString)
      // n streaks over `active` days need at least streaks-1 one-day holes
      assert(span >= active + streaks - 1, r.toString)
      // ceiling: no streak can beat the pigeonhole bound
      assert(longest >= (active + streaks - 1) / streaks, r.toString)
    }
  }

  test("convConcurrency golden: gap days stay open, endpoint days count, null doctrine") {
    val df = turnsDf(Seq(
      // A spans day 1..3 with a silent day 2 — open all three days
      ("A", 0, "user", "x", null, "2024-01-01 09:00:00"),
      ("A", 1, "user", "x", null, "2024-01-03 09:00:00"),
      // B opens and closes on day 1
      ("B", 0, "user", "x", null, "2024-01-01 10:00:00"),
      // C is a single-day conv on day 4
      ("C", 0, "user", "x", null, "2024-01-04 10:00:00"),
      // null conv_id / null ts drop
      (null, 0, "user", "x", null, "2024-01-02 10:00:00"),
      ("D", 0, "user", "x", null, null)))
    val out = SeriesOps.convConcurrency(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      "2024-01-01 00:00:00.0" -> ((2L, 1L, 2L)),
      "2024-01-02 00:00:00.0" -> ((0L, 0L, 1L)), // grid day, A still open
      "2024-01-03 00:00:00.0" -> ((0L, 1L, 1L)), // A closes, open that day
      "2024-01-04 00:00:00.0" -> ((1L, 1L, 1L))))
  }

  test("toolsetChurn golden: observed-consecutive days, disjoint sets, distinct census") {
    val df = turnsDf(Seq(
      // day 1: {search, browse} — duplicate search calls collapse
      ("A", 0, "user", "x", "search", "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", "search", "2024-01-01 02:00:00"),
      ("B", 0, "user", "x", "browse", "2024-01-01 03:00:00"),
      // day 2: {browse, db} — kept browse, added db, dropped search
      ("A", 2, "user", "x", "browse", "2024-01-02 01:00:00"),
      ("A", 3, "user", "x", "db", "2024-01-02 02:00:00"),
      // day 3: null tool only -> NOT a tool-active day
      ("A", 4, "user", "x", null, "2024-01-03 01:00:00"),
      // day 4: {db} — compared against day 2, not empty day 3
      ("B", 1, "user", "x", "db", "2024-01-04 01:00:00"),
      // day 5: {web} — disjoint from day 4 -> kept 0, jaccard 0
      ("B", 2, "user", "x", "web", "2024-01-05 01:00:00")))
    val out = SeriesOps.toolsetChurn(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getTimestamp(1).toString, r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    // first active day (day 1) has no predecessor -> 3 rows
    assert(out == Map(
      "2024-01-02 00:00:00.0" ->
        (("2024-01-01 00:00:00.0", 2L, 2L, 1L, 1L, 1L, 0.333333)),
      "2024-01-04 00:00:00.0" ->
        (("2024-01-02 00:00:00.0", 1L, 2L, 1L, 0L, 1L, 0.5)),
      "2024-01-05 00:00:00.0" ->
        (("2024-01-04 00:00:00.0", 1L, 1L, 0L, 1L, 1L, 0.0))))
  }

  test("recordDays golden: strict record, drought counter, first-day record") {
    val df = turnsDf(
      // day turns: d1=3, d2=5, d3=2, d4=5 (tie is NOT a record), d6=7
      (0 until 3).map(i => ("A", i, "user", "x", null: String, s"2024-01-01 0$i:00:00")) ++
      (0 until 5).map(i => ("B", i, "user", "x", null: String, s"2024-01-02 0$i:00:00")) ++
      (0 until 2).map(i => ("C", i, "user", "x", null: String, s"2024-01-03 0$i:00:00")) ++
      (0 until 5).map(i => ("D", i, "user", "x", null: String, s"2024-01-04 0$i:00:00")) ++
      (0 until 7).map(i => ("E", i, "user", "x", null: String, s"2024-01-06 0$i:00:00")) ++
      Seq(("F", 0, "user", "x", null, null))) // null ts drops
    val out = SeriesOps.recordDays(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out == Map(
      "2024-01-01 00:00:00.0" -> ((3L, -1L, 1L, 1L, 0L)),
      "2024-01-02 00:00:00.0" -> ((5L, 3L, 1L, 2L, 0L)),
      "2024-01-03 00:00:00.0" -> ((2L, 5L, 0L, 2L, 1L)),
      "2024-01-04 00:00:00.0" -> ((5L, 5L, 0L, 2L, 2L)),
      "2024-01-06 00:00:00.0" -> ((7L, 5L, 1L, 3L, 0L))))
  }

  test("convConcurrency/toolsetChurn/recordDays invariants on synth") {
    // concurrency: complete grid, opened/closed books balance, open >= 0
    val cc = SeriesOps.convConcurrency(turns).collect()
      .sortBy(_.getTimestamp(0).getTime)
    assert(cc.nonEmpty)
    cc.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getTimestamp(0).getTime - a.getTimestamp(0).getTime ==
          86400000L, "grid must be dense")
      case _ =>
    }
    assert(cc.map(_.getLong(1)).sum == cc.map(_.getLong(2)).sum,
      "every opened conv closes")
    cc.foreach(r => assert(r.getLong(3) >= 0L &&
      r.getLong(3) >= r.getLong(2), r.toString))
    // churn: set algebra holds row by row
    SeriesOps.toolsetChurn(turns).collect().foreach { r =>
      val (cur, prev, kept, added, dropped, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getDouble(7))
      assert(kept + added == cur && kept + dropped == prev, r.toString)
      assert(j >= 0.0 && j <= 1.0, r.toString)
    }
    // records: record_no non-decreasing, prev_max is the running high
    val rd = SeriesOps.recordDays(turns).collect()
      .sortBy(_.getTimestamp(0).getTime)
    var high = -1L
    var recs = 0L
    rd.foreach { r =>
      val t = r.getLong(1)
      val isRec = r.getLong(3)
      assert(isRec == (if (t > high) 1L else 0L), r.toString)
      if (!r.isNullAt(2)) assert(r.getLong(2) == high, r.toString)
      high = math.max(high, t)
      recs += isRec
      assert(r.getLong(4) == recs, r.toString)
    }
  }

  test("lorenzDeciles golden: standard ntile split, cumulative share, tie order") {
    val df = turnsDf(Seq(
      // day 1 turn counts: B=1, C=2, D=2, A=3 (ascending, conv_id
      // breaks the C/D tie) -> 4 tiles of 1 conv each under ntile(10)?
      // no: ntile(10) over 4 rows yields tiles 1..4, one row each
      ("A", 0, "user", "x", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 02:00:00"),
      ("A", 2, "user", "x", null, "2024-01-01 03:00:00"),
      ("B", 0, "user", "x", null, "2024-01-01 04:00:00"),
      ("C", 0, "user", "x", null, "2024-01-01 05:00:00"),
      ("C", 1, "user", "x", null, "2024-01-01 06:00:00"),
      ("D", 0, "user", "x", null, "2024-01-01 07:00:00"),
      ("D", 1, "user", "x", null, "2024-01-01 08:00:00")))
    val out = SeriesOps.lorenzDeciles(df).collect()
      .map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    assert(out == Map(
      1L -> ((1L, 1L, 8L, 1L, 0.125)), // B
      2L -> ((1L, 2L, 8L, 3L, 0.375)), // C (tie broken by conv_id)
      3L -> ((1L, 2L, 8L, 5L, 0.625)), // D
      4L -> ((1L, 3L, 8L, 8L, 1.0)))) // A
  }

  test("lorenzDeciles remainder goes to earlier tiles (SQL-standard ntile)") {
    // 5 convs, buckets=2 -> tile 1 gets 3 convs, tile 2 gets 2
    val df = turnsDf((1 to 5).map(i =>
      (s"C$i", 0, "user", "x", null: String, s"2024-01-01 0$i:00:00")))
    val out = SeriesOps.lorenzDeciles(df, buckets = 2).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 2L -> 2L))
  }

  test("distDrift golden: dense-grid zero-fill, gap day compares to previous observed") {
    def txt(n: Int) = "a" * n
    val df = turnsDf(Seq(
      // day 1: len buckets 1,2,2 (lens 5, 50, 60) -> c=(1,2,0), n=3
      ("A", 0, "user", txt(5), null, "2024-01-01 01:00:00"),
      ("A", 1, "user", txt(50), null, "2024-01-01 02:00:00"),
      ("A", 2, "user", txt(60), null, "2024-01-01 03:00:00"),
      // day 2: buckets 1,1,3 (lens 7, 9, 100) -> c=(2,0,1), n=3
      ("B", 0, "user", txt(7), null, "2024-01-02 01:00:00"),
      ("B", 1, "user", txt(9), null, "2024-01-02 02:00:00"),
      ("B", 2, "user", txt(100), null, "2024-01-02 03:00:00"),
      ("B", 3, "user", null, null, "2024-01-02 04:00:00"), // null text drops
      // day 4 (day 3 silent): bucket 1 only -> compares against day 2
      ("C", 0, "user", txt(3), null, "2024-01-04 01:00:00")))
    val out = SeriesOps.distDrift(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getTimestamp(1).toString, r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5)))).toMap
    // day2 vs day1: cum1=(1,3,3) cum2=(2,2,3), ks=3/9, tv=12/18
    // day4 vs day2: cum4=(1,1,1) n=1, ks=1/3, tv=2/6
    assert(out == Map(
      "2024-01-02 00:00:00.0" ->
        (("2024-01-01 00:00:00.0", 3L, 3L, 0.333333, 0.666667)),
      "2024-01-04 00:00:00.0" ->
        (("2024-01-02 00:00:00.0", 1L, 3L, 0.333333, 0.333333))))
  }

  test("lorenzDeciles/distDrift invariants on synth") {
    // lorenz: cum_share non-decreasing within day, ends at 1.0;
    // convs per day sum to the day's distinct convs
    val lz = SeriesOps.lorenzDeciles(turns).collect()
      .groupBy(_.getTimestamp(0))
    lz.foreach { case (day, rows) =>
      val byTile = rows.sortBy(_.getLong(1))
      byTile.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(6) <= b.getDouble(6) + 1e-9, s"$day")
        case _ =>
      }
      assert(math.abs(byTile.last.getDouble(6) - 1.0) < 1e-9, s"$day")
      assert(byTile.map(_.getLong(3)).sum == byTile.head.getLong(4), s"$day")
    }
    // drift: both distances in [0, 1] and KS <= TV (the CDF event is
    // one of the events TV maximizes over)
    SeriesOps.distDrift(turns).collect().foreach { r =>
      val (ks, tv) = (r.getDouble(4), r.getDouble(5))
      assert(ks >= 0.0 && ks <= 1.0 && tv >= 0.0 && tv <= 1.0, r.toString)
      assert(ks <= tv + 1e-6, r.toString)
    }
  }

  test("termChurnDaily golden: top-k cutoff, observed-consecutive days, tie order") {
    val df = turnsDf(Seq(
      // day 1 term counts: a=2, b=1, c=1 -> top2 = {a, b} (tie b/c by term)
      ("A", 0, "user", "a b", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "a c", null, "2024-01-01 02:00:00"),
      // day 2: c=2, b=1, d=1 -> top2 = {c, b}
      ("B", 0, "user", "c c", null, "2024-01-02 01:00:00"),
      ("B", 1, "user", "b d", null, "2024-01-02 02:00:00"),
      ("B", 2, "user", null, null, "2024-01-03 01:00:00"), // null text drops
      // day 4 (day 3 has no text): single term
      ("C", 0, "user", "e", null, "2024-01-04 01:00:00")))
    val out = SeriesOps.termChurnDaily(df, k = 2).collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getTimestamp(1).toString, r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    assert(out == Map(
      "2024-01-02 00:00:00.0" ->
        (("2024-01-01 00:00:00.0", 2L, 2L, 1L, 1L, 1L, 0.333333)),
      "2024-01-04 00:00:00.0" ->
        (("2024-01-02 00:00:00.0", 1L, 2L, 0L, 1L, 2L, 0.0))))
  }

  test("typeTokenRatio golden: token mass, hapax census, single-space convention") {
    val df = turnsDf(Seq(
      // day 1: tokens a,b,a,c -> 4 tokens, 3 distinct, 2 hapax
      ("A", 0, "user", "a b", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "a c", null, "2024-01-01 02:00:00"),
      // day 2: "x  y" double space -> empty fragment IS a token
      // (termTopK convention): tokens x,"",y -> 3 tokens, 3 distinct
      ("B", 0, "user", "x  y", null, "2024-01-02 01:00:00"),
      ("B", 1, "user", null, null, "2024-01-02 02:00:00"))) // null drops
    val out = SeriesOps.typeTokenRatio(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out == Map(
      "2024-01-01 00:00:00.0" -> ((4L, 3L, 2L, 0.75, 0.666667)),
      "2024-01-02 00:00:00.0" -> ((3L, 3L, 3L, 1.0, 1.0))))
  }

  test("termChurnDaily/typeTokenRatio invariants on synth") {
    SeriesOps.termChurnDaily(turns, k = 20).collect().foreach { r =>
      val (cur, prev, kept, added, dropped, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getDouble(7))
      assert(cur <= 20 && prev <= 20, r.toString)
      assert(kept + added == cur && kept + dropped == prev, r.toString)
      assert(j >= 0.0 && j <= 1.0, r.toString)
    }
    SeriesOps.typeTokenRatio(turns).collect().foreach { r =>
      val (tokens, distinct, hapax) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(hapax <= distinct && distinct <= tokens, r.toString)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0, r.toString)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0, r.toString)
    }
  }

  test("shingleNoveltyDaily golden: 3-gram unit, short-text collapse, first-seen split") {
    val df = turnsDf(Seq(
      // day 1: "a b c d" -> shingles {"a b c","b c d"}; "x" (short)
      // collapses to the whole-text shingle -> all 3 first-seen
      ("A", 0, "user", "a b c d", null, "2024-01-01 01:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 02:00:00"),
      // day 2: "a b c e" -> {"a b c" (seen), "b c e" (new)}; "x" seen
      ("B", 0, "user", "a b c e", null, "2024-01-02 01:00:00"),
      ("B", 1, "user", "x", null, "2024-01-02 02:00:00"),
      ("B", 2, "user", null, null, "2024-01-02 03:00:00"))) // null drops
    val out = SeriesOps.shingleNoveltyDaily(df).collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(out == Map(
      "2024-01-01 00:00:00.0" -> ((3L, 3L, 3L, 3L, 1.0, 1.0)),
      "2024-01-02 00:00:00.0" -> ((3L, 3L, 1L, 1L, 0.333333, 0.333333))))
  }

  test("shingleNoveltyDaily invariants on synth: first day all-new, rates bounded") {
    val rows = SeriesOps.shingleNoveltyDaily(turns).collect()
      .sortBy(_.getTimestamp(0).getTime)
    assert(rows.nonEmpty)
    // the first observed day has no history: everything is new
    assert(rows.head.getDouble(5) == 1.0 && rows.head.getDouble(6) == 1.0)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "new <= distinct")
      assert(r.getLong(4) <= r.getLong(1), "new occ <= occ")
      assert(r.getLong(2) <= r.getLong(1), "distinct <= occ")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0, r.toString)
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0, r.toString)
    }
  }

  test("native shingle hashes == the built-in md5-prefix form (q105 oracle parity)") {
    // the DuckDB oracle of shingleNoveltyDaily mirrors the BUILT-IN form
    // (single-space split, 3-word windows, md5 7-hex prefix); the fused
    // expression must be bit-equal to it, edge strings included
    import spark.implicits._
    val texts = turns.select("text")
      .union(Seq("", "one", "two words", "a  b   c", "   ", " leading and trailing ",
        null).toDF("text"))
    val toks = split(col("text"), " ")
    val builtIn = transform(
      when(size(toks) < 3, array(col("text"))).otherwise(
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", slice(toks, i, lit(3))))),
      s => conv(substring(md5(s), 1, 7), 16, 10).cast("long"))
    val both = texts.select(col("text"),
      graft.functions.TextOps.shingleHashes3(col("text")).as("nat"), builtIn.as("ref"))
    assert(both.filter(col("nat").isNotNull).count() > 100)
    val bad = both.filter(!(col("nat") <=> col("ref")))
    assert(bad.count() == 0, s"native/built-in shingle hash divergence:\n${bad.head(3).mkString("\n")}")
  }

  test("dtwPairs golden: elastic alignment, top-k cut, canonical pairs") {
    // A = [2,4] over d1/d2, B = [2,5] over d1/d3 (different days — DTW
    // doesn't care), C = [1] misses the k=2 cut (totals B=7 > A=6 > C)
    val df = turnsDf(
      (0 until 2).map(i => ("A", i, "user", "x", null: String, s"2024-01-01 0$i:00:00")) ++
      (0 until 4).map(i => ("A", i + 2, "user", "x", null: String, s"2024-01-02 0$i:00:00")) ++
      (0 until 2).map(i => ("B", i, "user", "x", null: String, s"2024-01-01 1$i:00:00")) ++
      (0 until 5).map(i => ("B", i + 2, "user", "x", null: String, s"2024-01-03 0$i:00:00")) ++
      Seq(("C", 0, "user", "x", null, "2024-01-01 05:00:00")))
    val out = SeriesOps.dtwPairs(df, k = 2).collect()
    assert(out.length == 1)
    val r = out.head
    // dp: |2-2|=0, then min(3, 2, 0) + |4-5| = 1
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == (("A", "B", 2L, 2L, 1L)), s"got $r")
  }

  test("dtwPairs: maxDays slices the TRAILING window before ranking") {
    // D has days [9,1,1]; with maxDays=2 only [1,1] survives → total 2
    // loses the top-2 cut to A=[3] (3) and B=[2,2] (4); with the full
    // window D (11) would dominate
    val df = turnsDf(
      (0 until 9).map(i => ("D", i, "user", "x", null: String, s"2024-01-01 0$i:00:00")) ++
      Seq(("D", 9, "user", "x", null, "2024-01-02 00:00:00"),
        ("D", 10, "user", "x", null, "2024-01-03 00:00:00")) ++
      (0 until 3).map(i => ("A", i, "user", "x", null: String, s"2024-01-01 1$i:00:00")) ++
      (0 until 2).map(i => ("B", i, "user", "x", null: String, s"2024-01-01 2$i:00:00")) ++
      (0 until 2).map(i => ("B", i + 2, "user", "x", null: String, s"2024-01-02 1$i:00:00")))
    val sliced = SeriesOps.dtwPairs(df, k = 2, maxDays = 2).collect()
    assert(sliced.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("A", "B")), s"got ${sliced.toSeq}")
    val full = SeriesOps.dtwPairs(df, k = 2, maxDays = 30).collect()
    assert(full.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("B", "D")), s"got ${full.toSeq}")
  }

  test("dtwPairs matches a classic O(n*m) DP on synth") {
    val got = SeriesOps.dtwPairs(turns, k = 5, maxDays = 16).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // independent: collect the census, slice, run the textbook matrix DP
    val census = turns.filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"),
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
          lit(86400L * 1000000L))).as("day"))
      .groupBy("conv_id", "day").count().collect()
    val series = census.groupBy(_.getString(0)).map { case (c, rs) =>
      c -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).takeRight(16)
    }
    val top = series.toSeq
      .sortBy { case (c, v) => (-v.sum, c) }.take(5)
    def dtw(a: Array[Long], b: Array[Long]): Long = {
      val inf = Long.MaxValue / 4
      val dp = Array.fill(a.length + 1, b.length + 1)(inf)
      dp(0)(0) = 0L
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.abs(a(i - 1) - b(j - 1)) +
          math.min(dp(i - 1)(j), math.min(dp(i)(j - 1), dp(i - 1)(j - 1)))
      dp(a.length)(b.length)
    }
    val exp = (for {
      (ca, va) <- top; (cb, vb) <- top if ca < cb
    } yield (ca, cb) -> ((va.length.toLong, vb.length.toLong, dtw(va, vb)))).toMap
    assert(got == exp, s"dtw diverges:\n got $got\n exp $exp")
  }

  test("funnelLatency golden: exact interpolated transition quantiles") {
    // five conversations convert signup->purchase with deltas
    // 10..50 s: p50 = 30 s, p95 interpolates 0.95*(5-1)=3.8 between
    // 40 s and 50 s -> 48 s; a sixth conv never converts (no purchase)
    // and must not enter the distribution
    val rows = (1 to 5).flatMap { i =>
      Seq(("c" + i, 0, "user", "x", "signup", "2024-01-01 00:00:00"),
        ("c" + i, 1, "user", "x", "purchase", s"2024-01-01 00:00:${10 * i}"))
    } :+ (("c9", 0, "user", "x", "signup", "2024-01-01 00:00:00"))
    val df = turnsDf(rows)
    val out = SeriesOps.funnelLatency(df, Seq("signup", "purchase")).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getInt(0), r.getString(1), r.getLong(2)) == ((2, "purchase", 5L)))
    assert(r.getDouble(3) == 3.0e7, s"p50 ${r.getDouble(3)}")
    assert(r.getDouble(4) == 4.8e7, s"p95 ${r.getDouble(4)}")
    // a transition nothing reached yields NULL quantiles, not a crash
    val none = SeriesOps.funnelLatency(df, Seq("signup", "error")).collect().head
    assert(none.getLong(2) == 0L && none.isNullAt(3) && none.isNullAt(4))
    intercept[IllegalArgumentException](
      SeriesOps.funnelLatency(df, Seq("signup")))
  }

  test("funnelLatencyApprox: GK rank error bounded vs the exact twin") {
    // 400 conversations, delta = i seconds -> the delta distribution
    // is exactly 1..400 s; GK rank error <= n/accuracy positions
    val rows = (1 to 400).flatMap { i =>
      Seq((f"c$i%04d", 0, "user", "x", "signup", "2024-01-01 00:00:00"),
        (f"c$i%04d", 1, "user", "x", "purchase",
          f"2024-01-01 ${i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02d"))
    }
    val df = turnsDf(rows)
    val steps = Seq("signup", "purchase")
    val approx = SeriesOps.funnelLatencyApprox(df, steps, accuracy = 50)
      .collect().head
    assert(approx.getLong(2) == 400L)
    val n = 400.0
    val tol = n / 50 + 1 // rank error bound + discretization
    // exact ranks: p50 ~ position 200, p95 ~ position 380 (in seconds)
    assert(math.abs(approx.getDouble(3) / 1e6 - 200.0) <= tol,
      s"p50 ${approx.getDouble(3)}")
    assert(math.abs(approx.getDouble(4) / 1e6 - 380.0) <= tol,
      s"p95 ${approx.getDouble(4)}")
    // schema-compatible with the exact twin (the migration doctrine)
    val exact = SeriesOps.funnelLatency(df, steps)
    assert(exact.schema == SeriesOps.funnelLatencyApprox(df, steps).schema)
    // and at default accuracy >> n the sketch is rank-exact: the
    // returned value is an OBSERVED delta at the exact rank
    val dflt = SeriesOps.funnelLatencyApprox(df, steps).collect().head
    assert(math.abs(dflt.getDouble(3) / 1e6 - 200.0) <= 1.0,
      s"default-accuracy p50 ${dflt.getDouble(3)}")
  }

  test("native dtw_distance == the nested-fold HOF reference cell-for-cell") {
    import spark.implicits._
    // the compiled kernel replaced the interpreted fold on the hot
    // path; the fold stays as the parity reference (and the q108
    // oracle's list_reduce mirror) — pin them equal on random series
    // incl. length-1 and skewed shapes
    val rnd = new scala.util.Random(5)
    val rows = (0 until 60).map { _ =>
      val n = 1 + rnd.nextInt(12)
      val m = 1 + rnd.nextInt(12)
      (Seq.fill(n)(rnd.nextInt(1000).toLong), Seq.fill(m)(rnd.nextInt(1000).toLong))
    } :+ ((Seq(7L), Seq(7L))) :+ ((Seq(0L), Seq.fill(12)(999L)))
    val out = rows.toDF("va", "vb").select(
      graft.functions.VectorOps.dtwDistance(col("va"), col("vb")).as("native"),
      expr(SeriesOps.dtwFoldExpr("va", "vb")).as("hof")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native ${r.getLong(0)} != fold ${r.getLong(1)}"))
    // a NULL ELEMENT nulls the native distance BY DECISION:
    // ArrayData.getLong would read the null slot as 0 (a wrong finite
    // answer), and the fold reference is no yardstick here — Spark's
    // `least` SKIPS nulls, so the fold leaks the ∞ sentinel into a
    // garbage finite value for a null in `va`. NULL is the only
    // honest answer for an undefined distance; dtwPairs itself never
    // produces null elements (day counts).
    val withNull = Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](2L)))
      .toDF("va", "vb")
    val nr = withNull.select(
      graft.functions.VectorOps.dtwDistance(col("va"), col("vb")).as("native"))
      .collect()(0)
    assert(nr.isNullAt(0), s"null element must null the distance: $nr")
  }

  test("peakDays golden: strict peaks, one-sided boundaries, isolated day, plateau") {
    val df = turnsDf(
      // A days: d1=3, d2=5, d3=2, d10=5 (w=1 over OBSERVED days: d10's
      // left neighbor is d3) — peaks d2 (prom 2) and d10 (prom 3)
      (0 until 3).map(i => ("A", i, "user", "x", null: String, s"2024-01-01 0$i:00:00")) ++
      (0 until 5).map(i => ("A", i + 3, "user", "x", null: String, s"2024-01-02 0$i:00:00")) ++
      (0 until 2).map(i => ("A", i + 8, "user", "x", null: String, s"2024-01-03 0$i:00:00")) ++
      (0 until 5).map(i => ("A", i + 10, "user", "x", null: String, s"2024-01-10 0$i:00:00")) ++
      // B: isolated single day — trivially a peak, prominence = count
      Seq(("B", 0, "user", "x", null, "2024-01-05 00:00:00")) ++
      // C: a 4,4 plateau — STRICT compare, neither qualifies
      (0 until 4).map(i => ("C", i, "user", "x", null: String, s"2024-01-01 1$i:00:00")) ++
      (0 until 4).map(i => ("C", i + 4, "user", "x", null: String, s"2024-01-02 1$i:00:00")))
    val out = SeriesOps.peakDays(df, w = 1).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      ("A", "2024-01-02 00:00:00.0") -> ((5L, 2L)),
      ("A", "2024-01-10 00:00:00.0") -> ((5L, 3L)),
      ("B", "2024-01-05 00:00:00.0") -> ((1L, 1L))), s"got $out")
  }

  test("outOfOrderSkew golden: hwm regressions, cross-day late event, on-time day") {
    val df = turnsDf(Seq(
      ("A", 0, "user", "x", null, "2024-01-01 10:00:00"),
      ("A", 1, "user", "x", null, "2024-01-01 09:59:00"),   // 60s late
      ("A", 2, "user", "x", null, "2024-01-01 10:05:00"),
      ("A", 3, "user", "x", null, "2024-01-01 10:04:30"),   // 30s late
      ("B", 0, "user", "x", null, "2024-01-02 11:00:00"),
      // arrives after B's day-2 turn but carries a DAY-1 timestamp:
      // 12h late, counted on ITS OWN day (day 1)
      ("B", 1, "user", "x", null, "2024-01-01 23:00:00"),
      ("C", 0, "user", "x", null, null)))                   // null ts drops
    val out = SeriesOps.outOfOrderSkew(df).collect()
      .map(r => r.getTimestamp(0).toString -> r).toMap
    val d1 = out("2024-01-01 00:00:00.0")
    assert((d1.getLong(1), d1.getLong(2), d1.getDouble(3)) == ((5L, 3L, 0.6)))
    // sorted late skews [3e7, 6e7, 4.32e10]: p50 exact member, p95 the
    // type-7 interpolation at pos = 0.95*(n-1) — asserted in the SAME
    // double arithmetic the engines run (frac = 0.95*2 - 1 is
    // 0.8999999999999997, not 0.9; a decimal literal would miss by 1 ulp)
    val frac = 0.95 * 2 - 1.0
    assert(d1.getDouble(4) == 6.0e7 &&
      d1.getDouble(5) == 6.0e7 + frac * (4.32e10 - 6.0e7), d1.toString)
    assert(d1.getLong(6) == 43200000000L)
    val d2 = out("2024-01-02 00:00:00.0")
    assert((d2.getLong(1), d2.getLong(2), d2.getDouble(3)) == ((1L, 0L, 0.0)))
    // no late population: null quantiles, NOT zeros
    assert(d2.isNullAt(4) && d2.isNullAt(5) && d2.isNullAt(6), d2.toString)
  }

  test("outOfOrderSkew matches a brute high-water-mark sweep on synth") {
    val got = SeriesOps.outOfOrderSkew(turns).collect()
      .map(r => r.getTimestamp(0).getTime ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    val rows = turns.filter(col("ts").isNotNull && col("conv_id").isNotNull
      && col("turn_idx").isNotNull)
      .select("conv_id", "turn_idx", "ts").collect()
      .map(r => (r.getString(0), r.getInt(1),
        r.getTimestamp(2).getTime * 1000L))
    val skews = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val ordered = rs.sortBy(_._2)
      ordered.zipWithIndex.map { case ((_, _, us), i) =>
        val hwm = if (i == 0) Long.MinValue else ordered.take(i).map(_._3).max
        (us, if (hwm > us) Some(hwm - us) else None)
      }
    }
    val exp = skews.groupBy { case (us, _) =>
      us - java.lang.Math.floorMod(us, 86400L * 1000000L)
    }.map { case (day, evs) =>
      (day / 1000L) -> ((evs.size.toLong, evs.count(_._2.isDefined).toLong,
        evs.flatMap(_._2).reduceOption(_ max _).getOrElse(-1L)))
    }
    assert(got == exp, s"skew census diverges:\n got $got\n exp $exp")
  }

  test("peakDays invariants on synth: every peak beats its brute neighborhood") {
    val w = 3
    val got = SeriesOps.peakDays(turns, w).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val census = turns.filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"),
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
          lit(86400L * 1000000L))).as("day"))
      .groupBy("conv_id", "day").count().collect()
      .groupBy(_.getString(0))
    val exp = census.flatMap { case (c, rs) =>
      val s = rs.sortBy(_.getLong(1)).map(r => (r.getLong(1), r.getLong(2)))
      s.indices.flatMap { i =>
        val nb = ((i - w) to (i + w)).filter(j => j != i && j >= 0 && j < s.length)
          .map(j => s(j)._2)
        val tallest = if (nb.isEmpty) 0L else nb.max
        if (s(i)._2 > tallest)
          Some((c, s(i)._1 / 1000L) -> ((s(i)._2, s(i)._2 - tallest)))
        else None
      }
    }.toMap
    assert(got == exp, s"peaks diverge:\n got ${got.size}\n exp ${exp.size}")
  }

  // ---- funnel ---------------------------------------------------------

  test("funnel golden: strict ordering, turn-order ties, null doctrine") {
    val df = turnsDf(Seq(
      // A: full in-order conversion
      ("A", 0, "tool", "t", "signup", "2024-01-01 00:00:00"),
      ("A", 1, "tool", "t", "purchase", "2024-01-01 00:10:00"),
      ("A", 2, "tool", "t", "error", "2024-01-01 00:20:00"),
      // B: purchase BEFORE signup — order violation, step 1 only
      ("B", 0, "tool", "t", "purchase", "2024-01-01 00:00:00"),
      ("B", 1, "tool", "t", "signup", "2024-01-01 00:10:00"),
      // C: ts tie, purchase at the LATER turn_idx — strictly after
      ("C", 0, "tool", "t", "signup", "2024-01-01 01:00:00"),
      ("C", 1, "tool", "t", "purchase", "2024-01-01 01:00:00"),
      // D: ts tie, purchase at the EARLIER turn_idx — not after
      ("D", 0, "tool", "t", "purchase", "2024-01-01 01:00:00"),
      ("D", 1, "tool", "t", "signup", "2024-01-01 01:00:00"),
      // E: non-tool and unplaceable turns are not funnel events
      ("E", 0, "tool", "t", "signup", "2024-01-01 02:00:00"),
      ("E", 1, "user", "t", null, "2024-01-01 02:10:00"),
      ("E", 2, "tool", "t", "purchase", null),
      // F: never enters (no signup) — counts nowhere
      ("F", 0, "tool", "t", "purchase", "2024-01-01 03:00:00"),
      ("F", 1, "tool", "t", "error", "2024-01-01 03:10:00")))
    val got = SeriesOps.funnel(df, Seq("signup", "purchase", "error"))
      .collect()
      .map(r => r.getInt(0) ->
        ((r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)),
          if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)),
          if (r.isNullAt(5)) null else java.lang.Long.valueOf(r.getLong(5)))))
      .toMap
    // step-2 transitions: A +600 s, C 0 s (same-ts tie) -> avg 300 s;
    // step-3: A +600 s only. step 1 has no predecessor -> NULL latency
    assert(got(1) == (("signup", 5L, java.lang.Double.valueOf(1.0),
      null, null)))
    assert(got(2) == (("purchase", 2L, java.lang.Double.valueOf(0.4),
      java.lang.Double.valueOf(300000000.0), java.lang.Long.valueOf(600000000L))))
    assert(got(3) == (("error", 1L, java.lang.Double.valueOf(0.2),
      java.lang.Double.valueOf(600000000.0), java.lang.Long.valueOf(600000000L))))
  }

  test("funnel repeated step needs a SECOND strictly-later occurrence") {
    val df = turnsDf(Seq(
      ("G", 0, "tool", "t", "signup", "2024-01-01 00:00:00"),
      ("H", 0, "tool", "t", "signup", "2024-01-01 00:00:00"),
      ("H", 1, "tool", "t", "signup", "2024-01-01 00:00:01")))
    val got = SeriesOps.funnel(df, Seq("signup", "signup")).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got == Map(1 -> 2L, 2 -> 1L))
  }

  test("funnel zero-entry input reports zero counts and NULL conversion") {
    val df = turnsDf(Seq(
      ("A", 0, "tool", "t", "purchase", "2024-01-01 00:00:00")))
    val got = SeriesOps.funnel(df, Seq("signup", "purchase")).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(2), r.isNullAt(3), r.isNullAt(4), r.isNullAt(5)))).toMap
    assert(got == Map(1 -> ((0L, true, true, true)),
      2 -> ((0L, true, true, true))))
  }

  test("funnel matches the brute per-conv sequential scan on synth") {
    val steps = Seq("search", "browse", "code")
    val got = SeriesOps.funnel(turns, steps).collect()
      .map(r => r.getInt(0) ->
        ((r.getString(1), r.getLong(2),
          if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)),
          if (r.isNullAt(5)) null else java.lang.Long.valueOf(r.getLong(5)))))
      .toMap
    val rows = turns
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull &&
        col("tool").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"), unix_micros(col("ts")).as("us"),
        col("turn_idx"), col("tool"))
      .collect()
    val stepTimes = rows.groupBy(_.getString(0)).values.map { rs =>
      val ordered = rs
        .map(r => (r.getLong(1), r.getInt(2), r.getString(3)))
        .sortBy(t => (t._1, t._2))
      // greedy first-match IS the min-after-previous chain
      val times = scala.collection.mutable.ArrayBuffer.empty[Long]
      ordered.foreach { case (us, _, tool) =>
        if (times.size < steps.size && tool == steps(times.size)) times += us
      }
      times.toSeq
    }.toSeq
    steps.indices.foreach { i =>
      val expConvs = stepTimes.count(_.size >= i + 1).toLong
      val (tool, convs, avgUs, maxUs) = got(i + 1)
      assert((tool, convs) == ((steps(i), expConvs)),
        s"step ${i + 1}: got ($tool, $convs), expected (${steps(i)}, $expConvs)")
      if (i > 0) {
        val deltas = stepTimes.filter(_.size >= i + 1).map(t => t(i) - t(i - 1))
        if (deltas.isEmpty) assert(avgUs == null && maxUs == null)
        else {
          assert(maxUs == java.lang.Long.valueOf(deltas.max),
            s"step ${i + 1} max latency")
          val expAvg = deltas.sum.toDouble / deltas.size
          assert(math.abs(avgUs.doubleValue - expAvg) < 1e-5,
            s"step ${i + 1} avg latency: got $avgUs, expected $expAvg")
        }
      } else assert(avgUs == null && maxUs == null)
    }
  }

  test("funnel plan: one conv exchange plus the census, no joins") {
    val p = SeriesOps.funnel(turns, Seq("search", "browse", "code"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 2,
      s"expected conv exchange + single-partition census only:\n$p")
    assert(!p.contains("Join"), s"expected no join:\n$p")
  }

  test("funnel rejects empty, oversized, and blank step lists") {
    intercept[IllegalArgumentException](SeriesOps.funnel(turns, Seq.empty))
    intercept[IllegalArgumentException](
      SeriesOps.funnel(turns, Seq.fill(9)("search")))
    intercept[IllegalArgumentException](SeriesOps.funnel(turns, Seq("")))
  }

  test("hampelDaily: spike flags; the whale day does NOT poison the next window") {
    import spark.implicits._
    // 8 days of 10 turns with a 100-turn spike on day 5: the rolling
    // MEDIAN stays 10 through the whale's lookback, so day 5 flags and
    // days 6-8 do not — the robustness a rolling mean/stddev lacks
    val tr = (1 to 8).flatMap { d =>
      val n = if (d == 5) 100 else 10
      (0 until n).map(_ => Timestamp.valueOf(f"2024-03-0$d 01:00:00"))
    }.toDF("ts")
    val got = SeriesOps.hampelDaily(tr, w = 5, k = 3.0).orderBy("day").collect()
    assert(got.length == 8)
    assert(got.map(_.getAs[Boolean]("is_outlier")).toSeq ==
      Seq(false, false, false, false, true, false, false, false))
    val day5 = got(4)
    assert(day5.getAs[Double]("med") == 10.0 && day5.getAs[Double]("mad") == 0.0)
    // short head windows report their true size; tail windows saturate at w
    assert(got(0).getAs[Int]("n_window") == 1)
    assert(got(1).getAs[Int]("n_window") == 2)
    assert(got(7).getAs[Int]("n_window") == 5)
  }

  test("hampelDaily: even-window median interpolates; MAD uses the unrounded median") {
    import spark.implicits._
    // day1=4 turns, day2=7 turns: day-2 window [4,7] → med 5.5,
    // deviations [1.5, 1.5] → mad 1.5; flag iff 1.5 > k·1.5
    val tr = ((0 until 4).map(_ => Timestamp.valueOf("2024-03-01 01:00:00")) ++
      (0 until 7).map(_ => Timestamp.valueOf("2024-03-02 01:00:00"))).toDF("ts")
    val sensitive = SeriesOps.hampelDaily(tr, w = 7, k = 0.5)
      .orderBy("day").collect()
    assert(sensitive(1).getAs[Double]("med") == 5.5)
    assert(sensitive(1).getAs[Double]("mad") == 1.5)
    assert(sensitive(1).getAs[Boolean]("is_outlier")) // 1.5 > 0.75
    val default = SeriesOps.hampelDaily(tr, w = 7, k = 3.0)
      .orderBy("day").collect()
    assert(!default(1).getAs[Boolean]("is_outlier")) // 1.5 <= 4.5
  }

  test("sessionCoverageDaily golden: union merges overlaps, splits at midnight, counts concurrency") {
    import spark.implicits._
    val tr = Seq(
      // A and B overlap: union [10:00,10:20] = 1200 s, concurrency 2
      ("A", 0, Timestamp.valueOf("2024-03-01 10:00:00")),
      ("A", 1, Timestamp.valueOf("2024-03-01 10:10:00")),
      ("B", 0, Timestamp.valueOf("2024-03-01 10:05:00")),
      ("B", 1, Timestamp.valueOf("2024-03-01 10:20:00")),
      // C: single-turn session — a point, zero measure
      ("C", 0, Timestamp.valueOf("2024-03-01 23:59:30")),
      // D: one session crossing midnight (20-min gap < 30-min cutoff)
      ("D", 0, Timestamp.valueOf("2024-03-01 23:50:00")),
      ("D", 1, Timestamp.valueOf("2024-03-02 00:10:00"))
    ).toDF("conv_id", "turn_idx", "ts")
    val got = SeriesOps.sessionCoverageDaily(tr, gapSeconds = 1800L)
      .orderBy("day").collect()
    assert(got.length == 2)
    val d1 = got(0)
    assert(d1.getAs[Long]("n_sessions") == 4)
    assert(d1.getAs[Long]("covered_us") == (1200L + 600L) * 1000000L)
    assert(d1.getAs[Long]("max_concurrent") == 2)
    val d2 = got(1)
    assert(d2.getAs[Long]("n_sessions") == 1)
    assert(d2.getAs[Long]("covered_us") == 600L * 1000000L)
    assert(d2.getAs[Long]("max_concurrent") == 1)
  }

  test("sessionCoverageDaily: touching sessions merge in coverage but are NOT concurrent") {
    import spark.implicits._
    val tr = Seq(
      ("E", 0, Timestamp.valueOf("2024-03-01 01:00:00")),
      ("E", 1, Timestamp.valueOf("2024-03-01 01:20:00")),
      ("F", 0, Timestamp.valueOf("2024-03-01 01:20:00")),
      ("F", 1, Timestamp.valueOf("2024-03-01 01:40:00"))
    ).toDF("conv_id", "turn_idx", "ts")
    val got = SeriesOps.sessionCoverageDaily(tr, gapSeconds = 1800L).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("covered_us") == 2400L * 1000000L)
    assert(got(0).getAs[Long]("max_concurrent") == 1)
    intercept[IllegalArgumentException](
      SeriesOps.sessionCoverageDaily(tr, gapSeconds = 0L))
  }

  test("rollingActiveDaily golden: window membership, observed-day grid") {
    import spark.implicits._
    val tr = Seq(
      ("A", 0, Timestamp.valueOf("2024-03-01 10:00:00")),
      ("A", 1, Timestamp.valueOf("2024-03-09 10:00:00")),
      ("B", 0, Timestamp.valueOf("2024-03-02 10:00:00"))
    ).toDF("conv_id", "turn_idx", "ts")
    val got = SeriesOps.rollingActiveDaily(tr, w = 7).orderBy("day").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("day").toString.take(10),
        r.getAs[Long]("active_convs"), r.getAs[Long]("rolling_active")))
    // day 2: A (active day 1, inside the 7-day window) + B = 2 rolling;
    // day 9: only A's fresh presence — day-1 A and day-2 B both aged out
    assert(got.toSeq == Seq(
      ("2024-03-01", 1L, 1L), ("2024-03-02", 1L, 2L), ("2024-03-09", 1L, 1L)))
    intercept[IllegalArgumentException](SeriesOps.rollingActiveDaily(tr, w = 0))
  }

  test("rollingActiveSketchDaily: bounded error vs exact, deterministic, dup-immune") {
    val got = SeriesOps.rollingActiveSketchDaily(turns, w = 7).collect()
      .map(r => r.getAs[java.sql.Timestamp]("day") ->
        r.getAs[Long]("rolling_active_est")).toMap
    val exact = SeriesOps.rollingActiveDaily(turns, w = 7).collect()
      .map(r => r.getAs[java.sql.Timestamp]("day") ->
        r.getAs[Long]("rolling_active")).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (d, ex) =>
      val err = math.abs(got(d) - ex).toDouble / ex
      assert(err <= 0.05, s"day $d: est ${got(d)} vs exact $ex (err $err)")
    }
    // deterministic re-run (same sketches, same estimates)
    val again = SeriesOps.rollingActiveSketchDaily(turns, w = 7).collect()
      .map(r => r.getAs[java.sql.Timestamp]("day") ->
        r.getAs[Long]("rolling_active_est")).toMap
    assert(again == got)
    intercept[IllegalArgumentException](
      SeriesOps.rollingActiveSketchDaily(turns, lgK = 2))
  }

  test("hampelDaily plan: census + one window, no joins; rejects bad params") {
    val plan = SeriesOps.hampelDaily(turns).queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected the rolling window:\n$plan")
    assert(!plan.contains("Join"), s"no joins expected:\n$plan")
    intercept[IllegalArgumentException](SeriesOps.hampelDaily(turns, w = 1))
    intercept[IllegalArgumentException](SeriesOps.hampelDaily(turns, k = 0.0))
  }
}
