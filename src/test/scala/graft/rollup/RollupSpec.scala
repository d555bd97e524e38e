package graft.rollup

import graft.SparkTestBase
import graft.ingest.Synth
import graft.model.Tier

class RollupSpec extends SparkTestBase {

  private lazy val turns = Synth.transcripts(
    spark, nConvs = 40, avgTurns = 60, seed = 7L, hotConvs = 1, hotFactor = 40).toDF().cache()

  test("salted two-phase aggregation equals plain rollup on skewed input") {
    val plain = Rollup.fromRaw(turns, Tier.M1)
    val salted = Rollup.fromRawSalted(turns, Tier.M1, salts = 16)
    assertSameRows(plain, salted)
  }

  test("cascade law: cascade(rollup_1m) == rollup_1h(raw) == cascade twice to 1d") {
    val m1 = Rollup.fromRaw(turns, Tier.M1)
    val h1Direct = Rollup.fromRaw(turns, Tier.H1)
    val h1Cascade = Rollup.cascade(m1, Tier.H1)
    assertSameRows(h1Direct, h1Cascade)
    val d1Direct = Rollup.fromRaw(turns, Tier.D1)
    val d1Cascade = Rollup.cascade(h1Cascade, Tier.D1)
    assertSameRows(d1Direct, d1Cascade)
  }

  test("golden values on a hand-checkable fixture") {
    import spark.implicits._
    import java.sql.Timestamp
    val rows = Seq(
      // conv A, one minute window: 3 turns
      ("A", 0, "user", "hi", null, Timestamp.valueOf("2024-01-01 00:00:05")),
      ("A", 1, "assistant", "hello there", null, Timestamp.valueOf("2024-01-01 00:00:30")),
      ("A", 2, "tool", "ok", "search", Timestamp.valueOf("2024-01-01 00:00:59")),
      // conv A, later window
      ("A", 3, "user", "bye", null, Timestamp.valueOf("2024-01-01 00:02:10")),
      // conv B
      ("B", 0, "user", "x y z", null, Timestamp.valueOf("2024-01-01 00:00:10")),
      // conv C: a turn with a null role counts in neither role column
      ("C", 0, null, "abc", null, Timestamp.valueOf("2024-01-01 00:00:20")),
      ("C", 1, "user", "de f", null, Timestamp.valueOf("2024-01-01 00:00:40")),
      // conv D: a null-text first turn beside a texted one, then a
      // window whose only turn has null text
      ("D", 0, "user", null, null, Timestamp.valueOf("2024-01-01 00:00:15")),
      ("D", 1, "assistant", "pq", null, Timestamp.valueOf("2024-01-01 00:00:45")),
      ("D", 2, "user", null, null, Timestamp.valueOf("2024-01-01 00:07:00"))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    def byKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Timestamp]("window_start").toString) -> r).toMap
    val m1 = byKey(Rollup.fromRaw(rows, Tier.M1))

    val a0 = m1(("A", "2024-01-01 00:00:00.0"))
    assert(a0.getAs[Long]("turn_count") == 3L)
    assert(a0.getAs[Long]("user_turns") == 1L)
    assert(a0.getAs[Long]("assistant_turns") == 1L)
    assert(a0.getAs[Long]("tool_calls") == 1L)
    assert(a0.getAs[Long]("char_len_sum") == (2 + 11 + 2))
    assert(a0.getAs[Long]("char_len_min") == 2L)
    assert(a0.getAs[Long]("char_len_max") == 11L)
    assert(a0.getAs[Long]("token_sum") == (1 + 2 + 1))
    assert(a0.getAs[String]("first_text") == "hi")
    assert(a0.getAs[String]("last_text") == "ok")
    assert(a0.getAs[Double]("char_len_avg") == 15.0 / 3)
    assert(a0.getAs[Double]("turn_rate") == 3.0 / 60)

    val a2 = m1(("A", "2024-01-01 00:02:00.0"))
    assert(a2.getAs[Long]("turn_count") == 1L && a2.getAs[String]("first_text") == "bye")
    val b0 = m1(("B", "2024-01-01 00:00:00.0"))
    assert(b0.getAs[Long]("token_sum") == 3L)

    // the null rules, alike for the plain, salted and cascaded paths:
    // a null text has no length and no tokens (sum/min/max skip it,
    // and the average still divides by every turn), yet it is the
    // first/last text when its turn is first/last
    def check(r: org.apache.spark.sql.Row, turns: Long, user: Long, assistant: Long,
        lenSum: Option[Long], lenMin: Option[Long], lenMax: Option[Long],
        tokens: Option[Long], first: String, last: String, avg: Option[Double]): Unit = {
      def opt[A](c: String): Option[A] = Option(r.getAs[Any](c)).map(_.asInstanceOf[A])
      assert(r.getAs[Long]("turn_count") == turns, r)
      assert(r.getAs[Long]("user_turns") == user, r)
      assert(r.getAs[Long]("assistant_turns") == assistant, r)
      assert(opt[Long]("char_len_sum") == lenSum, r)
      assert(opt[Long]("char_len_min") == lenMin, r)
      assert(opt[Long]("char_len_max") == lenMax, r)
      assert(opt[Long]("token_sum") == tokens, r)
      assert(r.getAs[String]("first_text") == first, r)
      assert(r.getAs[String]("last_text") == last, r)
      assert(opt[Double]("char_len_avg") == avg, r)
    }
    for (m <- Seq(m1, byKey(Rollup.fromRawSalted(rows, Tier.M1, salts = 4)))) {
      check(m(("C", "2024-01-01 00:00:00.0")), 2, 1, 0,
        Some(7), Some(3), Some(4), Some(3), "abc", "de f", Some(3.5))
      check(m(("D", "2024-01-01 00:00:00.0")), 2, 1, 1,
        Some(2), Some(2), Some(2), Some(1), null, "pq", Some(1.0))
      check(m(("D", "2024-01-01 00:07:00.0")), 1, 1, 0,
        None, None, None, None, null, null, None)
    }
    val h1 = byKey(Rollup.cascade(Rollup.fromRaw(rows, Tier.M1), Tier.H1))
    check(h1(("C", "2024-01-01 00:00:00.0")), 2, 1, 0,
      Some(7), Some(3), Some(4), Some(3), "abc", "de f", Some(3.5))
    check(h1(("D", "2024-01-01 00:00:00.0")), 3, 2, 1,
      Some(2), Some(2), Some(2), Some(1), null, null, Some(2.0 / 3))
  }

  test("block encode/decode roundtrips the raw series distributedly") {
    import org.apache.spark.sql.functions._
    val withTs = turns.filter(col("ts").isNotNull)
    val decoded = BlockRollup.decode(BlockRollup.encode(withTs, Tier.H1))
    val raw = withTs.select(
      col("conv_id"),
      col("ts").cast("timestamp_ntz").as("ts"),
      length(col("text")).cast("double").as("value"))
    assertSameRows(raw, decoded)
  }

  test("null text is a skipped point in blocks, not a tier crash") {
    import org.apache.spark.sql.functions._
    // null-measurement hole tolerance (IoTDBWriter.java:175-178): the
    // typed Pt(Long, Double) aggregator would throw on a null value
    val withNull = turns.filter(col("ts").isNotNull)
      .withColumn("text", when(col("turn_idx") % 50 === 0, lit(null: String))
        .otherwise(col("text")))
    val decoded = BlockRollup.decode(BlockRollup.encode(withNull, Tier.H1))
    val raw = withNull.filter(col("text").isNotNull).select(
      col("conv_id"),
      col("ts").cast("timestamp_ntz").as("ts"),
      length(col("text")).cast("double").as("value"))
    assertSameRows(raw, decoded)
  }

  test("tool freq cascade equals direct") {
    val h1 = Rollup.toolFreq(turns, Tier.H1)
    assertSameRows(Rollup.toolFreq(turns, Tier.D1), Rollup.toolFreqCascade(h1, Tier.D1))
  }

  test("approx quantiles are rank-correct group elements (sketch contract)") {
    import org.apache.spark.sql.functions._
    // the sketch's contract is RANK error (≤ 1/accuracy plus the
    // sketch's integer-rank snap), not value distance — on tiny groups
    // the p50 legitimately sits an element away from the interpolated
    // exact value, so assert rank membership, not closeness
    val approx = Rollup.charLenQuantilesApprox(turns, Tier.D1).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getAs[Number](2).doubleValue(), r.getAs[Number](3).doubleValue())).toMap
    val groups = turns.select(col("conv_id"),
        window(col("ts"), graft.model.Tier.D1.windowExpr).getField("start").as("ws"),
        length(col("text")).as("len"))
      .collect()
      .groupBy(r => (r.getString(0), r.getTimestamp(1)))
      .view.mapValues(_.map(_.getInt(2)).sorted).toMap
    assert(groups.nonEmpty && approx.keySet == groups.keySet)
    groups.foreach { case (k, vals) =>
      val (a50, a95) = approx(k)
      def rankOk(v: Double, p: Double): Boolean = {
        val target = p * (vals.length - 1)
        val idxs = vals.zipWithIndex.collect { case (x, i) if x.toDouble == v => i }
        idxs.nonEmpty && idxs.exists(i => math.abs(i - target) <= 1.0 + vals.length / 1000.0)
      }
      assert(rankOk(a50, 0.5), s"$k: p50 $a50 not rank-correct in ${vals.take(20).toSeq}")
      assert(rankOk(a95, 0.95), s"$k: p95 $a95 not rank-correct (n=${vals.length})")
    }
  }

  test("multiGranularity: conv scope equals plain rollup; corpus scope equals its sum") {
    import org.apache.spark.sql.functions._
    val mg = Rollup.multiGranularity(turns, Tier.H1).cache()
    // scope 0 == the plain per-conv rollup's shared columns
    val convScope = mg.filter(col("scope") === 0)
      .select("conv_id", "window_start", "turn_count", "tool_calls", "char_len_sum")
    val plain = Rollup.fromRaw(turns, Tier.H1)
      .select("conv_id", "window_start", "turn_count", "tool_calls", "char_len_sum")
    assertSameRows(convScope, plain)
    // scope 1 == the conv scope summed per window (decomposability)
    val corpusScope = mg.filter(col("scope") === 1)
      .select("window_start", "turn_count", "tool_calls", "char_len_sum")
    val summed = convScope.groupBy("window_start")
      .agg(sum("turn_count").as("turn_count"),
        sum("tool_calls").as("tool_calls"),
        sum("char_len_sum").as("char_len_sum"))
      .select("window_start", "turn_count", "tool_calls", "char_len_sum")
    assertSameRows(corpusScope, summed)
    // corpus rows carry null conv_id and scope disambiguates
    assert(mg.filter(col("scope") === 1 && col("conv_id").isNotNull).count() == 0)
    mg.unpersist()
  }

  test("multiGranularity plan: one exchange, map-side Expand, no join") {
    val p = Rollup.multiGranularity(turns, Tier.H1)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1, s"expected ONE exchange:\n$p")
    assert(p.contains("Expand"), s"grouping sets must expand map-side:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("histogramQuantile: hand-computed crossing + interpolation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one window: 5 turns in bucket 0 (len 25), 5 in bucket 1 (len 75)
    val rows = (0 until 10).map { i =>
      ("c" + i, 0, "user", "x" * (if (i < 5) 25 else 75),
        null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2024-01-01 10:00:01"))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val out = Rollup.histogramQuantile(rows).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("turns") == 10L)
    // p50: rank 5.0 crosses bucket 0 exactly at its upper edge
    assert(r.getAs[Double]("hq_p50") == 50.0)
    // p95: rank 9.5 interpolates bucket 1: 50 + 50*(9.5-5)/5 = 95
    assert(r.getAs[Double]("hq_p95") == 95.0)
  }

  test("histogramQuantile: null text drops; bucket-resolution rank bound") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val withNull = turns.withColumn("text",
      when(col("turn_idx") % 17 === 0, lit(null: String))
        .otherwise(col("text")))
    val hq = Rollup.histogramQuantile(withNull, Tier.H1).cache()
    // turns per window counts only non-null texts
    val counted = withNull.filter(col("text").isNotNull)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"))
      .agg(count(lit(1)).as("n"))
    assertSameRows(
      hq.select(col("window_start"), col("turns")),
      counted.select(col("window_start"), col("n").as("turns")))
    // the reconstructed quantile is within one bucket of the exact one
    val exact = withNull.filter(col("text").isNotNull)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"))
      .agg(expr("percentile(length(text), 0.95)").as("exact_p95"))
    val joined = hq.join(exact, "window_start")
      .select(abs(col("hq_p95") - col("exact_p95")).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(joined <= 50.0, s"hist quantile off by more than a bucket: $joined")
    hq.unpersist()
  }

  test("mergeHistogram: merged fine-tier artifacts == coarse tier from raw") {
    // the mergeability contract at both cascade hops — counts summed,
    // pct recomputed from merged counts, bit-identical to direct
    val m1 = Rollup.charLenHistogram(turns, Tier.M1)
    assertSameRows(
      Rollup.mergeHistogram(m1, Tier.H1),
      Rollup.charLenHistogram(turns, Tier.H1))
    val h1 = Rollup.charLenHistogram(turns, Tier.H1)
    assertSameRows(
      Rollup.mergeHistogram(h1, Tier.D1),
      Rollup.charLenHistogram(turns, Tier.D1))
    // two-hop merge == one-hop merge (associativity across tiers)
    assertSameRows(
      Rollup.mergeHistogram(Rollup.mergeHistogram(m1, Tier.H1), Tier.D1),
      Rollup.charLenHistogram(turns, Tier.D1))
  }

  test("histogramQuantile plan: one real exchange + one metadata window exchange") {
    val p = Rollup.histogramQuantile(turns, Tier.H1)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 2,
      s"expected exactly two exchanges (census + aggregated-frame window):\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
    assert(!p.contains("Expand"), s"no distinct-agg Expand expected:\n$p")
  }
}
