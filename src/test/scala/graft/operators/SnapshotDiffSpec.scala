package graft.operators

import graft.SparkTestBase
import graft.model.Tier
import graft.rollup.Rollup
import org.apache.spark.sql.functions._

class SnapshotDiffSpec extends SparkTestBase {
  import spark.implicits._

  private def collectDiff(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (Option(r.getAs[java.lang.Long]("k")).map(_.toLong),
      r.getAs[String]("status"),
      Option(r.getAs[java.lang.Long]("old_v")).map(_.toLong),
      Option(r.getAs[java.lang.Long]("new_v")).map(_.toLong))).toSet

  test("diff golden: added, removed, changed; unchanged rows dropped") {
    val oldS = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val newS = Seq((1L, 10L), (2L, 25L), (4L, 40L)).toDF("k", "v")
    val got = collectDiff(
      SnapshotDiff.diff(oldS, newS, keys = Seq("k"), measures = Seq("v")))
    assert(got == Set(
      (Some(2L), "changed", Some(20L), Some(25L)),
      (Some(3L), "removed", Some(30L), None),
      (Some(4L), "added", None, Some(40L))))
  }

  test("null keys match null-safely; null measures drift null-safely") {
    val oldS = Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L)),
      (java.lang.Long.valueOf(7L), null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v")
    val newS = Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(2L)),
      (java.lang.Long.valueOf(7L), null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v")
    val got = collectDiff(
      SnapshotDiff.diff(oldS, newS, keys = Seq("k"), measures = Seq("v")))
    // null key group matched (one 'changed' row, not added+removed);
    // null==null measure is NOT drift (key 7 absent from the output)
    assert(got == Set((None, "changed", Some(1L), Some(2L))))
  }

  test("diff of a table against itself is empty (incremental==rebuild green signal)") {
    val s = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    assert(SnapshotDiff.diff(s, s, Seq("k"), Seq("v")).isEmpty)
  }

  test("rollup prefix-slice diff: boundary window 'changed', later windows 'added', no 'removed'") {
    val tr = graft.ingest.Synth.transcripts(spark, nConvs = 30, avgTurns = 40,
      seed = 19L).toDF()
    val cut = tr.agg(expr("percentile(cast(ts as double), 0.5)")).head().getDouble(0)
    val cutTs = lit(cut).cast("timestamp")
    val sel = Seq("conv_id", "window_start", "turn_count", "char_len_sum").map(col)
    val d = SnapshotDiff.diff(
      Rollup.fromRaw(tr.filter(col("ts") < cutTs), Tier.H1).select(sel: _*),
      Rollup.fromRaw(tr, Tier.H1).select(sel: _*),
      keys = Seq("conv_id", "window_start"),
      measures = Seq("turn_count", "char_len_sum"))
    val rows = d.collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getAs[String]("status") == "removed"),
      "a prefix slice can never contain keys the full input lacks")
    // 'changed' rows are exactly the mid-cutoff windows: old strictly
    // below new on the additive measures
    rows.filter(_.getAs[String]("status") == "changed").foreach { r =>
      assert(r.getAs[Long]("old_turn_count") < r.getAs[Long]("new_turn_count"))
      assert(r.getAs[Long]("old_char_len_sum") <= r.getAs[Long]("new_char_len_sum"))
    }
    rows.filter(_.getAs[String]("status") == "added").foreach { r =>
      assert(r.isNullAt(r.fieldIndex("old_turn_count")))
      assert(r.getAs[Long]("new_turn_count") > 0L)
    }
  }

  test("diff plan: one full-outer SMJ, no windows, no broadcast of the big sides") {
    val tr = graft.ingest.Synth.transcripts(spark, nConvs = 20, avgTurns = 20,
      seed = 3L).toDF()
    val r = Rollup.fromRaw(tr, Tier.H1)
      .select(col("conv_id"), col("window_start"), col("turn_count"))
    val plan = SnapshotDiff.diff(r, r, Seq("conv_id", "window_start"),
      Seq("turn_count")).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      s"expected one full-outer SMJ:\n$plan")
    assert(!plan.contains("Window"), s"no window functions expected:\n$plan")
  }

  test("diff rejects colliding/overlapping column contracts") {
    val s = Seq((1L, 10L)).toDF("k", "v")
    intercept[IllegalArgumentException](SnapshotDiff.diff(s, s, Seq("k"), Seq("k")))
    intercept[IllegalArgumentException](SnapshotDiff.diff(s, s, Seq("k"), Seq()))
    val bad = Seq((1L, 10L, "x")).toDF("k", "v", "status")
    intercept[IllegalArgumentException](
      SnapshotDiff.diff(bad, bad, Seq("k"), Seq("v")))
  }
}
