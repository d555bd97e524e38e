package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed snapshot diff — the CDC-style audit between two versions of a
  * derived table (typically two rollup builds of the same tier): which
  * keys appeared, disappeared, or changed any measure.
  *
  * This is the verification half of the incremental-maintenance story:
  * the engine's resume/backfill path promises "incremental == rebuild"
  * ([[graft.jobs.RollupJob]] recomputes a day at every tier when its
  * raw census moves), and `diff(incremental, rebuild)` returning ZERO
  * rows is that promise as a checkable query. Run routinely it is also
  * the rollup drift monitor between warehouse snapshots (what changed
  * since yesterday's publish, and by how much).
  *
  * Reference analogue: none — the reference migrates forward only and
  * never compares two states of its sink; this is a north-rule
  * extension in the q115 corpus-parity family (there: one digest per
  * conversation; here: measure-level drift per rollup key).
  *
  * Null semantics: keys match null-safely (`<=>` — a null conv_id
  * group in one snapshot matches the null group in the other, they do
  * NOT cartesian), and measures compare null-safely (null→value and
  * value→null are 'changed'; null→null is equal). Unchanged rows are
  * dropped — the output is the drift, not the table.
  *
  * Plan shape: ONE full-outer sort-merge join keyed on the snapshot
  * key — each side shuffles rollup-granularity rows once (never raw
  * turns), so at 10¹² turns the diff costs two rollup-table exchanges,
  * and when both snapshots come off the same conv-clustered layout the
  * exchanges are co-partitioned. No windows, no driver collection.
  */
object SnapshotDiff {

  /** Diff `newSnap` against `oldSnap` on `keys`, reporting per-measure
    * old/new values for every added / removed / changed key.
    *
    * Output: `keys…, status ('added'|'removed'|'changed'),
    * old_<m>, new_<m>` for each measure, one row per drifted key.
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
      measures: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diff needs at least one key column")
    require(measures.nonEmpty, "diff needs at least one measure column")
    require((keys ++ measures).distinct.size == keys.size + measures.size,
      s"keys and measures must be distinct column sets: $keys vs $measures")
    // the RangeJoin reserved-name doctrine: generated names must not
    // collide with input columns or the join resolves ambiguously
    val generated = Seq("status", "_old_p", "_new_p") ++
      keys.map(k => s"_n_$k") ++
      measures.flatMap(m => Seq(s"old_$m", s"new_$m"))
    val inputs = (oldSnap.columns ++ newSnap.columns).toSet
    val clash = generated.filter(inputs.contains)
    require(clash.isEmpty,
      s"input columns collide with generated diff columns: ${clash.mkString(", ")}")

    val o = oldSnap.select(
      keys.map(col) ++
        measures.map(m => col(m).as(s"old_$m")) :+
        lit(true).as("_old_p"): _*)
    // right-side keys renamed so the self-join (both snapshots usually
    // derive from the same scan) resolves by NAME, not attribute id
    val n = newSnap.select(
      keys.map(k => col(k).as(s"_n_$k")) ++
        measures.map(m => col(m).as(s"new_$m")) :+
        lit(true).as("_new_p"): _*)
    val cond = keys.map(k => col(k) <=> col(s"_n_$k")).reduce(_ && _)
    val changed = measures
      .map(m => !(col(s"old_$m") <=> col(s"new_$m")))
      .reduce(_ || _)
    o.join(n, cond, "full_outer")
      .filter(col("_old_p").isNull || col("_new_p").isNull || changed)
      .select(
        keys.map(k => coalesce(col(k), col(s"_n_$k")).as(k)) ++
          Seq(when(col("_old_p").isNull, lit("added"))
            .when(col("_new_p").isNull, lit("removed"))
            .otherwise(lit("changed")).as("status")) ++
          measures.flatMap(m => Seq(col(s"old_$m"), col(s"new_$m"))): _*)
  }
}
