package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra–Gries frequent-items sketch as a typed Spark [[Aggregator]] —
  * the MERGEABLE heavy-hitter summary (Agarwal et al., "Mergeable
  * Summaries", PODS 2012 §3): a bounded map of at most `capacity`
  * counters whose estimate for every item `x` satisfies
  * `true(x) − N/(capacity+1) ≤ est(x) ≤ true(x)` for stream length `N`,
  * under ANY partitioning and ANY merge order.
  *
  * Why this exists next to the exact top-k ([[graft.operators.SeriesOps
  * .termTopK]]): the exact form shuffles one `(term, count)` pair per
  * DISTINCT term — at web-scale vocabularies (URLs, n-grams, user ids)
  * that exchange is the job. The sketch's partial state is O(capacity)
  * per partition REGARDLESS of cardinality, and Spark plans it as a
  * TypedImperativeAggregate: the buffer lives as a plain JVM map within
  * a partition (per-row serialization never happens) and serializes
  * once per partition into a single-row final merge.
  *
  * Semantics contract (what the driver query pins): with
  * `capacity ≥ distinct items` no trim ever fires, every counter is
  * exact, and the sketch output is bit-identical to the exact
  * aggregation (an exhaustive-settings verification: the sketch at
  * settings where it must equal the exact answer). Below capacity the
  * VALUES are merge-order-dependent (any MG implementation's counters are), but
  * the error bound above holds for every order; the spec asserts the
  * bound, not the values.
  *
  * Trim rule (the paper's merge step, applied batched): the map may
  * grow to `2 × capacity`; on overflow subtract the `(capacity+1)`-th
  * largest count from every counter and drop the non-positive ones —
  * each subtracted unit is charged to ≥ capacity+1 distinct counters,
  * which is exactly where the N/(capacity+1) bound comes from.
  * Batching makes inserts amortized O(1) map ops instead of the
  * classical per-insert O(capacity) decrement sweep.
  */
final class MisraGries(capacity: Int)
    extends Aggregator[String, Map[String, Long], Map[String, Long]] {
  require(capacity >= 1 && capacity <= (1 << 20),
    s"capacity must be in [1, ${1 << 20}], got $capacity")

  override def zero: Map[String, Long] = Map.empty

  private def trim(m: Map[String, Long]): Map[String, Long] =
    if (m.size <= 2 * capacity) m
    else {
      // (capacity+1)-th largest count; subtract it everywhere, drop <= 0
      val cstar = m.valuesIterator.toArray.sorted(Ordering[Long].reverse).apply(capacity)
      m.collect { case (t, c) if c > cstar => t -> (c - cstar) }
    }

  override def reduce(b: Map[String, Long], term: String): Map[String, Long] =
    if (term == null) b
    else trim(b.updated(term, b.getOrElse(term, 0L) + 1L))

  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
    val (small, large) = if (a.size < b.size) (a, b) else (b, a)
    trim(small.foldLeft(large) { case (acc, (t, c)) =>
      acc.updated(t, acc.getOrElse(t, 0L) + c)
    })
  }

  override def finish(b: Map[String, Long]): Map[String, Long] =
    // the final summary honors the declared capacity exactly (the
    // working buffer is allowed 2x headroom between trims)
    if (b.size <= capacity) b
    else {
      val cstar = b.valuesIterator.toArray.sorted(Ordering[Long].reverse).apply(capacity)
      b.collect { case (t, c) if c > cstar => t -> (c - cstar) }
    }

  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
}

object MisraGries {
  /** Column-API handle: `df.agg(MisraGries.sketch(cap)(col))`. */
  def sketch(capacity: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new MisraGries(capacity), Encoders.STRING)
}
