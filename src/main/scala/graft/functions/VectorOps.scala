package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The integer DTW kernel behind [[graft.operators.SeriesOps]]'
  * `dtwPairs` (q108), called from generated code: it operates directly
  * on Catalyst `ArrayData` (no boxing, no Scala collection conversion,
  * unlike a Scala UDF which would serialize each array per row).
  */
object VectorOps {

  /** True when any element is NULL — [[DtwDistance]] returns NULL
    * then, by decision: `ArrayData.getLong` would read the slot as 0
    * (a wrong finite distance), and the fold reference is no yardstick
    * for nulls (its `least` SKIPS them, leaking the ∞ sentinel into a
    * garbage value). An undefined distance is NULL, full stop.
    */
  def hasNullElem(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Integer DTW distance between two bigint series — the compiled
    * form of [[graft.operators.SeriesOps]]' `dtwFoldExpr` nested
    * `aggregate` HOFs (CodegenFallback → interpreted per DP cell;
    * per-element work at scale belongs in a native expression).
    * Arithmetic mirrors the fold CELL FOR CELL: rolling row with a j=0 sentinel column,
    * `cur(j) = |x−b(j)| + min(prev(j), prev(j−1), cur(j−1))`, the
    * same ∞ sentinel `Long.MaxValue/4` (compared, never summed past
    * one cost addition — every cell after the first row's first
    * column is path-finite), empty-series degenerate cases included
    * (n=0 → sentinel row's last element: 0 when m=0, ∞ otherwise).
    * The DuckDB oracle runs the identical fold via `list_reduce`; a
    * change here must change it in lockstep.
    */
  def dtwLong(a: ArrayData, b: ArrayData): Long = {
    val inf = 2305843009213693951L // Long.MaxValue/4: compared, never compounded
    val n = a.numElements()
    val m = b.numElements()
    var prev = new Array[Long](m + 1)
    var j = 1
    while (j <= m) { prev(j) = inf; j += 1 } // prev(0) = dp[0][0] = 0
    if (n == 0) return prev(m)
    var cur = new Array[Long](m + 1)
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      cur(0) = inf
      j = 1
      while (j <= m) {
        val d = x - b.getLong(j - 1)
        val cost = if (d < 0) -d else d
        var best = prev(j)
        if (prev(j - 1) < best) best = prev(j - 1)
        if (cur(j - 1) < best) best = cur(j - 1)
        cur(j) = cost + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  // --- Column API -----------------------------------------------------

  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def dtwDistance(a: Column, b: Column): Column =
    column(DtwDistance(expression(a), expression(b)))
}

/** Native expression: integer DTW distance of two bigint arrays
  * ([[VectorOps.dtwLong]]). Codegen emits one static call — the whole
  * O(n·m) DP runs compiled instead of one interpreted lambda per
  * cell. Null-safe: null in → null out.
  */
case class DtwDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dtw_distance expects array<bigint> inputs, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  // a NULL ELEMENT nulls the whole distance (see hasNullElem) —
  // ArrayData.getLong would otherwise silently read a null slot as 0
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (VectorOps.hasNullElem(x) || VectorOps.hasNullElem(y)) null
    else VectorOps.dtwLong(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.functions.VectorOps.hasNullElem($a) ||
          graft.functions.VectorOps.hasNullElem($b)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.VectorOps.dtwLong($a, $b);
      }""")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DtwDistance =
    copy(left = newLeft, right = newRight)
}

