package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Static vector kernels called from generated code — operate directly
  * on Catalyst `ArrayData` (no boxing, no Scala collection conversion,
  * unlike a Scala UDF which would serialize each array per row).
  */
object VectorOps {

  /** Cosine similarity, double accumulation over float inputs.
    * Returns 0.0 when either norm is 0 (no NaN poisoning).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Squared L2 norm, double accumulation over float inputs — the
    * per-VECTOR factor of [[cosine]], split out so pair-scoring plans
    * can precompute it once per row instead of twice per pair (guide
    * §1.2 per-task work: the fused kernel spends 2/3 of its flops
    * re-deriving norms that are a pure function of one side).
    * Accumulation order is identical to [[cosine]]'s `na` loop
    * (x = getFloat(i).toDouble; na += x·x, ascending i), so for
    * EQUAL-LENGTH vectors — the embedding-table contract every ANN
    * operator here assumes — `dot/(sqrt(na)·sqrt(nb))` with these
    * precomputed factors is bit-identical to the fused kernel (pinned
    * in SimilaritySpec).
    */
  def sqnorm(a: ArrayData): Double = {
    val n = a.numElements()
    var na = 0.0
    var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; na += x * x; i += 1 }
    na
  }

  /** Random-hyperplane LSH signature: bit j = sign(v · h_j) where h_j is
    * a deterministic pseudo-random unit-free hyperplane derived from
    * (seed, j, dim-index) via SplitMix64 — no stored model, executors
    * recompute coefficients on the fly (nothing to broadcast). The
    * plane matrix is derived ONCE per (seed, bits, dims) and cached
    * JVM-wide: deriving each coefficient per row (log/cos per element,
    * bits×dims of them) dominated the signature stage — the cached form
    * computes identical values with pure multiply-adds.
    */
  def hyperplaneSig(v: ArrayData, bits: Int, seed: Long): Long = {
    val n = v.numElements()
    val key = (seed, bits, n)
    // bound the cache: lshPairsAbove derives a fresh seed per table, so
    // a long-lived executor serving many differently-seeded jobs would
    // otherwise permanently retain a bits×dims matrix per (seed, bits,
    // dims) ever seen. Clear-on-cap BEFORE the lookup (never inside the
    // mapping function — CHM forbids mutating the map there), not LRU:
    // entries are cheap to recompute and per-ROW lookups must stay
    // lock-free — an access-ordered LRU would serialize the hot path.
    if (planeCache.size >= maxCachedPlanes && !planeCache.containsKey(key))
      planeCache.clear()
    val planes = planeCache.computeIfAbsent(key, k =>
      Array.tabulate(k._2, k._3)((j, i) =>
        gauss(k._1 ^ (j.toLong << 32) ^ i.toLong)))
    var sig = 0L
    var j = 0
    while (j < bits) {
      val h = planes(j)
      var s = 0.0
      var i = 0
      while (i < n) {
        s += v.getFloat(i).toDouble * h(i)
        i += 1
      }
      if (s > 0.0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** A typical job touches ≤ tables (8-16) plane matrices; 64 leaves
    * headroom for several concurrent jobs before the reset.
    */
  private val maxCachedPlanes = 64
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  /** Deterministic standard-normal-ish value from a key (SplitMix64 →
    * two uniforms → Box-Muller). Good enough for hyperplane directions.
    */
  private def gauss(key: Long): Double = {
    val u1 = splitmix(key)
    val u2 = splitmix(key + 0x9e3779b97f4a7c15L)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private def splitmix(key: Long): Double = {
    var z = key + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    // map to (0,1) exclusive — log(0) guard
    ((z >>> 11).toDouble + 0.5) / 9007199254740992.0
  }

  /** Cosine of a Catalyst float array against a JVM float array —
    * identical accumulation order to [[cosine]], so values are
    * bit-equal to CosineSim against a literal array.
    */
  def cosineVsRow(a: ArrayData, c: Array[Float]): Double = {
    val n = math.min(a.numElements(), c.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = c(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine sims of a vector against every centroid row (one pass). */
  def centroidSims(v: ArrayData, cents: Array[Array[Float]]): ArrayData = {
    val out = new Array[Double](cents.length)
    var i = 0
    while (i < cents.length) { out(i) = cosineVsRow(v, cents(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Nearest-centroid index (max cosine, first index wins ties — the
    * same tie-break as `array_position(sims, array_max(sims)) - 1`).
    */
  def centroidArgmax(v: ArrayData, cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val s = cosineVsRow(v, cents(i))
      if (s > bestSim) { bestSim = s; best = i }
      i += 1
    }
    best
  }

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

  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def sqNorm(a: Column): Column = column(SqNorm(expression(a)))

  /** Cosine from a precomputed dot product and the two squared norms —
    * the EXACT arithmetic of [[cosine]]'s final step (`dot /
    * (sqrt(na) · sqrt(nb))`, 0.0 when either norm is 0), composed from
    * codegen built-ins so a join can score pairs with just the dot
    * kernel while each side's norm is computed once per row upstream.
    * Bit-identical to `cosineSim(a, b)` for equal-length vectors when
    * `na = sqNorm(a)`, `nb = sqNorm(b)`, `dp = dotProduct(a, b)` —
    * same accumulators, same op order (SimilaritySpec pins it).
    */
  def cosineFromParts(dp: Column, na: Column, nb: Column): Column = {
    import org.apache.spark.sql.functions.{lit, sqrt, when}
    when(na === lit(0.0) || nb === lit(0.0), lit(0.0))
      .otherwise(dp / (sqrt(na) * sqrt(nb)))
  }

  def dtwDistance(a: Column, b: Column): Column =
    column(DtwDistance(expression(a), expression(b)))

  def lshSig(v: Column, bits: Int, seed: Long): Column =
    column(HyperplaneSig(expression(v), bits, seed))

  def centroidSimsCol(v: Column, cents: Array[Array[Float]]): Column =
    column(CentroidSims(expression(v), cents))

  def centroidArgmaxCol(v: Column, cents: Array[Array[Float]]): Column =
    column(CentroidArgmax(expression(v), cents))
}

/** Native Catalyst expression: cosine similarity of two float arrays.
  * Codegen emits a single static call — stays inside WholeStageCodegen
  * (no UDF ser/de). Null-safe: null in → null out.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float> inputs, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Native expression: dot product of two float arrays — the pair-scoring
  * half of [[CosineSim]] for plans that precompute norms per row
  * ([[VectorOps.sqnorm]]). Same codegen shape (one static call inside
  * WholeStageCodegen), same accumulation order as the fused kernel's
  * dot accumulator.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<float> inputs, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native expression: squared L2 norm of a float array
  * ([[VectorOps.sqnorm]]) — the per-row factor precomputed once so
  * pair joins only pay the dot kernel per pair.
  */
case class SqNorm(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq_norm expects array<float>, got $other")
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    VectorOps.sqnorm(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorOps.sqnorm($v)")
  override protected def withNewChildInternal(newChild: Expression): SqNorm =
    copy(child = newChild)
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

/** Native expression computing the random-hyperplane LSH signature of a
  * float vector (bits ≤ 63). Deterministic in (seed, bits).
  */
case class HyperplaneSig(child: Expression, bits: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  // bits = 0 is the degenerate EXHAUSTIVE mode: an empty signature puts
  // every vector in one bucket (sig 0), so LSH search/pairing becomes
  // brute force — the oracle-verifiable setting of the ANN operators
  require(bits >= 0 && bits < 64, s"bits must be in [0,63], got $bits")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_sig expects array<float>, got $other")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    VectorOps.hyperplaneSig(v.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.VectorOps.hyperplaneSig($v, $bits, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Native expression: cosine sims of a float vector against a centroid
  * MATRIX carried as a codegen reference object — generated code is
  * O(1) in nlist×dims (the literal-array formulation inlined nlist·dims
  * constants per call and broke past JVM codegen limits at realistic
  * nlist).
  */
case class CentroidSims(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"centroid_sims expects array<float>, got $other")
  }
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorOps.centroidSims(v.asInstanceOf[ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", centroids, "float[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorOps.centroidSims($v, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidSims =
    copy(child = newChild)
}

/** Native expression: nearest-centroid index in one pass (the
  * array_position(array_max) formulation evaluated the sims array
  * twice per row).
  */
case class CentroidArgmax(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"centroid_argmax expects array<float>, got $other")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(v: Any): Any =
    VectorOps.centroidArgmax(v.asInstanceOf[ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", centroids, "float[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorOps.centroidArgmax($v, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidArgmax =
    copy(child = newChild)
}
