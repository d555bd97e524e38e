package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scalar text kernels exposed as native Catalyst expressions (static
  * calls from generated code — no UDF ser/de on the hot path).
  */
object TextOps {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 28 bits of md5 as a Long — the cross-engine hash primitive
    * (`CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)` in the DuckDB
    * oracles).
    */
  private def h28(md: java.security.MessageDigest, str: String): Long = {
    md.reset()
    val d = md.digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
  }

  /** 28-bit base hashes of the 3-word shingles of `text`, in one native
    * pass (split → shingle → md5 prefix), with NO intermediate Catalyst
    * string arrays. Bit-identical to the composable built-in form
    * (`split(text, ' ')`, 3-word windows joined by a space, then
    * `conv(substr(md5(shingle), 1, 7), 16, 10)`) — i.e. to the oracle's
    * `CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT)` — which a
    * spec asserts: the value is the first 7 hex nibbles of
    * md5(word_i + ' ' + word_i+1 + ' ' + word_i+2); texts under 3
    * words collapse to one whole-text shingle.
    */
  def shingleHash3(text: UTF8String): ArrayData = {
    val md = md5Local.get()
    def h28(str: String): Long = TextOps.h28(md, str)
    val s = text.toString
    // split(" ", -1) keeps empty tokens, matching Spark's split(text,' ')
    // and DuckDB's string_split
    val words = s.split(" ", -1)
    if (words.length < 3) return new GenericArrayData(Array(h28(s)))
    val out = new Array[Long](words.length - 2)
    var i = 0
    while (i < words.length - 2) {
      out(i) = h28(words(i) + " " + words(i + 1) + " " + words(i + 2))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Within-document repetition metrics in ONE compiled pass — the
    * native form of a higher-order-function pipeline (filter/
    * transform/aggregate are CodegenFallback, so the HOF form ran
    * INTERPRETED per n-gram: measured 5.7-6.4 s at sf0.1 documents).
    * Semantics are a term-for-term mirror of the HOF expressions:
    * single-space split keeping empties, `lineTokens`-chunk "lines"
    * joined with a space, first-occurrence-distinct, code-point
    * lengths (UTF8String/DuckDB LENGTH semantics, NOT UTF-16 units),
    * and UNROUNDED double ratios computed with the identical IEEE
    * operand order — callers apply `round(_, 6)` on top exactly where
    * the HOF form did. Documents under 3 tokens return null (the
    * upstream filter's contract). Degenerate zero-divisor input
    * (a doc whose every "line" is empty — all empty tokens — so
    * lineSum=0) is PINNED to `dup_line_char_frac = 0.0` by decision:
    * zero line-character mass has zero duplicate mass. IEEE 0/0 = NaN
    * would differ from the HOF form (Spark's Divide yields NULL for a
    * zero divisor, DuckDB likewise) AND mis-flag such docs as
    * repetitive in [[graft.operators.TextAnalysis.qualityGate]]
    * (Spark orders NaN above every threshold). 0.0 keeps the field
    * non-nullable, matches a COALESCE(x/0 → NULL, 0) guard term for
    * term, and leaves junk-doc detection to the gates that actually
    * measure it. The naive-Scala-reference property test is the drift
    * net.
    */
  def repetitionStats(text: UTF8String, w: Int): InternalRow = {
    val s = text.toString
    val toks = s.split(" ", -1)
    val n = toks.length
    if (n < 3) return null
    def cp(x: String): Long = x.codePointCount(0, x.length).toLong
    // lines: ceil(n / w) chunks, 1-based slice semantics
    val nLines = (n - 1) / w + 1
    var lineSum = 0L
    var distinctLineSum = 0L
    val seenLines = new java.util.HashSet[String]()
    var distinctLines = 0
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i < nLines) {
      sb.setLength(0)
      val from = i * w
      val until = math.min(from + w, n)
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      val line = sb.toString
      val len = cp(line)
      lineSum += len
      if (seenLines.add(line)) { distinctLines += 1; distinctLineSum += len }
      i += 1
    }
    // positional bigrams/trigrams with occurrence counts
    val bgCount = new java.util.HashMap[String, Integer]()
    val bgs = new Array[String](n - 1)
    i = 0
    while (i < n - 1) {
      val g = toks(i) + " " + toks(i + 1)
      bgs(i) = g
      bgCount.merge(g, 1, (a, b) => a + b)
      i += 1
    }
    val tgCount = new java.util.HashMap[String, Integer]()
    val tgs = new Array[String](n - 2)
    i = 0
    while (i < n - 2) {
      val g = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
      tgs(i) = g
      tgCount.merge(g, 1, (a, b) => a + b)
      i += 1
    }
    var topBg = 0L
    val it = bgCount.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mass = e.getValue.toLong * cp(e.getKey)
      if (mass > topBg) topBg = mass
    }
    var dupBg = 0
    i = 0
    while (i < bgs.length) { if (bgCount.get(bgs(i)) > 1) dupBg += 1; i += 1 }
    var dupTg = 0
    i = 0
    while (i < tgs.length) { if (tgCount.get(tgs(i)) > 1) dupTg += 1; i += 1 }
    new GenericInternalRow(Array[Any](
      n.toLong,
      nLines.toLong,
      (nLines - distinctLines).toDouble / nLines.toDouble,
      if (lineSum == 0) 0.0
      else (lineSum - distinctLineSum).toDouble / lineSum.toDouble,
      topBg.toDouble / cp(s).toDouble,
      dupBg.toDouble / bgs.length.toDouble,
      dupTg.toDouble / tgs.length.toDouble))
  }

  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def shingleHashes3(text: Column): Column =
    column(ShingleHash3(expression(text)))

  def repetitionStatsCol(text: Column, w: Int): Column =
    column(RepetitionStats(expression(text), w))
}

/** Native expression: 28-bit md5-prefix hashes of a text's 3-word
  * shingles (split → shingle → hash fused, no intermediate arrays).
  */
case class ShingleHash3(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash3 expects string, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.shingleHash3(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextOps.shingleHash3($s)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHash3 =
    copy(child = newChild)
}

/** Native expression: the repetition metrics as a struct of
  * UNROUNDED doubles, one compiled pass per document (see
  * [[TextOps.repetitionStats]]). Null text or < 3 tokens → null row.
  */
case class RepetitionStats(child: Expression, lineTokens: Int)
    extends UnaryExpression {
  // lower bound only: the HOF form this replaces accepted any positive
  // chunk width (w beyond the doc length = one whole-doc line)
  require(lineTokens >= 1, s"lineTokens must be >= 1, got $lineTokens")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats expects string, got $other")
  }
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_line_char_frac", DoubleType, nullable = false),
    StructField("top_bigram_char_frac", DoubleType, nullable = false),
    StructField("dup_bigram_frac", DoubleType, nullable = false),
    StructField("dup_trigram_frac", DoubleType, nullable = false)))
  override def nullSafeEval(v: Any): Any =
    TextOps.repetitionStats(v.asInstanceOf[UTF8String], lineTokens)
  // NOT defineCodeGen: the helper returns null for < 3 tokens, and
  // defineCodeGen would leave isNull=false with a null value slot
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"""
      ${ev.value} = graft.functions.TextOps.repetitionStats($s, $lineTokens);
      ${ev.isNull} = (${ev.value} == null);
    """)
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}
