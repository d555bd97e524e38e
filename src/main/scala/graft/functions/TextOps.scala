package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
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

  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def shingleHashes3(text: Column): Column =
    column(ShingleHash3(expression(text)))
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
