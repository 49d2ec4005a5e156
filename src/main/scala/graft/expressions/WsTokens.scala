package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Python `str.split()` tokenization: the
  * maximal runs of bytes outside the six ASCII whitespace bytes of
  * `TextFunctions.WsClass` (space, `\t`, `\n`, `\x0B`, `\f`, `\r`), no
  * empty tokens; null in, null out.
  *
  * Equal to `TextFunctions.tokensRegex` (`filter(split(s, "[ws]+"),
  * length > 0)`), which recompiles its `Pattern` on every row inside
  * `String.split`, decodes the row to a Java string and back, and runs the
  * `filter` lambda interpreted. One byte scan instead: on valid UTF-8 no
  * multi-byte sequence contains an ASCII byte, so splitting the bytes
  * splits the characters. Invalid UTF-8 is first decoded through
  * `toString` (each malformed sequence becomes U+FFFD), exactly as
  * `StringSplit` decodes it. `doGenCode` emits a plain static call, so the
  * expression stays inside whole-stage codegen.
  */
case class WsTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")

  // the type `split` gives: elements of the input's string type, never null
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override protected def nullSafeEval(input: Any): Any =
    WsTokensUtil.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.WsTokensUtil.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WsTokens =
    copy(child = newChild)
}

object WsTokensUtil {

  private def isWs(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Entry point (also the codegen call target via static forwarder).
    * The tokens are slices of ONE private copy of the row's bytes: the
    * input may point into a buffer the scan reuses for the next batch,
    * and a token that outlives the row (an aggregation buffer, a
    * `collect_list`) must not see it change.
    */
  def tokens(input: UTF8String): ArrayData = {
    val s = if (input.isValid) input else UTF8String.fromString(input.toString)
    val n = s.numBytes()
    val bytes = new Array[Byte](n)
    s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    // two passes: count the tokens, then slice them into an exact array
    var count = 0
    var i = 0
    while (i < n) {
      if (!isWs(bytes(i)) && (i == 0 || isWs(bytes(i - 1)))) count += 1
      i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (k < count) {
      while (isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      out(k) = UTF8String.fromBytes(bytes, start, i - start)
      k += 1
    }
    new GenericArrayData(out)
  }
}
