package graft

import graft.expressions.WsTokens
import graft.functions.TextFunctions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, StringSplit, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck fuzz of the native [[graft.expressions.WsTokens]] byte scan
  * against the regex tokenization it replaces (`TextFunctions.tokensRegex`:
  * Spark's own `StringSplit` on `WsClass+`, empty tokens dropped), both
  * interpreted and through the generated code, over input mixing the six
  * ASCII whitespace bytes with Unicode spaces the class excludes (U+00A0,
  * U+0085, U+2003), astral characters and invalid UTF-8 byte runs.
  */
object WsTokensProps extends Properties("WsTokens") {

  private val splitRegex = Literal(UTF8String.fromString(s"${TextFunctions.WsClass}+"))

  /** What `filter(split(s, WsClass+), length > 0)` evaluates to. */
  private def reference(s: UTF8String): Option[Seq[UTF8String]] =
    Option(StringSplit(Literal.create(s, StringType), splitRegex, Literal(-1)).eval())
      .map(a => strings(a.asInstanceOf[ArrayData]).filter(_.numBytes > 0))

  /** The tokens as byte strings: compared as `String`s, a raw invalid
    * byte and the U+FFFD it decodes to would look equal.
    */
  private def strings(a: ArrayData): Seq[UTF8String] =
    (0 until a.numElements()).map(a.getUTF8String(_).copy())

  private def interpreted(s: UTF8String): Option[Seq[UTF8String]] =
    Option(WsTokens(Literal.create(s, StringType)).eval())
      .map(a => strings(a.asInstanceOf[ArrayData]))

  private val generated = UnsafeProjection.create(
    Seq(WsTokens(BoundReference(0, StringType, nullable = true))))

  private def codegen(s: UTF8String): Option[Seq[UTF8String]] = {
    val row = generated(InternalRow(s))
    if (row.isNullAt(0)) None else Some(strings(row.getArray(0)))
  }

  private def hex(s: UTF8String): String = s.getBytes.map("%02x".format(_)).mkString
  private def hex(ts: Option[Seq[UTF8String]]): String = ts.map(_.map(hex).mkString(",")).toString

  private def agree(s: UTF8String): Boolean = {
    val want = reference(s)
    val (i, c) = (interpreted(s), codegen(s))
    if (i != want || c != want) println(
      s"input=${Option(s).map(hex).orNull} " +
        s"interpreted=${hex(i)} codegen=${hex(c)} want=${hex(want)}")
    i == want && c == want
  }

  private val ws: Gen[String] = Gen.oneOf(" ", "\t", "\n", "\r", "\f", "\u000B")
  private val unicodeSpace: Gen[String] = Gen.oneOf("\u00A0", "\u0085", "\u2003")
  private val asciiPrintable: Gen[String] = Gen.choose(33, 126).map(_.toChar.toString)
  private val bmp: Gen[String] = Gen.choose(0x80, 0xFFFF).map(_.toChar)
    .suchThat(c => !Character.isSurrogate(c)).map(_.toString)
  private val astral: Gen[String] = Gen.choose(0x10000, 0x10FFFF)
    .map(cp => new String(Character.toChars(cp)))

  private val mixed: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> asciiPrintable, 3 -> ws, 1 -> unicodeSpace, 1 -> bmp, 1 -> astral))
    .map(_.mkString)

  /** Valid pieces interleaved with runs of bytes no UTF-8 decoder accepts
    * as they stand: stray continuation bytes, invalid leads, truncated
    * sequences.
    */
  private val invalidBytes: Gen[Array[Byte]] = Gen.listOf(Gen.frequency(
    4 -> mixed.map(_.getBytes("UTF-8")),
    2 -> Gen.nonEmptyListOf(Gen.choose(0x80, 0xFF)).map(_.map(_.toByte).toArray),
    // truncated sequences, a lone lead, a UTF-16 surrogate, an overlong
    // NUL and a code point past U+10FFFF
    1 -> Gen.oneOf(Seq("e0a0", "f09f", "f09f98", "c3", "eda080", "c080", "f4908080"))
      .map(h => h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)))
    .map(_.toArray.flatten)

  property("matches the regex tokenization on mixed input") =
    Prop.forAll(mixed)(s => agree(UTF8String.fromString(s)))

  property("matches the regex tokenization on invalid UTF-8") =
    Prop.forAll(invalidBytes)(b => agree(UTF8String.fromBytes(b)))

  property("all-whitespace input has no tokens") =
    Prop.forAll(Gen.listOf(ws).map(_.mkString)) { s =>
      agree(UTF8String.fromString(s)) && interpreted(UTF8String.fromString(s)).contains(Nil)
    }

  property("empty and null input") = Prop {
    agree(UTF8String.EMPTY_UTF8) && interpreted(UTF8String.EMPTY_UTF8).contains(Nil) &&
      agree(null) && interpreted(null).isEmpty
  }
}
