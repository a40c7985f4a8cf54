package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The engine's tokenizer: text → the maximal runs of Unicode letters,
  * in order, as `array<string>` with no empty elements.
  *
  * Same tokens as `split(text, '[^\p{L}]+')` minus its empties (and so
  * the reference's Go `FieldsFunc(!unicode.IsLetter)`), without the
  * regex, the UTF-8 → UTF-16 → UTF-8 round trip or the length filter.
  * One scan over the UTF-8 bytes decodes each code point and tests
  * `Character.isLetter` (exactly Unicode category L, what `\p{L}`
  * matches); ASCII takes a branch-only fast path. Byte sequences that
  * Java's UTF-8 decoder rejects (stray continuation bytes, overlong
  * forms, encoded surrogates, code points past U+10FFFF) are
  * separators, matching the U+FFFD they decode to on the regex path.
  * Each token is a slice of one private copy of the input bytes, so no
  * token aliases a buffer the caller may reuse.
  *
  * The body is a static Java call (the [[ShingleHashes]] pattern), so
  * `explode(letter_tokens(text))` stays inside whole-stage codegen.
  */
case class LetterTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"letter_tokens expects a string, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "letter_tokens"

  override def nullSafeEval(input: Any): Any =
    LetterTokens.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LetterTokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object LetterTokens {

  private def isCont(b: Int): Boolean = (b & 0xc0) == 0x80

  /** Static entry point callable from generated Java. */
  def compute(text: UTF8String): ArrayData = {
    val n     = text.numBytes()
    val bytes = new Array[Byte](n)
    text.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    var out   = new Array[Any](16)
    var count = 0
    var start = -1 // byte offset of the open token, or -1
    var i     = 0
    while (i <= n) { // i == n is a sentinel separator that closes the last token
      var len    = 1
      var letter = false
      if (i < n) {
        val b0 = bytes(i) & 0xff
        if (b0 < 0x80) {
          val lower = b0 | 0x20
          letter = lower >= 'a' && lower <= 'z'
        } else {
          // well-formed UTF-8 only (RFC 3629 §4); anything else is one
          // separator byte and the scan resumes at the next byte
          val b1 = if (i + 1 < n) bytes(i + 1) & 0xff else 0
          val b2 = if (i + 2 < n) bytes(i + 2) & 0xff else 0
          val b3 = if (i + 3 < n) bytes(i + 3) & 0xff else 0
          var cp = -1
          if (b0 >= 0xc2 && b0 <= 0xdf) {
            if (isCont(b1)) { cp = ((b0 & 0x1f) << 6) | (b1 & 0x3f); len = 2 }
          } else if (b0 >= 0xe0 && b0 <= 0xef) {
            val lo = if (b0 == 0xe0) 0xa0 else 0x80
            val hi = if (b0 == 0xed) 0x9f else 0xbf
            if (b1 >= lo && b1 <= hi && isCont(b2)) {
              cp = ((b0 & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (b2 & 0x3f); len = 3
            }
          } else if (b0 >= 0xf0 && b0 <= 0xf4) {
            val lo = if (b0 == 0xf0) 0x90 else 0x80
            val hi = if (b0 == 0xf4) 0x8f else 0xbf
            if (b1 >= lo && b1 <= hi && isCont(b2) && isCont(b3)) {
              cp = ((b0 & 0x07) << 18) | ((b1 & 0x3f) << 12) | ((b2 & 0x3f) << 6) | (b3 & 0x3f); len = 4
            }
          }
          letter = cp >= 0 && Character.isLetter(cp)
        }
      }
      if (letter) {
        if (start < 0) start = i
      } else if (start >= 0) {
        if (count == out.length) out = Array.copyOf(out, count * 2)
        out(count) = UTF8String.fromBytes(bytes, start, i - start)
        count += 1
        start = -1
      }
      i += len
    }
    new GenericArrayData(if (count == out.length) out else Array.copyOf(out, count))
  }
}
