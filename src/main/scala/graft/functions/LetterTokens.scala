package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** The engine's tokenizer: text → the maximal runs of Unicode letters.
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
  * The scan has three outputs, one expression each:
  *   - `letter_tokens(text)`: every token in order, `array<string>`;
  *   - `letter_token_counts(text)`: each distinct token once with its
  *     number of occurrences, `array<struct<word,cnt>>`;
  *   - `distinct_letter_tokens(text)`: each distinct token once,
  *     `array<string>`.
  *
  * The last two combine within the document while scanning, so
  * `inline(letter_token_counts(text))` feeds an aggregate one row per
  * distinct word instead of one per token. Both list words in order of
  * first occurrence. Each body is a static Java call (the
  * [[ShingleHashes]] pattern), so a generator over it stays inside
  * whole-stage codegen.
  */
sealed abstract class LetterScan extends UnaryExpression {

  /** The static method of `object LetterTokens` this expression calls. */
  protected def entry: String

  protected def run(text: UTF8String): ArrayData

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = run(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LetterTokens.$entry($c)")
}

case class LetterTokens(child: Expression) extends LetterScan {
  protected def entry: String = "compute"
  protected def run(text: UTF8String): ArrayData = LetterTokens.compute(text)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "letter_tokens"
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

case class LetterTokenCounts(child: Expression) extends LetterScan {
  protected def entry: String = "counts"
  protected def run(text: UTF8String): ArrayData = LetterTokens.counts(text)
  override def dataType: DataType = LetterTokens.CountsType
  override def prettyName: String = "letter_token_counts"
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

case class DistinctLetterTokens(child: Expression) extends LetterScan {
  protected def entry: String = "distinct"
  protected def run(text: UTF8String): ArrayData = LetterTokens.distinct(text)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "distinct_letter_tokens"
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object LetterTokens {

  val CountsType: DataType = ArrayType(
    StructType(Seq(StructField("word", StringType, nullable = false), StructField("cnt", LongType, nullable = false))),
    containsNull = false
  )

  /** Static entry points callable from generated Java. */
  def compute(text: UTF8String): ArrayData = new GenericArrayData(scan(new TokenList(text)).result())

  def counts(text: UTF8String): ArrayData = {
    val t = scan(new TokenTable(text))
    new GenericArrayData(Array.tabulate[Any](t.size)(e => InternalRow(t.word(e), t.count(e))))
  }

  def distinct(text: UTF8String): ArrayData = {
    val t = scan(new TokenTable(text))
    new GenericArrayData(Array.tabulate[Any](t.size)(t.word))
  }

  /** Receives each token of a scan as a byte slice of `bytes`, a
    * private copy of the text.
    */
  private abstract class TokenSink(text: UTF8String) {
    val bytes = new Array[Byte](text.numBytes())
    text.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    def token(start: Int, end: Int): Unit
  }

  /** Every token, in order. */
  private final class TokenList(text: UTF8String) extends TokenSink(text) {
    private var out   = new Array[Any](16)
    private var count = 0
    def token(start: Int, end: Int): Unit = {
      if (count == out.length) out = Array.copyOf(out, count * 2)
      out(count) = UTF8String.fromBytes(bytes, start, end - start)
      count += 1
    }
    def result(): Array[Any] = if (count == out.length) out else Array.copyOf(out, count)
  }

  /** Distinct tokens in order of first occurrence, with counts: an
    * open-addressing table over byte slices (Murmur3 of the slice,
    * linear probing, a byte compare on a hash match), at most half
    * full. Entry `e` is the `e`-th distinct token.
    */
  private final class TokenTable(text: UTF8String) extends TokenSink(text) {
    private var slots  = new Array[Int](32) // entry + 1; 0 is empty
    private var hashes = new Array[Int](16)
    private var starts = new Array[Int](16)
    private var lens   = new Array[Int](16)
    private var cnts   = new Array[Long](16)
    var size           = 0

    def word(e: Int): UTF8String = UTF8String.fromBytes(bytes, starts(e), lens(e))
    def count(e: Int): Long      = cnts(e)

    def token(start: Int, end: Int): Unit = {
      val len  = end - start
      val h    = Murmur3_x86_32.hashUnsafeBytes(bytes, Off + start, len, 42)
      val mask = slots.length - 1
      var s    = h & mask
      while (slots(s) != 0) {
        val e = slots(s) - 1
        val same = hashes(e) == h && lens(e) == len &&
          ByteArrayMethods.arrayEquals(bytes, Off + starts(e), bytes, Off + start, len)
        if (same) {
          cnts(e) += 1
          return
        }
        s = (s + 1) & mask
      }
      if (size == hashes.length) { grow(); s = free(h) }
      hashes(size) = h; starts(size) = start; lens(size) = len; cnts(size) = 1
      slots(s) = size + 1
      size += 1
    }

    private def free(h: Int): Int = {
      val mask = slots.length - 1
      var s    = h & mask
      while (slots(s) != 0) s = (s + 1) & mask
      s
    }

    private def grow(): Unit = {
      val cap = 2 * size
      hashes = java.util.Arrays.copyOf(hashes, cap)
      starts = java.util.Arrays.copyOf(starts, cap)
      lens = java.util.Arrays.copyOf(lens, cap)
      cnts = java.util.Arrays.copyOf(cnts, cap)
      slots = new Array[Int](2 * cap)
      var e = 0
      while (e < size) { slots(free(hashes(e))) = e + 1; e += 1 }
    }
  }

  private val Off = Platform.BYTE_ARRAY_OFFSET

  private def isCont(b: Int): Boolean = (b & 0xc0) == 0x80

  /** The one scan: hands `sink` each maximal letter run of its bytes. */
  private def scan[S <: TokenSink](sink: S): S = {
    val bytes = sink.bytes
    val n     = bytes.length
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
        sink.token(start, i)
        start = -1
      }
      i += len
    }
    sink
  }
}
