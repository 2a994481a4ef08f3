package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

/** The word-count map kernel: the reference tokenizer and keep rule
  * ([[graft.operators.Tokenize]]) as one scan over a string.
  *
  * A token is a maximal run of non-delimiters, the delimiters being the
  * chars of `Tokenize.Delim`. It is kept iff its lowercase has a char in
  * backtick..'z' (`Tokenize.KeepRegex`), i.e. iff it has a char in
  * 'A'..'Z', backtick..'z', or one of the two non-ASCII code points whose
  * lowercase lands there: U+0130 (İ → "i̇") and U+212A (Kelvin sign → 'k').
  * `KeptTokensSpec` pins both facts against the regex formulation and
  * the session's own `lower`.
  *
  * Full-ASCII input is scanned as bytes through a 128-entry class table,
  * and each kept token is handed on as a slice of the input. Any other
  * input is decoded the way Spark's `split` decodes it
  * (`UTF8String.toString`, malformed bytes → U+FFFD) and scanned as chars,
  * so its tokens are byte-identical to the regex path's. [[foreachKept]]
  * is that one scan; `kept_tokens` copies its tokens into an array and
  * [[TokenCountsExec]] counts them in place.
  */
object TokenKernel {
  private final val Other = 0
  private final val Delim = 1
  private final val Keep = 2

  /** The delimiter chars of `Tokenize.Delim`. */
  private final val DelimChars = "!.:;_,'@?()/\u00B0 \n\t"

  private val AsciiClass: Array[Byte] = {
    val t = new Array[Byte](128)
    for (c <- DelimChars if c < 128) t(c) = Delim.toByte
    for (c <- ('A' to 'Z') ++ ('`' to 'z')) t(c) = Keep.toByte
    t
  }

  private def charClass(c: Char): Int =
    if (c < 128) AsciiClass(c)
    else if (c == '\u00B0') Delim
    else if (c == '\u0130' || c == '\u212A') Keep
    else Other

  /** Receives kept tokens as byte slices. A slice may point into the
    * text's own buffer, so it is valid only during the call. */
  trait Sink {
    def token(base: AnyRef, offset: Long, numBytes: Int): Unit
  }

  /** Feeds the kept tokens of `text` to `sink`, in order, and returns how
    * many there were. */
  def foreachKept(text: UTF8String, sink: Sink): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    if (!isAscii(base, off, n)) return foreachDecoded(text.toString, sink)
    var kept = 0
    var i = 0
    while (i < n) {
      while (i < n && AsciiClass(Platform.getByte(base, off + i)) == Delim) i += 1
      val start = i
      var hasKeep = false
      var c = Other
      while (i < n && { c = AsciiClass(Platform.getByte(base, off + i)); c != Delim }) {
        if (c == Keep) hasKeep = true
        i += 1
      }
      if (hasKeep) { sink.token(base, off + start, i - start); kept += 1 }
    }
    kept
  }

  private def isAscii(base: AnyRef, off: Long, n: Int): Boolean = {
    var i = 0
    if (Platform.unaligned()) while (i + 8 <= n) {
      if ((Platform.getLong(base, off + i) & 0x8080808080808080L) != 0) return false
      i += 8
    }
    while (i < n) {
      if (Platform.getByte(base, off + i) < 0) return false
      i += 1
    }
    true
  }

  private def foreachDecoded(s: String, sink: Sink): Int = {
    var kept = 0
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && charClass(s.charAt(i)) == Delim) i += 1
      val start = i
      var hasKeep = false
      var c = Other
      while (i < n && { c = charClass(s.charAt(i)); c != Delim }) {
        if (c == Keep) hasKeep = true
        i += 1
      }
      if (hasKeep) {
        val bytes = s.substring(start, i).getBytes(StandardCharsets.UTF_8)
        sink.token(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
        kept += 1
      }
    }
    kept
  }

  /** The kept tokens of `text`, in order. */
  def keptTokens(text: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    foreachKept(text, (base, offset, numBytes) => {
      val bytes = new Array[Byte](numBytes)
      Platform.copyMemory(base, offset, bytes, Platform.BYTE_ARRAY_OFFSET, numBytes)
      out += UTF8String.fromBytes(bytes)
    })
    new GenericArrayData(out.toArray)
  }

  /** The keep rule on one token. */
  def keep(word: UTF8String): Boolean = {
    val base = word.getBaseObject
    val off = word.getBaseOffset
    val n = word.numBytes
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0) return word.toString.exists(charClass(_) == Keep)
      if (AsciiClass(b) == Keep) return true
      i += 1
    }
    false
  }
}

/** `kept_tokens(text)`: the tokens of `text` that the word count keeps,
  * in order — `explode(kept_tokens(text))` is the map phase. */
case class KeptTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kept_tokens expects STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "kept_tokens"

  override protected def nullSafeEval(input: Any): Any =
    TokenKernel.keptTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TokenKernel.keptTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `keep_token(word)`: the word count's keep rule on one token. */
case class KeepToken(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"keep_token expects STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "keep_token"

  override protected def nullSafeEval(input: Any): Any =
    TokenKernel.keep(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TokenKernel.keep($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
