package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels behind [[graft.text.TextAnalysis]]'s tokenize,
  * window, char-gram hash and winnow operators.
  *
  * Why native: Spark's higher-order functions (`transform`, `filter`,
  * `aggregate`) are `CodegenFallback`, so a projection holding one is
  * cut out of whole-stage codegen and interpreted row by row, with a
  * lambda-variable indirection per element. On the text fan-outs that
  * interpretation was most of the executor time, and three formulations
  * were quadratic per document (`substr` per char position walks from
  * byte 0; a chunk lambda re-inlined the tokenizer; one `filter` per
  * distinct token). Each expression here is one pass that generates a
  * call to one static helper below (no `CodegenFallback`), in the
  * `Md5Hash60Expr` pattern.
  *
  * Every kernel is bit-identical to the Column formulation it replaced;
  * those formulations are kept as the reference implementations in the
  * kernel property spec. Null in gives null out.
  */
object TextKernels {

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS: `[ \t\n\x0B\f\r]`.
    * All six are ASCII, and no byte of a multi-byte UTF-8 sequence is
    * ASCII, so testing bytes is testing code points.
    */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** Maximal runs of non-`\s` characters: `filter(split(s, "\\s+"), _ != "")`.
    * The tokens are views into `s`'s bytes. The split decodes through
    * `java.lang.String`, which turns each malformed UTF-8 sequence into
    * U+FFFD; invalid input is decoded the same way first.
    */
  def tokens(in: UTF8String): ArrayData = {
    val s = if (in.isValid) in else UTF8String.fromString(in.toString)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      while (i < n && isSpace(s.getByte(i))) i += 1
      val start = i
      while (i < n && !isSpace(s.getByte(i))) i += 1
      if (i > start) out += UTF8String.fromAddress(base, off + start, i - start)
    }
    new GenericArrayData(out.toArray)
  }

  private val Space = UTF8String.fromString(" ")

  /** Space-joined windows of `n` elements (null elements skipped, as
    * `array_join`/`concat_ws` skip them). `step == 1` slides: every full
    * window, none when there are fewer than `n`. `step == n` tiles:
    * windows at 0, n, 2n, … with a short last one.
    */
  def tokenWindows(toks: ArrayData, n: Int, step: Int): ArrayData = {
    val m = toks.numElements()
    val starts = if (step == 1) 0 to m - n else 0 until m by n
    val out = new Array[Any](starts.size)
    var w = 0
    for (start <- starts) {
      val end = math.min(start + n, m)
      val parts = new Array[UTF8String](end - start)
      var i = start
      while (i < end) {
        parts(i - start) = toks.getUTF8String(i) // null when the slot is null
        i += 1
      }
      out(w) = UTF8String.concatWs(Space, parts: _*)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** One `hash` per code-point k-gram, in position order:
    * `transform(sequence(1, length(s) - k + 1), i => hash(substr(s, i, k)))`,
    * empty when `s` has fewer than `k` characters. Characters are
    * stepped by lead byte as `length` and `substr` step them; a
    * truncated last character (invalid UTF-8) ends at the string's end,
    * where `substr` read past it.
    */
  def charGramHashes(s: UTF8String, k: Int, hash: GramHash): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // charStart(c) = byte offset of character c; charStart(chars) = n
    val charStart = new Array[Int](n + 1)
    var chars = 0
    var i = 0
    while (i < n) {
      charStart(chars) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      chars += 1
    }
    charStart(chars) = n
    val out = new Array[Long](math.max(chars - k + 1, 0))
    var j = 0
    while (j < out.length) {
      out(j) = hash.hash(bytes, charStart(j), charStart(j + k) - charStart(j))
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Winnowing over `hs` with windows of `w`: the distinct window minima
    * in first-occurrence order; `[]` for no hashes, `[min]` for at most
    * `w` of them. `hs` holds no nulls ([[Winnow]] checks the type).
    */
  def winnow(hs: ArrayData, w: Int): ArrayData = {
    val m = hs.numElements()
    val windows = if (m == 0) 0 else math.max(m - w + 1, 1)
    val out = new Array[Long](windows)
    val seen = new org.apache.spark.util.collection.OpenHashSet[Long](windows)
    var kept = 0
    var j = 0
    while (j < windows) {
      var min = hs.getLong(j)
      var i = j + 1
      while (i < math.min(j + w, m)) {
        min = math.min(min, hs.getLong(i))
        i += 1
      }
      if (!seen.contains(min)) {
        seen.add(min)
        out(kept) = min
        kept += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, kept))
  }

  /** How often the most frequent non-null element occurs — the numerator
    * of `array_max(transform(array_distinct(a), t => size(filter(a, _ === t))))`:
    * null for `[]`, 0 when every element is null.
    */
  def maxMultiplicity(a: ArrayData): Any = {
    val m = a.numElements()
    if (m == 0) return null
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var max = 0
    var i = 0
    while (i < m) {
      if (!a.isNullAt(i)) {
        val c: Int = counts.merge(a.getUTF8String(i), 1,
          (x: Integer, y: Integer) => Integer.valueOf(x + y))
        if (c > max) max = c
      }
      i += 1
    }
    max
  }

  private[functions] def call(helper: String, args: String*): String =
    s"graft.functions.TextKernels$$.MODULE$$.$helper(${args.mkString(", ")})"
}

/** The two deterministic hashes [[CharGramHashes]] applies to a k-gram's
  * UTF-8 bytes.
  */
sealed abstract class GramHash extends Serializable {
  def hash(bytes: Array[Byte], off: Int, len: Int): Long
}

object GramHash {
  /** Spark's `xxhash64` of one string (seed 42) — the scale default. */
  case object Xxhash64 extends GramHash {
    def hash(bytes: Array[Byte], off: Int, len: Int): Long =
      XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, 42L)
  }

  /** [[graft.text.TextAnalysis.md5Hash60]], which the DuckDB oracles
    * reproduce — the hash of the oracle-gated queries.
    */
  case object Md5Hash60 extends GramHash {
    def hash(bytes: Array[Byte], off: Int, len: Int): Long =
      Md5Hash60Expr.hash(bytes, off, len)
  }
}

/** `graft_tokens(text)`: see [[TextKernels.tokens]]. */
case class Tokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"
  override def nullSafeEval(input: Any): Any =
    TextKernels.tokens(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => TextKernels.call("tokens", c))
  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

/** `graft_token_windows(tokens, n, step)`: see [[TextKernels.tokenWindows]]. */
case class TokenWindows(child: Expression, n: Int, step: Int) extends UnaryExpression {
  require(n > 0 && (step == 1 || step == n),
    s"graft_token_windows: need n > 0 and step 1 or n, got n=$n step=$step")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_windows"
  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenWindows(input.asInstanceOf[ArrayData], n, step)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => TextKernels.call("tokenWindows", c, n.toString, step.toString))
  override protected def withNewChildInternal(newChild: Expression): TokenWindows =
    copy(child = newChild)
}

/** `graft_char_gram_hashes(text, k, hash)`: see [[TextKernels.charGramHashes]]. */
case class CharGramHashes(child: Expression, k: Int, hash: GramHash)
    extends UnaryExpression {
  require(k > 0, s"graft_char_gram_hashes: k must be positive, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_gram_hashes"
  override def nullSafeEval(input: Any): Any =
    TextKernels.charGramHashes(input.asInstanceOf[UTF8String], k, hash)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("gramHash", hash, classOf[GramHash].getName)
    defineCodeGen(ctx, ev, c => TextKernels.call("charGramHashes", c, k.toString, h))
  }
  override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
    copy(child = newChild)
}

/** `graft_winnow(hashes, w)`: see [[TextKernels.winnow]]. */
case class Winnow(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0, s"graft_winnow: w must be positive, got $w")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow: expected array<bigint> without nulls, got $other")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_winnow"
  override def nullSafeEval(input: Any): Any =
    TextKernels.winnow(input.asInstanceOf[ArrayData], w)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => TextKernels.call("winnow", c, w.toString))
  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

/** `graft_max_multiplicity(array<string>)`: see [[TextKernels.maxMultiplicity]]. */
case class MaxMultiplicity(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_max_multiplicity"
  override def nullSafeEval(input: Any): Any =
    TextKernels.maxMultiplicity(input.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.freshName("multiplicity")
      s"""
         |Object $m = ${TextKernels.call("maxMultiplicity", c)};
         |${ev.isNull} = $m == null;
         |if (!${ev.isNull}) ${ev.value} = ((Integer) $m).intValue();
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): MaxMultiplicity =
    copy(child = newChild)
}
