package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native form of [[graft.text.TextAnalysis.md5Hash60]]: the top 60 bits
  * of `md5(utf8(input))` as a non-negative long.
  *
  * Bit-identical to the Column formulation
  * `conv(substring(md5(c), 1, 15), 16, 10)` — 15 hex chars are exactly
  * the first 60 bits of the digest, i.e. the first 8 bytes read
  * big-endian shifted right by one nibble — and therefore to the DuckDB
  * oracle mirror (`('0x'||substr(md5(x),1,15))::BIGINT`). What it skips
  * is everything AROUND the digest: the hex-string render, the
  * substring copy, and `conv`'s per-character base parsing, each of
  * which allocates per call. Rolling-hash operators (winnowing, MinHash
  * banding) evaluate this once per k-gram PER POSITION — millions of
  * calls per document batch — which is where the constant factor pays.
  */
case class Md5Hash60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_hash60"

  override def nullSafeEval(input: Any): Any =
    Md5Hash60Expr.hash(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Md5Hash60Expr$$.MODULE$$.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60Expr =
    copy(child = newChild)
}

object Md5Hash60Expr {
  // MessageDigest is stateful and not thread-safe; one per task thread
  private val digest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def hash(s: UTF8String): Long = hash(s.getBytes, 0, s.numBytes)

  /** [[hash]] of `len` bytes of `bytes` from `off`. */
  def hash(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = digest.get()
    md.reset()
    md.update(bytes, off, len)
    // first 8 bytes big-endian, dropped low nibble = hex chars 1..15
    java.nio.ByteBuffer.wrap(md.digest()).getLong >>> 4
  }
}
