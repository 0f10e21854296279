package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: the full 128-bit `md5(str)` digest as a 2-long
  * array `[hi, lo]` (big-endian halves). One digest computation yields
  * FOUR independent 32-bit hash pieces via pure integer ops —
  * `hi >>> 32`, `hi & 0xffffffff`, `lo >>> 32`, `lo & 0xffffffff` —
  * which is the min-hash signature feed: the piece at hex offset
  * `8·p + 1` of the hex string equals piece `p` here, so the numeric
  * minimum picks the SAME shingle as the lexicographic minimum of the
  * fixed-width hex substring (hex is order-isomorphic to its value).
  * Versus the hex-substring form this skips the 32-char string
  * materialization AND lets the signature aggregate run as
  * HashAggregate (`min(long)`) instead of SortAggregate (`min(string)`
  * buffers aren't hash-mutable — that sort of every shingle row was
  * the LSH family's hidden cost).
  */
case class Md5Longs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_longs"

  protected override def nullSafeEval(input: Any): Any =
    Md5Longs.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Longs.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): Md5Longs =
    copy(child = newChild)
}

object Md5Longs {

  // MessageDigest is not thread-safe; one instance per executor thread.
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The 16-byte md5 digest of `s` — the one digest behind both
    * md5 expressions ([[Md5PrefixLong]] reads its first word).
    */
  def digest(s: UTF8String): Array[Byte] = {
    val md = digests.get()
    md.reset()
    md.digest(s.getBytes)
  }

  /** Bytes `from until from + 8` of `d` as a big-endian long. */
  def word(d: Array[Byte], from: Int): Long = {
    var h = 0L
    var i = from
    while (i < from + 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Shared by the interpreted path and generated code. */
  def hash(s: UTF8String): GenericArrayData = {
    val d = digest(s)
    new GenericArrayData(Array(word(d, 0), word(d, 8)))
  }

  /** Column API (classic-session Expression↔Column bridge). */
  def md5_longs(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(Md5Longs(Bridge.expression(c)))
  }
}
