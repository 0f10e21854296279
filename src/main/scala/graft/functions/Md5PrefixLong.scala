package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: the first 8 bytes of `md5(str)` as a big-endian
  * signed long. Bit `63 - b` of the result equals the SimHash "bit b"
  * of the hex-string decode
  * `((instr('0123456789abcdef', substring(md5(s), b/4+1, 1)) - 1) >> (3 - b%4)) & 1`
  * — hex char `b/4` is the `(b/4)`-th nibble of the digest, MSB-first —
  * so `(h >> (63 - b)) & 1` reproduces it exactly. One digest and zero
  * string materialization per row versus 64 `instr`+`substring` probes:
  * this is the SimHash hot path (measured 7.1 s → sub-second on the
  * sf0.1 bench for the 64-bit variant).
  *
  * `doGenCode` keeps it inside whole-stage codegen like
  * [[RollingHash]].
  */
case class Md5PrefixLong(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  protected override def nullSafeEval(input: Any): Any =
    Md5PrefixLong.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5PrefixLong.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

object Md5PrefixLong {

  /** Shared by the interpreted path and generated code; it builds no
    * 2-long array as [[Md5Longs.hash]] does (the SimHash hot path).
    */
  def hash(s: UTF8String): Long = Md5Longs.word(Md5Longs.digest(s), 0)

  /** Column API (classic-session Expression↔Column bridge). */
  def md5_prefix_long(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(Md5PrefixLong(Bridge.expression(c)))
  }
}
