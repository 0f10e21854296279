package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit polynomial rolling hash of a
  * string's UTF-8 bytes — `h = h * 31 + byte` with Long wrap-around.
  * The document-fingerprinting primitive (cheap, order-sensitive, one
  * pass — unlike md5 it exposes the rolling structure needed for
  * chunk-level fingerprints).
  *
  * Implemented with `doGenCode` so it participates in whole-stage
  * codegen (a Scala UDF here would box every row and break the codegen
  * span — see the builder guidance: native Expression > UDF).
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  protected override def nullSafeEval(input: Any): Any =
    RollingHash.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RollingHash.hashBytes($c.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Native expression: a string's CDC chunks in ONE pass — the text
  * split after every 1-based character position `i`
  * (window ≤ i ≤ numChars) where
  * `rolling_hash(substring(text, i − window + 1, window))` has its
  * `mask` bits zero. Semantics identical to the legacy chain
  *
  * {{{
  *   bounds = explode(sequence(window, length(text)))   // one row per char
  *     .withColumn("wh", rolling_hash(substring(text, i - window + 1, window)))
  *     .filter((wh & mask) === 0) → collect_list per doc
  *   cuts   = array_sort(array_distinct(concat(array(0), bounds, array(len))))
  *   chunks = substring(text, cuts[k] + 1, cuts[k+1] - cuts[k])
  * }}}
  *
  * but without materializing a row per character or walking the
  * string from byte 0 per position/per chunk (UTF8String maps a char
  * index to a byte offset by scanning — O(i) per substring call,
  * O(len²) per doc for the boundary scan and O(len²/64) again for the
  * chunk extraction). This loop tracks the byte offsets of the last
  * `window` char starts in a ring buffer, hashes each ≤ 4·window-byte
  * span directly, and slices each chunk once by byte offset —
  * O(window · len) per doc total. Char boundaries are found with
  * `UTF8String.numBytesForFirstByte`, the same table Spark's own
  * substring walk uses, so chunk extents agree byte-for-byte with the
  * legacy chain on any input, multibyte included (pinned by
  * Round18OpsSpec's legacy-chain parity test).
  */
case class CdcChunks(child: Expression, window: Int, mask: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  protected override def nullSafeEval(input: Any): Any =
    RollingHash.cdcChunks(input.asInstanceOf[UTF8String], window, mask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RollingHash.cdcChunks($c, $window, ${mask}L);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object RollingHash {
  /** Shared by the interpreted path and generated code. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  /** Shared by [[CdcChunks]]'s interpreted path and generated code. */
  def cdcChunks(input: UTF8String, window: Int, mask: Long): GenericArrayData = {
    val bytes = input.getBytes
    val n = bytes.length
    // ring buffer of the byte offsets of the last `window` char starts:
    // starts(c % window) = byte offset where 0-based char c begins
    val starts = new Array[Int](window)
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var c = 0        // chars completed so far
    var off = 0      // byte offset of the next char
    var segStart = 0 // byte offset where the current chunk begins
    while (off < n) {
      starts(c % window) = off
      val step = UTF8String.numBytesForFirstByte(bytes(off))
      // a truncated trailing char still counts as one char (mirrors
      // UTF8String.numChars / the substring walk's clamp)
      off = math.min(off + step, n)
      c += 1
      if (c >= window) {
        var h = 0L
        var j = starts((c - window) % window)
        while (j < off) { h = h * 31L + (bytes(j) & 0xffL); j += 1 }
        // boundary AFTER 1-based char position c → cut at byte `off`;
        // off > segStart always (off advanced since the last cut), so
        // no empty chunk can be emitted — the array_distinct of the
        // legacy cuts chain, by construction
        if ((h & mask) == 0L) {
          out += UTF8String.fromBytes(bytes, segStart, off - segStart)
          segStart = off
        }
      }
    }
    // the tail segment (legacy chain's array(len) cut); absent when a
    // boundary fired exactly at the end (the distinct dedup case)
    if (segStart < n) out += UTF8String.fromBytes(bytes, segStart, n - segStart)
    new GenericArrayData(out.toArray)
  }

  /** Column API (classic-session Expression↔Column bridge). */
  def rolling_hash(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(RollingHash(Bridge.expression(c)))
  }

  /** Column API for [[CdcChunks]]. */
  def cdc_chunks(c: Column, window: Int, mask: Long): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(CdcChunks(Bridge.expression(c), window, mask))
  }
}
