package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** A segmented codebook held on the driver: `k` centroids, each
  * `segs` segments of `segLen` doubles, stored flat in `cents`
  * (centroid-major, then segment, then coordinate). `ids` are the
  * centroid ids, strictly ascending, so a scan in array order visits
  * centroids by id. The coarse quantizer is one segment of the whole
  * vector; a PQ codebook is one segment per subspace.
  */
final class L2Codebook(val ids: Array[Long], val cents: Array[Double],
    val segs: Int, val segLen: Int) extends Serializable {
  val width: Int = segs * segLen
  require(segs > 0 && segLen > 0, s"bad codebook shape $segs x $segLen")
  require(ids.nonEmpty && cents.length == ids.length * width,
    s"codebook holds ${cents.length} coordinates for ${ids.length} centroids of width $width")
  require(ids.indices.tail.forall(i => ids(i - 1) < ids(i)), "centroid ids must be strictly ascending")

  /** Coordinate `j` of segment `s` of the centroid at array index `c`. */
  def at(c: Int, s: Int, j: Int): Double = cents(c * width + s * segLen + j)

  override def toString: String = s"L2Codebook(k=${ids.length}, segs=$segs, segLen=$segLen)"
}

/** Native expression: for each segment of a double array, the nearest
  * centroid of `book` by micro-integer squared L2 — the assignment
  * step of a Lloyd round. Returns one `(cent_id, dm)` struct per
  * segment. The arithmetic is the long-format plan's, term for term:
  * dm = Σ `floor((x − c)·(x − c)·10¹²)` as bigint, summed with
  * `Math.addExact` exactly as ANSI `sum` does, so an overflowing
  * distance raises instead of wrapping; ties go to the smaller
  * centroid id. A null array, a null coordinate or a length other
  * than `segs·segLen` raises with the row's `vec_id` in the message.
  * `vecId` is read only for that message; `e` must be
  * array<double>.
  */
case class L2ArgminMicro(vecId: Expression, e: Expression, book: L2Codebook)
    extends BinaryExpression {

  override def left: Expression = vecId
  override def right: Expression = e
  override def dataType: DataType = L2ArgminMicro.ResultType
  override def nullable: Boolean = false
  override def prettyName: String = "l2_argmin_micro"

  override def eval(input: InternalRow): Any = {
    val id = vecId.eval(input)
    L2ArgminMicro.argmin(book, id == null, if (id == null) 0L else id.asInstanceOf[Long],
      e.eval(input).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("book", book, classOf[L2Codebook].getName)
    val id = vecId.genCode(ctx)
    val arr = e.genCode(ctx)
    ev.copy(code = code"""
      ${id.code}
      ${arr.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.L2ArgminMicro.argmin(
        $bookRef, ${id.isNull}, ${id.value}, ${arr.isNull} ? null : ${arr.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2ArgminMicro =
    copy(vecId = l, e = r)
}

object L2ArgminMicro {
  val ResultType: ArrayType = ArrayType(StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("dm", LongType, nullable = false))), containsNull = false)

  private def badVector(vecId: Any, why: String): IllegalArgumentException =
    new IllegalArgumentException(s"vec_id $vecId: $why")

  /** Raise, naming `vecId`, unless `x` is `width` non-null coordinates. */
  def requireVector(vecId: Any, x: ArrayData, width: Int): Unit = {
    if (x == null) throw badVector(vecId, "null embedding")
    if (x.numElements() != width)
      throw badVector(vecId, s"embedding has ${x.numElements()} coordinates, expected $width")
    var i = 0
    while (i < width) {
      if (x.isNullAt(i)) throw badVector(vecId, s"null coordinate at position $i")
      i += 1
    }
  }

  /** Shared by the interpreted path and generated code. */
  def argmin(book: L2Codebook, idIsNull: Boolean, vecId: Long, x: ArrayData): ArrayData = {
    val id: Any = if (idIsNull) "null" else vecId
    requireVector(id, x, book.width)
    val segLen = book.segLen
    val out = new Array[Any](book.segs)
    var s = 0
    while (s < book.segs) {
      var best = -1
      var bestDm = 0L
      var c = 0
      while (c < book.ids.length) {
        val base = c * book.width + s * segLen
        var dm = 0L
        var j = 0
        while (j < segLen) {
          val d = x.getDouble(s * segLen + j) - book.cents(base + j)
          try dm = Math.addExact(dm, Math.floor(d * d * 1e12).toLong)
          catch {
            case _: ArithmeticException =>
              throw new ArithmeticException(
                s"vec_id $id: micro-L2 distance to centroid ${book.ids(c)} overflows bigint")
          }
          j += 1
        }
        if (best < 0 || dm < bestDm) { best = c; bestDm = dm }
        c += 1
      }
      out(s) = InternalRow(book.ids(best), bestDm)
      s += 1
    }
    new GenericArrayData(out)
  }

  def column(vecId: Column, e: Column, book: L2Codebook): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(L2ArgminMicro(Bridge.expression(vecId.cast(LongType)), Bridge.expression(e), book))
  }
}
