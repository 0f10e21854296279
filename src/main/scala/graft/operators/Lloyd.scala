package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.{L2ArgminMicro, L2Codebook}

/** Fixed-round Lloyd k-means over embedding arrays `(vec_id bigint,
  * e array<double>)`, with the codebook held on the driver. One Lloyd
  * round is one MapReduce round:
  *
  *  - map: [[L2ArgminMicro]] picks each vector's nearest centroid per
  *    segment, and `posexplode` emits `floor(x·10⁶)` per coordinate
  *    keyed by (segment, centroid, coordinate);
  *  - combine + shuffle + reduce: one `groupBy` sums and counts them;
  *  - the k·segs·segLen result rows come back in one bounded collect,
  *    and the driver re-centers: c = sm / n / 10⁶ in doubles. An empty
  *    cell keeps its previous centroid.
  *
  * So a round costs one distributed pass and ships k·d partial sums,
  * whatever the corpus size. The arithmetic is the long-format plan's
  * (and the DuckDB oracle's) term for term, so codebooks and
  * assignments are bit-identical to it.
  *
  * That holds above [[DriverVecCap]] vectors. A vector set that fits
  * is collected once and every round runs on the driver over the
  * same kernel and the same sums ([[onDriver]]): no Spark job per
  * round, and the codebook comes out bit-identical.
  */
private[graft] object Lloyd {

  /** Largest vector set [[train]] runs on the driver: 2¹⁴ (vec_id, e)
    * rows. At the 64 dimensions of the embeddings table that is 1M
    * coordinates, about 40 MB of collected rows of boxed doubles.
    */
  val DriverVecCap: Int = 1 << 14

  /** The seed codebook: each row of `seeds` (vec_id, e) is one
    * centroid, with cent_id = vec_id. Collects the k seed rows.
    */
  def seedBook(seeds: DataFrame, segs: Int, segLen: Int): L2Codebook =
    bookOf(seeds.select(col("vec_id"), col("e")).collect(), segs, segLen)

  private def bookOf(seeds: Array[Row], segs: Int, segLen: Int): L2Codebook = {
    val rows = seeds.sortBy(_.getLong(0))
    val cents = rows.flatMap { r =>
      L2ArgminMicro.requireVector(r.getLong(0), vector(r), segs * segLen)
      vector(r).toDoubleArray()
    }
    new L2Codebook(rows.map(_.getLong(0)), cents, segs, segLen)
  }

  /** Column 1 of a collected (vec_id, e) row as the kernel's input. */
  private def vector(r: Row): ArrayData =
    if (r.isNullAt(1)) null else new GenericArrayData(r.getSeq[Any](1))

  /** Per segment, the nearest centroid: array<struct<cent_id, dm>>. */
  def nearest(book: L2Codebook): Column =
    L2ArgminMicro.column(col("vec_id"), col("e"), book)

  /** (vec_id, cent_id) for a one-segment codebook: a projection, no
    * shuffle.
    */
  def assign(vecs: DataFrame, book: L2Codebook): DataFrame =
    vecs.select(col("vec_id"), nearest(book).getItem(0).getField("cent_id").as("cent_id"))

  /** `rounds` Lloyd rounds over `vecs` from `seeds`. */
  def train(vecs: DataFrame, seeds: L2Codebook, rounds: Int): L2Codebook =
    fitting(vecs) match {
      case (_, Some(rows)) => onDriver(rows, seeds, rounds)
      case (cut, None) => distributed(cut, seeds, rounds)
    }

  /** [[train]] seeded from the rows of `vecs` with vec_id < `k`: a
    * vector set that fits seeds from the rows it collected, so seeds
    * and rounds cost one Spark job together.
    */
  def trainFirst(vecs: DataFrame, k: Long, segs: Int, segLen: Int,
      rounds: Int): L2Codebook =
    fitting(vecs) match {
      case (_, Some(rows)) => onDriver(rows,
        bookOf(rows.filter(r => !r.isNullAt(0) && r.getLong(0) < k), segs, segLen), rounds)
      case (cut, None) =>
        distributed(cut, seedBook(cut.filter(col("vec_id") < k), segs, segLen), rounds)
    }

  /** (vec_id as bigint, e) of `vecs`, checkpointed, and its rows if at
    * most [[DriverVecCap]] ([[Rounds.fits]]).
    */
  private def fitting(vecs: DataFrame): (DataFrame, Option[Array[Row]]) =
    Rounds.fits(vecs.select(col("vec_id").cast(LongType).as("vec_id"), col("e")), DriverVecCap)

  /** The rounds over collected (vec_id, e) rows: per round, each
    * vector's [[L2ArgminMicro.argmin]], then per (centroid, segment,
    * coordinate) the `floor(x·10⁶)` sum (`Math.addExact`, as ANSI
    * `sum` adds) and count, and the same re-centering as [[round]].
    */
  private def onDriver(rows: Array[Row], seeds: L2Codebook, rounds: Int): L2Codebook = {
    val vecs = rows.map(r => (r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0), vector(r)))
    (1 to rounds).foldLeft(seeds) { (book, _) =>
      val segLen = book.segLen
      val sm = new Array[Long](book.cents.length)
      val n = new Array[Long](book.cents.length)
      vecs.foreach { case (idIsNull, id, e) =>
        val a = L2ArgminMicro.argmin(book, idIsNull, id, e)
        for (seg <- 0 until book.segs) {
          val c = java.util.Arrays.binarySearch(book.ids, a.getStruct(seg, 2).getLong(0))
          for (j <- 0 until segLen) {
            val at = c * book.width + seg * segLen + j
            val xm = Math.floor(e.getDouble(seg * segLen + j) * 1000000.0).toLong
            sm(at) = Math.addExact(sm(at), xm)
            n(at) += 1
          }
        }
      }
      val next = book.cents.clone()
      next.indices.foreach(at => if (n(at) > 0) next(at) = sm(at).toDouble / n(at) / 1000000.0)
      new L2Codebook(book.ids, next, book.segs, segLen)
    }
  }

  /** The distributed rounds: the only path above [[DriverVecCap]], and
    * the reference [[onDriver]] is pinned to.
    */
  private[graft] def distributed(vecs: DataFrame, seeds: L2Codebook, rounds: Int): L2Codebook =
    (1 to rounds).foldLeft(seeds)((book, _) => round(vecs, book))

  private def round(vecs: DataFrame, book: L2Codebook): L2Codebook = {
    val segLen = book.segLen
    val seg = expr(s"CAST(p DIV $segLen AS INT)")
    val sums = vecs.select(nearest(book).as("a"), col("e"))
      .select(col("a"), posexplode(col("e")).as(Seq("p", "x")))
      .select(seg.as("seg"),
        col("a").getItem(seg).getField("cent_id").as("cent_id"),
        expr(s"CAST(p % $segLen AS INT)").as("j"),
        floor(col("x") * lit(1000000.0)).cast("long").as("xm"))
      .groupBy("seg", "cent_id", "j")
      .agg(sum(col("xm")).as("sm"), count(lit(1)).as("n"))
      .collect()
    val next = book.cents.clone()
    sums.foreach { r =>
      val c = java.util.Arrays.binarySearch(book.ids, r.getLong(1))
      next(c * book.width + r.getInt(0) * segLen + r.getInt(2)) =
        r.getLong(3).toDouble / r.getLong(4) / 1000000.0
    }
    new L2Codebook(book.ids, next, book.segs, segLen)
  }

  /** A one-segment codebook as the long-format (cent_id, dim, c)
    * frame, dim 1-based.
    */
  def coarseFrame(s: SparkSession, book: L2Codebook): DataFrame =
    local(s, book, StructType(Seq(StructField("cent_id", LongType),
      StructField("dim", IntegerType), StructField("c", DoubleType))))(
      (id, _, j, c) => Row(id, j + 1, c))

  /** A PQ codebook as the long-format (cent_id, s, j, c) frame. */
  def pqFrame(s: SparkSession, book: L2Codebook): DataFrame =
    local(s, book, StructType(Seq(StructField("cent_id", LongType),
      StructField("s", IntegerType), StructField("j", IntegerType),
      StructField("c", DoubleType))))(
      (id, seg, j, c) => Row(id, seg, j, c))

  /** (cent_id, ce) with each centroid's whole vector as one array. */
  def arraysFrame(s: SparkSession, book: L2Codebook): DataFrame =
    s.createDataFrame(book.ids.indices.map(c =>
      Row(book.ids(c), book.cents.slice(c * book.width, (c + 1) * book.width).toSeq)).asJava,
      StructType(Seq(StructField("cent_id", LongType),
        StructField("ce", ArrayType(DoubleType)))))

  private def local(s: SparkSession, book: L2Codebook, schema: StructType)(
      row: (Long, Int, Int, Double) => Row): DataFrame =
    s.createDataFrame((for {
      c <- book.ids.indices
      seg <- 0 until book.segs
      j <- 0 until book.segLen
    } yield row(book.ids(c), seg, j, book.at(c, seg, j))).asJava, schema)
}
