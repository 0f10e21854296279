package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
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
  */
private[graft] object Lloyd {

  /** The seed codebook: each row of `seeds` (vec_id, e) is one
    * centroid, with cent_id = vec_id. Collects the k seed rows.
    */
  def seedBook(seeds: DataFrame, segs: Int, segLen: Int): L2Codebook = {
    val rows = seeds.select(col("vec_id"), col("e")).collect().sortBy(_.getLong(0))
    val cents = rows.flatMap { r =>
      val e = if (r.isNullAt(1)) null else new GenericArrayData(r.getSeq[Any](1))
      L2ArgminMicro.requireVector(r.getLong(0), e, segs * segLen)
      e.toDoubleArray()
    }
    new L2Codebook(rows.map(_.getLong(0)), cents, segs, segLen)
  }

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
