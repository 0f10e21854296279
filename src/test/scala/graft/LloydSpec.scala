package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.L2Codebook
import graft.operators.{Lloyd, PipelineQueries, Similarity}

/** The long-format Lloyd loop the array loop replaced: every vector
  * exploded to (vec_id, dim, x) rows, per round a broadcast join
  * against the long-format centroids, a two-aggregation argmin, a
  * means aggregation and a left join that keeps an empty cell's
  * previous centroid. Kept here as the reference the driver-held loop
  * must reproduce bit for bit.
  */
object LloydReference {

  /** (vec_id, e) arrays to 1-based (vec_id, dim, x) rows. */
  def kmDims(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), posexplode(col("e")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("int").as("dim"), col("x"))

  def seeds(dims: DataFrame, ids: Seq[Long]): DataFrame =
    dims.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("cent_id"), col("dim"), col("x").as("c"))

  def l2VecDist(dims: DataFrame, cents: DataFrame): DataFrame =
    dims.join(broadcast(cents), "dim")
      .select(col("vec_id"), col("cent_id"),
        floor((col("x") - col("c")) * (col("x") - col("c"))
          * lit(1000000000000.0)).cast("long").as("dm"))
      .groupBy("vec_id", "cent_id").agg(sum(col("dm")).as("dm"))

  def assignL2(dims: DataFrame, cents: DataFrame): DataFrame = {
    val dist = l2VecDist(dims, cents)
    val best = dist.groupBy("vec_id").agg(min(col("dm")).as("dm"))
    dist.join(best, Seq("vec_id", "dm"))
      .groupBy("vec_id", "dm").agg(min(col("cent_id")).as("cent_id"))
      .select("vec_id", "cent_id")
  }

  def lloydRounds(trainDims: DataFrame, cents0: DataFrame, rounds: Int): DataFrame = {
    var cents = cents0
    for (_ <- 1 to rounds) {
      val asg = assignL2(trainDims, cents)
      val means = trainDims.join(asg, "vec_id")
        .groupBy("cent_id", "dim")
        .agg(sum(floor(col("x") * lit(1000000.0)).cast("long")).as("sm"),
          count(lit(1)).as("n"))
      cents = cents.as("p").join(means.as("m"), Seq("cent_id", "dim"), "left")
        .select(col("cent_id"), col("dim"),
          coalesce(col("sm").cast("double") / col("n") / lit(1000000.0), col("c"))
            .as("c"))
        .localCheckpoint(true)
    }
    cents
  }

  def pqDims(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), posexplode(col("e")).as(Seq("p", "x")))
      .select(col("vec_id"),
        expr("p DIV 8").cast("int").as("s"),
        expr("p % 8").cast("int").as("j"),
        col("x"))

  def pqDistOf(dims: DataFrame, cb: DataFrame): DataFrame =
    dims.join(broadcast(cb), Seq("s", "j"))
      .select(col("vec_id"), col("cent_id"), col("s"),
        floor((col("x") - col("c")) * (col("x") - col("c"))
          * lit(1000000000000.0)).cast("long").as("dm"))
      .groupBy("vec_id", "cent_id", "s")
      .agg(sum(col("dm")).as("dist_micro"))

  def pqCodesOf(dist: DataFrame): DataFrame = {
    val best = dist.groupBy("vec_id", "s").agg(min(col("dist_micro")).as("dist_micro"))
    dist.join(best, Seq("vec_id", "s", "dist_micro"))
      .groupBy("vec_id", "s", "dist_micro")
      .agg(min(col("cent_id")).as("code"))
      .select(col("vec_id"), col("s"), col("code"), col("dist_micro"))
  }

  def pqTrainedCb(dims: DataFrame, rounds: Int): DataFrame = {
    var cb = dims.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("s"), col("j"), col("x").as("c"))
    for (_ <- 1 to rounds) {
      val asg = pqCodesOf(pqDistOf(dims, cb))
        .select(col("vec_id"), col("s"), col("code").as("cent_id"))
      val means = dims.join(asg, Seq("vec_id", "s"))
        .groupBy("cent_id", "s", "j")
        .agg(sum(floor(col("x") * lit(1000000.0)).cast("long")).as("sm"),
          count(lit(1)).as("n"))
      cb = cb.as("p").join(means.as("m"), Seq("cent_id", "s", "j"), "left")
        .select(col("cent_id"), col("s"), col("j"),
          coalesce(col("sm").cast("double") / col("n") / lit(1000000.0), col("c"))
            .as("c"))
        .localCheckpoint(true)
    }
    cb
  }
}

/** The driver-held array Lloyd loop ([[Lloyd]] + the
  * [[graft.functions.L2ArgminMicro]] kernel) against
  * [[LloydReference]]: codebooks and assignments bit-identical, on the
  * test corpus and on fixtures for its edge cases. Every fixture runs
  * both of `Lloyd.train`'s paths: the driver rounds a vector set that
  * fits takes, and the distributed rounds (`Lloyd.distributed`).
  */
class LloydSpec extends AnyFunSuite {
  import LloydReference._
  private lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private lazy val corpus: DataFrame = Tables.embeddings(spark, dir)
    .select(col("vec_id"), graft.operators.TextOps.toDouble(col("embedding")).as("e"))

  /** key columns -> raw bits of `c`: equality is bit-for-bit. */
  private def bits(df: DataFrame, keys: String*): Map[Seq[Any], Long] =
    df.collect().map(r => keys.map(k => r.getAs[Any](k)) ->
      java.lang.Double.doubleToRawLongBits(r.getAs[Double]("c"))).toMap

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def vecs(rows: (Long, Seq[Any])*): DataFrame =
    spark.createDataFrame(rows.map { case (id, e) => Row(id, e) }.asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("e", ArrayType(DoubleType)))))

  /** The array loop on both paths and the reference over one fixture:
    * centroids and final assignments must match exactly; returns the
    * codebook.
    */
  private def bothAgree(v: DataFrame, seedIds: Seq[Long], width: Int,
      rounds: Int): L2Codebook = {
    val start = Lloyd.seedBook(v.filter(col("vec_id").isin(seedIds: _*)), 1, width)
    val book = Lloyd.train(v, start, rounds)
    assert(bits(Lloyd.coarseFrame(spark, book), "cent_id", "dim") ==
      bits(Lloyd.coarseFrame(spark, Lloyd.distributed(v, start, rounds)), "cent_id", "dim"))
    val dims = kmDims(v)
    val ref = lloydRounds(dims, seeds(dims, seedIds), rounds)
    assert(bits(Lloyd.coarseFrame(spark, book), "cent_id", "dim") == bits(ref, "cent_id", "dim"))
    assert(pairs(Lloyd.assign(v, book)) == pairs(assignL2(dims, ref)))
    book
  }

  test("coarse codebook and assignment are bit-identical to the long-format loop") {
    val ids = (0L until PipelineQueries.NumCentroids.toLong)
    val book = bothAgree(corpus, ids, Similarity.EmbeddingDims, Similarity.KmTrainRounds)
    assert(book.ids.toSeq == ids)
    val first = Lloyd.trainFirst(corpus, ids.size.toLong, 1, Similarity.EmbeddingDims,
      Similarity.KmTrainRounds)
    assert(first.cents.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
      book.cents.toSeq.map(java.lang.Double.doubleToRawLongBits))
    // the row itself rides the same loop
    val ref = lloydRounds(kmDims(corpus), seeds(kmDims(corpus), ids), Similarity.KmTrainRounds)
    assert(bits(SparkEntry.queries("ss_kmeans_train")(spark, dir), "cent_id", "dim") ==
      bits(ref, "cent_id", "dim"))
  }

  test("PQ codebooks and codes are bit-identical to the long-format loop") {
    val pd = pqDims(corpus)
    val ref = pqTrainedCb(pd, Similarity.PqTrainRounds)
    assert(bits(SparkEntry.queries("ss_pq_train")(spark, dir), "cent_id", "s", "j") ==
      bits(ref, "cent_id", "s", "j"))
    val start = Lloyd.seedBook(corpus.filter(col("vec_id") < 8),
      Similarity.PqSegs, Similarity.PqSegLen)
    val book = Lloyd.train(corpus, start, Similarity.PqTrainRounds)
    assert(bits(Lloyd.pqFrame(spark, book), "cent_id", "s", "j") == bits(ref, "cent_id", "s", "j"))
    assert(bits(Lloyd.pqFrame(spark, Lloyd.distributed(corpus, start, Similarity.PqTrainRounds)),
      "cent_id", "s", "j") == bits(ref, "cent_id", "s", "j"))
    val codes = corpus.select(col("vec_id"), posexplode(Lloyd.nearest(book)).as(Seq("s", "a")))
      .select(col("vec_id"), col("s"), col("a.cent_id").as("code"), col("a.dm").as("dist_micro"))
    def asMap(df: DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("s")) ->
        (r.getAs[Long]("code"), r.getAs[Long]("dist_micro"))).toMap
    assert(asMap(codes) == asMap(pqCodesOf(pqDistOf(pd, ref))))
  }

  test("identical seeds: the tie goes to the smaller id, the other cell keeps its seed") {
    // seed rows listed larger-id first: the codebook is ordered by id,
    // not by seed order; (1.5, 1) and (0.5, 1) balance around the
    // shared seed, so cell 2 stays at (1, 1) and every round ties
    val v = vecs(5L -> Seq(1.0, 1.0), 2L -> Seq(1.0, 1.0), 9L -> Seq(5.0, 5.0),
      11L -> Seq(1.5, 1.0), 12L -> Seq(5.0, 6.0), 13L -> Seq(0.5, 1.0))
    val book = bothAgree(v, Seq(5L, 2L, 9L), 2, 2)
    assert(book.ids.toSeq == Seq(2L, 5L, 9L))
    assert(Seq(book.at(1, 0, 0), book.at(1, 0, 1)) == Seq(1.0, 1.0), "empty cell moved")
    assert(!pairs(Lloyd.assign(v, book)).values.exists(_ == 5L))
  }

  test("a cell that empties in round 2 keeps its round-1 centroid") {
    // round 1: cell 1 = {8, 8, 4} -> 6.67; round 2: both 8s go to 9
    // and the 4 to cell 2's 1.5, so cell 1 is empty
    val v = vecs(Seq(9.0, 8.0, 0.0, 3.0, 8.0, 4.0).zipWithIndex
      .map { case (x, i) => i.toLong -> Seq(x) }: _*)
    val book = bothAgree(v, Seq(0L, 1L, 2L), 1, 2)
    assert(book.at(1, 0, 0) == 20000000.0 / 3 / 1000000.0)
    val one = Lloyd.train(v, Lloyd.seedBook(v.filter(col("vec_id") < 3), 1, 1), 1)
    assert(pairs(Lloyd.assign(v, one)).values.count(_ == 1L) == 0)
    val zero = Lloyd.seedBook(v.filter(col("vec_id") < 3), 1, 1)
    assert(pairs(Lloyd.assign(v, zero)).values.count(_ == 1L) == 3)
  }

  test("an overflowing distance sum raises on both paths") {
    // floor((10^4)^2 * 10^12) saturates at Long.MaxValue; two such
    // terms overflow the bigint sum
    val v = vecs(0L -> Seq(0.0, 0.0), 1L -> Seq(1.0, 1.0), 2L -> Seq(10000.0, 10000.0))
    val start = Lloyd.seedBook(v.filter(col("vec_id") < 2), 1, 2)
    for (train <- Seq[(DataFrame, L2Codebook, Int) => L2Codebook](Lloyd.train, Lloyd.distributed)) {
      val err = intercept[Exception](train(v, start, 1))
      assert(err.getMessage.contains("vec_id 2"), err.getMessage)
    }
    val dims = kmDims(v)
    intercept[Exception](lloydRounds(dims, seeds(dims, Seq(0L, 1L)), 1))
  }

  test("bad input fails the build with the vec_id in the message") {
    val good = (0L until 3L).map(i => i -> Seq[Any](i.toDouble, 1.0))
    val seeds = (v: DataFrame) => Lloyd.seedBook(v.filter(col("vec_id") < 2), 1, 2)
    for ((bad, why) <- Seq[((Long, Seq[Any]), String)](
        (7L -> null) -> "null embedding",
        (7L -> Seq[Any](1.0, null)) -> "null coordinate",
        (7L -> Seq[Any](1.0, 2.0, 3.0)) -> "coordinates, expected 2")) {
      val v = vecs(good :+ bad: _*)
      for (train <- Seq[(DataFrame, L2Codebook, Int) => L2Codebook](Lloyd.train, Lloyd.distributed)) {
        val err = intercept[Exception](train(v, seeds(v), 1))
        assert(err.getMessage.contains("vec_id 7") && err.getMessage.contains(why),
          err.getMessage)
      }
      // a bad seed fails on the driver, before any round
      val s = vecs((1L -> bad._2) +: good.filter(_._1 != 1L): _*)
      val serr = intercept[IllegalArgumentException](seeds(s))
      assert(serr.getMessage.contains("vec_id 1") && serr.getMessage.contains(why))
    }
  }
}
