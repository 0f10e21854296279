package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.{DedupClusters, Lloyd}

/** The driver paths of the two iterative operators that finish on the
  * driver once their input fits (`Rounds.fits`):
  * `DedupClusters.connectedComponents` against its distributed body,
  * rows and schema (names, types, nullability) equal, and the Spark
  * jobs each operator runs on a fitting input. `LloydSpec` pins
  * `Lloyd.train`'s two paths to each other and to the long-format
  * loop.
  */
class DriverLoopSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** Both bodies over `pairs`: the driver path must be taken and equal
    * the distributed body row for row, schema included.
    */
  private def bothAgree(name: String, pairs: DataFrame): Seq[Row] = {
    val got = DedupClusters.connectedComponents(pairs)
    val ref = DedupClusters.distributedComponents(pairs)
    assert(isLocal(got), s"$name: the driver path was not taken")
    assert(got.schema == ref.schema, s"$name: ${got.schema} vs ${ref.schema}")
    assert(sorted(got) == sorted(ref), name)
    sorted(got)
  }

  test("connectedComponents: driver path equals the distributed body, schema included") {
    val path = (0L until 199L).map(i => (i, i + 1))
    val fixtures = Seq(
      "empty" -> Seq.empty[(Long, Long)],
      "one edge" -> Seq((1L, 2L)),
      "duplicate and reversed pairs" -> Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L)),
      "self-pair" -> Seq((5L, 5L), (5L, 6L), (9L, 9L)),
      // 3 hears label 1 from both 2 and 4
      "tie" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)),
      "two components" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)),
      // chained: the distributed body swaps to the star contraction,
      // whose label column is not nullable
      "200-node path" -> path)
    val got = fixtures.map { case (name, p) => name -> bothAgree(name, p.toDF("doc_a", "doc_b")) }.toMap
    assert(got("empty").isEmpty)
    assert(got("self-pair").map(r => r.getLong(0) -> r.getLong(1)) ==
      Seq(5L -> 5L, 6L -> 5L, 9L -> 9L))
    assert(got("200-node path").length == 200 && got("200-node path").forall(_.getLong(1) == 0L))
    assert(!DedupClusters.connectedComponents(path.toDF("doc_a", "doc_b")).schema("label").nullable)
    assert(DedupClusters.connectedComponents(Seq((1L, 2L)).toDF("doc_a", "doc_b"))
      .schema("label").nullable)
  }

  test("connectedComponents: int and nullable ids keep their type and nullability") {
    val ints = Seq((3, 4), (4, 7), (20, 21)).toDF("doc_a", "doc_b")
    assert(bothAgree("int ids", ints).map(_.get(1)) == Seq(3, 3, 3, 20, 20))
    assert(DedupClusters.connectedComponents(ints).schema("id").dataType == IntegerType)
    val nullable = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(2L), Some(9L)))
      .toDF("doc_a", "doc_b")
    bothAgree("nullable long ids", nullable)
    // a null id leaves the labeling to the distributed body
    val withNull = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (None, Some(2L)))
      .toDF("doc_a", "doc_b")
    assert(!isLocal(DedupClusters.connectedComponents(withNull)))
  }

  test("connectedComponents: above the cap the distributed body serves") {
    // a star around 0 with one pair more than the cap
    val n = DedupClusters.DriverPairCap + 1
    val pairs = spark.range(1, n + 1).select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val cc = DedupClusters.connectedComponents(pairs)
    assert(!isLocal(cc))
    assert(cc.agg(count(lit(1)), max(col("label")), countDistinct(col("id"))).head() ==
      Row(n + 1L, 0L, n + 1L))
  }

  /** Job ids started inside `body` under a job group of their own. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, end) = ("driver-loop-spec", "driver-loop-spec-end")
    val seen = new ConcurrentLinkedQueue[Int]()
    val marker = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.add(e.jobId)
          case Some(`end`) => marker.add(e.jobId)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(end, "end of window")
      sc.parallelize(1 to 1, 1).count()
      sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(!marker.isEmpty))
    } finally sc.removeSparkListener(listener)
    seen.size
  }

  test("a fitting input costs one Spark job: connectedComponents and Lloyd.train") {
    // inputs materialized first, in one partition, so the count holds
    // only the operators' own jobs
    val pairs = ((0L until 199L).map(i => (i, i + 1)) ++ Seq((500L, 501L)))
      .toDF("doc_a", "doc_b").coalesce(1).localCheckpoint(true)
    assert(jobsOf(DedupClusters.connectedComponents(pairs)) == 1)
    // the distributed body runs a job or more per round
    assert(jobsOf(DedupClusters.distributedComponents(pairs).collect()) > 10)

    val vecs = spark.createDataFrame((0L until 40L).map(i =>
        Row(i, Seq(i.toDouble, (i % 7).toDouble))).asJava,
      StructType(Seq(StructField("vec_id", LongType), StructField("e", ArrayType(DoubleType)))))
      .coalesce(1).localCheckpoint(true)
    val seeds = Lloyd.seedBook(vecs.filter(col("vec_id") < 3), 1, 2)
    assert(jobsOf(Lloyd.train(vecs, seeds, 5)) == 1)
    assert(jobsOf(Lloyd.trainFirst(vecs, 3, 1, 2, 5)) == 1)
    assert(jobsOf(Lloyd.distributed(vecs, seeds, 5)) >= 5)
  }
}
