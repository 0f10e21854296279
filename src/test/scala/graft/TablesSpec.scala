package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** [[Tables.load]]'s JVM-wide schema cache: a fresh session reads a
  * known table without a schema-inference job, and a rewrite with a
  * new schema is seen with and without [[Tables.invalidate]].
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  /** Ids of the Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Int]()
    val marker = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == "tables-spec-end")
          marker.add(e.jobId)
        else seen.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("tables-spec-end", "end of window")
      sc.parallelize(1 to 1, 1).count()
      sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(!marker.isEmpty))
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("a second session loads a known table with no Spark job; rewrites are seen") {
    val dir = TestSpark.tempDir("graft_tables").toString
    val path = s"$dir/t.parquet"
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    val first = spark.newSession()
    assert(Tables.load(first, dir, "t").columns.toSeq == Seq("a"))
    val second = spark.newSession()
    var cols = Seq.empty[String]
    val jobs = jobsDuring { cols = Tables.load(second, dir, "t").columns.toSeq }
    assert(cols == Seq("a"))
    assert(jobs.isEmpty, s"schema inference ran jobs $jobs")
    assert(Tables.load(second, dir, "t").count() == 3)

    // rewrite with a new schema: a new session sees it without invalidate
    spark.range(5).selectExpr("CAST(id AS STRING) AS b", "id AS c")
      .write.mode("overwrite").parquet(path)
    val third = spark.newSession()
    assert(Tables.load(third, dir, "t").columns.toSeq == Seq("b", "c"))
    assert(Tables.load(third, dir, "t").count() == 5)
    // an old session keeps its handle until invalidate, then sees it
    assert(Tables.load(first, dir, "t").columns.toSeq == Seq("a"))
    Tables.invalidate(dir)
    assert(Tables.load(first, dir, "t").columns.toSeq == Seq("b", "c"))
    assert(Tables.load(first, dir, "t").count() == 5)
    Seq(first, second, third).foreach(Tables.invalidateSession)
  }
}
