package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** [[Overlap]] runs its pool lanes under the caller's Spark local
  * properties, so every overlapped job is traced to the caller's job
  * group, and a pooled thread does not keep them afterwards.
  */
class OverlapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  /** (task count, job group) of every job started while `body` runs;
    * each lane below runs one job with its own task count.
    */
  private def jobGroups(body: => Unit): Seq[(Int, String)] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val marker = s"overlap-spec-end-${System.nanoTime}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.map(_.numTasks).sum ->
          e.properties.getProperty("spark.jobGroup.id"))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "end of window")
      sc.parallelize(1 to 1, 1).count()
      sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(seen.asScala.exists(_._2 == marker)))
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.filter(_._2 != marker)
  }

  private def job(tasks: Int): Long = spark.sparkContext.parallelize(1 to 10, tasks).count()

  test("par and par3 lanes carry the caller's job group, and only for that call") {
    val sc = spark.sparkContext
    Overlap.par3(job(1), job(1), job(1)) // pool threads exist before the group is set
    val grouped = jobGroups {
      sc.setJobGroup("overlap-caller", "both lanes")
      try {
        Overlap.par(job(2), job(3))
        Overlap.par3(job(4), job(5), job(6))
      } finally sc.clearJobGroup()
    }
    assert(grouped.map(_._1).sorted == Seq(2, 3, 4, 5, 6))
    assert(grouped.forall(_._2 == "overlap-caller"), grouped)
    // the same pool threads, called without a group, run without one
    val plain = jobGroups(Overlap.par3(job(7), job(8), job(9)))
    assert(plain.map(_._1).sorted == Seq(7, 8, 9))
    assert(plain.forall(_._2 == null), plain)
  }
}
