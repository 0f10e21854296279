package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The contract of [[LegacyAb.ab]], the one A/B harness the LegacyAb
  * modes share: equality before timing, ABBA-BAAB legs, per-arm
  * minimum.
  */
class StressAbSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  test("arms that differ fail the equality require before any leg is timed") {
    var built = 0
    def arm(n: Long): () => DataFrame = () => { built += 1; spark.range(n).toDF() }
    val buf = new java.io.ByteArrayOutputStream()
    val e = intercept[IllegalArgumentException] {
      Console.withOut(buf)(LegacyAb.ab("t", "", Seq("a" -> arm(3), "b" -> arm(4)), LegacyAb.rowsDiffer))
    }
    assert(e.getMessage.contains("differ in 1 rows"))
    assert(built == 2, "each arm is built once, for the equality check only")
    assert(!buf.toString("UTF-8").contains("arm="), "no leg may run")
  }

  test("legs run ABBA-BAAB and the summary reports each arm's minimum") {
    val buf = new java.io.ByteArrayOutputStream()
    val legs = Console.withOut(buf)(LegacyAb.ab("t", "k=1", Seq(
      "old" -> (() => spark.range(5).toDF()),
      "new" -> (() => spark.range(0, 5).toDF())), LegacyAb.rowsDiffer))
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    assert(legs.map(_._1) == Seq("old", "new", "new", "old", "new", "old", "old", "new"))
    assert(legs.forall(_._2 == 5L))
    assert(lines.head == "STRESS t_equality k=1 rows_differ=0")
    assert(lines.filter(_.startsWith("STRESS t k=1 arm=")).map(_.split(" ")(3)) ==
      legs.map(l => s"arm=${l._1}"))
    val Seq(minOld, minNew) = Seq("old", "new").map(a => legs.filter(_._1 == a).map(_._3).min)
    assert(lines.last.startsWith(f"STRESS t_summary k=1 old=$minOld%.2f new=$minNew%.2f "))
    assert(lines.last.contains("rows=5"))
  }
}
