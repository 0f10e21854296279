package graft

import org.apache.spark.sql.functions.{abs, col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DoubleSortableBits
import graft.operators.QuantileQueries

/** Radix-selection edge cases the lineitem oracle can't reach: the
  * bit transform's order preservation across signs, all-duplicate
  * columns (the shift-0 literal path), negative values, and agreement
  * with a straight sort on adversarial mixtures.
  */
class QuantileRadixSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  test("sortable bits preserve double ordering across signs and magnitudes") {
    val values = Seq(Double.MinValue, -1e300, -2.5, -1.0, -Double.MinPositiveValue,
      -0.0, 0.0, Double.MinPositiveValue, 0.5, 1.0, 2.5, 1e300, Double.MaxValue)
    values.sliding(2).foreach { case Seq(a, b) =>
      assert(DoubleSortableBits.sortable(a) <= DoubleSortableBits.sortable(b),
        s"sortable($a) > sortable($b)")
    }
    values.foreach { d =>
      val rt = DoubleSortableBits.toDouble(DoubleSortableBits.sortable(d))
      assert(java.lang.Double.doubleToLongBits(rt) ==
        java.lang.Double.doubleToLongBits(d), s"round trip of $d gave $rt")
    }
  }

  private def kth(values: Seq[Double], qs: Seq[(String, Long => Long)]) = {
    import spark.implicits._
    QuantileQueries.kthValues(spark, values.toDF("v"), "v", qs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  private def exact(values: Seq[Double], k: Long): Double =
    values.sorted.apply((k - 1).toInt)

  test("agrees with a straight sort on a sign-mixed multiset") {
    val values = Seq(-7.25, -7.25, -0.5, 0.0, 0.0, 1.5, 2.0, 2.0, 2.0, 1e9,
      -3e12, 4.75, -0.0, 8.125, 0.25)
    val qs = Seq[(String, Long => Long)](
      "median" -> (n => (n + 1) / 2), "p90" -> (n => (9 * n + 9) / 10),
      "min" -> (_ => 1L), "max" -> (n => n))
    val got = kth(values, qs)
    qs.foreach { case (stat, kOf) =>
      assert(got(stat) == exact(values, kOf(values.size.toLong)),
        s"$stat: got ${got(stat)}")
    }
  }

  test("all-duplicate column resolves via the shift-0 literal path") {
    // 300k identical rows: every histogram bucket stays oversized at a
    // tiny rank cap, so refinement must walk to shift 0 where the
    // prefix IS the value — no window ever sees the 300k rows.
    val df = spark.range(300000).select(org.apache.spark.sql.functions.lit(42.625).as("v"))
    val got = QuantileQueries.kthValues(spark, df, "v",
      Seq("median" -> (n => (n + 1) / 2)))
      .collect()
    assert(got.length == 1 && got(0).getDouble(1) == 42.625)
  }

  test("q_mad equals the brute-force median-of-deviations at sf0.001") {
    val vs = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_extendedprice").collect().map(_.getDouble(0))
    def medOf(a: Array[Double]) = a.sorted.apply(((a.length + 1) / 2) - 1)
    val med = medOf(vs)
    val mad = medOf(vs.map(v => math.abs(v - med)))
    val brute = vs.count(v => math.abs(v - med) > 3.0 * mad)
    val r = SparkEntry.queries("q_mad")(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(r.getAs[Double]("median") == med)
    assert(r.getAs[Double]("mad") == mad)
    assert(r.getAs[Long]("n_outliers") == brute.toLong)
  }

  test("MAD flags outliers a heavy tail actually contains") {
    // The fence must FIRE somewhere: a synthetic frame with a fat
    // tail — 900 values in [0,1], 100 at 1000 — has MAD from the
    // bulk, so the tail sits far past 3*MAD.
    import spark.implicits._
    val df = ((1 to 900).map(_ / 900.0) ++ Seq.fill(100)(1000.0)).toDF("v")
    val med = QuantileQueries.kthValues(spark, df, "v",
      Seq("m" -> (n => (n + 1) / 2))).collect().head.getDouble(1)
    val dev = df.select(abs(col("v") - lit(med)).as("d"))
    val mad = QuantileQueries.kthValues(spark, dev, "d",
      Seq("m" -> (n => (n + 1) / 2))).collect().head.getDouble(1)
    val outliers = df.filter(abs(col("v") - lit(med)) > lit(3.0) * lit(mad)).count()
    assert(outliers == 100L, s"med=$med mad=$mad outliers=$outliers")
  }

  test("single row and empty input") {
    assert(kth(Seq(3.5), Seq("median" -> (n => (n + 1) / 2))) ==
      Map("median" -> 3.5))
    import spark.implicits._
    val empty = QuantileQueries.kthValues(spark,
      Seq.empty[Double].toDF("v"), "v", Seq("median" -> (n => (n + 1) / 2)))
    assert(empty.collect().isEmpty)
  }
}
