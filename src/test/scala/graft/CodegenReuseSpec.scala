package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Generated classes are compiled once per JVM: [[GraftExtensions.register]]
  * turns session artifact isolation off, so a fresh session reuses the
  * classes an earlier session compiled instead of compiling the same
  * sources under a class loader of its own.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"
  private val isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  private def fresh(): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.register(s)
    s
  }

  test("register turns session artifact isolation off") {
    val s = spark.newSession()
    assert(s.conf.get(isolation) == "true", "a fresh session is isolated by default")
    GraftExtensions.register(s)
    assert(s.conf.get(isolation) == "false")
  }

  test("a second fresh session compiles no class for a row the first one ran") {
    /** Runs wordcount to a noop sink, then collects it; returns the rows
      * and the generated classes compiled meanwhile. */
    def run(s: SparkSession): (Seq[String], Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries("wordcount")(s, dir)
        .write.format("noop").mode("overwrite").save()
      val rows = SparkEntry.queries("wordcount")(s, dir).collect().map(_.toString).toSeq
      (rows, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    val (a, b) = (fresh(), fresh())
    try {
      val (rowsA, _) = run(a)
      val (rowsB, compilesB) = run(b)
      assert(rowsA.nonEmpty)
      assert(rowsB == rowsA)
      assert(compilesB == 0, s"the second session compiled $compilesB generated classes")
    } finally Seq(a, b).foreach(Tables.invalidateSession)
  }
}
