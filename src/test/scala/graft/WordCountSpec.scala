package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MapReduceJob, MapReducePipeline}
import graft.sources.LineFile

/** Reference-faithful WordCount semantics (FIXTURES.md §1.1 golden,
  * spec §6 example format, spec §8 graded variants).
  */
class WordCountSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private def fixtureFile(): String = {
    val f = TestSpark.tempDir("wordcount_tiny").resolve("wordcount_tiny.txt")
    Files.writeString(f, "the cat sat\nthe dog sat\ncat and dog\n")
    f.toString
  }

  test("O1: LineFile keys each line with its 1-based global number") {
    val df = LineFile.read(spark, fixtureFile())
    val rows = df.orderBy("line_no").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "the cat sat"), (2L, "the dog sat"), (3L, "cat and dog")))
  }

  test("O1-O8: wordcount golden output, ASCII ascending") {
    val records = LineFile.read(spark, fixtureFile())
    val out = MapReducePipeline.run(records, MapReduceJob(keyCol = "line_no"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("and", 1L), ("cat", 2L), ("dog", 2L), ("sat", 2L), ("the", 2L)))
  }

  test("spec §8: descending sort variant") {
    val records = LineFile.read(spark, fixtureFile())
    val out = MapReducePipeline.run(records, MapReduceJob(keyCol = "line_no", sortAscending = false))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("the", "sat", "dog", "cat", "and"))
  }

  test("spec §8: group-by-first-character variant") {
    val records = LineFile.read(spark, fixtureFile())
    val out = MapReducePipeline.run(records,
        MapReduceJob(keyCol = "line_no", groupKey = w => substring(w, 1, 1)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // a:1(and) c:2(cat) d:2(dog) s:2(sat) t:2(the)
    assert(out.toSeq == Seq(("a", 1L), ("c", 2L), ("d", 2L), ("s", 2L), ("t", 2L)))
  }

  test("W1: empty tokens from repeated/leading/trailing spaces are dropped") {
    val df = Seq((1L, " a  b c ")).toDF("line_no", "text")
    val out = MapReducePipeline.run(df, MapReduceJob(keyCol = "line_no"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a", 1L), ("b", 1L), ("c", 1L)))
  }

  test("W2: bucket expression is non-negative for any leading char") {
    val df = Seq((1L, "zulu Alpha 9nine !bang")).toDF("line_no", "text")
    val out = MapReducePipeline.run(df, MapReduceJob(keyCol = "line_no", numReducers = Some(4)))
    val buckets = out.select("bucket").collect().map(_.getInt(0))
    assert(buckets.forall(b => b >= 0 && b < 4))
    // 'A'-led word matches the reference exactly: ('A'-'A') % 4 == 0
    val alpha = out.filter($"word" === "Alpha").select("bucket").head().getInt(0)
    assert(alpha == 0)
  }

  test("W3: bounded read keeps only records below maxRecords") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("line_no", "text")
    val out = MapReducePipeline.run(df, MapReduceJob(keyCol = "line_no", maxRecords = Some(3L)))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("a", "b"))
  }

  test("entry: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("contract: every oracleSql key exists in queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
