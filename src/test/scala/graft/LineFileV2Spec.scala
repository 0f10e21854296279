package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LineFile, LineFileV2}

/** The DataSource V2 line connector must reproduce the reference's O1
  * contract exactly — same rows as the RDD-based [[LineFile]], 1-based
  * numbering (W5), bounded read (W3) — and surface the O14 locality
  * config as per-chunk preferred hosts.
  */
class LineFileV2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def writeFile(content: String): String = {
    val p = TestSpark.tempDir("graftlines").resolve("graftlines.txt")
    Files.writeString(p, content)
    p.toString
  }

  test("graftlines equals LineFile on a newline-terminated file") {
    val path = writeFile("the cat sat\nthe dog sat\ncat and dog\nfour\nfive\n")
    val v2 = spark.read.format("graftlines").option("chunkSize", "2")
      .load(path).collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val v1 = LineFile.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(v2.toSeq == v1.toSeq)
    assert(v2.map(_._1).toSeq == (1L to 5L)) // 1-based, gap-free (W5)
  }

  test("final line without trailing newline is read (getline semantics)") {
    val path = writeFile("a\nb\nc_no_newline")
    val rows = spark.read.format("graftlines").option("chunkSize", "2")
      .load(path).collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c_no_newline")))
  }

  test("maxChunks bounds the read to num_chunks x chunk_size lines (W3)") {
    val path = writeFile((1 to 10).map(i => s"line$i").mkString("", "\n", "\n"))
    val rows = spark.read.format("graftlines")
      .option("chunkSize", "3").option("maxChunks", "2")
      .load(path).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 6L))
  }

  test("one input partition per chunk") {
    val path = writeFile((1 to 10).map(i => s"line$i").mkString("", "\n", "\n"))
    val df = spark.read.format("graftlines").option("chunkSize", "4").load(path)
    assert(df.rdd.getNumPartitions == 3) // 4 + 4 + 2
  }

  test("locality config maps chunks to preferred hosts with the wrap rule") {
    val data = writeFile("a\nb\nc\nd\n")
    val cfg = writeFile("1 2\n2 7\n") // node 7 wraps: 7 % 4 = 3
    val chunks = LineFileV2.planChunks(
      data, chunkSize = 2, maxChunks = None,
      LineFileV2.hostsFromConfig(cfg, numWorkers = 4))
    assert(chunks.map(_.chunkId) == Seq(1, 2))
    assert(chunks(0).preferredLocations().toSeq == Seq("worker-2"))
    assert(chunks(1).preferredLocations().toSeq == Seq("worker-3"))
    // and the scheduler-visible surface via an actual read still works
    val rows = spark.read.format("graftlines")
      .option("chunkSize", "2").option("localityFile", cfg)
      .option("numWorkers", "4")
      .load(data).collect()
    assert(rows.length == 4)
  }

  test("line_no upper-bound filter prunes chunk planning (pushdown)") {
    val path = writeFile((1 to 10).map(i => s"line$i").mkString("", "\n", "\n"))
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graftlines").option("chunkSize", "2").load(path)
    val bounded = df.filter(col("line_no") <= 3)
    // ceil(3/2) = 2 of 5 chunks planned; residual filter trims the rest
    assert(bounded.rdd.getNumPartitions == 2)
    assert(bounded.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // strict bound: line_no < 5 → ceil(4/2) = 2 chunks
    assert(df.filter(col("line_no") < 5).rdd.getNumPartitions == 2)
    // unbounded read still plans every chunk
    assert(df.rdd.getNumPartitions == 5)
  }

  test("column pruning: text-only and reversed projections read correctly") {
    val path = writeFile("aa\nbb\ncc\n")
    val df = spark.read.format("graftlines").option("chunkSize", "2").load(path)
    assert(df.select("text").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("aa", "bb", "cc"))
    assert(df.select("line_no").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // projection order differing from the table schema must round-trip
    assert(df.select("text", "line_no").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq ==
      Seq(("aa", 1L), ("bb", 2L), ("cc", 3L)))
    assert(df.count() == 3)
  }

  test("wordcount over graftlines equals wordcount over LineFile") {
    val path = writeFile("the cat sat\nthe dog sat\ncat and dog\n")
    import org.apache.spark.sql.functions._
    def wc(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(wc(spark.read.format("graftlines").load(path)) ==
      wc(LineFile.read(spark, path)))
  }
}
