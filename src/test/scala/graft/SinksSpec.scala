package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MapReduceJob, MapReducePipeline}
import graft.sources.{LineFile, WordCountOutput}

/** Sinks and source roundtrips: reference-format text output (O8/W4),
  * CSV and JSON source/sink parity.
  */
class SinksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  test("WordCountOutput: per-reducer sorted text files in reference format") {
    val tmpIn = TestSpark.tempDir("wc_in").resolve("wc_in.txt")
    Files.writeString(tmpIn, "the cat sat\nthe dog sat\ncat and dog\n")
    val counts = MapReducePipeline.run(
      LineFile.read(spark, tmpIn.toString), MapReduceJob(keyCol = "line_no"))
    val out = TestSpark.tempDir("wc_out").toString
    WordCountOutput.write(counts, 3, out)

    // every bucket=K dir holds `word count` lines sorted by word (W4)
    val bucketDirs = Files.list(Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("bucket=")).toSeq
    assert(bucketDirs.nonEmpty)
    val all = bucketDirs.flatMap { d =>
      val lines = Files.list(d).iterator().asScala
        .filter(_.toString.endsWith(".txt"))
        .flatMap(f => Files.readAllLines(f).asScala)
        .toSeq
      val words = lines.map(_.split(" ")(0))
      assert(words == words.sorted, s"bucket ${d.getFileName} not sorted")
      lines
    }
    assert(all.sorted == Seq("and 1", "cat 2", "dog 2", "sat 2", "the 2"))
  }

  test("CSV sink/source roundtrip preserves values") {
    val dir = TestSpark.tempDir("csv_rt").toString
    val df = Tables.nation(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == df.count())
    assert(back.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq ==
      df.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq)
  }

  test("JSON sink/source roundtrip preserves values") {
    val dir = TestSpark.tempDir("json_rt").toString
    val df = Tables.region(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == df.count())
    assert(back.select("r_name").orderBy("r_name").collect().map(_.getString(0)).toSeq ==
      df.select("r_name").orderBy("r_name").collect().map(_.getString(0)).toSeq)
  }

  test("foreachBatch: idempotent batch-id-keyed parquet sink") {
    val in = TestSpark.tempDir("fb_in")
    val out = TestSpark.tempDir("fb_out").toString
    Files.writeString(in.resolve("a.txt"), "x\ny\n")
    val q = spark.readStream.text(in.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // exactly-once pattern: partition path keyed by batch id; a
        // replayed batch overwrites its own partition idempotently
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$out/batch_id=0").count()
      assert(rows == 2)
    } finally q.stop()
  }

  test("stateful streaming: flatMapGroupsWithState emits deltas per key") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dir = TestSpark.tempDir("fstate_in")
    Files.writeString(dir.resolve("a.txt"), "a\nb\na\na\n")
    val words = spark.readStream.text(dir.toString).as[String]
    val deltas = words.groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (word: String, rows: Iterator[String], state: GroupState[Long]) =>
          val before = state.getOption.getOrElse(0L)
          val after = before + rows.size
          state.update(after)
          Iterator.single((word, before, after))
      }
    val q = deltas.toDF("word", "before", "after").writeStream
      .outputMode(OutputMode.Append).format("memory").queryName("fstate_wc").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT word, before, after FROM fstate_wc ORDER BY word")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq(("a", 0L, 3L), ("b", 0L, 1L)))
    } finally q.stop()
  }

  test("stateful streaming: mapGroupsWithState running count per key") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dir = TestSpark.tempDir("state_in")
    Files.writeString(dir.resolve("a.txt"), "x\ny\nx\n")
    val words = spark.readStream.text(dir.toString).as[String]
    val counted = words.groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (word: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (word, n)
      }
    val q = counted.toDF("word", "n").writeStream
      .outputMode(OutputMode.Update).format("memory").queryName("state_wc").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT word, n FROM state_wc ORDER BY word")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq == Seq(("x", 2L), ("y", 1L)))
    } finally q.stop()
  }
}
