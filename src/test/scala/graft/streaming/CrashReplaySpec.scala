package graft.streaming

import java.io.File

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Scratch, SparkEntry, TestSpark}

/** [[CrashReplay.run]] on a hand-built 3-file stage (ids 0..29, ten
  * per file, processed in id order): the injected crash is replayed
  * exactly-once, a short stage and a real sink error fail loudly, and
  * no run directory outlives the call — then the same cleanup rule on
  * the eight rows that run on the harness.
  */
class CrashReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  /** A temp dir holding `nFiles` id-ordered parquet files in `staged`. */
  private def fixture(nFiles: Int): (File, String) = {
    val root = TestSpark.tempDir("graft_crash_replay").toFile
    val staged = s"$root/staged"
    spark.range(0, 10L * nFiles, 1, nFiles).toDF("id")
      .write.mode(SaveMode.Overwrite).parquet(staged)
    new File(staged).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L) }
    (root, staged)
  }

  private val schema = new org.apache.spark.sql.types.StructType()
    .add("id", "long", nullable = false)

  private def idSink(df: org.apache.spark.sql.DataFrame, batchId: Long,
      store: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite).parquet(s"$store/out/b$batchId")

  test("a crash at batch 1 fires, is replayed, and the merged store is exactly-once") {
    val (root, staged) = fixture(3)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val (out, progress) = CrashReplay.run(spark, "crash-spec", staged, schema,
        crashAt = Some(1L))(
      { (df, b, store) => batches.add(b); idSink(df, b, store) },
      store => spark.read.parquet(s"$store/out/b*"))
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 30L))
    // one row per id, each from the batch that read its file
    assert(rows.map(r => r.getLong(0) / 10 -> r.getLong(1)).toSet ==
      Set(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // batches 0, 1 (crash), then 1 replayed and 2
    assert(batches.toArray.toSeq == Seq(0L, 1L, 1L, 2L))
    // q1's progress covers only the batch committed before the crash
    assert(progress.map(_.batchId) == Seq(0L))
    assert(root.list().toSeq == Seq("staged"))
  }

  test("a stage shorter than k + 1 files fails with the k + 1 message") {
    val (root, staged) = fixture(1)
    val e = intercept[IllegalArgumentException] {
      CrashReplay.run(spark, "crash-spec", staged, schema, crashAt = Some(1L))(
        idSink, store => spark.read.parquet(s"$store/out/b*"))
    }
    assert(e.getMessage.contains("crash-spec: staged 1 parquet files"), e.getMessage)
    assert(e.getMessage.contains("needs at least 2 one-file micro-batches"), e.getMessage)
    assert(root.list().toSeq == Seq("staged"))
  }

  test("a sink's own error at batch 0 surfaces, with the row name") {
    val (root, staged) = fixture(3)
    val e = intercept[IllegalStateException] {
      CrashReplay.run(spark, "crash-spec", staged, schema, crashAt = Some(1L))(
        (_, b, _) => if (b == 0L) throw new UnsupportedOperationException("sink broke at batch 0"),
        store => spark.read.parquet(s"$store/out/b*"))
    }
    assert(e.getMessage.startsWith("crash-spec: streaming run failed"), e.getMessage)
    assert(!e.getMessage.contains("never fired"), e.getMessage)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "sink broke at batch 0"))
    assert(root.list().toSeq == Seq("staged"))
  }

  test("without a crash batch the stream runs once and still cleans up") {
    val (root, staged) = fixture(3)
    val (out, progress) = CrashReplay.run(spark, "crash-spec", staged, schema,
        crashAt = None)(idSink, store => spark.read.parquet(s"$store/out/b*"))
    assert(out.count() == 30L)
    assert(progress.filter(_.numInputRows > 0).map(_.batchId) == Seq(0L, 1L, 2L))
    assert(root.list().toSeq == Seq("staged"))
  }

  test("the eight harness rows leave no run directory under stageRoot (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val rows = Seq("st_restart_upsert", "st_restart_watermark",
      "st_incremental_dedup", "st_ivf_admit", "st_suffix_admit", "st_forget",
      "st_suffix_forget", "st_late_drop")
    def runDirs() = Option(new File(Scratch.shared(dir, "")).list())
      .toSeq.flatten.filter(n => n.contains("_ckpt_") || n.contains("_store_"))
    val before = runDirs().toSet
    rows.foreach { row =>
      val out = SparkEntry.queries(row)(spark, dir)
      val left = runDirs().filterNot(before)
      assert(left.isEmpty, s"$row left ${left.mkString(", ")}")
      assert(out.collect().nonEmpty, s"$row: returned frame collects empty")
    }
  }
}
