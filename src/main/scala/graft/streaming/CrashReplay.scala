package graft.streaming

import java.io.File
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

/** The crash-replay harness of the exactly-once `st_*` rows — the
  * MapReduce re-execution argument as a streaming contract: a
  * replayable source (a staged parquet directory read one file per
  * micro-batch) plus an idempotent sink (every batch writes under
  * `store/.../b<batchId>` with overwrite) gives exactly-once output
  * across a mid-run failure.
  *
  * [[run]] runs the stream q1 with a crash injected at batch `k` AFTER
  * the sink body wrote but BEFORE the commit log records the batch —
  * the hardest window: the offset WAL already names batch k, so the
  * restarted q2 (same checkpoint, injection off) must replay it, and
  * only the by-batch-id overwrite keeps the store exactly-once. It
  * requires that the crash fired and that the replay happened, reads
  * the store back, materializes the read-back and deletes the run's
  * checkpoint and store before returning: nothing run-scoped outlives
  * the call. The row on top keeps its own checks (inflation, eviction,
  * drop) on the returned frame and progress.
  */
object CrashReplay {

  /** Thrown by the injection point; the only failure q1 may swallow. */
  private final class InjectedCrash(batchId: Long) extends IllegalStateException(
    s"injected crash at batch $batchId: after sink write, before commit-log entry")

  /** Run the stream over `staged` (files in mtime order, one per
    * micro-batch) through `query` into the foreachBatch `sink`, which
    * receives the batch, its id and the run's store directory.
    *
    * `crashAt = Some(k)` injects the crash at batch k and replays;
    * `None` runs the stream once (the same sink and cleanup with no
    * failure). The run's `ckpt`/`store` directories are siblings of
    * `staged`, named after it. Returns `readBack(store)` materialized
    * with `localCheckpoint(true)`, and the progress of q1 (with a
    * crash, its pre-crash batches). Any failure other than the
    * injected crash is rethrown with `row` attached.
    */
  def run(s: SparkSession, row: String, staged: String, schema: StructType,
      crashAt: Option[Long], outputMode: String = "append",
      query: DataFrame => DataFrame = identity)(
      sink: (DataFrame, Long, String) => Unit,
      readBack: String => DataFrame): (DataFrame, Seq[StreamingQueryProgress]) = {
    val nFiles = Option(new File(staged).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
    crashAt.foreach(k => require(nFiles >= k + 1,
      s"$row: staged $nFiles parquet files — the batch-$k crash injection " +
        s"needs at least ${k + 1} one-file micro-batches"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val ckpt = s"${staged}_ckpt_$run"
    val store = s"${staged}_store_$run"
    val crashed = new AtomicBoolean(false)
    val batchesSeen = new AtomicLong(0L)
    def start(injectCrash: Boolean): StreamingQuery =
      query(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(staged))
        .writeStream.outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          batchesSeen.incrementAndGet()
          sink(df, batchId, store)
          if (injectCrash && crashAt.contains(batchId)) {
            crashed.set(true)
            throw new InjectedCrash(batchId)
          }
        }
        .start()
    // processAllAvailable unblocks on a failure (and returns normally
    // if the injection never fired — caught by the require below
    // instead of hanging)
    def drainQuery(q: StreamingQuery): Seq[StreamingQueryProgress] = {
      try q.processAllAvailable()
      catch {
        case e: Exception if crashed.get() && causes(e).exists(_.isInstanceOf[InjectedCrash]) => ()
        case e: Exception =>
          throw new IllegalStateException(s"$row: streaming run failed: ${e.getMessage}", e)
      } finally q.stop()
      q.recentProgress.toSeq
    }
    try {
      val progress = drainQuery(start(injectCrash = true))
      crashAt.foreach { k =>
        require(crashed.get(), s"$row: crash injection at batch $k never " +
          "fired — the recovery contract was not exercised")
        drainQuery(start(injectCrash = false))
        require(batchesSeen.get() >= nFiles + 1L,
          s"$row: expected batch $k to REPLAY after restart, saw only " +
            s"${batchesSeen.get()} foreachBatch calls for $nFiles files")
      }
      (readBack(store).localCheckpoint(true), progress)
    } finally Seq(ckpt, store).foreach(p => rmTree(new File(p)))
  }

  /** The by-batch-id segments under `dir` written by batches STRICTLY
    * BEFORE `b` — a replayed batch must not see its own pre-crash
    * writes. Empty (with `schema`) when there are none.
    */
  def priorSegments(s: SparkSession, dir: String, b: Long, schema: StructType): DataFrame = {
    val paths = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("b") &&
        f.getName.drop(1).forall(_.isDigit) &&
        f.getName.drop(1).toLong < b)
      .map(_.getPath)
    if (paths.isEmpty) s.createDataFrame(new java.util.ArrayList[Row](), schema)
    else s.read.parquet(paths: _*)
  }

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32)

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }
}
