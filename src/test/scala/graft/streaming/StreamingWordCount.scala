package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Test-side streaming helpers: the streaming dual of the reference's
  * wordcount, the stream shapes no query row runs (incremental dedup
  * against a static index, stream-static enrichment, the foreachBatch
  * merge sink), and synchronous memory-sink runners. The row bodies
  * themselves live in [[StreamingQueries]].
  */
object StreamingWordCount {

  /** Incremental wordcount over a text-file stream. */
  def wordCountStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .text(inputDir)
      .select(explode(split(col("value"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .count()

  /** Streaming incremental dedup — the streaming dual of the batch
    * `pipe_incremental_dedup`: arriving documents first drop exact
    * self-duplicates within the watermark ([[StreamingQueries.dedupStream]]),
    * then anti-join the STATIC corpus fingerprint index (broadcast;
    * re-read per micro-batch). Only corpus-novel documents survive.
    */
  def incrementalDedupStream(spark: SparkSession, inputDir: String,
      schema: StructType, corpusFps: DataFrame): DataFrame =
    StreamingQueries.dedupStream(spark, inputDir, schema)
      .join(broadcast(corpusFps), Seq("fp"), "left_anti")

  /** Stream-static enrichment: each streaming event joins a static
    * (broadcast) dimension — stateless, re-planned per micro-batch, the
    * standard streaming lookup-join shape. The dimension re-reads its
    * source each batch, so slowly-changing dims pick up updates.
    */
  def enrichStream(spark: SparkSession, inputDir: String, schema: StructType,
      dim: DataFrame, streamKey: String, dimKey: String): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .join(broadcast(dim), col(streamKey) === col(dimKey))

  /** Idempotent micro-batch MERGE sink via foreachBatch — the
    * production pattern for streaming upserts into a keyed store when
    * the sink has no native merge (plain parquet here): each batch
    * anti-joins the current target on the key and rewrites
    * target = (target − batch keys) ∪ batch, staged to a temp dir and
    * atomically swapped so readers never see a half-written store.
    * Replay safety comes from a processed-batch marker file: a batch
    * id seen before (checkpoint recovery re-delivers the last batch)
    * is skipped, making the merge exactly-once end to end even though
    * foreachBatch itself is at-least-once.
    */
  def mergeSink(df: DataFrame, keyCol: String, targetDir: String,
      checkpointDir: String): StreamingQuery = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val q = df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val marker = Paths.get(targetDir + s".batch-$batchId.done")
        if (!Files.exists(marker)) {
          val spark = batch.sparkSession
          val target = Paths.get(targetDir)
          val merged =
            if (Files.exists(target)) {
              spark.read.parquet(targetDir)
                .join(batch.select(keyCol), Seq(keyCol), "left_anti")
                .unionByName(batch)
            } else batch.toDF()
          val stage = targetDir + s".stage-$batchId"
          merged.write.mode("overwrite").parquet(stage)
          // atomic swap: the staged store replaces the live one
          if (Files.exists(target)) {
            val old = Paths.get(targetDir + s".old-$batchId")
            Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
            Files.move(Paths.get(stage), target, StandardCopyOption.ATOMIC_MOVE)
            org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
          } else {
            Files.move(Paths.get(stage), target, StandardCopyOption.ATOMIC_MOVE)
          }
          Files.createFile(marker)
        }
        () // keep the lambda Unit-typed for the Scala overload
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Run a streaming frame to a named in-memory sink and process all
    * currently-available input (synchronous).
    */
  def runToMemory(df: DataFrame, name: String, mode: String = "complete"): StreamingQuery = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q
  }

  /** Same, with a durable checkpoint: source progress (processed files)
    * and aggregation state live under `checkpointDir`, so stopping and
    * re-starting with the SAME checkpoint resumes instead of
    * reprocessing — the exactly-once recovery contract.
    */
  def runToMemoryCheckpointed(
      df: DataFrame, name: String, checkpointDir: String,
      mode: String = "complete"): StreamingQuery = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q
  }
}
