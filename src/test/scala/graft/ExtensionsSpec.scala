package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingHash
import graft.operators.Multimodal
import graft.plans.JobEventLog
import graft.streaming.{StreamingQueries, StreamingWordCount}

/** Custom Expression, multimodal plumbing, streaming, and the O13
  * event-log listener.
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  test("RollingHash matches the reference JVM fold (codegen path)") {
    val inputs = Seq("", "a", "hello world", "the quick brown fox", "ü∂é")
    val got = inputs.toDF("s")
      .select(RollingHash.rolling_hash(col("s")).as("h"))
      .collect().map(_.getLong(0))
    val expected = inputs.map(s => RollingHash.hashBytes(s.getBytes("UTF-8")))
    assert(got.toSeq == expected)
  }

  test("RollingHash interpreted path agrees with codegen") {
    // force the interpreted (eval) path via a non-codegen context:
    // evaluate on a literal through the expression API
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = RollingHash(Literal("hello world"))
    assert(e.eval(null) == RollingHash.hashBytes("hello world".getBytes("UTF-8")))
  }

  test("Md5PrefixLong equals the hex-string nibble decode, both eval paths") {
    import graft.functions.Md5PrefixLong
    val inputs = Seq("a", "hello", "wordcount", "ü∂é", "x" * 100)
    // codegen path vs. the SQL decode it replaces: bit b of the SimHash
    // scheme = ((nibble b/4 of md5 hex) >> (3 - b%4)) & 1 = bit (63-b)
    // of md5_prefix_long.
    GraftExtensions.register(spark)
    val rows = inputs.toDF("s").selectExpr(
      "md5_prefix_long(s) AS hl",
      "substring(md5(s), 1, 16) AS hex")
    rows.collect().foreach { r =>
      val hl = r.getLong(0)
      val hex = r.getString(1)
      (0 until 64).foreach { b =>
        val nib = Integer.parseInt(hex.charAt(b / 4).toString, 16)
        val bitFromHex = (nib >> (3 - (b % 4))) & 1
        val bitFromLong = ((hl >>> (63 - b)) & 1L).toInt
        assert(bitFromHex == bitFromLong, s"bit $b of $hex vs $hl")
      }
    }
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = Md5PrefixLong(Literal("hello"))
    assert(e.eval(null) == Md5PrefixLong.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello")))
  }

  test("md5_longs halves: [0] is md5_prefix_long, [1] the digest's last 8 bytes, both eval paths") {
    import graft.functions.{Md5Longs, Md5PrefixLong}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val inputs = Seq("", "a", "hello", "wordcount", "ü∂é", "x" * 100)
    def lastWord(s: String): Long =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .drop(8).foldLeft(0L)((h, b) => (h << 8) | (b & 0xffL))
    GraftExtensions.register(spark)
    // codegen path
    val rows = inputs.toDF("s")
      .select(col("s"), Md5Longs.md5_longs(col("s")).as("w"),
        expr("md5_prefix_long(s)").as("hl"))
      .collect()
    assert(rows.length == inputs.length)
    rows.foreach { r =>
      val w = r.getSeq[Long](1)
      assert(w(0) == r.getLong(2), s"md5_longs(${r.getString(0)})[0]")
      assert(w(1) == lastWord(r.getString(0)), s"md5_longs(${r.getString(0)})[1]")
    }
    // interpreted path
    inputs.foreach { s =>
      val w = Md5Longs(Literal(s)).eval(null).asInstanceOf[ArrayData]
      assert(w.getLong(0) == Md5PrefixLong(Literal(s)).eval(null))
      assert(w.getLong(1) == lastWord(s))
    }
  }

  test("ta_rolling_fp: one fingerprint per doc, deterministic") {
    val a = SparkEntry.queries("ta_rolling_fp")(spark, sf).collect()
    val b = SparkEntry.queries("ta_rolling_fp")(spark, sf).collect()
    assert(a.length == Tables.documents(spark, sf).count())
    assert(a.map(_.getLong(1)).toSeq == b.map(_.getLong(1)).toSeq)
  }

  test("mm_features: decode→resize→frame-sample pipeline shapes and determinism") {
    val ds = Multimodal.extractFeatures(spark, sf).collect()
    assert(ds.nonEmpty)
    ds.take(20).foreach { f =>
      assert(f.features.length == 16)
      assert(math.abs(f.features.sum - 1.0f) < 1e-3)
      assert(f.resized.length == 64)
      assert(f.frame_sample.length == (f.n_bytes + 15) / 16)
    }
    // stubs are pure functions of the payload
    val again = Multimodal.extractFeatures(spark, sf).collect()
    assert(ds.map(_.resized.toSeq).toSeq == again.map(_.resized.toSeq).toSeq)
    // the feature path must NOT haul the full raster; the decode path must
    assert(ds.forall(_.pixels.isEmpty))
    val withRaster = Multimodal.extractFeatures(spark, sf, keepRaster = true)
      .head(3)
    withRaster.foreach(f => assert(f.pixels.length == f.width * f.height))
  }

  test("mm_meta matches stub decode arithmetic") {
    val r = SparkEntry.queries("mm_meta")(spark, sf).head()
    val nBytes = r.getLong(r.fieldIndex("n_bytes"))
    assert(r.getInt(r.fieldIndex("width")) == 64 + nBytes % 512)
    assert(r.getInt(r.fieldIndex("n_frames")) == 1 + nBytes / 64)
  }

  test("streaming wordcount equals batch wordcount on the same files") {
    val dir = TestSpark.tempDir("stream_in")
    Files.writeString(dir.resolve("a.txt"), "the cat sat\nthe dog sat\n")
    Files.writeString(dir.resolve("b.txt"), "cat and dog\n")
    val q = StreamingWordCount.runToMemory(
      StreamingWordCount.wordCountStream(spark, dir.toString), "wc_stream")
    try {
      val got = spark.sql("SELECT word, count FROM wc_stream ORDER BY word")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq == Seq(("and", 1L), ("cat", 2L), ("dog", 2L), ("sat", 2L), ("the", 2L)))
    } finally q.stop()
  }

  test("streaming restart from checkpoint resumes state without reprocessing") {
    // run 1 processes file a; after stop, file b arrives; run 2 shares
    // the checkpoint, so its complete-mode output must be counts(a+b)
    // from RECOVERED state + the new file — if state were lost, the
    // counts would cover b only; if files were reprocessed, a's words
    // would double
    val in = TestSpark.tempDir("stream_ckpt_in")
    val ckpt = TestSpark.tempDir("stream_ckpt").toString
    Files.writeString(in.resolve("a.txt"), "the cat sat\n")
    val q1 = StreamingWordCount.runToMemoryCheckpointed(
      StreamingWordCount.wordCountStream(spark, in.toString), "wc_ckpt1", ckpt)
    q1.stop()
    Files.writeString(in.resolve("b.txt"), "the dog\n")
    val q2 = StreamingWordCount.runToMemoryCheckpointed(
      StreamingWordCount.wordCountStream(spark, in.toString), "wc_ckpt2", ckpt)
    try {
      val got = spark.sql("SELECT word, count FROM wc_ckpt2 ORDER BY word")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq ==
        Seq(("cat", 1L), ("dog", 1L), ("sat", 1L), ("the", 2L)))
    } finally q2.stop()
  }

  test("streaming windowed event counts run against parquet input") {
    val dir = TestSpark.tempDir("stream_ev")
    Tables.events(spark, sf).select("ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val q = StreamingWordCount.runToMemory(
      StreamingQueries.windowedEventCounts(spark, dir.toString, schema)
        .select("hour", "event_type", "n_events"),
      "ev_stream", mode = "complete")
    try {
      // the st_tumbling_hour stream groups by the extracted window
      // start, which carries no watermark, so it runs in complete mode
      // (append is rejected); assert the stream ran and the sink table
      // exists with the right schema
      val cols = spark.table("ev_stream").columns.toSeq
      assert(cols == Seq("hour", "event_type", "n_events"))
    } finally q.stop()
  }

  test("streaming sliding windows fan each event into 3 overlapping windows") {
    val dir = TestSpark.tempDir("stream_sl")
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:03:00"), "view", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 10:07:00"), "click", 2.0)
    ).toDF("ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val q = StreamingWordCount.runToMemory(
      StreamingQueries.slidingEventCounts(spark, dir.toString, schema),
      "sl_stream", mode = "complete")
    try {
      val got = spark.sql("SELECT win_start, n_events FROM sl_stream ORDER BY win_start")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)))
      // 10:03 lands in windows starting 09:50/09:55/10:00; 10:07 in
      // 09:55/10:00/10:05 — the two middle windows see both events.
      assert(got.toSeq == Seq(
        ("2024-01-01 09:50:00.0", 1L),
        ("2024-01-01 09:55:00.0", 2L),
        ("2024-01-01 10:00:00.0", 2L),
        ("2024-01-01 10:05:00.0", 1L)))
    } finally q.stop()
  }

  test("streaming dedup drops exact duplicates within the watermark") {
    val dir = TestSpark.tempDir("stream_dd")
    Seq(
      (1L, "the cat sat", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, "the dog sat", java.sql.Timestamp.valueOf("2024-01-01 10:01:00")),
      (3L, "the cat sat", java.sql.Timestamp.valueOf("2024-01-01 10:02:00"))
    ).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val q = StreamingWordCount.runToMemory(
      StreamingQueries.dedupStream(spark, dir.toString, schema),
      "dd_stream", mode = "append")
    try {
      val texts = spark.sql("SELECT text FROM dd_stream ORDER BY text")
        .collect().map(_.getString(0))
      assert(texts.toSeq == Seq("the cat sat", "the dog sat"))
    } finally q.stop()
  }

  test("streaming incremental dedup keeps only corpus-novel documents") {
    val dir = TestSpark.tempDir("stream_idd")
    Seq(
      (1L, "the cat sat", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, "brand new doc", java.sql.Timestamp.valueOf("2024-01-01 10:01:00")),
      (3L, "brand new doc", java.sql.Timestamp.valueOf("2024-01-01 10:02:00")),
      (4L, "also novel", java.sql.Timestamp.valueOf("2024-01-01 10:03:00"))
    ).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    // static corpus index already contains "the cat sat"
    val corpusFps = Seq("the cat sat", "old corpus doc").toDF("t")
      .select(md5($"t").as("fp"))
    val q = StreamingWordCount.runToMemory(
      StreamingWordCount.incrementalDedupStream(spark, dir.toString, schema, corpusFps),
      "idd_stream", mode = "append")
    try {
      val texts = spark.sql("SELECT text FROM idd_stream ORDER BY text")
        .collect().map(_.getString(0))
      // doc 1 is in the corpus (dropped), doc 3 self-duplicates doc 2
      assert(texts.toSeq == Seq("also novel", "brand new doc"))
    } finally q.stop()
  }

  test("streaming domain cap admits per-source quotas across micro-batches") {
    val dir = TestSpark.tempDir("stream_cap")
    Seq(
      (10L, "srcA"), (11L, "srcA"), (12L, "srcA"),
      (20L, "srcB")
    ).toDF("doc_id", "source")
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val q = StreamingWordCount.runToMemory(
      StreamingQueries.domainCapStream(spark, dir.toString, schema, 2),
      "cap_stream", mode = "append")
    try {
      // batch 1: srcA admits its 2 lowest ids, srcB its single doc
      val b1 = spark.sql("SELECT doc_id FROM cap_stream ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(b1 == Seq(10L, 11L, 20L))
      // batch 2: srcA's quota is exhausted by persisted state; srcB
      // has one admission left
      Seq((13L, "srcA"), (21L, "srcB"), (22L, "srcB"))
        .toDF("doc_id", "source")
        .coalesce(1).write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      val b2 = spark.sql("SELECT doc_id FROM cap_stream ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(b2 == Seq(10L, 11L, 20L, 21L))
    } finally q.stop()
  }

  test("streaming merge sink upserts micro-batches into a keyed parquet store") {
    val src = TestSpark.tempDir("stream_merge_src")
    val tgt = TestSpark.tempDir("stream_merge_t").resolve("store").toString
    val ckp = TestSpark.tempDir("stream_merge_ckp").toString
    Seq((1L, "v1"), (2L, "v1")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema).parquet(src.toString)
    val q = StreamingWordCount.mergeSink(stream, "doc_id", tgt, ckp)
    try {
      val s1 = spark.read.parquet(tgt).collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) -> r.getString(r.fieldIndex("text"))).toMap
      assert(s1 == Map(1L -> "v1", 2L -> "v1"))
      // batch 2: doc 2 updates, doc 3 inserts — doc 1 must survive
      Seq((2L, "v2"), (3L, "v1")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src.toString)
      q.processAllAvailable()
      val s2 = spark.read.parquet(tgt).collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) -> r.getString(r.fieldIndex("text"))).toMap
      assert(s2 == Map(1L -> "v1", 2L -> "v2", 3L -> "v1"))
    } finally q.stop()
  }

  test("streaming session windows agree with the batch sessionization (closed sessions)") {
    val dir = TestSpark.tempDir("stream_sw")
    Tables.events(spark, sf).select("ts", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val q = StreamingWordCount.runToMemory(
      StreamingQueries.sessionWindowStream(spark, dir.toString, schema),
      "sw_stream", mode = "append")
    try {
      val streamed = spark.sql("SELECT user_id, session_start, n_events FROM sw_stream")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty, "no session closed below the watermark")
      // append mode emits only watermark-finalized sessions; each must
      // appear identically in the batch session_window result
      val batch = SparkEntry.queries("ev_session_window")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(streamed.subsetOf(batch),
        s"streamed sessions not in batch result: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment is stateless and matches the batch join") {
    val dir = TestSpark.tempDir("stream_en")
    Tables.events(spark, sf).select("event_id", "user_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val dim = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
    val q = StreamingWordCount.runToMemory(
      StreamingWordCount.enrichStream(spark, dir.toString, schema, dim,
        "user_id", "c_custkey"),
      "en_stream", mode = "append")
    try {
      val got = spark.table("en_stream").count()
      val expected = spark.read.parquet(dir.toString)
        .join(dim, col("user_id") === col("c_custkey")).count()
      assert(got == expected)
      // stateless: no state-store operator in the streaming plan
      assert(!q.lastProgress.json.contains("stateOperators\":[{"),
        q.lastProgress.json)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join (inner, eager emission)") {
    val dir = TestSpark.tempDir("stream_ss")
    Tables.events(spark, sf).select("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val q = StreamingWordCount.runToMemory(
      StreamingQueries.clickAfterViewJoin(spark, dir.toString, schema),
      "ss_join", mode = "append")
    try {
      val got = spark.table("ss_join")
        .select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // inner stream-stream joins emit eagerly, so one full batch must
      // produce exactly the batch-join result
      val ev = spark.read.parquet(dir.toString)
      val expected = ev.filter(col("event_type") === "view").as("v")
        .join(ev.filter(col("event_type") === "click").as("c"),
          expr("v.user_id = c.user_id AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTES"))
        .select(col("v.event_id"), col("c.event_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("left-outer stream-stream join finalizes unconverted views via the watermark") {
    val dir = TestSpark.tempDir("stream_sso")
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type", "ts")
    ev.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val q = StreamingWordCount.runToMemory(
      StreamingQueries.clickAfterViewJoinOuter(spark, dir.toString, schema),
      "sso_join", mode = "append")
    try {
      // outer results are watermark-finalized: before any later data
      // arrives, only the eager inner matches can be in the sink.
      // Push sentinel events far past (join window + watermark delay)
      // so every original view's window falls wholly behind the
      // watermark and the unconverted ones emit with NULL click_id.
      // BOTH sides need one: the global watermark is the MIN across
      // the two streams' watermarks, so a view-only sentinel would
      // leave the click watermark pinning recent views in state.
      val maxTs = ev.agg(max("ts")).head.getTimestamp(0)
      val future = new java.sql.Timestamp(maxTs.getTime + 3 * 3600 * 1000L)
      Seq((-1L, -1L, "view", future), (-2L, -1L, "click", future))
        .toDF("event_id", "user_id", "event_type", "ts")
        .coalesce(1).write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      val got = spark.table("sso_join")
      val gotNull = got.filter(col("click_id").isNull && col("view_id") =!= -1L)
        .select("view_id").collect().map(_.getLong(0)).toSet
      val views = ev.filter(col("event_type") === "view").as("v")
      val matched = views
        .join(ev.filter(col("event_type") === "click").as("c"),
          expr("v.user_id = c.user_id AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTES"),
          "left_semi")
        .select(col("v.event_id")).collect().map(_.getLong(0)).toSet
      val allViews = views.select("event_id").collect().map(_.getLong(0)).toSet
      assert(gotNull == (allViews -- matched)) // exactly the anti set
      assert(gotNull.nonEmpty)
    } finally q.stop()
  }

  test("JobEventLog: shuffle-free queries after a shuffle log no spurious Finish_Shuffle") {
    val path = TestSpark.tempDir("joblog2").resolve("joblog2.csv").toString
    val listener = new JobEventLog(path)
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.lineitem(spark, sf).groupBy("l_returnflag").count().collect() // shuffle query
      Thread.sleep(800)
      val before = Files.readAllLines(java.nio.file.Paths.get(path))
        .stream().filter(_.contains("Finish_Shuffle")).count()
      Tables.region(spark, sf).collect() // scan-only query, no shuffle anywhere
      Thread.sleep(800)
      val after = Files.readAllLines(java.nio.file.Paths.get(path))
        .stream().filter(_.contains("Finish_Shuffle")).count()
      assert(after == before, s"scan-only query logged ${after - before} spurious Finish_Shuffle")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      listener.close()
    }
  }

  test("JobEventLog captures the reference's event vocabulary") {
    val path = TestSpark.tempDir("joblog").resolve("joblog.csv").toString
    val listener = new JobEventLog(path)
    spark.sparkContext.addSparkListener(listener)
    try {
      // a query with a shuffle → map stage + reduce (result) stage
      Tables.lineitem(spark, sf).groupBy("l_returnflag").count().collect()
      Thread.sleep(1000) // let the async listener bus drain
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      listener.close()
    }
    val events = Files.readAllLines(java.nio.file.Paths.get(path))
    def has(e: String) = events.stream().anyMatch(_.contains(e))
    assert(has("Start_Job") && has("FinishJob"))
    assert(has("Dispatch_MapTask") && has("Complete_MapTask"))
    assert(has("Dispatch_ReduceTask") && has("Complete_ReduceTask"))
    assert(has("Start_Shuffle") && has("Finish_Shuffle"))
    // Reference format (Scheduler.cc:134-139): epoch,Start_Shuffle,<kv-count>
    // — exactly one numeric argument, the intermediate pair count.
    import scala.jdk.CollectionConverters._
    val shuffleLines = events.asScala.filter(_.contains("Start_Shuffle"))
    assert(shuffleLines.nonEmpty)
    shuffleLines.foreach { line =>
      val parts = line.split(",")
      assert(parts.length == 3, s"expected epoch,Start_Shuffle,<count>: $line")
      assert(parts(2).toLong >= 0, s"KV count not a number: $line")
    }
  }

  test("O12→O13: announced intermediate pair count lands in Start_Shuffle") {
    import graft.operators.{MapReduceJob, MapReducePipeline}
    val path = TestSpark.tempDir("joblog3").resolve("joblog3.csv").toString
    val listener = new JobEventLog(path)
    val docs = Tables.documents(spark, sf)
    val job = MapReduceJob()
    // the O12 global KV count the reference MPI_Reduces (no combiner)
    val pairs = MapReducePipeline.intermediatePairCount(docs, job)
    spark.sparkContext.addSparkListener(listener)
    try {
      listener.announceIntermediatePairs(pairs)
      MapReducePipeline.run(docs, job).collect()
      Thread.sleep(1000)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      listener.close()
    }
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(java.nio.file.Paths.get(path)).asScala
    val counts = lines.filter(_.contains("Start_Shuffle")).map(_.split(",")(2).toLong)
    assert(counts.contains(pairs),
      s"no Start_Shuffle line carries the announced O12 count $pairs: $counts")
  }
}
