package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench.clock
import graft.operators.{GraphQueries, PipelineQueries}

/** Scale-stress harness: amplifies the sf0.1 testdata N× into a temp
  * dir (ids offset per copy so keys stay unique where they should, and
  * texts become exact dup groups of size N — the dup-heavy-corpus worst
  * case for the dedup family), then runs the REAL SparkEntry queries
  * against it and prints per-query wall-clock. Usage:
  * `runMain graft.Stress [factor] [queries...]`, or
  * `runMain graft.Stress curve [f1,f2,...] [queries...]` for the
  * scaling-curve fit. The named probes of earlier rounds are retired;
  * SCALE.md records their numbers.
  */
object Stress {

  /** Times one count of `df`; a failure prints and records rows=-1
    * instead of ending the run.
    */
  private def timed(name: String)(df: => DataFrame): Unit = {
    val (rows, sec) = clock(try df.count() catch { case e: Throwable =>
      System.err.println(s"$name FAILED: ${e.getMessage}"); -1L })
    println(f"STRESS $name rows=$rows time=$sec%.1f")
  }

  /** Writes `f` copies of table `name` from `src` to `dst`, copy i with
    * `i * stride` added to each id column. The default sparse 10⁸
    * stride keeps every mod-10/mod-97 slice class (so the delta/forget
    * slices amplify with the corpus) and stays far inside the
    * doc_id·2²⁰ positional pack's long range.
    */
  private def amplify(spark: SparkSession, src: String, dst: String, f: Int,
      name: String, idCols: Seq[String], stride: Long = 100000000L): Unit = {
    val base = Tables.load(spark, src, name)
    (0 until f).map(i => idCols.foldLeft(base)((df, c) =>
        df.withColumn(c, col(c) + lit(i * stride))))
      .reduce(_.union(_)).write.mode("overwrite").parquet(s"$dst/$name.parquet")
  }

  /** One untimed run of each query on `dir`: the first action in a
    * fresh session pays ~5-10 s of executor + whole-stage-codegen
    * startup, the same order as a 1× measurement.
    */
  private def warm(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, dir).count()
      catch { case e: Throwable => System.err.println(s"warmup $q FAILED: ${e.getMessage}") }
    }

  /** Scaling-curve probe for the exact-audit tier (round-9 mandate):
    * run the expensive exact/graph queries at 1×/5×/20×/50× corpus
    * amplification and fit t ∝ f^α and t ∝ rows^β by least squares on
    * the log-log points. The claims under test: dd_containment /
    * dd_jaccard_prefix are OUTPUT-dominated — their true-pair count
    * grows ~f² under copy-amplification (each doc gains f−1 exact
    * clones), so α≈2 is EXPECTED and β≈1 (linear in emitted pairs) is
    * the non-quadratic-blowup evidence; ss_graph_expand's trained-IVF
    * edge build must hold α ≈ 1.5 (edge volume O(n^1.5)), nowhere near
    * the all-pairs α = 2 with β following edges, not pairs².
    * Args: [f1,f2,...] [names...] — the default sweep keeps the
    * round-9 exact-audit trio at 1/5/20/50.
    */
  private def curve(spark: SparkSession, rest: Seq[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val (factors, names) = rest match {
      case fs +: ns if fs.matches("[0-9]+(,[0-9]+)*") => (fs.split(",").toSeq.map(_.toInt), ns)
      case ns => (Seq(1, 5, 20, 50), ns)
    }
    val queries =
      if (names.nonEmpty) names
      else Seq("dd_containment", "dd_jaccard_prefix", "ss_graph_expand")
    val results = scala.collection.mutable.Map[String, List[(Int, Long, Double)]]()
      .withDefaultValue(Nil)
    // Spill-not-buffer evidence (round-11 verdict #8): per run, record
    // total shuffle/agg spill and the PEAK single-task execution
    // memory. The bounded-buffer contract of the salted PairGen path
    // predicts peak task memory stays ~FLAT as the factor grows
    // (oversized buckets spill through sort-merge); a peak that scales
    // with the factor would mean some operator buffers a bucket.
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakTask = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
            peakTask.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
          }
        }
      })
    // outside the fit: dd_dbscan's 1× point measured 11.5 s cold vs
    // 2-3 s warm, which bends every fitted exponent down
    warm(spark, src, queries)
    factors.foreach { f =>
      val dst = Scratch.temp(s"graft_curve_$f")
      amplify(spark, src, dst, f, "documents", Seq("doc_id"))
      amplify(spark, src, dst, f, "embeddings", Seq("vec_id"))
      // part amplifies with CONTIGUOUS key offsets (i·|part|, not the
      // sparse 10⁸ stride) so the key-derived BOM hierarchy (parent =
      // key DIV 8) chains the copies into ONE deeper forest — the
      // recursion actually gains levels (depth = log₈ n) instead of
      // orphaning every copy's parents. lineitem amplifies rows under
      // the SAME part key domain — the rising-duplication regime where
      // the bitmap distinct's stage-1 frame must stay constant while
      // row count grows.
      amplify(spark, src, dst, f, "part", Seq("p_partkey"),
        stride = Tables.load(spark, src, "part").count())
      amplify(spark, src, dst, f, "lineitem", Seq("l_orderkey"))
      queries.foreach { n =>
        spillMem.set(0L); spillDisk.set(0L); peakTask.set(0L)
        val (rows, secs) = clock(try SparkEntry.queries(n)(spark, dst).count()
          catch { case e: Throwable =>
            System.err.println(s"$n@$f FAILED: ${e.getMessage}"); -1L })
        Thread.sleep(1500) // listener bus drains async; timing is done
        println(f"CURVE $n factor=$f rows=$rows time=$secs%.1f " +
          f"spill_mem_mb=${spillMem.get() / 1048576} " +
          f"spill_disk_mb=${spillDisk.get() / 1048576} " +
          f"peak_task_mem_mb=${peakTask.get() / 1048576}")
        if (rows >= 0) results(n) = results(n) :+ ((f, rows, secs))
      }
    }
    def slope(pts: Seq[(Double, Double)]): Double = {
      val n = pts.length
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    queries.foreach { n =>
      val pts = results(n)
      if (pts.length >= 3) {
        val a = slope(pts.map(p => (math.log(p._1.toDouble), math.log(p._3))))
        val b = slope(pts.filter(_._2 > 0)
          .map(p => (math.log(p._2.toDouble), math.log(p._3))))
        println(f"CURVEFIT $n alpha_vs_factor=$a%.2f beta_vs_rows=$b%.2f " +
          pts.map(p => s"${p._1}x:${p._3.formatted("%.1f")}s/${p._2}r").mkString(" "))
      }
    }
  }

  /** The default mode: every listed query over a `factor`× copy of
    * sf0.1, then the skew probes. Args: [factor] [queries...]
    */
  private def amplified(spark: SparkSession, args: Seq[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(20)
    val names = if (args.length > 1) args.drop(1)
      else Seq("wordcount", "q1_agg", "q_join_large", "ta_tfidf",
        "dd_exact", "dd_minhash", "dd_ngram_jaccard", "dd_simhash64_pairs",
        "dd_embed_multiprobe", "dd_clusters", "dd_survivors", "ev_range_join",
        "pipe_pack_sequences", "q_ntile", "ta_repetition",
        "ss_bruteforce_topk", "pipe_clean_corpus", "pipe_full_clean",
        "ta_bm25", "dd_knn_graph", "dd_pagerank", "dd_pagerank_directed",
        "ss_kmeans_step", "ta_zipf", "pipe_stratified_sample",
        "ss_hybrid_rrf_multi", "dd_jaccard_prefix", "q_exact_quantiles",
        "pipe_merge_upsert", "pipe_incremental_dedup", "dd_repeated_spans",
        "pipe_domain_cap", "ta_heavy_hitters", "ta_bpe_merge",
        "pipe_chunk_overlap", "mm_audio_wav", "ta_quality_lr",
        "dd_semantic_survivors", "ss_ann_recall", "mm_video_mp4",
        "dd_lsh_recall", "dd_lsh_band_sweep", "pipe_split_leakage",
        "ss_quantize_int8", "pipe_zorder", "q_winsorize",
        "ta_compress_ratio", "ta_sentences", "pipe_shard_manifest",
        "ev_asof_nearest", "ev_sliding_15m",
        "ss_pq_encode", "ss_pq_adc", "ss_ivfpq_search",
        "dd_containment", "dd_containment_capped",
        "dd_exact_normalized", "q_histogram_equidepth",
        "ss_pq_recall", "ss_embed_cov", "ta_langid_mixed",
        "dd_semantic_text_check",
        "dd_cdc_chunks", "mm_phash_pairs", "pipe_dsir_weights",
        "pipe_token_budget", "pipe_ppl_buckets", "ss_ivf_nprobe",
        "ss_ivf_recall", "ss_pca_top2",
        "ta_trigram_backoff", "dd_label_prop", "ev_anomaly",
        "ta_lang_entropy", "ev_markov", "pipe_pack_stats",
        "sk_hll_merge", "sk_cms_heavy", "sk_kmv_distinct",
        "ta_collocations", "ev_peak_concurrency", "ev_hour_utilization",
        "sk_kmv_intersect", "sk_cms_merge", "ev_conc_histogram",
        "ta_quality_calibration", "pipe_join_maintenance",
        "pipe_scd2_history", "q_dq_checks",
        // round-10 rows over the amplified tables (ev_* rows ride the
        // un-amplified events copy and are stressed by their own
        // bounded-frame construction instead)
        "ta_nb_train", "ta_nb_score", "ta_feature_hash", "ta_kn_bigram",
        "ta_vocab_coverage", "ta_pr_curve", "dd_dbscan", "ss_adamic_adar",
        "mm_frame_diff", "mm_wav_downsample", "q_approx_quantile",
        "ta_burrows_delta", "ta_js_drift", "ta_char_entropy",
        "mm_pgm_equalize", "dd_cluster_agreement",
        "dd_cluster_weakest_link", "pipe_rebalance_plan")
    val src = "/root/testdata/sf0.1"
    val dst = Scratch.temp("graft_stress")
    amplify(spark, src, dst, factor, "documents", Seq("doc_id"))
    amplify(spark, src, dst, factor, "embeddings", Seq("vec_id"))
    amplify(spark, src, dst, factor, "lineitem", Seq("l_orderkey"))
    amplify(spark, src, dst, factor, "orders", Seq("o_orderkey"))
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      amplify(spark, src, dst, 1, t, Seq())
    }
    // events: ts is ns-long in the raw file; copy as-is
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    amplify(spark, src, dst, 1, "events", Seq())

    println(s"STRESS factor=$factor dir=$dst docs=" +
      spark.read.parquet(s"$dst/documents.parquet").count())
    names.foreach(n => timed(n)(SparkEntry.queries(n)(spark, dst)))

    // Sharded sequence packing: the (lang, shard) re-keying SCALE.md
    // names as the 100 TB form — parallelism = langs × shards instead
    // of capping at the language count.
    timed("pack_by_lang_shard") {
      PipelineQueries.packBySharded(spark, dst, 32)
    }

    // Zipfian-stratum probe for the two-phase stratified sampler: 90%
    // of the amplified corpus collapsed into one language — the
    // dominant-stratum shape that would hang a per-stratum window. The
    // two-phase plan ranks only the boundary bucket (~1/256 of the hot
    // stratum), so this completes in aggregate-scan time.
    val skewDir = s"$dst/docs_skew"
    spark.read.parquet(s"$dst/documents.parquet")
      .withColumn("lang",
        when(pmod(col("doc_id"), lit(10)) < 9, lit("en")).otherwise(col("lang")))
      .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
    timed("stratified_sample_zipf_lang") {
      SparkEntry.queries("pipe_stratified_sample")(spark, skewDir)
    }

    // Hot-bucket probe for the two-phase exact quantiles: 90% of the
    // price column collapsed into ONE range bucket, so a target rank
    // lands in a bucket holding 90% of all rows — the worst case for
    // "rank only the boundary bucket" (the uniform domain leaves
    // ~1/100th of the column there). Measures how the plan degrades
    // when the value domain is Zipfian rather than spread.
    val qskewDir = s"$dst/lineitem_skew"
    spark.read.parquet(s"$dst/lineitem.parquet")
      .withColumn("l_extendedprice",
        when(pmod(col("l_orderkey"), lit(10)) < 9,
          lit(1000.0) + pmod(col("l_orderkey"), lit(999)).cast("double"))
          .otherwise(col("l_extendedprice")))
      .write.mode("overwrite").parquet(s"$qskewDir/lineitem.parquet")
    timed("exact_quantiles_hot_bucket") {
      SparkEntry.queries("q_exact_quantiles")(spark, qskewDir)
    }

    // Hub-graph triangle probe: one "boilerplate" doc paired with every
    // other doc (the worst case dd_degree_hist detects) plus a rim
    // path. Id-oriented wedge generation would enumerate C(hub_deg, 2)
    // ≈ 1.3e11 wedges from the hub alone; degree orientation caps the
    // hub's out-degree, so wedge volume stays O(m^1.5) and the count
    // finishes in join time.
    val hubDeg = 500000L
    val hubEdges = spark.range(1, hubDeg + 1)
      .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val rimEdges = spark.range(1, hubDeg)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    timed("triangles_hub_graph") {
      GraphQueries.triangleCount(hubEdges.union(rimEdges))
    }
  }

  private def run(mode: String)(body: SparkSession => Unit): Unit = {
    val spark = Session(s"graft-stress-$mode")
    try body(spark) finally spark.stop()
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("curve") => run("curve")(curve(_, args.toSeq.drop(1)))
    case _ => run("amplified")(amplified(_, args.toSeq))
  }
}
