package graft
/** Dev utility: print formatted physical plans for selected queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args.last else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.dropRight(1).toSeq
      else Seq("q_filter_project", "q_join_broadcast", "wordcount", "q1_agg",
        "ev_asof_order", "ev_range_join", "dd_minhash", "dd_simhash64_pairs",
        "q_ntile", "ss_topk_agg")
    val spark = Session("graft-explain")
    // plans only on the console: no WARN lines between them
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      if (n == "st_suffix_admit_batch") {
        // The streaming row's returned frame is a checkpoint scan —
        // the interesting plan lives per micro-batch inside
        // foreachBatch. This runs the row's own probe join
        // (StreamingQueries.suffixProbe) over the whole delta as one
        // batch with no prior segments, against the published static
        // index. The pre-inversion plan (bg LEFT SEMI staticIdx) is
        // kept in plans/r18/st_suffix_admit_before.txt.
        import org.apache.spark.sql.functions._
        import graft.operators.Dedup
        import graft.streaming.StreamingQueries
        val delta = Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(10)) === 7)
          .select("doc_id", "text")
        val bg = StreamingQueries.suffixBatchGrams(delta)
        val staticIdx = spark.read.parquet(
          Dedup.publishedSuffixGramIndex(spark, dir))
        val noPrior = bg.select("fp1", "fp2").limit(0)
        StreamingQueries.suffixProbe(staticIdx, noPrior, bg)
          .explain("formatted")
      } else SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
