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
        // foreachBatch. This replica builds the SAME probe join the
        // batch body runs (batch grams, fingerprinted, vs the
        // published static index) and dumps BOTH forms, so the
        // r17-claimed join inversion is plan-visible and checkable:
        //  - r16 shape: bg LEFT SEMI staticIdx — a left-semi can only
        //    broadcast its RIGHT side, so the millions-row index
        //    shuffles+sorts every micro-batch;
        //  - r17+ shape (the code in StreamingQueries): staticIdx
        //    INNER JOIN broadcast(bg) — the served index streams
        //    through a BroadcastHashJoin, only the batch ships.
        import org.apache.spark.sql.functions._
        import graft.operators.Dedup
        val delta = Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(10)) === 7)
          .select("doc_id", "text")
        val bgk = Dedup.suffixGramsOf(delta, Dedup.SuffixSpanL)
          .select(Seq(col("doc_id"), col("p")) ++
            Dedup.gramFp(col("g")): _*)
        val staticIdx = spark.read.parquet(
          Dedup.publishedSuffixGramIndex(spark, dir))
        println("--- r16 shape: bg LEFT SEMI staticIdx ---")
        bgk.join(staticIdx, Seq("fp1", "fp2"), "left_semi")
          .select("doc_id", "p").explain("formatted")
        println("--- current shape: staticIdx INNER JOIN broadcast(bg) ---")
        staticIdx.join(broadcast(bgk), Seq("fp1", "fp2"))
          .select("doc_id", "p").explain("formatted")
      } else SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
