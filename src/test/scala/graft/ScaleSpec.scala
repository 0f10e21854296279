package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewOps

/** Executable evidence for the scale claims in SCALE.md: bucketed
  * co-located joins eliminate the exchange, salted aggregation matches
  * plain aggregation, SQL function registration works, and hot plans
  * use the optimized operators (WindowGroupLimit, TakeOrdered).
  */
class ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Tables.lineitem(spark, sf).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
      Tables.orders(spark, sf).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("salted aggregation equals plain aggregation") {
    val df = Tables.orders(spark, sf)
    val plain = df.groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("n"), sum(col("o_orderkey")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = SkewOps.saltedSumCount(df, col("o_orderstatus"), col("o_orderkey"), 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("graft SQL functions usable from spark.sql after registration") {
    val out = Graft.sql(spark, sf,
      """SELECT doc_id, rolling_hash(text) AS rh,
        |       size(word_shingles(text, 3)) AS n_sh
        |FROM documents ORDER BY doc_id LIMIT 5""".stripMargin).collect()
    assert(out.length == 5)
    assert(out.forall(r => !r.isNullAt(1)))
    val dp = Graft.sql(spark, sf,
      "SELECT dot_product(CAST(ARRAY(1.0,2.0) AS ARRAY<DOUBLE>), CAST(ARRAY(3.0,4.0) AS ARRAY<DOUBLE>)) AS d")
      .head().getDouble(0)
    assert(dp == 11.0)
    val sb = Graft.sql(spark, sf,
      "SELECT double_sortable_bits(CAST(1.5 AS DOUBLE)) AS b").head().getLong(0)
    assert(sb == graft.functions.DoubleSortableBits.sortable(1.5))
  }

  test("grouped top-k plans use WindowGroupLimit (no full-partition materialization)") {
    val plan = SparkEntry.queries("q_window_rank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"plan missing WindowGroupLimit:\n$plan")
  }

  test("join strategy hints are honored (shuffle_hash / merge)") {
    val l = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val sh = l.join(o.hint("shuffle_hash"), l("l_orderkey") === o("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(sh.contains("ShuffledHashJoin"), s"plan:\n$sh")
    val sm = l.join(o.hint("merge"), l("l_orderkey") === o("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(sm.contains("SortMergeJoin"), s"plan:\n$sm")
  }

  // Spark's engine-opaque sketch builtins stay pinned here (their
  // register layouts are not SQL-reproducible, so they can never be
  // oracle rows); since round 9 the q_approx_* QUERIES run the
  // engine's own integer sketches and are fully oracle-gated instead.
  test("approx_percentile within 5% of the exact quantile") {
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("a"),
        expr("percentile(l_extendedprice, 0.5)").as("e"))
      .collect().foreach { r =>
        val approx = r.getDouble(r.fieldIndex("a"))
        val exact = r.getDouble(r.fieldIndex("e"))
        assert(math.abs(approx - exact) / exact < 0.05,
          s"approx=$approx exact=$exact")
      }
  }

  test("approx_count_distinct within its error bound of the exact count") {
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("a"),
        countDistinct(col("l_partkey")).as("e"))
      .collect().foreach { r =>
        val approx = r.getLong(r.fieldIndex("a")).toDouble
        val exact = r.getLong(r.fieldIndex("e")).toDouble
        assert(math.abs(approx - exact) / exact < 0.15,
          s"approx=$approx exact=$exact")
      }
  }

  test("q_approx_quantile: histogram-sketch error bounded by one bucket width") {
    SparkEntry.queries("q_approx_quantile")(spark, sf).collect().foreach { r =>
      for (tag <- Seq("median", "p95")) {
        val est = r.getLong(r.fieldIndex(s"est_${tag}_cents"))
        val exact = r.getLong(r.fieldIndex(s"exact_${tag}_cents"))
        assert(est >= exact && est - exact <= 1023L,
          s"$tag: est=$est exact=$exact — outside the bucket-ceiling contract")
      }
    }
  }

  test("q_approx_distinct: fixed-point HLL within 15% of exact per group") {
    SparkEntry.queries("q_approx_distinct")(spark, sf).collect().foreach { r =>
      val est = r.getLong(r.fieldIndex("est_parts")).toDouble
      val exact = r.getLong(r.fieldIndex("exact_parts")).toDouble
      assert(math.abs(est - exact) / exact < 0.15, s"est=$est exact=$exact")
    }
  }

  test("ss_topk_agg aggregates with the bounded heap (no window sort)") {
    val df = SparkEntry.queries("ss_topk_agg")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // The UDAF path must plan as an (object) aggregation, not a window:
    // partial aggregates keep K rows each, so the shuffle is O(K·groups).
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"plan missing aggregate:\n$plan")
    assert(!plan.contains("Window"), s"plan still windows:\n$plan")
    // And it must produce exactly the window form's rows.
    val viaWindow = SparkEntry.queries("ss_bruteforce_topk")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq == viaWindow)
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // one hot key dominating the fact side — the shape salting guards
    // against; with thresholds scaled down to test size, AQE's
    // OptimizeSkewedJoin must split the hot partition instead of
    // letting one task drag the stage
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true"),
      "spark.sql.autoBroadcastJoinThreshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.range(0, 60000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          concat(lit("payload_payload_payload_"), col("id")).as(("v")))
      val dim = spark.range(0, 60000).select(col("id").as("k"), lit("d").as("dv"))
      val joined = fact.join(dim.hint("merge"), "k")
      joined.collect() // materialize THIS plan so AQE finalizes it
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in plan:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("partitioned parquet write prunes partitions at read time") {
    val dir = TestSpark.tempDir("graft_part").toString
    Tables.documents(spark, sf).write.mode("overwrite").partitionBy("lang").parquet(dir)
    val lang = spark.read.parquet(dir).select("lang").head.getString(0)
    val df = spark.read.parquet(dir).filter(col("lang") === lang)
    // the partition predicate must prune at file-listing time: the scan
    // reads strictly fewer files than the directory holds (inputFiles
    // on the unfiltered read = all partitions)
    df.collect() // materialize THIS plan instance so its metrics populate
    val scan = df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(dir).inputFiles.length
    assert(filesRead > 0 && filesRead < totalFiles,
      s"no pruning: read $filesRead of $totalFiles files")
    assert(scan.toString.contains("PartitionFilters"), scan.toString)
  }

  test("Dataset.intersectAll/exceptAll agree with q_setops_all's single-pass form") {
    // the registered query computes the multiset ops from one
    // multiplicity aggregation; this pins Spark's native ALL-operators
    // against it, so the operator surface itself stays exercised
    val o = Tables.orders(spark, sf)
    val a = o.filter(col("o_totalprice") > 150000).select(col("o_orderstatus"))
    val b = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderstatus"))
    val native =
      a.intersectAll(b).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        .union(a.exceptAll(b).groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all")))
        .select(col("op"), col("o_orderstatus"), col("n"))
        .orderBy("op", "o_orderstatus")
        .collect().map(_.toSeq).toSeq
    val emulated = SparkEntry.queries("q_setops_all")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(native == emulated)
  }

  test("parquet schema evolution: mergeSchema unions batches with added columns") {
    // the ingestion reality at 100 TB: later batches carry new columns;
    // a mergeSchema read must union the schemas and null-fill old rows
    val dir = TestSpark.tempDir("graft_evolve").toString
    val v1 = Tables.region(spark, sf).select(col("r_regionkey"), col("r_name"))
    val v2 = Tables.region(spark, sf)
      .select(col("r_regionkey"), col("r_name"),
        length(col("r_name")).cast("long").as("comment_len"))
    v1.write.parquet(s"$dir/batch=1")
    v2.write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("r_regionkey", "r_name", "comment_len", "batch"))
    assert(merged.count() == v1.count() * 2)
    // old-batch rows are null-filled in the new column; new-batch rows aren't
    assert(merged.filter(col("batch") === 1 && col("comment_len").isNotNull).count() == 0)
    assert(merged.filter(col("batch") === 2 && col("comment_len").isNull).count() == 0)
  }

  test("nested schema pruning: struct field selection reaches the parquet scan") {
    // multimodal/metadata structs at 100 TB: selecting one field of a
    // struct must prune the scan to that subfield, not read the struct
    val dir = TestSpark.tempDir("graft_nested").toString
    Tables.documents(spark, sf)
      .select(col("doc_id"),
        struct(col("lang").as("l"), col("text").as("t"),
          length(col("text")).as("len")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select(col("doc_id"), col("meta.len"))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val readSchema = scan.requiredSchema.catalogString
    assert(readSchema.contains("len") && !readSchema.contains("t:string"),
      s"struct not pruned: $readSchema")
    assert(df.count() == Tables.documents(spark, sf).count())
  }

  test("ORC round-trip preserves rows and schema") {
    val dir = TestSpark.tempDir("graft_orc").toString
    val src = Tables.orders(spark, sf)
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.agg(sum(col("o_orderkey"))).head.getLong(0) ==
      src.agg(sum(col("o_orderkey"))).head.getLong(0))
  }

  test("binned range join plans as an equi-join, not a nested loop") {
    val df = SparkEntry.queries("ev_range_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"range join fell back to a loop:\n$plan")
    // and it agrees with the naive inequality join on this small scale
    val ev = Tables.events(spark, sf)
    val iv = ev.filter(col("event_id") < 40)
      .select(col("event_id").as("interval_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
    val naive = ev.select(col("user_id"), col("ts")).join(iv,
        col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .groupBy("interval_id")
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("interval_id")
    assert(df.collect().map(_.toSeq).toSeq == naive.collect().map(_.toSeq).toSeq)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // the partition-elimination story for star joins at 100 TB: the
    // fact side is partitioned by the join key's column, the dim side
    // is filtered, and the fact scan must carry a dynamicpruning
    // subquery instead of reading every partition
    val dir = TestSpark.tempDir("graft_dpp").toString
    Tables.documents(spark, sf).write.mode("overwrite").partitionBy("lang").parquet(dir)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10")
    try {
      val fact = spark.read.parquet(dir)
      // DPP fires only when the build side carries a selective filter —
      // and the filter must survive optimization, so the dim is a file
      // source (a local relation would constant-fold the predicate away)
      val dimDir = TestSpark.tempDir("graft_dpp_dim").toString
      Seq(("en", 1), ("de", 2), ("es", 3)).toDF("d_lang", "flag")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).filter(col("flag") === 1)
      val j = fact.join(dim, fact("lang") === dim("d_lang"))
        .groupBy("lang").count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), s"no DPP subquery in plan:\n${plan.take(2000)}")
      assert(j.collect().length == 1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("runtime bloom filter injected from a selective dim filter (100 TB semi-join pruning)") {
    // InjectRuntimeFilter: when one shuffle-join side carries a
    // selective filter, Spark builds a bloom filter over its join keys
    // at runtime and applies it on the other side BEFORE the shuffle —
    // at 100 TB this prunes most of the fact-table shuffle for
    // dim-filtered joins that can't broadcast. The application-side
    // size threshold defaults to 10GB; lower it to test scale.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") || optimized.contains("bloom"),
        s"no runtime filter injected:\n${optimized.take(2000)}")
      // and it agrees with the unfiltered-plan row count
      assert(j.count() > 0)
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("global top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("q_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  // AQE wraps the tree in AdaptiveSparkPlanExec whose `collect` doesn't
  // descend into the inner plan; disable it for structural assertions.
  // Restore whatever value the shared session had, not a literal.
  private def nonAdaptivePlan(name: String) = {
    val saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("bigram model builds carry no window: c1 and top-5 come from aggregation") {
    import org.apache.spark.sql.execution.window.WindowExec
    // A w1-partitioned window sorts one head word's entire successor
    // set in a task — 10⁷⁺ rows for a Zipfian head at web scale. The
    // model's c1 is a groupBy+join (doc_lm) or rides the same
    // aggregation as the bounded-heap top-5 UDAF (bigram_lm), so
    // neither plan may contain any WindowExec at all.
    Seq("ta_bigram_lm", "ta_doc_lm_score").foreach { q =>
      val plan = nonAdaptivePlan(q)
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"$q still windows:\n$plan")
    }
  }

  test("ta_zipf: every window is fed by a top-K limit, never the vocabulary") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("ta_zipf")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected rank windows in:\n$plan")
    windows.foreach { w =>
      assert(w.child.collectFirst { case t: TakeOrderedAndProjectExec => t }.isDefined,
        s"window runs over an unbounded input (no TakeOrderedAndProject below):\n$plan")
    }
  }

  test("pipe_stratified_sample: no unpartitioned window; ranking is per-(lang, bucket)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("pipe_stratified_sample")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected windows in:\n$plan")
    // Corpus rows are only ever ranked inside a (lang, bucket) group —
    // 1/256th of a stratum; the lang-partitioned windows run over the
    // langs×256 bucket-count aggregate, never the raw corpus.
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window found:\n$plan")
    assert(windows.exists(_.partitionSpec.size >= 2),
      s"no (lang, bucket)-partitioned boundary ranking found:\n$plan")
  }

  test("q_exact_quantiles: row ranking is bucket-scoped; unpartitioned windows see only aggregates") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("q_exact_quantiles")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected windows in:\n$plan")
    // The cumulative windows run over the per-bucket count aggregate
    // (bounded by the value domain / bucket width); raw rows are only
    // ranked inside the boundary bucket, partitioned by stat.
    windows.foreach { w =>
      val overAggregate =
        w.child.collectFirst { case a: BaseAggregateExec => a }.isDefined
      assert(w.partitionSpec.nonEmpty || overAggregate,
        s"unpartitioned window over raw rows:\n$plan")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"no per-stat boundary ranking window found:\n$plan")
  }

  test("pipe_zorder: every 12-bit z-prefix bucket is a quad-tree cell (span < 2^10 per dim)") {
    // The data-skipping guarantee the curve exists for: a z-prefix
    // range maps to a bounded rectangle in BOTH dimensions, so parquet
    // min/max stats on z prune filters on either one.
    val rows = SparkEntry.queries("pipe_zorder")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (zb, users, minutes) = (r.getLong(0),
        r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4))
      assert(users < 1024, s"z_bucket $zb spans $users user ids")
      assert(minutes < 1024, s"z_bucket $zb spans $minutes minute codes")
    }
  }

  test("ss_quantize_int8: the d-row stats frame broadcasts; no window, no sort-merge") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("ss_quantize_int8")
    assert(plan.collectFirst { case b: BroadcastHashJoinExec => b }.isDefined,
      s"per-dimension stats must broadcast back, not shuffle the corpus:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"quantization is scan + broadcast join + one aggregation — no window:\n$plan")
  }

  test("sk_hll_registers: the sketch fold partial-aggregates before the exchange") {
    // The HLL scale contract: every task collapses its corpus slice
    // to <=256 register rows MAP-SIDE, so the one exchange carries
    // O(registers x tasks) rows regardless of token volume. partial_max
    // must appear below Exchange in the plan; a distinct() or a
    // final-only aggregation would ship the token stream instead.
    val plan = nonAdaptivePlan("sk_hll_registers").toString
    val partialIdx = plan.indexOf("partial_max")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no map-side partial max:\n$plan")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial_max must sit BELOW the exchange (plans print top-down):\n$plan")
  }

  test("sweep-line interval ops: every window is hour-partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    // The running concurrency sum must never be a corpus-sized global
    // window: the only unpartitioned window allowed is the carry-in
    // cumulative over the calendar-bounded hour frame. Check every
    // WindowExec in both plans has non-empty partitionSpec except ones
    // whose child is already an aggregated (hour-keyed) frame.
    Seq("ev_peak_concurrency", "ev_hour_utilization").foreach { q =>
      val plan = nonAdaptivePlan(q)
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q: expected windows in plan")
      val unpartitioned = windows.filterNot(_.partitionSpec.nonEmpty)
      // the carry frame window runs over groupBy("hour") output — its
      // subtree must contain an aggregate, never a raw events scan
      unpartitioned.foreach { w =>
        val sub = w.child.toString
        assert(sub.contains("HashAggregate"),
          s"$q: unpartitioned window over non-aggregated input:\n$w")
      }
    }
  }

  test("dd_winnowing: every window is doc-partitioned (never corpus-global)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("dd_winnowing")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the selection + count windows")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"winnowing must window per doc, found a global window:\n$plan")
  }

  test("q_skyline: running max over aggregates only; survivors broadcast back") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("q_skyline")
    assert(plan.collectFirst { case b: BroadcastHashJoinExec => b }.isDefined,
      s"the <=50-row skyline frame must broadcast back to the cells:\n$plan")
    // the only unpartitioned window (the running max over x) must sit
    // above the per-x aggregate, never the raw lineitem scan
    plan.collect { case w: WindowExec => w }
      .filterNot(_.partitionSpec.nonEmpty).foreach { w =>
        assert(w.child.toString.contains("HashAggregate"),
          s"unpartitioned running max over non-aggregated input:\n$w")
      }
  }

  test("pipe_epoch_order: each epoch leg is a bounded TakeOrdered heap, not a sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.SortExec
    val plan = nonAdaptivePlan("pipe_epoch_order")
    val takeOrdered = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(takeOrdered.size >= 3,
      s"expected one TakeOrderedAndProject per epoch leg:\n$plan")
    // sorts may only run ABOVE the bounded heaps (the 20-row window
    // sort and the 60-row presentation sort) — a SortExec whose
    // subtree has no TakeOrdered would be a corpus-sized epoch sort
    plan.collect { case s: SortExec => s }.foreach { s =>
      assert(s.collectFirst { case t: TakeOrderedAndProjectExec => t }.isDefined,
        s"corpus-level sort outside the bounded heaps:\n$s")
    }
  }

  test("ev_changepoint: every spine window is event_type-partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("ev_changepoint")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"changepoint windows must partition by event_type:\n$plan")
  }

  test("round-9 tail rows: model-frame analytics plan without any window") {
    import org.apache.spark.sql.execution.window.WindowExec
    // Each of these aggregates a corpus scan into a domain-bounded
    // model frame (QI×sensitive, 2×2 confusion, 9 digits, per-doc
    // type counts) — a WindowExec anywhere would mean a rank/ntile
    // crept in where aggregation suffices.
    Seq("pipe_l_diversity", "ta_quality_kappa", "ev_benford",
      "ta_simpson").foreach { q =>
      val plan = nonAdaptivePlan(q)
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"$q grew a window operator:\n$plan")
    }
  }

  test("ev_rfm: quintile scoring via broadcast cutoffs, no window anywhere") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("ev_rfm")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"RFM must assign scores by broadcast cutoff compare (the q_ntile " +
        s"doctrine), not an NTILE window:\n$plan")
    assert(plan.toString.contains("BroadcastExchange"),
      s"cutoff frame should broadcast:\n$plan")
  }

  test("ev_bot_regularity: user-partitioned gap windows + bounded top-10 heap") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val plan = nonAdaptivePlan("ev_bot_regularity")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"gap lead must window per user:\n$plan")
    assert(plan.collectFirst { case t: TakeOrderedAndProjectExec => t }.isDefined,
      s"top-10 must ride a bounded heap:\n$plan")
  }

  test("pipe_dataset_card: the only window partitions by source") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = nonAdaptivePlan("pipe_dataset_card")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"modal-language pick must window the source×lang model frame:\n$plan")
  }

  test("ev_dau_wau: the trailing-window join broadcasts the day spine") {
    val plan = nonAdaptivePlan("ev_dau_wau").toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"day spine must broadcast into the range join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"trailing-window join must not plan as a shuffled cartesian:\n$plan")
  }

  test("sign-bucket dial: bits grow with n, occupancy holds as the corpus scales") {
    // The round-9 computed dial (Vec.signBucketBits): bits =
    // clamp(bitlen(n) − 4, [4, 32]) must (a) match its formula,
    // (b) grow monotonically with n, and (c) keep mean per-bucket
    // occupancy in a constant band as n scales 64× — the property
    // that keeps the within-bucket self-join linear at 100 TB
    // (fixed bucket spaces go quadratic; that was ss_graph_expand's
    // round-7 flag).
    import graft.operators.Vec
    def mk(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), " +
        "d -> CAST(pmod(hash(id * 64 + d), 7) - 3 AS FLOAT))").as("embedding"))
    val results = Seq(512L, 4096L, 32768L).map { n =>
      val v = Vec.bucketedVectors(mk(n))
      val bits = v.select("bits").head.getInt(0)
      val expectBits = math.max(4, math.min(32,
        (64 - java.lang.Long.numberOfLeadingZeros(n)) - 4))
      assert(bits == expectBits, s"n=$n bits=$bits expected=$expectBits")
      val occ = v.groupBy("bucket").count()
        .agg(avg("count")).head.getDouble(0)
      (n, bits, occ)
    }
    assert(results.map(_._2) == results.map(_._2).sorted, "bits must be monotone in n")
    results.foreach { case (n, _, occ) =>
      // design band is 8–16 expected; allow sign-correlation slack
      assert(occ >= 2.0 && occ <= 64.0, s"n=$n mean occupancy $occ off the dial band")
    }
  }
}
