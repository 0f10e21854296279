package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 verdict #4 — the ANN index persistence lifecycle:
  * ss_ivf_persist_build publishes the trained IVF + PQ codebooks as
  * parquet index tables; ss_ivf_persist_search serves from the
  * READ-BACK tables with zero training in its lineage.
  */
class IvfPersistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  test("build publishes the three index tables; census is non-empty") {
    val build = SparkEntry.queries("ss_ivf_persist_build")(spark, dir)
    assert(build.count() > 0)
    // the engine's absolute anchor (graft.index.root prop / tmpdir),
    // so this spec keeps passing regardless of the launching CWD
    val root = graft.operators.Similarity.indexRoot(dir)
    for (t <- Seq("centroids", "assignments", "pq_codebook"))
      assert(new java.io.File(s"$root/$t").isDirectory, s"missing index table $t")
    // the assignment is partitioned BY CELL — the physical layout that
    // lets a single-probe search read one partition directory
    val cells = new java.io.File(s"$root/assignments").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(cells.nonEmpty, "assignments not partitioned by cent_id")
  }

  test("read-back search is row-identical to the in-session search") {
    val persisted = SparkEntry.queries("ss_ivf_persist_search")(spark, dir)
    val live = SparkEntry.queries("ss_ivf_search")(spark, dir)
    assert(persisted.collect().toSeq == live.collect().toSeq,
      "persisted-index search diverged from the live-trained search")
  }

  test("admission assigns against read-back centroids — no retrain (plan-pinned)") {
    // the delta-assignment path itself (what ss_ivf_admit writes):
    // centroid side must be a published-table scan, never a Lloyd
    // lineage (checkpointed-RDD scan)
    val plan = graft.operators.Similarity.admitDeltaAssignment(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_index"),
      "admission does not read the published centroid table")
    assert(!plan.contains("ExistingRDD"),
      "training lineage leaked into the delta-admission plan")
  }

  test("ss_ivf_admit: delta segment published, census consistent, drift flags sane") {
    val out = SparkEntry.queries("ss_ivf_admit")(spark, dir).collect()
    assert(out.nonEmpty)
    // every cell row conserves counts and the ppm field is the
    // advertised integer formula
    val k = out.length.toLong
    val nAfter = out.map(_.getAs[Long]("n_total")).sum
    out.foreach { r =>
      assert(r.getAs[Long]("n_total") ==
        r.getAs[Long]("n_base") + r.getAs[Long]("n_delta"))
      val ppm = (BigInt(r.getAs[Long]("n_total")) * 1000000 * k / nAfter).toLong
      assert(r.getAs[Long]("occ_ppm_of_mean") == ppm)
      assert(r.getAs[Boolean]("rebalance") ==
        (ppm > graft.operators.Similarity.AdmitRebalancePpm))
    }
    // the delta segment exists on disk, cent_id-partitioned
    val root = graft.operators.Similarity.indexRoot(dir)
    val cells = new java.io.File(s"$root/assignments_delta").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(cells.nonEmpty, "delta segment not partitioned by cent_id")
  }

  test("ss_ivf_rebalance: worst cell split, republished, census conserved") {
    val admit = SparkEntry.queries("ss_ivf_admit")(spark, dir).collect()
    val out = SparkEntry.queries("ss_ivf_rebalance")(spark, dir).collect()
    // exactly two sub-cells, both non-empty, ids past every admit cell
    val split = out.filter(_.getAs[Boolean]("from_split"))
    assert(split.length == 2, s"expected 2 sub-cells, got ${split.length}")
    assert(split.forall(_.getAs[Long]("n_total") > 0))
    val maxAdmitId = admit.map(_.getAs[Long]("cent_id")).max
    assert(split.forall(_.getAs[Long]("cent_id") > maxAdmitId))
    // the split halves conserve the worst cell's members; the other
    // cells carry over untouched
    val worst = admit.maxBy(r => (r.getAs[Long]("n_total"), -r.getAs[Long]("cent_id")))
    assert(split.map(_.getAs[Long]("n_total")).sum == worst.getAs[Long]("n_total"))
    assert(out.map(_.getAs[Long]("n_total")).sum ==
      admit.map(_.getAs[Long]("n_total")).sum)
    assert(out.length == admit.length + 1)
    // the republished tables exist: split segment partitioned by cell,
    // v2 centroid table with the sub-cell rows
    val root = graft.operators.Similarity.indexRoot(dir)
    val cells = new java.io.File(s"$root/assignments_split").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(cells.length == 2, "split segment not partitioned into 2 sub-cells")
    assert(new java.io.File(s"$root/centroids_v2").isDirectory)
  }

  test("ss_ivf_rebalance_q: quiescent-already census on uniform data") {
    val admit = SparkEntry.queries("ss_ivf_admit")(spark, dir).collect()
    val out = SparkEntry.queries("ss_ivf_rebalance_q")(spark, dir).collect()
    // uniform testdata never trips the alarm (the oracle's premise —
    // the split-loop body is gated by the synthetic-skew tests
    // below), so the loop must exit at 0 splits
    // with the admit census unchanged
    assert(out.forall(_.getAs[Long]("n_splits") == 0L))
    assert(out.forall(!_.getAs[Boolean]("from_split")))
    assert(out.map(r => r.getAs[Long]("cent_id") -> r.getAs[Long]("n_total")).toMap ==
      admit.map(r => r.getAs[Long]("cent_id") -> r.getAs[Long]("n_total")).toMap,
      "0-split quiescence changed the census")
    val worst = out.map(_.getAs[Long]("occ_ppm_of_mean")).max
    assert(worst <= graft.operators.Similarity.AdmitRebalancePpm,
      s"loop exited with the alarm firing ($worst ppm) without splitting")
  }

  test("ss_ivf_rebalance_q: the split loop quiets a fat cell (synthetic skew)") {
    // a fat-cell corpus at CI scale: vec_ids 0..3 are the
    // four well-separated cluster centers (the IVF seeds), members
    // 90/5/3/2% across clusters, deterministic jitter — the alarm MUST
    // fire post-admission and the loop MUST leave it quiet
    val n = 3000L
    val skewDir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfskew_spec_$n"
    spark.range(0L, n)
      .selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 63), d -> CAST(
             (CASE WHEN d DIV 16 = (
                CASE WHEN id < 4 THEN id
                     WHEN id % 100 < 90 THEN 0
                     WHEN id % 100 < 95 THEN 1
                     WHEN id % 100 < 98 THEN 2
                     ELSE 3 END)
              THEN 10.0 ELSE 0.0 END)
             + (pmod(xxhash64(id * 64 + d), 1000) / 1000.0 - 0.5) * 0.1
           AS FLOAT)) AS embedding""",
        "CAST(0 AS INT) AS label")
      .coalesce(2)
      .write.mode("overwrite").parquet(s"$skewDir/embeddings.parquet")
    Tables.invalidate(skewDir)
    val admit = SparkEntry.queries("ss_ivf_admit")(spark, skewDir).collect()
    assert(admit.exists(_.getAs[Boolean]("rebalance")),
      "fixture failed to trip the occupancy alarm")
    val out = SparkEntry.queries("ss_ivf_rebalance_q")(spark, skewDir).collect()
    val nSplits = out.head.getAs[Long]("n_splits")
    val worst = out.map(_.getAs[Long]("occ_ppm_of_mean")).max
    assert(nSplits >= 1L, "loop never split despite a firing alarm")
    assert(worst <= graft.operators.Similarity.AdmitRebalancePpm,
      s"loop exited with the alarm FIRING ($worst ppm after $nSplits splits)")
    // census conserves the population across splits
    assert(out.map(_.getAs[Long]("n_total")).sum ==
      admit.map(_.getAs[Long]("n_total")).sum, "splits lost or invented members")
    // the republished artifacts exist and the split cells carry new ids
    assert(out.filter(_.getAs[Boolean]("from_split")).length >= 2)
  }

  test("ss_ivf_rebalance_mq: no-op on uniform data (both premises quiet)") {
    val admit = SparkEntry.queries("ss_ivf_admit")(spark, dir).collect()
    val out = SparkEntry.queries("ss_ivf_rebalance_mq")(spark, dir).collect()
    assert(out.forall(_.getAs[Long]("n_splits") == 0L))
    assert(out.forall(_.getAs[Long]("n_merges") == 0L))
    assert(out.map(r => r.getAs[Long]("cent_id") -> r.getAs[Long]("n_total")).toMap ==
      admit.map(r => r.getAs[Long]("cent_id") -> r.getAs[Long]("n_total")).toMap,
      "no-op merge dual changed the census")
    val occ = out.map(_.getAs[Long]("occ_ppm_of_mean"))
    assert(occ.max <= graft.operators.Similarity.AdmitRebalancePpm)
    assert(occ.min >= graft.operators.Similarity.AdmitMergeFloorPpm,
      "uniform testdata has a sub-floor cell — the oracle premise broke")
  }

  test("ss_ivf_rebalance_mq: dust cells fold after the fat-cell split (synthetic skew)") {
    // the round-16 fat-cell mix at CI scale: 90% fat cell (must
    // split), 8% healthy, 1.5% + 0.5% dust clusters — post-training
    // at least one of their cells sits below the merge floor
    val n = 3000L
    val skewDir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfskew_mq_spec_$n"
    spark.range(0L, n)
      .selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 63), d -> CAST(
             (CASE WHEN d DIV 16 = (
                CASE WHEN id < 4 THEN id
                     WHEN id % 1000 < 900 THEN 0
                     WHEN id % 1000 < 980 THEN 1
                     WHEN id % 1000 < 995 THEN 2
                     ELSE 3 END)
              THEN 10.0 ELSE 0.0 END)
             + (pmod(xxhash64(id * 64 + d), 1000) / 1000.0 - 0.5) * 0.1
           AS FLOAT)) AS embedding""",
        "CAST(0 AS INT) AS label")
      .coalesce(2)
      .write.mode("overwrite").parquet(s"$skewDir/embeddings.parquet")
    Tables.invalidate(skewDir)
    val admit = SparkEntry.queries("ss_ivf_admit")(spark, skewDir).collect()
    assert(admit.exists(_.getAs[Boolean]("rebalance")),
      "fixture failed to trip the occupancy alarm")
    // one midpoint split answers the alarm with exactly two sub-cells
    // and a smaller worst cell, but cannot quiet a 90% cell: the
    // quiescence loop must split at least twice
    val reb = SparkEntry.queries("ss_ivf_rebalance")(spark, skewDir).collect()
    val preMax = admit.map(_.getAs[Long]("occ_ppm_of_mean")).max
    val postMax = reb.map(_.getAs[Long]("occ_ppm_of_mean")).max
    assert(reb.count(_.getAs[Boolean]("from_split")) == 2,
      "one split must leave exactly two sub-cells")
    assert(postMax < preMax,
      s"split did not reduce worst-cell occupancy ($preMax -> $postMax)")
    val rebq = SparkEntry.queries("ss_ivf_rebalance_q")(spark, skewDir).collect()
    assert(rebq.head.getAs[Long]("n_splits") >= 2L,
      "a 90% cell needs at least two splits to quiet the alarm")
    val out = SparkEntry.queries("ss_ivf_rebalance_mq")(spark, skewDir).collect()
    // the designed fractions map through Lloyd training non-linearly
    // (measured: the 1.5% cluster's cell lands at ~148k ppm, the 0.5%
    // cluster's cell absorbs blob margin and lands healthy), so the
    // contract is shape-generic: at least one dust cell folds and k
    // shrinks by EXACTLY the folded count
    val nMerges = out.head.getAs[Long]("n_merges")
    assert(nMerges >= 1L, "no cell folded despite a sub-floor dust cell")
    assert(out.length == rebq.length - nMerges,
      s"k after merge (${out.length}) != split-only k (${rebq.length}) - $nMerges")
    // population conserved through split + fold
    assert(out.map(_.getAs[Long]("n_total")).sum ==
      admit.map(_.getAs[Long]("n_total")).sum, "merge lost or invented members")
    val occ = out.map(_.getAs[Long]("occ_ppm_of_mean"))
    assert(occ.max <= graft.operators.Similarity.AdmitRebalancePpm,
      s"merge dual left the split alarm firing (${occ.max} ppm)")
    assert(occ.min >= graft.operators.Similarity.AdmitMergeFloorPpm,
      s"merge dual left a sub-floor cell (${occ.min} ppm)")
    // the republished end-state artifacts exist, cell-partitioned
    val root = graft.operators.Similarity.indexRoot(skewDir)
    val cells = new java.io.File(s"$root/assignments_mq").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(cells.length == out.length,
      "published merged segment cell count diverged from the census")
    assert(new java.io.File(s"$root/centroids_mq").isDirectory)
  }

  test("ss_ivf_compact: the fold preserves the two-segment census exactly") {
    val admit = SparkEntry.queries("ss_ivf_admit")(spark, dir).collect()
      .map(r => r.getAs[Long]("cent_id") -> r.getAs[Long]("n_total")).toMap
    val compact = SparkEntry.queries("ss_ivf_compact")(spark, dir).collect()
      .map(r => r.getAs[Long]("cent_id") -> r.getAs[Long]("n_total")).toMap
    assert(compact == admit,
      "compacted census diverged from the base+delta census")
    // one segment on disk, still cell-partitioned
    val root = graft.operators.Similarity.indexRoot(dir)
    val cells = new java.io.File(s"$root/assignments_compacted").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(cells.nonEmpty, "compacted segment not partitioned by cent_id")
  }

  test("ss_ivf_forget: erasure conserves counts, leaves no trace, republishes") {
    val admit = SparkEntry.queries("ss_ivf_admit")(spark, dir).collect()
    val out = SparkEntry.queries("ss_ivf_forget")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Long]("leftover") == 0L,
      s"cell ${r.getAs[Long]("cent_id")} retains deleted vectors"))
    assert(out.map(_.getAs[Long]("n_forgotten")).sum > 0L,
      "fixture slice deleted nothing — test is vacuous")
    // survivors + forgotten = the pre-erasure two-segment census
    assert(out.map(r => r.getAs[Long]("n_total") + r.getAs[Long]("n_forgotten")).sum
      == admit.map(_.getAs[Long]("n_total")).sum)
    val root = graft.operators.Similarity.indexRoot(dir)
    val cells = new java.io.File(s"$root/assignments_forgotten").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(cells.nonEmpty, "forgotten segment not partitioned by cent_id")
  }

  test("ss_ivf_search_v2: serving continues from the rebalanced index") {
    val out = SparkEntry.queries("ss_ivf_search_v2")(spark, dir).collect()
    // every query answers with a full exact top-3 from its v2 cell
    assert(out.length == 15, s"expected 5 queries x top-3, got ${out.length}")
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(100L, 101L, 102L, 103L, 104L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq == Seq(1, 2, 3))
    }
    // the plan serves from published tables, no training/checkpoint
    // lineage (the publish itself resolved driver-side, at most once)
    val plan = SparkEntry.queries("ss_ivf_search_v2")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_index"))
    assert(!plan.contains("ExistingRDD"),
      "training/checkpoint lineage leaked into the v2 serving plan")
  }

  test("rebalance lineage is pure published-table + source scans (plan-pinned)") {
    val plan = SparkEntry.queries("ss_ivf_rebalance")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_index"),
      "rebalance does not read the published index tables")
    assert(!plan.contains("ExistingRDD"),
      "training/checkpoint lineage leaked into the rebalance plan — " +
        "the split must derive from the published tables and the raw " +
        "embeddings source only")
  }

  test("no training in the persisted search's lineage (plan-pinned)") {
    val plan = SparkEntry.queries("ss_ivf_persist_search")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_index"),
      "persisted search does not scan the published index tables")
    // training surfaces as checkpointed-RDD scans (the Lloyd loop
    // reads localCheckpointed vectors); a serving-tier plan must be
    // pure parquet scans + joins
    assert(!plan.contains("ExistingRDD"),
      "training lineage (checkpointed RDD scan) leaked into the " +
        "persisted-index search plan")
  }
}
