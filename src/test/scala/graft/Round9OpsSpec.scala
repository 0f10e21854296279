package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Properties of this round's operators: the bucketed-join driver row,
  * BPE encoding with trained merges, the LR training step, snapshot
  * drift (PSI), exact range sharding, and the stream-stream join dual.
  * Synthetic ground truths where the semantics have a closed form;
  * structural/plan invariants on sf0.001 otherwise.
  */
class Round9OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("src_bucketed_join: the merge-hinted join runs without a shuffle exchange") {
    // Build the bucketed tables via the query itself (it is
    // idempotent), then re-derive the JOIN-only frame and assert no
    // Exchange feeds the SortMergeJoin: the bucketed scans' output
    // partitioning already satisfies the join's distribution. Only
    // the final 4-row rollup in the full query may shuffle.
    run("src_bucketed_join").collect()
    val joined = spark.table("graft_orders_bkt").hint("merge")
      .join(spark.table("graft_customer_bkt"),
        col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"not a merge join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("ta_lr_train_step: 4-row weight report, step moves against the gradient") {
    val rows = run("ta_lr_train_step").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("bias", "log2_ntok", "mean_wlen", "stop_ratio"))
    val n = rows.head.getLong(rows.head.fieldIndex("n_docs"))
    assert(n > 0)
    rows.foreach { r =>
      val g = r.getLong(r.fieldIndex("grad_micro"))
      val wOld = r.getLong(r.fieldIndex("w_micro"))
      val wNew = r.getLong(r.fieldIndex("w_new_micro"))
      // gradient DESCENT: a clearly-signed mean gradient moves the
      // weight the other way (|g| below 2·n_docs truncates to a zero
      // step in the integer mean)
      if (g > 2L * n) assert(wNew < wOld, s"$r")
      if (g < -2L * n) assert(wNew > wOld, s"$r")
      assert(r.getLong(r.fieldIndex("n_correct")) <= n)
    }
  }

  test("pipe_drift_psi: integer counts are internally consistent") {
    val rows = run("pipe_drift_psi").collect()
    assert(rows.map(_.getString(0)).distinct.toSeq == Seq("lang", "len_digits"))
    // per-feature totals equal the sum of that feature's bucket counts,
    // and every bucket frame has nb rows
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val nr = rs.head.getLong(rs.head.fieldIndex("nr"))
      val nc = rs.head.getLong(rs.head.fieldIndex("nc"))
      val nb = rs.head.getLong(rs.head.fieldIndex("nb"))
      assert(rs.length.toLong == nb)
      assert(rs.map(r => r.getLong(r.fieldIndex("cr"))).sum == nr)
      assert(rs.map(r => r.getLong(r.fieldIndex("cc"))).sum == nc)
      assert(nr > 0 && nc > 0)
    }
  }

  test("driftPsi: PSI matches a scala-side recompute from the integer counts") {
    // the float leg lives OUTSIDE the cross-engine oracle (libm ln);
    // pin it here single-engine: recompute PSI from the verified
    // integer counts and compare with an epsilon
    val counts = PipelineQueries.driftCounts(spark, sf).collect()
    val expected = counts.groupBy(_.getString(0)).map { case (f, rs) =>
      f -> rs.map { r =>
        val nb = r.getLong(r.fieldIndex("nb"))
        val pc = (r.getLong(r.fieldIndex("cc")) + 1.0) /
          (r.getLong(r.fieldIndex("nc")) + nb)
        val pr = (r.getLong(r.fieldIndex("cr")) + 1.0) /
          (r.getLong(r.fieldIndex("nr")) + nb)
        (pc - pr) * math.log(pc / pr)
      }.sum
    }
    val psi = PipelineQueries.driftPsi(spark, sf).collect()
    assert(psi.map(_.getString(0)).toSeq == Seq("lang", "len_digits"))
    psi.foreach { r =>
      val v = r.getDouble(r.fieldIndex("psi"))
      assert(v >= 0.0, s"PSI is a sum of non-negative terms: $r")
      assert(math.abs(v - expected(r.getString(0))) < 1e-9, s"$r")
    }
  }

  test("pipe_range_shards: shards partition the corpus into contiguous, balanced ranges") {
    val rows = run("pipe_range_shards").collect()
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total) // every row lands exactly once
    // ranges are contiguous and non-overlapping in shard order
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(a.fieldIndex("hi_nchars")) <
          b.getLong(b.fieldIndex("lo_nchars")), s"$a overlaps $b")
      case _ =>
    }
    // value-granularity cuts: a shard exceeds the ideal n/R only by
    // ties of a single boundary value, bounded by the heaviest value
    val maxMult = Tables.documents(spark, sf)
      .groupBy("n_chars").count().agg(max("count")).head.getLong(0)
    rows.foreach { r =>
      assert(r.getLong(1) <= total / 8 + maxMult, s"$r")
    }
  }

  test("ta_bpe_encode: merges conserve characters and produce multi-char symbols") {
    val rows = run("ta_bpe_encode").collect()
    // Σ n_occ·len(sym) over the encoded stream = total characters of
    // the raw token stream — a merge concatenates, never drops
    val encodedChars = rows.map(r => r.getLong(1) * r.getString(0).length).sum
    val rawChars = Tables.documents(spark, sf)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
      .agg(sum(length(col("w")))).head.getLong(0)
    assert(encodedChars == rawChars, s"$encodedChars != $rawChars")
    assert(rows.exists(_.getString(0).length >= 2)) // training merged something
  }
}
