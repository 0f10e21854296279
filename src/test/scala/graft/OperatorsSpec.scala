package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Cross-module operator properties on sf0.001 (fast, in-memory). */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q1_agg: one row per (returnflag, linestatus) combination") {
    val rows = run("q1_agg").collect()
    assert(rows.length == 6)
    assert(rows.map(_.getLong(rows.head.fieldIndex("count_order"))).sum > 0)
  }

  test("q_topk: exactly 10 rows in non-increasing price order") {
    val prices = run("q_topk").collect().map(_.getDouble(2))
    assert(prices.length == 10)
    assert(prices.sliding(2).forall { case Array(a, b) => a >= b })
  }

  test("q_rollup: grand-total row equals table count") {
    val rows = run("q_rollup").collect()
    val grand = rows.filter(r => r.getInt(r.fieldIndex("g_nation")) == 1 &&
      r.getInt(r.fieldIndex("g_segment")) == 1)
    assert(grand.length == 1)
    val total = Tables.customer(spark, sf).count()
    assert(grand.head.getLong(grand.head.fieldIndex("n_customers")) == total)
  }

  test("set ops: union = except + intersect partitions hold") {
    val u = run("q_union").collect().map(_.getLong(0)).toSet
    val e = run("q_except").collect().map(_.getLong(0)).toSet
    val i = run("q_intersect").collect().map(_.getLong(0)).toSet
    assert((e & i).isEmpty)
    assert((e | i).subsetOf(u))
  }

  test("O12: intermediate pair count equals total token count") {
    val docs = Tables.documents(spark, sf)
    val n = MapReducePipeline.intermediatePairCount(docs, MapReduceJob())
    val expected = docs
      .select(explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0).count()
    assert(n == expected && n > 0)
  }

  test("Graft facade exposes the custom operators") {
    val l = Seq((1L, 5L)).toDF("k", "t")
    val r = Seq((1L, 4L, "x")).toDF("rk", "rt", "rv")
    assert(Graft.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt")).count() == 1)
    val pts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00")))
      .toDF("pid", "pt")
    val iv = Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("iid", "s_ts", "e_ts")
    assert(Graft.intervalJoin(pts, "pt", iv, "s_ts", "e_ts", 3600L * 1000000L).count() == 1)
    val cc = Graft.connectedComponents(Seq((1L, 2L)).toDF("doc_a", "doc_b"))
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L))
  }

  test("connectedComponents: chain + separate component converge to minima") {
    // path graph 1-2-3-4 needs multiple label-propagation iterations
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = DedupClusters.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: 200-node path converges via the star swap") {
    // plain min-propagation moves the minimum one hop per round, so a
    // 200-node chain would blow past maxIters = 25 and (before the
    // loud-failure guard) silently return non-minimum labels; the
    // gather phase gives up at StarSwitchRound and the large-star/
    // small-star contraction finishes in O(log²) rounds instead. The
    // distributed body itself: connectedComponents labels a pair list
    // this small on the driver
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = DedupClusters.distributedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 200)
    assert(got.forall(_._2 == 0L), s"non-minimum labels: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("ARI unit-shift ladder: 2·(⌊log₂ n⌋ − 24) from 2²⁵ docs on, 0 below") {
    // the rung SQL on literal doc counts, so the forcing counts (4·10⁷
    // docs and up) need no corpus of that size
    val ns = Seq(1L, (1L << 25) - 1, 1L << 25, (1L << 26) - 1, 1L << 26,
      40000000L, 1L << 40, (1L << 41) - 1)
    val got = ns.map(n => spark.range(1)
      .select(expr(DedupClusters.ariUnitShiftSql(s"${n}L"))).head().getInt(0))
    val expected = ns.map(n =>
      math.max(0, 2 * ((63 - java.lang.Long.numberOfLeadingZeros(n)) - 24)))
    assert(got == expected)
  }

  test("ARI: a forced unit shift agrees with the exact path within 5 ppm") {
    // clusters of 10; every 100th doc defects to a singleton, so the
    // ratio is non-trivial. n = 100,003 leaves every pair count with
    // low-order bits set, so the shift really drops units
    val n = 100003L
    val joint = spark.range(0, n).select(col("id").as("doc_id"),
      expr("id DIV 10").as("l1"),
      expr("CASE WHEN id % 100 = 0 THEN id + 100000000 ELSE id DIV 10 END").as("l2"))
    val nf = joint.agg(count(lit(1)).as("n_docs"))
    val Seq(shifted, exact) = Seq("2", "0").map(sh =>
      DedupClusters.ariFromJoint(joint, nf, shiftSqlOverride = Some(sh))
        .head().getAs[Long]("ari_ppm"))
    assert(math.abs(shifted - exact) <= 5, s"shifted $shifted vs exact $exact")
  }

  test("starContraction: path, clique, two components, shuffled ids — exact minima") {
    // direct unit coverage of the adversarial-diameter body: a 64-node
    // path with ids reversed (so the component minimum sits at the far
    // end), a 10-clique, and an isolated edge; labels must be exact
    // component minima, same as the propagation body would produce
    val path = (0L until 63L).map(i => (1000L - i, 1000L - i - 1))
    val clique = for (a <- 1L to 10L; b <- (a + 1L) to 10L) yield (a, b)
    val pairs = (path ++ clique ++ Seq((2000L, 1999L))).toDF("doc_a", "doc_b")
    val edges = pairs.select(
        org.apache.spark.sql.functions.col("doc_a").as("src"),
        org.apache.spark.sql.functions.col("doc_b").as("dst"))
      .unionAll(pairs.select(
        org.apache.spark.sql.functions.col("doc_b").as("src"),
        org.apache.spark.sql.functions.col("doc_a").as("dst")))
    val got = DedupClusters.starContraction(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((937L to 1000L).forall(i => got(i) == 937L))
    assert((1L to 10L).forall(i => got(i) == 1L))
    assert(got(1999L) == 1999L && got(2000L) == 1999L)
    assert(got.size == 64 + 10 + 2)
  }

  test("dd_clusters: pair endpoints co-clustered, id is the member minimum") {
    val dir = "/root/testdata/sf0.01" // planted near-dup pairs exist here
    val out = SparkEntry.queries("dd_clusters")(spark, dir).collect()
    assert(out.nonEmpty)
    val cl = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.ngramJaccardPairs(spark, dir).select("doc_a", "doc_b").collect()
      .foreach(p => assert(cl(p.getLong(0)) == cl(p.getLong(1))))
    out.groupBy(_.getLong(1)).foreach { case (cid, rows) =>
      assert(rows.map(_.getLong(0)).min == cid) // representative = min member
      rows.foreach(r => assert(r.getLong(2) == rows.size)) // size column
    }
  }

  test("dd_survivors: partition invariant — survivors + victims = corpus, one rep per cluster") {
    val dir = "/root/testdata/sf0.01"
    val survivors = SparkEntry.queries("dd_survivors")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val clusters = SparkEntry.queries("dd_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val victims = clusters.filter { case (id, cid) => id != cid }.map(_._1).toSet
    val all = Tables.documents(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors.intersect(victims).isEmpty)
    assert(survivors.union(victims) == all)
    // each cluster keeps exactly its representative
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).toSet.intersect(survivors) == Set(cid))
    }
  }

  test("dd_exact: group sizes sum to document count") {
    val total = Tables.documents(spark, sf).count()
    val sum = run("dd_exact").agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0)
    assert(sum == total)
  }

  test("dd_minhash: pairs ordered, est_jaccard within [0,1]") {
    val rows = run("dd_minhash").collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall { r =>
      val j = r.getDouble(r.fieldIndex("est_jaccard")); j >= 0.0 && j <= 1.0
    })
  }

  test("dd_minhash agrees with exact jaccard on high-similarity pairs") {
    val mh = run("dd_minhash").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = run("dd_ngram_jaccard").filter($"jaccard" >= 0.9)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banded LSH with 4 bands of 4 catches essentially all j>=0.9 pairs
    assert(exact.subsetOf(mh), s"missed: ${exact -- mh}")
  }

  test("dd_simhash: 16-bit range, one row per doc") {
    val rows = run("dd_simhash").collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    assert(rows.forall { r => val h = r.getLong(1); h >= 0 && h < 65536 })
  }

  test("ta_fingerprint: invariant under token order permutation") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"))
      .toDF("doc_id", "text")
    val fps = df.select(
      md5(concat_ws(" ", array_sort(array_distinct(TextOps.tokens(col("text")))))).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("ta_quality: ratios within bounds") {
    val rows = run("ta_quality").collect()
    assert(rows.forall { r =>
      val sr = r.getDouble(r.fieldIndex("stop_ratio"))
      val q = r.getDouble(r.fieldIndex("quality_score"))
      sr >= 0.0 && sr <= 1.0 && q >= 0.0 && q <= 1.0
    })
  }

  test("ss_bruteforce_topk: K results per query, ranks 1..K, cos <= 1") {
    val rows = run("ss_bruteforce_topk").collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == Similarity.NumQueries)
    byQuery.values.foreach { rs =>
      assert(rs.length == Similarity.K)
      assert(rs.map(_.getInt(rs.head.fieldIndex("rn"))).sorted.toSeq == (1 to Similarity.K))
      assert(rs.forall(_.getDouble(rs.head.fieldIndex("cos")) <= 1.0001))
    }
  }

  test("ss_lsh_topk: subset of brute-force candidate scores, self excluded") {
    val rows = run("ss_lsh_topk").collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("ev_sessionize: session count positive and <= event count") {
    val rows = run("ev_sessionize").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val s = r.getLong(1); val n = r.getLong(2); s >= 1 && s <= n
    })
  }

  test("dd_jaccard_prefix equals the brute-force O(n²) similarity join") {
    // Prefix filtering claims recall 1 BY THEOREM (not in expectation,
    // unlike LSH) — so the result must equal the full quadratic join,
    // not approximate it. Brute-force is feasible at sf0.001.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).split(" ").filter(_.nonEmpty)
        r.getLong(0) -> toks.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }
      .filter(_._2.nonEmpty)
    val expected = (for {
      (a, ta) <- docs
      (b, tb) <- docs if a < b
      inter = (ta & tb).size
      if inter * 2 >= ta.size + tb.size - inter
    } yield (a, b, inter.toLong)).toSet
    val got = run("dd_jaccard_prefix").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missed=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.nonEmpty) // the corpus does contain near-dups
  }

  test("dd_jaccard_prefix is a superset of the LSH-verified pairs") {
    // Same basis (distinct 3-gram shingles) and threshold (J >= 0.5) as
    // dd_ngram_jaccard, but exact recall: everything LSH finds must be
    // in the exact join; any extras are pairs the banded signatures
    // missed.
    val exact = run("dd_jaccard_prefix").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("dd_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    assert((lsh -- exact).isEmpty,
      s"LSH produced pairs the exact join lacks: ${(lsh -- exact).take(5)}")
  }

  test("ta_langid_mixed flags a bilingual concatenation off-diagonal") {
    // the testdata corpus is single-language per doc (all-diagonal
    // matrix, oracle-checked); the gate's purpose needs a synthetic
    // mixed doc: an en+de concatenation must land at (en, de)
    val dir = TestSpark.tempDir("mixed_docs").toString
    val en = "the cat and the dog is in a house of the king"
    val de = "der hund und die katze ist ein tier der die und das"
    Seq((1L, s"$en $de", "en"), (2L, s"$en $en", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("ta_langid_mixed")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.get(("en", "de")).contains(1L), m.toString)
    assert(m.get(("en", "en")).contains(1L), m.toString)
  }

  test("dd_containment equals the brute-force O(n²) containment join") {
    // Small-side prefix filtering claims recall 1 by theorem: if
    // |A∩B| ≥ 0.8|A|, B misses at most ⌊0.2|A|⌋ of A's shingles, so it
    // must hit one of A's ⌊|A|/5⌋+1 rarest. Equality with the full
    // quadratic join proves the filter dropped nothing.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).split(" ").filter(_.nonEmpty)
        r.getLong(0) -> toks.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }
      .filter(_._2.nonEmpty)
    val expected = (for {
      (a, ta) <- docs
      (b, tb) <- docs if a != b
      inter = (ta & tb).size
      if inter * 5 >= ta.size * 4
    } yield (a, b, inter.toLong)).toSet
    val got = run("dd_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missed=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.nonEmpty)
  }

  test("dd_lsh_recall: one consistent report row; hits = LSH pairs by containment") {
    val r = run("dd_lsh_recall").collect()
    assert(r.length == 1)
    val (nTrue, nLsh, nHit) = (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
    assert(nHit <= nTrue && nHit <= nLsh)
    // LSH→verify shares basis and threshold with the exact join, so
    // every LSH pair is a true pair: on the same sample, hits = LSH.
    assert(nHit == nLsh, s"LSH pair outside the exact ground truth ($nHit != $nLsh)")
    if (nTrue > 0) {
      val recall = r(0).getDouble(3)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(math.abs(recall -
        math.rint(nHit.toDouble / nTrue * 10000) / 10000) < 1e-12)
    }
  }

  /** Reference CDC chunker shared by the parity and edit-locality
    * tests: cut after every position whose trailing-window hash has
    * its masked low bits zero; chunks partition the doc.
    */
  private def cdcChunksRef(text: String): Seq[String] = {
    import graft.functions.RollingHash
    val bytes = text.getBytes("UTF-8")
    val cuts = (Dedup.CdcWindow to bytes.length).filter { i =>
      (RollingHash.hashBytes(
        bytes.slice(i - Dedup.CdcWindow, i)) & Dedup.CdcMask) == 0L
    }
    val bs = (0 +: cuts :+ bytes.length).distinct.sorted
    bs.sliding(2).map { case Seq(a, b) => text.substring(a, b) }.toSeq
  }

  test("dd_cdc_chunks: matches a local reference chunker exactly") {
    def chunksOf(text: String): Seq[String] = cdcChunksRef(text)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byChunk = docs.flatMap { case (id, t) => chunksOf(t).map(c => (c, id)) }
      .filter(_._1.length >= Dedup.CdcMinChunk)
      .groupBy(_._1)
    // the report's ordering (n_docs desc, n_occ desc, md5 asc) is
    // total, so its top-50 cut is deterministic — replicate it
    val expected = byChunk.collect {
      case (c, occ) if occ.map(_._2).distinct.length >= 2 =>
        (md5Hex(c), c.length, occ.map(_._2).distinct.length.toLong, occ.length.toLong)
    }.toSeq.sortBy { case (m, _, d, o) => (-d, -o, m) }.take(50).toSet
    val got = run("dd_cdc_chunks").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"missed=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // every doc reassembles from its chunks
    docs.foreach { case (_, t) => assert(chunksOf(t).mkString == t) }
  }

  test("pipe_token_budget: greedy prefix in (md5, doc_id) order") {
    val rows = run("pipe_token_budget").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every selected doc started under budget; the budget is reached
    rows.foreach { case (_, n, cum) =>
      assert(cum - n < PipelineQueries.TokenBudget)
    }
    assert(rows.map(_._3).max >= PipelineQueries.TokenBudget)
    // the selected set is exactly the local greedy prefix
    val local = Tables.documents(spark, sf)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, _) => (md5Hex(id.toString), id) }
    var cum = 0L
    val expected = local.takeWhile { case (_, n) =>
      val in = cum < PipelineQueries.TokenBudget; cum += n; in
    }.map(_._1).toSet
    assert(rows.map(_._1).toSet == expected)
  }

  test("pipe_dsir_weights: 50 ranked rows, non-increasing weight") {
    val rows = run("pipe_dsir_weights").collect()
    assert(rows.length == QualityQueries.DsirTopK)
    assert(rows.map(_.getInt(3)).toSeq == (1 to QualityQueries.DsirTopK))
    val ws = rows.map(_.getLong(2))
    assert(ws.sliding(2).forall { case Array(a, b) => a >= b })
  }

  test("pipe_ppl_buckets: three near-thirds with ordered score ranges") {
    val byB = run("pipe_ppl_buckets").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    assert(byB.keySet == Set("head", "middle", "tail"))
    val n = byB.values.map(_._1).sum
    byB.values.foreach { case (c, _, _) => assert(c >= n / 3 - 5 && c <= n / 3 + 5) }
    // value-disjoint buckets, ordered tail < middle < head
    assert(byB("tail")._3 < byB("middle")._2)
    assert(byB("middle")._3 < byB("head")._2)
  }

  test("mm_phash_pairs: exact text duplicates surface at Hamming 0") {
    val pairs = run("mm_phash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    pairs.foreach { case (a, b, h) => assert(a < b && h >= 0 && h <= 3) }
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }.toSet
    val zeros = pairs.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    assert(expected.subsetOf(zeros),
      s"missing exact-dup pairs: ${(expected -- zeros).take(3)}")
  }

  test("cdc chunking localizes edits where fixed-size chunking shifts everything") {
    def cdcChunks(text: String): Seq[String] = cdcChunksRef(text)
    def fixedChunks(text: String): Seq[String] = text.grouped(64).toSeq
    def diffCount(a: Seq[String], b: Seq[String]): Int = {
      val counts = scala.collection.mutable.Map.empty[String, Int]
      a.foreach(c => counts(c) = counts.getOrElse(c, 0) + 1)
      b.foreach(c => counts(c) = counts.getOrElse(c, 0) - 1)
      counts.valuesIterator.map(math.abs).sum
    }
    val docs = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 400)
      .select("text").collect().map(_.getString(0)).take(10)
    assert(docs.nonEmpty)
    var cdcTotal = 0
    var fixTotal = 0
    docs.foreach { t =>
      // single-char INSERTION near the front — shifts every later
      // offset, the worst case for offset-based chunking
      val p = 50
      val edited = t.substring(0, p) + "#" + t.substring(p)
      val cdcDiff = diffCount(cdcChunks(t), cdcChunks(edited))
      val fixDiff = diffCount(fixedChunks(t), fixedChunks(edited))
      // a boundary rule over a 16-char window can only disturb chunks
      // touching the edit's window: bounded, position-independent
      assert(cdcDiff <= 6, s"cdc diff $cdcDiff not local")
      cdcTotal += cdcDiff
      fixTotal += fixDiff
    }
    // fixed-size chunking re-keys every chunk from the edit onward, so
    // across the sample it must churn strictly more than CDC
    assert(fixTotal > cdcTotal,
      s"fixed-size churn $fixTotal not above cdc churn $cdcTotal")
  }

  test("ta_trigram_backoff: train-half docs never back off; levels partition") {
    val rows = run("ta_trigram_backoff").collect()
    rows.foreach { r =>
      val (id, n) = (r.getLong(0), r.getLong(1))
      val levels = (3 to 6).map(r.getLong)
      assert(levels.sum == n, s"levels don't partition for doc $id")
      // a training doc's own trigrams are in the model by construction
      if (md5Hex(id.toString).substring(0, 4) < "8000")
        assert(levels(0) == n, s"train doc $id backed off")
    }
    // the held-out half must genuinely exercise the backoff chain
    assert(rows.map(_.getLong(4)).sum > 0, "no bigram backoff anywhere")
  }

  test("ev_anomaly: five ranked outliers per type, |z| matches local stats") {
    val rows = run("ev_anomaly").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    val byType = rows.groupBy(_._1)
    val vals = Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byType.foreach { case (t, rs) =>
      assert(rs.length == 5 && rs.map(_._5).sorted.toSeq == (1 to 5))
      val zs = rs.sortBy(_._5).map(r => math.abs(r._4))
      assert(zs.sliding(2).forall { case Array(a, b) => a >= b })
      // z agrees with a plain double recompute to well under the 4dp
      val xs = vals(t)
      val mu = xs.sum / xs.length
      val sigma = math.sqrt(xs.map(x => x * x).sum / xs.length - mu * mu)
      rs.foreach { case (_, _, v, z4, _) =>
        assert(math.abs(z4 - math.rint((v - mu) / sigma * 10000) / 10000) <= 1e-4)
      }
    }
  }

  test("ev_anomaly: constant-valued type yields z = 0, never NaN") {
    // floor(v²·1e6) sums land a constant type's variance a hair BELOW
    // zero (s2 floors down, mu² doesn't); the clamp must hold it at
    // σ = 0 → z = 0 instead of NaN (and a DuckDB sqrt error)
    val dir = TestSpark.tempDir("ev_const").toString
    val ts = 1704103200L * 1000000000L // int64 nanos, the testdata layout
    Seq(
      (1L, ts, 1L, "flat", 1.2345, "{}"),
      (2L, ts, 1L, "flat", 1.2345, "{}"),
      (3L, ts, 2L, "vary", 1.0, "{}"),
      (4L, ts, 2L, "vary", 5.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("ev_anomaly")(spark, dir).collect()
    val flat = rows.filter(_.getString(0) == "flat")
    assert(flat.length == 2)
    flat.foreach(r => assert(r.getDouble(3) == 0.0, s"NaN/z leak: $r"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
