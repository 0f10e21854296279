package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 session additions: experimentation stats (DiD,
  * Mann-Whitney, EWMA), closed-form OLS, DC-removed ZCR, and the
  * cone-bound range search — property pins beside the oracle gate.
  */
class Round15OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("ss_ivf_range: clustered fixture — prune fires AND stays sound") {
    import spark.implicits._
    // three tight clusters on orthogonal axes of R⁴ (one per cell),
    // deterministic perturbations; queries are vec_id 0..2, one per
    // cluster. With τ = 0.9 a query's results live entirely in its
    // own cluster, so a SOUND bound may keep at most its own cell —
    // and must still return exactly the brute-force result set.
    val rows = (0 until 90).map { k =>
      val cl = k % 3
      val idx = k / 3
      val e = Array.fill(4)(0.0)
      e(cl) = 1.0
      e(3) = 0.01 * ((idx * 7) % 5) // tiny within-cluster spread
      (k.toLong, e.toSeq, cl.toLong)
    }
    val base = rows.toDF("vec_id", "e", "cent_id")
    val av = base.withColumn("nrm",
      sqrt(expr("aggregate(e, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)")))
    val tau = 0.9
    val probes = operators.Similarity.rangeProbes(av, 3, tau).count()
    assert(probes < 9, s"prune branch never fired: $probes of 9 probes kept")
    assert(probes >= 3, "a query lost its own cell — bound unsound")
    val got = operators.Similarity.rangeSearch(av, 3, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = av.as("q").filter(col("q.vec_id") < 3)
      .crossJoin(av.as("c"))
      .filter(col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("cos", round(
        expr("aggregate(zip_with(q.e, c.e, (a, b) -> a * b), " +
          "CAST(0.0 AS DOUBLE), (a, x) -> a + x)") /
          (col("q.nrm") * col("c.nrm")), 4))
      .filter(col("cos") >= tau)
      .select(col("q.vec_id"), col("c.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"pruned result diverged from brute force: missing ${brute.diff(got)}")
    assert(got.nonEmpty, "fixture degenerate: no in-radius pairs at all")
  }

  test("ev_did: readout is internally consistent") {
    val r = SparkEntry.queries("ev_did")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    def g(c: String) = row.getLong(row.fieldIndex(c))
    assert(g("did_micro") ==
      (g("post_b_micro") - g("pre_b_micro")) -
        (g("post_a_micro") - g("pre_a_micro")))
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(g("n_a") + g("n_b") == users)
  }

  test("ev_mann_whitney: U identity and effect-size bounds") {
    val row = SparkEntry.queries("ev_mann_whitney")(spark, sf).collect().head
    def g(c: String) = row.getLong(row.fieldIndex(c))
    // U₁ + U₂ = n₁n₂ exactly (doubled: 2n₁n₂) — ties or not
    assert(g("u2_a") + g("u2_b") == 2 * g("n_a") * g("n_b"))
    assert(g("u2_a") >= 0 && g("u2_b") >= 0)
    assert(g("auc_ppm") >= 0 && g("auc_ppm") <= 1000000L)
  }

  test("ev_ewma: t=0 equals y0; dyadic recursion holds inside the tap horizon") {
    val rows = SparkEntry.queries("ev_ewma")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val seq = rs.sortBy(_.getTimestamp(1).getTime)
      val h = seq.head
      assert(h.getLong(h.fieldIndex("ewma_micro")) ==
        h.getLong(h.fieldIndex("n")) * 1000000L,
        "s_0 must equal y_0 exactly")
      assert(h.isNullAt(h.fieldIndex("resid_micro")),
        "t=0 has no one-step-ahead forecast")
      // 2·s_t = y_t·10⁶ + s_{t−1} within flooring slack, while the
      // convolution is exact (t < EwmaTaps)
      seq.sliding(2).zipWithIndex.foreach {
        case (Array(a, b), i) if i + 1 < operators.EventQueries.EwmaTaps =>
          val lhs = 2L * b.getLong(b.fieldIndex("ewma_micro"))
          val rhs = b.getLong(b.fieldIndex("n")) * 1000000L +
            a.getLong(a.fieldIndex("ewma_micro"))
          assert(math.abs(lhs - rhs) <= 2L,
            s"recursion broken at t=${i + 1}: 2*s_t=$lhs vs y+s_prev=$rhs")
          assert(b.getLong(b.fieldIndex("resid_micro")) ==
            b.getLong(b.fieldIndex("n")) * 1000000L -
              a.getLong(a.fieldIndex("ewma_micro")))
        case _ => ()
      }
    }
  }

  test("q_ols_regression: moments sane, deterministic across runs") {
    val r1 = SparkEntry.queries("q_ols_regression")(spark, sf).collect()
    assert(r1.nonEmpty)
    var nTot = 0L
    r1.foreach { r =>
      nTot += r.getLong(r.fieldIndex("n"))
      val r2 = r.getLong(r.fieldIndex("r2_ppm"))
      assert(r2 >= 0 && r2 <= 1000000L)
      // this synthetic corpus draws qty and price independently, so
      // the fit must recover that: |corr| < 0.05 ⇒ r² < 2500 ppm
      assert(r2 < 2500L, s"independent columns fitted r2_ppm=$r2")
    }
    assert(nTot == Tables.lineitem(spark, sf).count())
    val r2 = SparkEntry.queries("q_ols_regression")(spark, sf).collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  test("AhoCorasick: counts equal the naive positional scan, nested matches included") {
    def naive(text: String, pats: Seq[String]): Seq[Long] =
      pats.map { p =>
        (0 to text.length - p.length)
          .count(i => text.regionMatches(i, p, 0, p.length)).toLong
      }
    val pats = operators.TextAnalysis.AcPatterns
    val fixtures = Seq(
      "datascan candata scans", // nesting: scan⊃can⊃an, data⊃ta⊃a
      "aaaa",                   // overlapping self-runs
      "",                       // empty text
      "zzz",                    // no matches
      "antacandatascanta")
    fixtures.foreach { t =>
      val ac = new functions.AhoCorasick(pats)
      assert(ac.countMatches(t).toSeq == naive(t, pats),
        s"mismatch on '$t'")
    }
  }

  test("dd_oph_minhash: full bucket spine per doc, borrowed sigs are real") {
    val rows = SparkEntry.queries("dd_oph_minhash")(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rs) =>
      assert(rs.length == operators.Dedup.OphBuckets,
        s"doc $doc has ${rs.length} buckets")
      val natural = rs.filter(_.getInt(3) == 0)
        .map(r => r.getInt(1) -> r.getLong(2)).toMap
      assert(natural.nonEmpty, s"doc $doc fully densified?")
      rs.filter(_.getInt(3) > 0).foreach { r =>
        val d = r.getInt(3)
        val src = (r.getInt(1) + d) % operators.Dedup.OphBuckets
        assert(natural.contains(src) && natural(src) == r.getLong(2),
          s"doc $doc bucket ${r.getInt(1)}: borrowed sig is not the " +
            s"source bucket's")
        // minimality: every nearer cyclic bucket is itself empty
        (1 until d).foreach { dd =>
          assert(!natural.contains(
            (r.getInt(1) + dd) % operators.Dedup.OphBuckets),
            s"doc $doc bucket ${r.getInt(1)}: skipped a nearer source")
        }
      }
    }
  }

  test("ev_sprt: decision state consistent with the crossing") {
    val rows = SparkEntry.queries("ev_sprt")(spark, sf).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      def gl(c: String) = r.getLong(r.fieldIndex(c))
      val dec = r.getString(r.fieldIndex("decision"))
      if (r.isNullAt(r.fieldIndex("n_at_decision"))) {
        assert(dec == "continue")
        assert(gl("llr_final") < operators.EventQueries.SprtUpperMicro &&
          gl("llr_final") > operators.EventQueries.SprtLowerMicro)
      } else {
        assert(gl("n_at_decision") <= gl("n_users"))
        val llr = gl("llr_at_decision")
        if (dec == "accept_h1")
          assert(llr >= operators.EventQueries.SprtUpperMicro)
        else {
          assert(dec == "accept_h0")
          assert(llr <= operators.EventQueries.SprtLowerMicro)
        }
      }
    }
  }

  test("ev_cusum: closed form equals the max(0, V+x) recursion") {
    import org.apache.spark.sql.functions.{col, count, date_trunc, lit, sum}
    val k = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("tot"), count(lit(1)).as("nh"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1) * 1000000L / r.getLong(2)) * 5 / 4).toMap
    val rows = SparkEntry.queries("ev_cusum")(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (et, rs) =>
      var v = 0L
      rs.sortBy(_.getTimestamp(1).getTime).foreach { r =>
        v = math.max(0L, v + r.getLong(r.fieldIndex("n")) * 1000000L - k(et))
        assert(r.getLong(r.fieldIndex("v_micro")) == v,
          s"$et at ${r.getTimestamp(1)}: closed form diverged from recursion")
        assert(r.getBoolean(r.fieldIndex("alarm")) == (v >= 4 * k(et)))
      }
    }
  }

  test("dd_oph_pairs: exact duplicates share all buckets; disjoint docs never pair") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_oph").toString
    val dup = "the quick brown fox jumps over the lazy dog today"
    val other = "completely different words everywhere here always forever more again"
    Seq((1L, dup, "en", "t", dup.length.toLong),
        (2L, dup, "en", "t", dup.length.toLong),
        (3L, other, "en", "t", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("dd_oph_pairs")(spark, dir).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getLong(0) == 1L && p.getLong(1) == 2L)
    assert(p.getLong(p.fieldIndex("n_shared_bands")) == 4L)
    assert(p.getDouble(p.fieldIndex("est_jaccard")) == 1.0)
  }

  test("ta_best_passage: the winner really is the max-scoring chunk of its doc") {
    import org.apache.spark.sql.functions.{col, count, expr, lit, posexplode, sum}
    // recompute every chunk's score independently and check the
    // reported winner dominates (earliest chunk on ties)
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"),
        posexplode(expr("filter(split(text, ' ', -1), t -> t != '')"))
          .as(Seq("pos", "word")))
    val counts = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt")).collect().head.getLong(0)
    val pm = counts.collect().map(r => r.getString(0) ->
      r.getLong(1) * 1000000L / total).toMap
    val chunks = toks.collect()
      .groupBy(r => (r.getLong(0), r.getInt(1) / 16))
      .map { case ((doc, ck), rs) =>
        (doc, ck, rs.map(r => pm(r.getString(2))).sum / rs.length) }
    val best = chunks.groupBy(_._1).map { case (doc, cs) =>
      doc -> cs.minBy(c => (-c._3, c._2)) }
    val rows = SparkEntry.queries("ta_best_passage")(spark, sf).collect()
    rows.foreach { r =>
      val (doc, ck, sc) = (r.getLong(0), r.getInt(1),
        r.getLong(r.fieldIndex("score_micro")))
      val (_, eCk, eSc) = best(doc)
      assert(ck == eCk && sc == eSc, s"doc $doc: got ($ck,$sc) want ($eCk,$eSc)")
    }
  }

  test("src_parquet_meta: per-file counts sum to the table; 8 files") {
    val rows = SparkEntry.queries("src_parquet_meta")(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).sum ==
      Tables.documents(spark, sf).count())
    val ids = Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("doc_id"))
      .collect().head.getLong(0)
    assert(rows.map(r => r.getLong(r.fieldIndex("sum_ids"))).sum == ids)
  }

  test("ev_power_mde: whole pipeline re-derived from raw events in BigInt") {
    // independent of the query's own moment outputs: per-user cents
    // totals straight off the events table, driver-side exact algebra
    import org.apache.spark.sql.functions.{col, expr, sum}
    val totals = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT)")
          .as("c"))
      .groupBy("user_id").agg(sum("c").as("v"))
      .collect().map(_.getLong(1)).map(BigInt(_))
    val n = BigInt(totals.length)
    val sv = totals.sum
    val svv = totals.map(v => v * v).sum
    val mean = sv / n
    val varC = (n * svv - sv * sv) / (n * n)
    val delta = mean / 20
    val num = BigInt(2) * 7848878L * varC
    val den = delta * delta * 1000000L
    val nReq = (num + den - 1) / den
    val r = SparkEntry.queries("ev_power_mde")(spark, sf).collect().head
    def g(c: String) = r.getLong(r.fieldIndex(c))
    assert(g("n_users") == n)
    assert(g("mean_cents") == mean)
    assert(g("var_cents2") == varC)
    assert(g("delta_cents") == delta)
    assert(BigInt(g("n_required_per_arm")) == nReq && nReq > 0)
  }

  test("dd_oph_recall: counts form a valid recall readout") {
    val r = SparkEntry.queries("dd_oph_recall")(spark, sf).collect().head
    def g(c: String) = r.getLong(r.fieldIndex(c))
    assert(g("n_hit") <= g("n_true") && g("n_hit") <= g("n_oph"))
    if (g("n_true") > 0) {
      val rec = r.getDouble(r.fieldIndex("recall4"))
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("mm_pgm_resize: hand-derived box means for one doc") {
    val doc = Tables.documents(spark, sf).orderBy("doc_id").limit(1)
      .collect().head
    val text = doc.getString(doc.fieldIndex("text"))
    val h = math.max(1, (text.length + 7) / 8)
    val raster = text.padTo(8 * h, ' ')
    val h2 = h / 2
    val exp = for (y <- 0 until h2; x <- 0 until 4) yield
      (raster(2 * y * 8 + 2 * x).toInt + raster(2 * y * 8 + 2 * x + 1) +
        raster((2 * y + 1) * 8 + 2 * x) +
        raster((2 * y + 1) * 8 + 2 * x + 1)) / 4
    val rows = SparkEntry.queries("mm_pgm_resize")(spark, sf).collect()
    val r = rows.find(_.getLong(0) == doc.getLong(0)).get
    assert(r.getLong(r.fieldIndex("h_out")) == h2.toLong)
    assert(r.getLong(r.fieldIndex("sum_out")) == exp.map(_.toLong).sum)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(exp.mkString(",").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(r.getString(r.fieldIndex("resized_md5")) == hex)
  }

  test("ta_watermark_score: a planted greenlist chain fires; human text stays quiet") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def green(w1: String, w2: String): Boolean = {
      md.reset()
      val h = md.digest(s"$w1|$w2".getBytes("UTF-8"))
      ((h(0) >> 4) & 0xf) < 8
    }
    // greedy watermark "decoder": always emit a green successor —
    // exactly the bias the detector exists to catch
    val vocab = Seq("join", "hash", "row", "batch", "scan", "filter",
      "merge", "order", "vector", "data", "table", "agg", "key")
    val sb = new StringBuilder("data")
    var cur = "data"
    (1 to 80).foreach { _ =>
      val next = vocab.find(green(cur, _)).get
      sb.append(' ').append(next)
      cur = next
    }
    val marked = sb.toString
    // 80 DISTINCT bigrams (a short cycle would sample too few md5
    // draws — measured 76% green on a 13-bigram loop, a legitimate
    // small-sample flag); this sequence draws 46/80 green, checked at
    // authoring time, and is deterministic forever
    val human = (0 to 80).map(i => s"w$i").mkString(" ")
    val dir = TestSpark.tempDir("graft_wm").toString
    Seq((1L, marked, "en", "t", marked.length.toLong),
        (2L, human, "en", "t", human.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("ta_watermark_score")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val m = rows(1L)
    assert(m.getLong(m.fieldIndex("n_green")) ==
      m.getLong(m.fieldIndex("n_pairs")), "planted chain must be all green")
    assert(m.getBoolean(m.fieldIndex("watermark_suspect")),
      "80 all-green pairs is z2 = 80e9 nano >> 10.83e9 — must fire")
    val h = rows(2L)
    assert(!h.getBoolean(h.fieldIndex("watermark_suspect")),
      s"cyclic human-ish text flagged: green_ppm=" +
        s"${h.getLong(h.fieldIndex("green_ppm"))}")
  }

  test("mm_wav_zcr: census sums to n; hand-derived doc matches") {
    val rows = SparkEntry.queries("mm_wav_zcr")(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      def g(c: String) = r.getLong(r.fieldIndex(c))
      assert(g("n_above") + g("n_below") + g("n_at_mean") == g("n_samples"))
      assert(g("n_crossings") <= math.max(0L, g("n_samples") - 1))
      if (g("n_samples") > 1)
        assert(r.getLong(r.fieldIndex("zcr_ppm")) ==
          g("n_crossings") * 1000000L / (g("n_samples") - 1))
    }
    // independent re-derivation for one doc (the mean-crossing math)
    val doc = Tables.documents(spark, sf).orderBy("doc_id").limit(1)
      .collect().head
    val s = doc.getString(doc.fieldIndex("text")).getBytes("UTF-8")
      .map(b => (((b & 0xff) - 128) << 8).toLong)
    val n = s.length.toLong
    val sum = s.sum
    val d = s.map(v => v * n - sum)
    val expCross = d.sliding(2).count(p =>
      math.signum(p(0)) * math.signum(p(1)) < 0).toLong
    val r0 = rows.find(_.getLong(0) == doc.getLong(0)).get
    assert(r0.getLong(r0.fieldIndex("n_crossings")) == expCross)
    assert(r0.getLong(r0.fieldIndex("n_above")) == d.count(_ > 0).toLong)
  }
}
