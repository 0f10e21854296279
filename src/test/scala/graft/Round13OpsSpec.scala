package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Round-9 session additions: the real-binary-file multimodal leg. */
class Round13OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("dd_decontaminate_spans: conservation + brute-force island recompute") {
    val rows = run("dd_decontaminate_spans").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTok = r.getLong(r.fieldIndex("n_tokens"))
      val rem = r.getLong(r.fieldIndex("n_removed"))
      val kept = r.getLong(r.fieldIndex("n_kept"))
      assert(rem + kept == nTok, s"$r")
      assert(r.getLong(r.fieldIndex("n_spans")) >= 1L && rem >= 13L)
    }
    // flagged docs are exactly dd_decontaminate's flagged docs
    val whole = run("dd_decontaminate").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == whole)
    // brute-force the island union for the first flagged doc
    val docId = rows.head.getLong(0)
    def grams13(t: String) = t.split(" ").filter(_.nonEmpty).sliding(13)
      .filter(_.length == 13).map(_.mkString(" ")).toArray
    val txt = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") === docId)
      .select("text").head.getString(0)
    val evalGrams = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.expr(
        "substring(md5(CAST(doc_id AS STRING)), 1, 4) < '0800'"))
      .select("text").collect().flatMap(r => grams13(r.getString(0))).toSet
    val covered = scala.collection.mutable.BitSet()
    grams13(txt).zipWithIndex.foreach { case (g, p) =>
      if (evalGrams.contains(g)) covered ++= (p to p + 12)
    }
    assert(covered.size.toLong == rows.head.getLong(rows.head.fieldIndex("n_removed")))
  }

  test("ta_doc_bits: bigram census matches ta_doc_lm_score, bits in the vocab band") {
    val bits = run("ta_doc_bits").collect()
    val lm = run("ta_doc_lm_score").collect()
    assert(bits.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      lm.map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "bigram counts must agree between the bits and probability forms")
    bits.foreach { r =>
      val mean = r.getLong(r.fieldIndex("mean_bits_micro"))
      assert(mean > 0L && mean < 21000000L, s"$r") // < 21 bits/bigram
    }
  }

  test("ta_zipf_alpha: matches a brute-force double-precision OLS fit") {
    val r = run("ta_zipf_alpha").collect().head
    val n = r.getLong(r.fieldIndex("n_ranks"))
    assert(n >= 3)
    // brute-force: same top-K ranks, true log2s, textbook OLS slope
    import org.apache.spark.sql.functions._
    val counts = Tables.documents(spark, sf)
      .select(explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(graft.operators.TextAnalysis.ZipfK)
      .collect().map(_.getLong(1))
    val pts = counts.zipWithIndex.map { case (c, i) =>
      (math.log(i + 1.0) / math.log(2.0), math.log(c.toDouble) / math.log(2.0))
    }
    val k = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    val alpha = r.getLong(r.fieldIndex("alpha_milli")) / 1000.0
    assert(math.abs(alpha - (-slope)) < 0.005, s"alpha=$alpha brute=${-slope}")
    assert(r.getLong(r.fieldIndex("slope_den")) > 0L)
  }

  test("dd_decontaminate: hits bounded by gram counts, eval side broadcast") {
    val df = run("dd_decontaminate")
    val rows = df.collect()
    rows.foreach { r =>
      val nGrams = r.getLong(r.fieldIndex("n_grams"))
      val nHits = r.getLong(r.fieldIndex("n_hit_grams"))
      assert(nHits >= 1L && nHits <= nGrams, s"$r")
      assert(r.getLong(r.fieldIndex("n_eval_docs")) >= 1L)
    }
    // the eval 13-gram index must ride a broadcast — the no-shuffle-of
    // -training-data contract of the decontamination scan
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "eval gram index is not broadcast")
    // every flagged doc shares a 13-gram with SOME eval doc — recompute
    // one flagged doc brute-force
    rows.headOption.foreach { r =>
      val docId = r.getLong(0)
      val txt = Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("doc_id") === docId)
        .select("text").head.getString(0)
      val grams = txt.split(" ").filter(_.nonEmpty).sliding(13)
        .filter(_.length == 13).map(_.mkString(" ")).toSet
      val evalTexts = Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.expr(
          "substring(md5(CAST(doc_id AS STRING)), 1, 4) < '0800'"))
        .select("text").collect().map(_.getString(0))
      val evalGrams = evalTexts.flatMap(_.split(" ").filter(_.nonEmpty)
        .sliding(13).filter(_.length == 13).map(_.mkString(" "))).toSet
      assert(grams.intersect(evalGrams).size ==
        r.getLong(r.fieldIndex("n_hit_grams")))
    }
  }

  test("pipe_pii_redact: injection census matches the nibble rule, residual zero") {
    val rows = run("pipe_pii_redact").collect()
    assert(rows.forall(_.getLong(rows.head.fieldIndex("residual")) == 0L),
      "redaction left live PII behind")
    val emails = rows.map(_.getLong(rows.head.fieldIndex("n_emails"))).sum
    val phones = rows.map(_.getLong(rows.head.fieldIndex("n_phones"))).sum
    val nib = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.expr(
        "substring(md5(CAST(doc_id AS STRING)), 1, 1)").as("n"))
      .collect().map(_.getString(0))
    assert(emails == nib.count(_ < "4"), s"emails=$emails")
    assert(phones == nib.count(n => n >= "4" && n < "8"), s"phones=$phones")
  }

  test("mm_png_files: genuine PNG files on disk, lossless chain, clusters consistent") {
    val rows = run("mm_png_files").collect()
    assert(rows.nonEmpty)
    // this JVM's landing dir must now hold real .png files with the
    // PNG magic
    val landing = Paths.get(Scratch.process(sf, "png"))
    assert(Files.isDirectory(landing), s"no PNG landing dir at $landing")
    val pngs = Files.walk(landing).iterator().asScala
      .filter(_.toString.endsWith(".png")).toSeq
    assert(pngs.nonEmpty, "no .png files on disk")
    val magic = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
    pngs.take(5).foreach { p =>
      val head = Files.readAllBytes(p).take(4)
      assert(head.sameElements(magic), s"$p lacks the PNG signature")
    }
    // file count equals the md5-prefix subset size = output row count
    assert(pngs.size >= rows.length)
    // cluster sanity: sizes >= 1, singleton docs label themselves
    rows.foreach { r =>
      val docId = r.getLong(r.fieldIndex("doc_id"))
      val cid = r.getLong(r.fieldIndex("cluster_id"))
      val size = r.getLong(r.fieldIndex("cluster_size"))
      assert(size >= 1L)
      if (size == 1L) assert(cid == docId)
      assert(cid <= docId || size > 1L)
    }
    // every member of a multi-doc cluster shares its cluster minimum
    val byCluster = rows.groupBy(_.getLong(rows.head.fieldIndex("cluster_id")))
    byCluster.foreach { case (cid, members) =>
      assert(cid == members.map(_.getLong(members.head.fieldIndex("doc_id"))).min)
    }
  }

  test("pipe_l_diversity: conservation, pigeonhole, brute-force TV recompute") {
    val rows = run("pipe_l_diversity").collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("cnt"))).sum == nDocs)
    rows.foreach { r =>
      val cnt = r.getLong(r.fieldIndex("cnt"))
      val l = r.getLong(r.fieldIndex("l_distinct"))
      val top = r.getLong(r.fieldIndex("top_share_ppm"))
      val tv = r.getLong(r.fieldIndex("tv_ppm"))
      assert(l >= 1 && l <= cnt)
      // pigeonhole: the top sensitive share is at least 1/l (floor monotone)
      assert(top >= 1000000L / l, s"$r")
      assert(tv >= 0 && tv <= 1000000L)
      assert(r.getBoolean(r.fieldIndex("diverse")) == (l >= 3))
      assert(r.getBoolean(r.fieldIndex("t_close")) == (tv <= 150000L))
    }
    // brute-force the whole report from the raw table (tiny at sf0.001)
    val raw = Tables.documents(spark, sf)
      .select("lang", "n_chars", "source").collect()
      .map(r => (r.getString(0), r.getLong(1).toString.length.toLong,
        r.getString(2)))
    val n = raw.length.toLong
    val globPpm = raw.groupBy(_._3).map { case (s0, xs) =>
      s0 -> xs.length.toLong * 1000000L / n }
    val expect = raw.groupBy(t => (t._1, t._2)).map { case ((lg, m), xs) =>
      val cnt = xs.length.toLong
      val bySrc = xs.groupBy(_._3).map { case (s0, ys) => s0 -> ys.length.toLong }
      val tv = globPpm.map { case (s0, gp) =>
        math.abs(bySrc.getOrElse(s0, 0L) * 1000000L / cnt - gp) }.sum / 2
      (lg, m) -> ((cnt, bySrc.size.toLong, bySrc.values.max * 1000000L / cnt, tv))
    }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      val (cnt, l, top, tv) = expect(k)
      assert(r.getLong(r.fieldIndex("cnt")) == cnt, s"$k cnt")
      assert(r.getLong(r.fieldIndex("l_distinct")) == l, s"$k l")
      assert(r.getLong(r.fieldIndex("top_share_ppm")) == top, s"$k top")
      assert(r.getLong(r.fieldIndex("tv_ppm")) == tv, s"$k tv")
    }
  }

  test("ta_quality_kappa: marginals match the gates, scalars recompute from cells") {
    val rows = run("ta_quality_kappa").collect()
    assert(rows.nonEmpty && rows.length <= 4)
    def cell(f: String) = rows.map(r => r.getLong(r.fieldIndex(f)))
    val n = cell("n_docs").sum
    assert(n == Tables.documents(spark, sf).count())
    // marginals = the two gates' own pass counts
    val rulePass = rows.filter(_.getLong(0) == 1L)
      .map(_.getLong(rows.head.fieldIndex("n_docs"))).sum
    val gopher = run("pipe_quality_gopher").collect()
      .map(r => r.getLong(r.fieldIndex("n_pass"))).sum
    assert(rulePass == gopher)
    val lrPass = rows.filter(_.getLong(1) == 1L)
      .map(_.getLong(rows.head.fieldIndex("n_docs"))).sum
    val lr = run("ta_quality_lr").collect()
      .map(r => r.getLong(r.fieldIndex("label"))).sum
    assert(lrPass == lr)
    // po/pe/kappa recompute exactly from the confusion cells
    val agree = rows.filter(r => r.getLong(0) == r.getLong(1))
      .map(_.getLong(rows.head.fieldIndex("n_docs"))).sum
    val peNum = BigInt(rulePass) * lrPass + BigInt(n - rulePass) * (n - lrPass)
    val po = agree * 1000000L / n
    val pe = (peNum * 1000000 / (BigInt(n) * n)).toLong
    val kNum = (BigInt(n) * agree - peNum) * 1000000
    val kDen = BigInt(n) * n - peNum
    val kappa = (kNum / kDen).toLong
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("po_ppm")) == po)
      assert(r.getLong(r.fieldIndex("pe_ppm")) == pe)
      assert(r.getLong(r.fieldIndex("kappa_ppm")) == kappa)
      assert(math.abs(r.getLong(r.fieldIndex("kappa_ppm"))) <= 1000000L)
    }
  }

  test("ev_rfm: conservation, score bounds, brute-force segment recompute") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val rows = run("ev_rfm").collect()
    assert(rows.nonEmpty)
    val idx = rows.head.fieldIndex _
    val ev = Tables.events(spark, sf)
    assert(rows.map(_.getLong(idx("n_users"))).sum ==
      ev.agg(countDistinct(col("user_id"))).head.getLong(0))
    assert(rows.map(_.getLong(idx("n_events"))).sum == ev.count())
    rows.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { f =>
        val v = r.getLong(idx(f)); assert(v >= 1 && v <= 5, s"$r") }
      val (rs, fs, ms) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expSeg =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champions"
        else if (rs <= 2 && ms >= 4) "at_risk"
        else if (fs >= 4) "loyal"
        else if (ms >= 4) "big_spender"
        else if (rs <= 2) "hibernating"
        else "casual"
      assert(r.getString(idx("segment")) == expSeg)
    }
    // brute-force the whole report locally (quantile_cont semantics)
    val raw = ev.selectExpr("user_id", "unix_micros(ts)", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mts = raw.map(_._2).max
    val users = raw.groupBy(_._1).map { case (_, xs) =>
      ((mts - xs.map(_._2).max) / 86400000000L,
        xs.length.toLong,
        xs.map(x => math.floor(x._3 * 100.0).toLong).sum)
    }.toSeq
    def qcont(vs: Seq[Long], q: Double): Double = {
      val s0 = vs.sorted; val pos = (s0.length - 1) * q
      val lo = pos.toInt; val frac = pos - lo
      val a = s0(lo).toDouble
      val b = s0(math.min(lo + 1, s0.length - 1)).toDouble
      BigDecimal(a + (b - a) * frac)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rcs = (1 to 4).map(i => qcont(users.map(_._1), 0.2 * i))
    val fcs = (1 to 4).map(i => qcont(users.map(_._2), 0.2 * i))
    val mcs = (1 to 4).map(i => qcont(users.map(_._3), 0.2 * i))
    val expect = users.groupBy { case (rd, f, m) =>
      (1L + rcs.count(rd < _), 1L + fcs.count(f > _), 1L + mcs.count(m > _))
    }.map { case (k, xs) =>
      k -> ((xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum)) }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val k = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (nu, ne, mc) = expect(k)
      assert(r.getLong(idx("n_users")) == nu, s"$k users")
      assert(r.getLong(idx("n_events")) == ne, s"$k events")
      assert(r.getLong(idx("monetary_cents")) == mc, s"$k cents")
    }
  }

  test("ev_benford: literal shares are floored log10, census recomputes") {
    val rows = run("ev_benford").collect()
    assert(rows.nonEmpty)
    val idx = rows.head.fieldIndex _
    rows.foreach { r =>
      val d = r.getLong(idx("digit"))
      assert(d >= 1 && d <= 9)
      // the baked literal IS floor(log10(1+1/d)·1e6)
      assert(r.getLong(idx("exp_ppm")) ==
        math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)
      assert(r.getLong(idx("dev_ppm")) ==
        math.abs(r.getLong(idx("obs_ppm")) - r.getLong(idx("exp_ppm"))))
    }
    // census equals a direct local recompute
    val cents = Tables.events(spark, sf)
      .selectExpr("CAST(floor(abs(value) * CAST(100.0 AS DOUBLE)) AS BIGINT)")
      .collect().map(_.getLong(0)).filter(_ > 0)
    val exp = cents.groupBy(c => c.toString.head.asDigit.toLong)
      .map { case (d, xs) => d -> xs.length.toLong }
    assert(rows.map(_.getLong(idx("digit"))).toSet == exp.keySet)
    rows.foreach { r =>
      assert(r.getLong(idx("n")) == exp(r.getLong(idx("digit"))))
      assert(r.getLong(idx("obs_ppm")) ==
        r.getLong(idx("n")) * 1000000L / cents.length)
    }
  }

  test("ss_mutual_knn: exactly the reciprocated kNN edges, hubs filtered") {
    val pairs = run("ss_mutual_knn").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(a < b) }
    val edges = operators.Similarity.ivfKnnEdges(spark, sf, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = edges.filter { case (s0, n0) =>
      s0 < n0 && edges.contains((n0, s0)) }
    assert(pairs.toSet == expected)
    // the filter is not vacuous: some directed edges are unreciprocated
    assert(pairs.length * 2 < edges.size)
  }

  test("mm_pgm_sobel: brute-force raster recompute, flat-image zero") {
    val rows = run("mm_pgm_sobel").collect()
    val idx = rows.head.fieldIndex _
    assert(rows.length == Tables.documents(spark, sf).count())
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val txt = texts(r.getLong(0)).getBytes("UTF-8")
      val h = math.max(1, (txt.length + 7) / 8)
      val ras = txt.padTo(8 * h, ' '.toByte)
      def p(x: Int, y: Int) = ras(y * 8 + x) & 0xff
      var nInt = 0L; var gs = 0L; var mx = 0L; var ne = 0L
      for (y <- 1 until h - 1; x <- 1 until 7) {
        val gx = (p(x + 1, y - 1) + 2 * p(x + 1, y) + p(x + 1, y + 1)) -
          (p(x - 1, y - 1) + 2 * p(x - 1, y) + p(x - 1, y + 1))
        val gy = (p(x - 1, y + 1) + 2 * p(x, y + 1) + p(x + 1, y + 1)) -
          (p(x - 1, y - 1) + 2 * p(x, y - 1) + p(x + 1, y - 1))
        val g = math.abs(gx) + math.abs(gy)
        nInt += 1; gs += g; mx = math.max(mx, g); if (g >= 128) ne += 1
      }
      assert(r.getLong(idx("n_interior")) == nInt, s"doc ${r.getLong(0)}")
      assert(r.getLong(idx("grad_sum")) == gs, s"doc ${r.getLong(0)}")
      assert(r.getLong(idx("max_grad")) == mx, s"doc ${r.getLong(0)}")
      assert(r.getLong(idx("n_edges")) == ne, s"doc ${r.getLong(0)}")
    }
    // a constant raster has zero gradient everywhere (kernel sanity)
    val flat = Array.fill(64)('a'.toByte)
    val img = graft.functions.PgmCodec.decode(
      graft.functions.PgmCodec.encode(flat))
    assert(img.pixels.forall(_ == 'a'.toByte))
  }

  test("ss_ood_topk: descending tail, disjoint from the per-cell medoids") {
    val rows = run("ss_ood_topk").collect()
    assert(rows.length == 10)
    val idx = rows.head.fieldIndex _
    assert(rows.map(_.getInt(idx("rk"))).toSeq == (1 to 10))
    val dms = rows.map(_.getLong(idx("dm")))
    assert(dms.zip(dms.drop(1)).forall { case (a, b) => a >= b })
    assert(dms.forall(_ > 0))
    // the OOD tail and the diversity medoids are opposite extremes of
    // the same assignment — at sf0.001 they must not overlap
    val medoids = run("ss_diversity_sample").collect()
      .map(r => r.getLong(r.fieldIndex("rep_vec"))).toSet
    val ood = rows.map(_.getLong(idx("vec_id"))).toSet
    assert(ood.size == 10 && (ood & medoids).isEmpty)
  }

  test("ta_simpson: brute-force repeat probability, TTR-blindness bound") {
    val rows = run("ta_simpson").collect()
    val idx = rows.head.fieldIndex _
    assert(rows.length == Tables.documents(spark, sf).count())
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val toks = texts(r.getLong(0)).split(" ").filter(_.nonEmpty)
      val counts = toks.groupBy(identity).map(_._2.length.toLong)
      assert(r.getLong(idx("n_tokens")) == toks.length.toLong)
      assert(r.getLong(idx("n_types")) == counts.size.toLong)
      val n = toks.length.toLong
      val exp = if (n >= 2) counts.map(c => c * (c - 1)).sum * 1000000L /
        (n * (n - 1)) else 0L
      assert(r.getLong(idx("simpson_ppm")) == exp, s"doc ${r.getLong(0)}")
      assert(r.getLong(idx("simpson_ppm")) <= 1000000L)
    }
  }

  test("ev_bot_regularity: cv2 recomputes from per-user gap lists") {
    val rows = run("ev_bot_regularity").collect()
    assert(rows.length == 10)
    val idx = rows.head.fieldIndex _
    val cv2s = rows.map(_.getLong(idx("cv2_ppm")))
    assert(cv2s.zip(cv2s.drop(1)).forall { case (a, b) => a <= b })
    // recompute every user's cv2 locally; the reported 10 must be the
    // global minimum set under (cv2, user_id) order
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts)", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1).flatMap { case (u, xs) =>
      val ts = xs.sortBy(x => (x._2, x._3)).map(_._2)
      val gaps = ts.zip(ts.drop(1)).map { case (a, b) => (b - a) / 1000000L }
      if (gaps.length >= 4) {
        val n = gaps.length.toLong
        val s0 = gaps.sum
        val s2 = gaps.map(g => g * g).sum
        val cv2 = if (s0 == 0) 0L
          else ((BigInt(n) * s2 - BigInt(s0) * s0) * 1000000 /
            (BigInt(s0) * s0)).toLong
        Some((u, n, s0 / n, cv2))
      } else None
    }.toSeq
    val expTop = byUser.sortBy(x => (x._4, x._1)).take(10)
    assert(rows.map(r => (r.getLong(0), r.getLong(idx("n_gaps")),
      r.getLong(idx("mean_gap_s")), r.getLong(idx("cv2_ppm")))).toSeq ==
      expTop)
  }

  test("dd_soft_dedup: mass conservation against the hard-dedup survivors") {
    val rows = run("dd_soft_dedup").collect()
    val idx = rows.head.fieldIndex _
    assert(rows.length == Tables.documents(spark, sf).count())
    // clusters agree with dd_clusters; singletons carry full weight
    val hard = run("dd_clusters").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val id = r.getLong(idx("doc_id"))
      val size = r.getLong(idx("cluster_size"))
      hard.get(id) match {
        case Some((cid, csz)) =>
          assert(r.getLong(idx("cluster_id")) == cid && size == csz)
        case None =>
          assert(r.getLong(idx("cluster_id")) == id && size == 1L)
      }
      assert(r.getLong(idx("weight_ppm")) == 1000000L / size)
    }
    // each cluster's total weight is ~1 doc (ppm floor slack < size),
    // so total mass ≈ number of distinct clusters = survivor count
    val mass = rows.map(_.getLong(idx("weight_ppm"))).sum
    val nClusters = rows.map(_.getLong(idx("cluster_id"))).distinct.length
    assert(mass <= nClusters * 1000000L)
    assert(mass > (nClusters - 1) * 1000000L)
  }

  test("pipe_dataset_card: every cell recomputes from the raw table") {
    val rows = run("pipe_dataset_card").collect()
    val idx = rows.head.fieldIndex _
    val raw = Tables.documents(spark, sf)
      .select("source", "lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.length == raw.map(_._1).distinct.length)
    rows.foreach { r =>
      val src = r.getString(idx("source"))
      val docs = raw.filter(_._1 == src)
      val nToks = docs.map(_._3.split(" ").count(_.nonEmpty).toLong).sum
      assert(r.getLong(idx("n_docs")) == docs.length.toLong)
      assert(r.getLong(idx("n_tokens")) == nToks)
      assert(r.getLong(idx("mean_tokens")) == nToks / docs.length)
      assert(r.getLong(idx("n_langs")) == docs.map(_._2).distinct.length.toLong)
      val topLang = docs.groupBy(_._2).toSeq
        .sortBy { case (l, xs) => (-xs.length, l) }.head._1
      assert(r.getString(idx("top_lang")) == topLang)
      val dup = docs.groupBy(_._3).valuesIterator
        .map(_.length.toLong).filter(_ > 1).sum
      assert(r.getLong(idx("dup_docs")) == dup)
      assert(r.getLong(idx("dup_ppm")) == dup * 1000000L / docs.length)
    }
  }

  test("ev_dau_wau: trailing-7-day distinct recomputes, dau <= wau") {
    val rows = run("ev_dau_wau").collect()
    assert(rows.nonEmpty)
    val idx = rows.head.fieldIndex _
    val du = Tables.events(spark, sf)
      .selectExpr("CAST(to_date(ts) AS STRING)", "user_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val days = du.map(_._1).distinct.sorted
    assert(rows.map(_.getString(idx("day"))).toSeq == days.toSeq)
    def dayNum(s0: String) = java.time.LocalDate.parse(s0).toEpochDay
    rows.foreach { r =>
      val d = r.getString(idx("day")); val dn = dayNum(d)
      val dau = du.filter(_._1 == d).map(_._2).distinct.length.toLong
      val wau = du.filter(x => {
        val xn = dayNum(x._1); xn >= dn - 6 && xn <= dn
      }).map(_._2).distinct.length.toLong
      assert(r.getLong(idx("dau")) == dau)
      assert(r.getLong(idx("wau")) == wau)
      assert(dau <= wau)
      assert(r.getLong(idx("stickiness_ppm")) == dau * 1000000L / wau)
    }
  }

  test("pipe_scd2_pit: each version readback equals its snapshot") {
    import org.apache.spark.sql.functions.{col, expr, md5, substring}
    val rows = run("pipe_scd2_pit").collect()
    assert(rows.length == 2)
    val idx = rows.head.fieldIndex _
    val h = substring(md5(col("doc_id").cast("string")), 1, 4)
    // snapshot membership mirrors the scd2 synth rule
    val oldSnap = Tables.documents(spark, sf).filter(h < "f000")
      .select("doc_id").collect().map(_.getLong(0))
    val newSnap = Tables.documents(spark, sf).filter(h >= "1000")
      .select("doc_id").collect().map(_.getLong(0))
    val v1 = rows.find(_.getInt(idx("ver")) == 1).get
    val v2 = rows.find(_.getInt(idx("ver")) == 2).get
    assert(v1.getLong(idx("n_live")) == oldSnap.length.toLong)
    assert(v1.getLong(idx("id_sum")) == oldSnap.sum)
    assert(v2.getLong(idx("n_live")) == newSnap.length.toLong)
    assert(v2.getLong(idx("id_sum")) == newSnap.sum)
    // v2 fingerprints: edited docs shift fp, so distinct-fp count must
    // match a direct recompute of the new snapshot's fingerprints
    val newFps = Tables.documents(spark, sf).filter(h >= "1000")
      .select(md5(expr(
        "CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 4) < '3000' " +
          "THEN concat(text, ' edited') ELSE text END")).as("fp"))
      .distinct().count()
    assert(v2.getLong(idx("n_fps")) == newFps)
  }

  test("ev_wow_growth: weekly census and ratios recompute") {
    val rows = run("ev_wow_growth").collect()
    assert(rows.nonEmpty)
    val idx = rows.head.fieldIndex _
    val raw = Tables.events(spark, sf)
      .selectExpr("event_type", "CAST(date_trunc('week', ts) AS DATE)")
      .collect().map(r => (r.getString(0), r.getDate(1).toString))
    val census = raw.groupBy(identity).map { case (k, xs) =>
      k -> xs.length.toLong }
    assert(rows.length == census.size)
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getString(idx("week")))
      assert(rs.toSeq == sorted.toSeq) // output ordered within type
      sorted.zipWithIndex.foreach { case (r, i) =>
        val k = (r.getString(0), r.getString(idx("week")))
        assert(r.getLong(idx("n")) == census(k))
        if (i == 0) {
          assert(r.isNullAt(idx("prev")) && r.isNullAt(idx("ratio_ppm")))
        } else {
          val prev = sorted(i - 1).getLong(idx("n"))
          assert(r.getLong(idx("prev")) == prev)
          assert(r.getLong(idx("ratio_ppm")) ==
            r.getLong(idx("n")) * 1000000L / prev)
        }
      }
    }
  }

  test("ss_embed_drift: per-dimension means recompute from raw vectors") {
    val rows = run("ss_embed_drift").collect()
    val idx = rows.head.fieldIndex _
    val raw = Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        "CAST(embedding AS ARRAY<DOUBLE>)",
        "substring(md5(CAST(vec_id AS STRING)), 1, 1) < '8'")
      .collect()
      .map(r => (r.getSeq[Double](1), r.getBoolean(2)))
    assert(rows.length == raw.head._1.length)
    rows.foreach { r =>
      val d = r.getInt(idx("dim")) - 1
      def leg(ref: Boolean) = {
        val xs = raw.filter(_._2 == ref)
          .map(x => math.floor(x._1(d) * 1e6).toLong)
        (xs.length.toLong, xs.sum)
      }
      val (nr, sr) = leg(true); val (nc, sc) = leg(false)
      assert(r.getLong(idx("n_ref")) == nr && r.getLong(idx("n_cur")) == nc)
      assert(r.getLong(idx("m_ref_micro")) == sr / nr)
      assert(r.getLong(idx("m_cur_micro")) == sc / nc)
      assert(r.getLong(idx("shift_micro")) == math.abs(sc / nc - sr / nr))
    }
  }

  test("ta_lexicon_score: additive weights recompute, verdict is the sign") {
    val rows = run("ta_lexicon_score").collect()
    val idx = rows.head.fieldIndex _
    assert(rows.length == Tables.documents(spark, sf).count())
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var hits = 0L
    rows.foreach { r =>
      val toks = texts(r.getLong(0)).split(" ").filter(_.nonEmpty)
        .map(_.toLowerCase)
      val exp = toks.map(operators.TextAnalysis.LexiconWeights.getOrElse(_, 0L))
      assert(r.getLong(idx("n_tokens")) == toks.length.toLong)
      assert(r.getLong(idx("n_hits")) ==
        toks.count(operators.TextAnalysis.LexiconWeights.contains).toLong)
      assert(r.getLong(idx("score")) == exp.sum)
      val v = r.getString(idx("verdict"))
      assert(v == (if (exp.sum > 0) "pos" else if (exp.sum < 0) "neg"
        else "neu"))
      hits += r.getLong(idx("n_hits"))
    }
    assert(hits > 0, "lexicon never fired — wordlist is dead weight")
  }

  test("ev_survival: monotone curve, S(0)=1e6, tail sums recompute") {
    val rows = run("ev_survival").collect()
    val idx = rows.head.fieldIndex _
    val spans = Tables.events(spark, sf).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.expr(
        "(unix_micros(max(ts)) - unix_micros(min(ts))) DIV 86400000000")
        .as("s"))
      .collect().map(_.getLong(1))
    val n = spans.length.toLong
    assert(rows.head.getLong(idx("k")) == spans.min)
    if (spans.min == 0L)
      assert(rows.head.getLong(idx("s_ppm")) == 1000000L)
    val ppms = rows.map(_.getLong(idx("s_ppm")))
    assert(ppms.zip(ppms.drop(1)).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val k = r.getLong(idx("k"))
      val surv = spans.count(_ >= k).toLong
      assert(r.getLong(idx("n_surviving")) == surv)
      assert(r.getLong(idx("s_ppm")) == surv * 1000000L / n)
    }
  }

  test("pipe_class_rebalance: equalizing plan recomputes per label") {
    val rows = run("pipe_class_rebalance").collect()
    val idx = rows.head.fieldIndex _
    val labels = Tables.embeddings(spark, sf).select("label")
      .collect().map(_.getInt(0))
    val counts = labels.groupBy(identity).map { case (l, xs) =>
      l -> xs.length.toLong }
    val minN = counts.values.min
    assert(rows.length == counts.size)
    rows.foreach { r =>
      val n = counts(r.getInt(idx("label")))
      assert(r.getLong(idx("n")) == n)
      assert(r.getLong(idx("share_ppm")) == n * 1000000L / labels.length)
      assert(r.getLong(idx("keep_rate_ppm")) == minN * 1000000L / n)
      assert(r.getLong(idx("target_n")) == minN)
      assert(r.getLong(idx("keep_rate_ppm")) <= 1000000L)
    }
  }

  test("ev_cohort_ltv: triangle recomputes, revenue conserves") {
    val rows = run("ev_cohort_ltv").collect()
    val idx = rows.head.fieldIndex _
    val raw = Tables.events(spark, sf).selectExpr("user_id",
        "CAST(date_trunc('week', ts) AS DATE)", "value")
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        math.floor(r.getDouble(2) * 100.0).toLong))
    val cohort = raw.groupBy(_._1).map { case (u, xs) =>
      u -> xs.map(_._2).minBy(_.toEpochDay) }
    val expect = raw.groupBy { case (u, wk, _) =>
      (cohort(u).toString,
        (wk.toEpochDay - cohort(u).toEpochDay) / 7) }
      .map { case (k, xs) =>
        k -> ((xs.map(_._1).distinct.length.toLong, xs.map(_._3).sum)) }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val k = (r.getString(idx("cohort")), r.getLong(idx("age_w")))
      val (nu, rev) = expect(k)
      assert(r.getLong(idx("n_users")) == nu, s"$k users")
      assert(r.getLong(idx("revenue_cents")) == rev, s"$k revenue")
      assert(r.getLong(idx("age_w")) >= 0)
    }
    // triangle revenue conserves against the whole table
    assert(rows.map(_.getLong(idx("revenue_cents"))).sum ==
      raw.map(_._3).sum)
  }

  test("ev_pareto: users_needed is the true greedy minimum per decile") {
    val rows = run("ev_pareto").collect()
    assert(rows.length == 9)
    val idx = rows.head.fieldIndex _
    val byUser = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(_.getLong(1)).sortBy(-_)
    val t = byUser.sum
    rows.foreach { r =>
      val d = r.getLong(idx("decile"))
      val target = (t * (d / 10) + 9) / 10
      assert(r.getLong(idx("target_events")) == target)
      // greedy: take the most active users until the target is covered
      var acc = 0L; var used = 0
      while (acc < target) { acc += byUser(used); used += 1 }
      assert(r.getLong(idx("users_needed")) == used.toLong, s"decile $d")
      assert(r.getLong(idx("n_users")) == byUser.length.toLong)
      assert(r.getLong(idx("users_ppm")) ==
        used.toLong * 1000000L / byUser.length)
    }
    // monotone: higher deciles never need fewer users
    val needed = rows.sortBy(_.getLong(idx("decile")))
      .map(_.getLong(idx("users_needed")))
    assert(needed.zip(needed.drop(1)).forall { case (a, b) => a <= b })
  }

  test("mm_wav_gain: applying the planned gain lands RMS² at the target") {
    val rows = run("mm_wav_gain").collect()
    val idx = rows.head.fieldIndex _
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val n = r.getLong(idx("n_samples"))
      val sumsq = r.getLong(idx("sumsq"))
      val g2 = r.getLong(idx("gain2_ppm"))
      // the squared-gain plan is the floored rational target²·n/Σs²
      assert(g2 == ((BigInt(67108864L) * n * 1000000L) / sumsq).toLong)
      // applying gain² to the mean square reproduces the RMS² target
      // within the ppm floor: g2·(Σs²/n) ∈ (target²−Σs²/n·1e-6, target²]
      val ms = BigInt(sumsq)
      val recovered = BigInt(g2) * ms / (n * 1000000L)
      assert(recovered <= BigInt(67108864L))
      assert((BigInt(g2 + 1) * ms / (n * 1000000L)) >= BigInt(67108863L))
      assert(r.getBoolean(idx("needs_limiter")) ==
        (r.getLong(idx("n_clip")) > 0))
      // quiet clips (gain > 1) may clip peaks; a gain <= 1 never clips
      if (g2 <= 1000000L) assert(r.getLong(idx("n_clip")) == 0L)
    }
  }

  test("ev_new_vs_returning: conservation laws + dau agreement") {
    import org.apache.spark.sql.functions.countDistinct
    val rows = run("ev_new_vs_returning").collect()
    val idx = rows.head.fieldIndex _
    rows.foreach { r =>
      assert(r.getLong(idx("new_users")) + r.getLong(idx("returning")) ==
        r.getLong(idx("dau")))
      assert(r.getLong(idx("new_ppm")) ==
        r.getLong(idx("new_users")) * 1000000L / r.getLong(idx("dau")))
    }
    // every user is new exactly once
    val userBase = Tables.events(spark, sf)
      .agg(countDistinct(org.apache.spark.sql.functions.col("user_id")))
      .head.getLong(0)
    assert(rows.map(_.getLong(idx("new_users"))).sum == userBase)
    // day-1 actives are all new; dau column agrees with ev_dau_wau
    assert(rows.head.getLong(idx("returning")) == 0L)
    val dauRef = run("ev_dau_wau").collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("dau"))).toMap
    rows.foreach { r =>
      assert(r.getLong(idx("dau")) == dauRef(r.getString(idx("day"))))
    }
  }

  test("st_new_users: the streamed first-seen registry equals the batch dual") {
    val st = run("st_new_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = run("ev_new_vs_returning").collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("new_users")))
      .filter(_._2 > 0).toMap
    assert(st == batch)
  }

  test("q_fd_discovery: verdicts match the schema's real keys") {
    val rows = run("q_fd_discovery").collect()
    assert(rows.length == 5)
    val idx = rows.head.fieldIndex _
    val byPair = rows.map(r => (r.getString(idx("lhs")), r.getString(idx("rhs")))
      -> r.getBoolean(idx("holds"))).toMap
    // o_orderkey IS unique in the synthetic data → determines anything.
    // NOTE the composite (l_orderkey, l_linenumber) is deliberately in
    // the candidate list although the synthetic lineitem does NOT
    // honor TPC-H's composite PK (measured: 6000 rows, 4599 distinct
    // pairs at sf0.001) — the profiler must REPORT that, not assume
    // the schema's intent; that failing verdict is the product.
    assert(byPair(("o_orderkey", "o_custkey")))
    assert(!byPair(("l_orderkey+l_linenumber", "l_partkey")))
    // brute-force one verdict end-to-end from raw data
    val raw = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val holdsExp = raw.map(_._1).distinct.length == raw.distinct.length
    assert(byPair(("o_custkey", "o_orderpriority")) == holdsExp)
    // cross-check each verdict against the count definition
    rows.foreach { r =>
      assert(r.getBoolean(idx("holds")) ==
        (r.getLong(idx("n_lhs")) == r.getLong(idx("n_pairs"))))
      assert(r.getLong(idx("n_lhs")) <= r.getLong(idx("n_pairs")))
    }
    // at least one candidate fails, so both verdicts are exercised
    assert(rows.exists(!_.getBoolean(idx("holds"))))
  }

  test("q_chi2_independence: floored-rational chi2 matches a local recompute") {
    val rows = run("q_chi2_independence").collect()
    assert(rows.length == 1)
    val r = rows.head; val idx = r.fieldIndex _
    val raw = Tables.documents(spark, sf).select("lang", "source")
      .collect().map(x => (x.getString(0), x.getString(1)))
    val n = raw.length.toLong
    val cells = raw.groupBy(identity).map { case (k, xs) =>
      k -> xs.length.toLong }
    val rm = raw.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    val cm = raw.groupBy(_._2).map { case (k, xs) => k -> xs.length.toLong }
    val chi2 = cells.map { case ((lg, src), o) =>
      val d = BigInt(o) * n - BigInt(rm(lg)) * cm(src)
      (d * d * 1000000000L / (BigInt(rm(lg)) * cm(src) * n)).toLong
    }.sum
    assert(r.getLong(idx("n_rows")) == n)
    assert(r.getLong(idx("n_cells")) == cells.size.toLong)
    assert(r.getLong(idx("dof")) ==
      (rm.size.toLong - 1) * (cm.size.toLong - 1))
    assert(r.getLong(idx("chi2_nano")) == chi2)
    assert(r.getLong(idx("cramers_v2_ppm")) ==
      chi2 / (n * math.min(rm.size - 1, cm.size - 1) * 1000L))
    // v2 is a [0,1] effect size
    assert(r.getLong(idx("cramers_v2_ppm")) <= 1000000L)
  }

  test("ev_acf: squared correlations recompute from the zero-filled spine") {
    val rows = run("ev_acf").collect()
    val idx = rows.head.fieldIndex _
    // rebuild each type's spine locally
    val hourly = Tables.events(spark, sf)
      .selectExpr("event_type", "unix_micros(date_trunc('hour', ts))")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val types = hourly.keys.map(_._1).toSeq.distinct
    rows.foreach { r =>
      val et = r.getString(0); val k = r.getLong(idx("lag")).toInt
      val hs = hourly.collect { case ((t, h), n) if t == et => (h, n) }
      val h0 = hs.map(_._1).min; val h1 = hs.map(_._1).max
      val byH = hs.toMap
      val xs = (h0 to h1 by 3600000000L).map(byH.getOrElse(_, 0L)).toArray
      val pairs = xs.drop(k).zip(xs.dropRight(k)) // (x_t, x_{t-k})
      val m = pairs.length.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val rn = BigInt(m) * sxy - BigInt(sx) * sy
      val rd2 = (BigInt(m) * sxx - BigInt(sx) * sx) *
        (BigInt(m) * syy - BigInt(sy) * sy)
      assert(r.getLong(idx("m")) == m, s"$et lag $k m")
      assert(r.getLong(idx("sign")) == rn.signum.toLong, s"$et lag $k sign")
      assert(r.getLong(idx("r2_ppm")) == (rn * rn * 1000000 / rd2).toLong,
        s"$et lag $k r2")
      assert(r.getLong(idx("r2_ppm")) <= 1000000L)
    }
    assert(rows.map(_.getString(0)).distinct.length == types.length)
  }

  test("ev_decayed_count: fixed-point decay recomputes, bounds hold") {
    val rows = run("ev_decayed_count").collect()
    val idx = rows.head.fieldIndex _
    val raw = Tables.events(spark, sf)
      .selectExpr("event_type", "unix_micros(ts)").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val mx = raw.map(_._2).max
    val expect = raw.groupBy(_._1).map { case (t, xs) =>
      val ws = xs.map { case (_, us) =>
        val ageH = (mx - us) / 3600000000L
        graft.functions.Exp2Micro.exp2micro(-((ageH * 1000000L) / 168L))
      }
      t -> ((xs.length.toLong, ws.sum))
    }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (n, dm) = expect(r.getString(0))
      assert(r.getLong(idx("n_events")) == n)
      assert(r.getLong(idx("decayed_micro")) == dm)
      assert(r.getLong(idx("decay_ppm")) == dm / n)
      // each weight ∈ (0, 1e6]: decayed mass below raw count's micro
      assert(dm <= n * 1000000L && dm > 0)
    }
  }

  test("ev_ab_srm: arm census matches ev_ab_experiment, chi2 recomputes") {
    val rows = run("ev_ab_srm").collect()
    assert(rows.length == 1)
    val r = rows.head; val idx = r.fieldIndex _
    val arms = run("ev_ab_experiment").collect()
      .map(x => x.getInt(0) -> x.getLong(x.fieldIndex("n_users"))).toMap
    val (a, b) = (arms(0), arms(1))
    assert(r.getLong(idx("n_a")) == a && r.getLong(idx("n_b")) == b)
    val chi2 = BigInt(a - b) * (a - b) * 1000000000L / (a + b)
    assert(r.getLong(idx("chi2_nano")) == chi2.toLong)
    assert(r.getBoolean(idx("srm_detected")) == (chi2 > 3841459000L))
    // No healthy-baseline assertion: at this sf's ~50 users a fair
    // coin legitimately lands outside the asymptotic 5% band (e.g. a
    // 32/18 split gives χ² = 3.92 > 3.84) — the SRM test is built for
    // production user counts, where the relative imbalance that fires
    // it shrinks as 1/√n. The arithmetic contract above is what the
    // engine owns; the firing threshold is the statistician's.
  }

  test("ss_ivf_occupancy: census conserves, skew stays inside the design band") {
    val rows = run("ss_ivf_occupancy").collect()
    assert(rows.length == 1)
    val r = rows.head; val idx = r.fieldIndex _
    val nVec = Tables.embeddings(spark, sf).count()
    val k = math.ceil(math.sqrt(nVec.toDouble)).toLong
    assert(r.getLong(idx("n_vec")) == nVec)
    assert(r.getLong(idx("k_nonempty")) >= 1 &&
      r.getLong(idx("k_nonempty")) <= k)
    assert(r.getLong(idx("occ_min")) >= 1)
    assert(r.getLong(idx("occ_min")) <= r.getLong(idx("occ_max")))
    assert(r.getLong(idx("occ_mean_micro")) ==
      nVec * 1000000L / r.getLong(idx("k_nonempty")))
    assert(r.getLong(idx("skew_ppm")) ==
      r.getLong(idx("occ_max")) * 1000000L * r.getLong(idx("k_nonempty"))
        / nVec)
    // the O(√n)-per-cell claim needs the fat cell within a constant
    // of the mean; 10× is far outside anything Lloyd leaves here
    assert(r.getLong(idx("skew_ppm")) <= 10000000L)
  }

  test("ev_rate_limit_audit: trailing counts recompute, true top-10") {
    val rows = run("ev_rate_limit_audit").collect()
    assert(rows.length == 10)
    val idx = rows.head.fieldIndex _
    val raw = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts)").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byUser = raw.groupBy(_._1).map { case (u, xs) =>
      u -> xs.map(_._2).sorted }
    def inMin(u: Long, us: Long): Long =
      byUser(u).count(t => t >= us - 59999999L && t <= us).toLong
    rows.foreach { r =>
      assert(r.getLong(idx("in_min")) ==
        inMin(r.getLong(0), r.getLong(idx("us"))), s"$r")
    }
    // the reported rows are the global maximum set under the tie order
    val all = raw.map { case (u, us) => (inMin(u, us), u, us) }
      .sortBy { case (c, u, us) => (-c, u, us) }.take(10)
    assert(rows.map(r => (r.getLong(idx("in_min")), r.getLong(0),
      r.getLong(idx("us")))).toSeq == all.toSeq)
  }

  test("ta_vocab_overlap: pairwise Jaccard recomputes from raw vocabularies") {
    val rows = run("ta_vocab_overlap").collect()
    val idx = rows.head.fieldIndex _
    val vocab = Tables.documents(spark, sf).select("lang", "text")
      .collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(r.getString(0) -> _))
      .distinct.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).toSet }
    val langs = vocab.keys.toSeq.sorted
    assert(rows.length == langs.combinations(2).length)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val (va, vb) = (vocab(a), vocab(b))
      val common = (va & vb).size.toLong
      assert(r.getLong(idx("n_common")) == common)
      assert(r.getLong(idx("na")) == va.size.toLong)
      assert(r.getLong(idx("nb")) == vb.size.toLong)
      assert(r.getLong(idx("jaccard_ppm")) ==
        common * 1000000L / (va.size + vb.size - common))
    }
  }
}
