package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 session-5 additions: the recursive-CTE BOM rollup, HITS
  * link analysis, and the silhouette cluster-validity score — property
  * pins beside the oracle gate.
  */
class Round18OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("q_recursive_bom: the forest partitions the part table exactly") {
    val got = SparkEntry.queries("q_recursive_bom")(spark, sf).collect()
    val nParts = Tables.part(spark, sf).count()
    // every part has exactly one root-ward chain (parent(c) = c DIV 8
    // strictly decreases), so the recursion visits each part once —
    // Σ n_parts over roots must equal |part| with no dup or drop
    assert(got.map(_.getLong(1)).sum == nParts,
      "recursion visited a part 0 or 2+ times — the frontier join is wrong")
    assert(got.length == 8 && got.map(_.getLong(0)).toSeq == (0L to 7L),
      "roots must be exactly keys 0..7")
    // root 0 is the degenerate single-node tree (its would-be children
    // 0..7 are all roots): the recursion must terminate at depth 0
    val r0 = got.find(_.getLong(0) == 0L).get
    assert(r0.getLong(1) == 1L && r0.getInt(2) == 0 && r0.getLong(3) == 1L,
      "root 0 must be a leaf-only product")
    // depth is log8: at 600 parts (sf0.001) the deepest chains sit at
    // 3; every multi-child root must recurse at least once
    assert(got.filter(_.getLong(1) > 1L).forall(_.getInt(2) >= 1))
    // rollup ≥ its own leaf cost, and units ≥ parts (qty ≥ 1 per node)
    got.foreach { r =>
      assert(r.getLong(3) >= r.getLong(1), "a path quantity fell below 1")
      assert(r.getLong(4) > 0L)
    }
  }

  test("dd_hits: normalization, zero-role boundaries, score domain") {
    val got = SparkEntry.queries("dd_hits")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "empty near-dup graph — the substrate vanished")
    assert(got.forall { case (_, a, h) =>
      a >= 0L && a <= 1000000L && h >= 0L && h <= 1000000L },
      "a score escaped [0, 10^6] — max-normalization broke")
    // L∞ normalization: some node holds exactly 10^6 on each side
    assert(got.map(_._2).max == 1000000L, "no max-authority node")
    assert(got.map(_._3).max == 1000000L, "no max-hub node")
    // the directed substrate points doc_a → doc_b with doc_a < doc_b,
    // so each component's minimum doc has no in-edge (authority must
    // be exactly 0) and its maximum doc no out-edge (hub 0)
    // public equivalent of the query's verified-pair substrate (the
    // dd_pagerank oracle family pins the equality)
    val edges = operators.Dedup.ngramJaccardPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dsts = edges.map(_._2).toSet
    val srcs = edges.map(_._1).toSet
    val byId = got.map(t => t._1 -> t).toMap
    (srcs ++ dsts).foreach { id =>
      if (!dsts.contains(id))
        assert(byId(id)._2 == 0L, s"source-only node $id has authority > 0")
      if (!srcs.contains(id))
        assert(byId(id)._3 == 0L, s"sink-only node $id has hub > 0")
    }
  }

  test("mm_pgm_otsu: argmax matches a per-image brute force over all 255 splits") {
    import graft.functions.PgmCodec
    val got = SparkEntry.queries("mm_pgm_otsu")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, text) =>
      val px = PgmCodec.decode(
        PgmCodec.encode(text.getBytes("UTF-8"))).pixels
      val n = px.length.toLong
      val hist = new Array[Long](256)
      px.foreach(b => hist(b & 0xff) += 1)
      val total = (0 until 256).map(i => i.toLong * hist(i)).sum
      var (s0, w0) = (0L, 0L)
      var best = (-1, -1L, 0L)
      for (t <- 0 until 255) {
        w0 += hist(t); s0 += t.toLong * hist(t)
        if (w0 > 0 && w0 < n) {
          val num = BigInt(s0) * n - BigInt(total) * w0
          val sc = ((num * num * 1000000L) /
            (BigInt(w0) * (n - w0) * n * n)).toLong
          if (sc > best._2) best = (t, sc, w0)
        }
      }
      val (gt, gb, ga, gs) = got(id)
      assert(gt == best._1 && gs == best._2 && gb == best._3,
        s"doc $id: got t=$gt score=$gs, brute force t=${best._1} score=${best._2}")
      assert(gb + ga == n, s"doc $id: class census must partition the raster")
      assert(hist(gt) > 0, s"doc $id: winner $gt is not a present gray value")
    }
  }

  test("ev_welch_t2: micro statistic tracks the double-precision Welch z^2") {
    val r = SparkEntry.queries("ev_welch_t2")(spark, sf).collect().head
    val (nA, nB) = (r.getLong(0), r.getLong(1))
    val nUsers = Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(nA + nB == nUsers, "arms must partition the user base")
    assert(nA >= 2 && nB >= 2, "degenerate arm — the variance leg is untested")
    // recompute in doubles from the same per-user cents frame
    val spends = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(sum(expr("CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT)"))
        .as("v"),
        first(expr("pmod(CAST(conv(substring(md5(CAST(user_id AS STRING)), " +
          "1, 13), 16, 10) AS BIGINT), 2L)")).as("arm"))
      .collect().map(x => (x.getLong(2), x.getLong(1).toDouble))
    def stats(arm: Long) = {
      val xs = spends.filter(_._1 == arm).map(_._2)
      val m = xs.sum / xs.length
      (xs.length, m, xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
    }
    val (na2, ma, va) = stats(0)
    val (nb2, mb, vb) = stats(1)
    assert(na2.toLong == nA && nb2.toLong == nB)
    val t2 = (ma - mb) * (ma - mb) / (va / na2 + vb / nb2)
    val gotT2 = r.getLong(7).toDouble / 1e6
    assert(math.abs(gotT2 - t2) <= 0.01 * math.max(1.0, t2),
      s"t2 micro=$gotT2 vs double=$t2 — truncation drifted past 1%")
    assert(r.getBoolean(8) == (r.getLong(7) >= 3841459L))
  }

  test("dd_incremental_cc: the star+delta merge equals the full recompute, and both splits are non-trivial") {
    val got = SparkEntry.queries("dd_incremental_cc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val full = SparkEntry.queries("dd_clusters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == full.toSeq,
      "incremental merge diverged from the full CC — the star-edge " +
        "carryover lost structure")
    // the contract is vacuous if either split is empty: both the base
    // half and the delta must contribute pairs on this corpus
    val pairs = operators.Dedup.ngramJaccardPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def inBase(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      hex.charAt(0) < '8'
    }
    val nBase = pairs.count { case (a, b) => inBase(a) && inBase(b) }
    assert(nBase > 0 && nBase < pairs.length,
      s"degenerate split ($nBase of ${pairs.length} pairs in base) — " +
        "the merge path was not exercised")
  }

  test("sk_hll_sliding: every hour answered, error bounded, registers capped") {
    val got = SparkEntry.queries("sk_hll_sliding")(spark, sf).collect()
    val nHours = Tables.events(spark, sf)
      .select(date_trunc("hour", col("ts"))).distinct().count()
    assert(got.length == nHours, "a trailing window lost its hour")
    got.foreach { r =>
      val (nSet, est, exact) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(nSet >= 1 && nSet <= 256)
      assert(exact >= 1, "an hour with no trailing users cannot exist")
      // HLL@m=256 with linear counting: generous 25%+3 envelope — the
      // 3.3% measured MAPE has 7x headroom before this trips
      assert(math.abs(est - exact) <= exact / 4 + 3,
        s"hour ${r.get(0)}: est $est vs exact $exact escaped the envelope")
    }
  }

  test("sk_cms_sliding: one-sided everywhere, every (hour, probe) answered") {
    val got = SparkEntry.queries("sk_cms_sliding")(spark, sf).collect()
      .map(r => (r.get(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nHours = Tables.events(spark, sf)
      .select(date_trunc("hour", col("ts"))).distinct().count()
    assert(got.length == nHours * 5, "a probe lost an anchor hour")
    // count-min theorem: est ≥ exact at EVERY anchor, including the
    // pure-collision anchors where the value never fired
    got.foreach { case (h, k, est, exact) =>
      assert(est >= exact, s"($h, $k): est $est < exact $exact — " +
        "a window cell went missing from the min") }
    assert(got.exists { case (_, _, est, exact) => exact == 0 && est >= 0 },
      "no pure-collision anchor — the one-sided error is invisible")
  }

  test("q_spatial_radius_join: cell cover equals the brute-force radius join") {
    val r = operators.RangeJoin.SpatialRadius
    val got = SparkEntry.queries("q_spatial_radius_join")(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    def coord(salt: String, c: org.apache.spark.sql.Column) =
      pmod(conv(substring(md5(concat(lit(salt), c.cast("string"))), 1, 13),
        16, 10).cast("long"), lit(1000000L))
    val cust = Tables.customer(spark, sf).select(col("c_custkey").as("cid"),
      coord("gx", col("c_custkey")).as("cx"),
      coord("gy", col("c_custkey")).as("cy"))
    val sup = Tables.supplier(spark, sf).select(col("s_suppkey").as("sid"),
      coord("hx", col("s_suppkey")).as("sx"),
      coord("hy", col("s_suppkey")).as("sy"))
    val brute = cust.crossJoin(sup)
      .withColumn("d2", expr("(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)"))
      .filter(col("d2") <= lit(r * r))
      .collect().map(x => (x.getLong(0), x.getLong(3), x.getLong(6)))
    val byCust = brute.groupBy(_._1)
    assert(got.nonEmpty, "radius join never fired — fixture density broke")
    assert(got.map(_._1).toSet == byCust.keySet,
      "cell cover missed or invented a matched customer vs brute force")
    got.foreach { case (cid, n, d2, sid) =>
      val mine = byCust(cid)
      assert(n == mine.length, s"customer $cid: count ${n} vs ${mine.length}")
      val minD2 = mine.map(_._3).min
      assert(d2 == minD2 && d2 <= r * r)
      assert(sid == mine.filter(_._3 == minD2).map(_._2).min,
        s"customer $cid: nearest tie-break diverged")
    }
  }

  test("dd_er_blocking: PairGen exactness and verify soundness per block") {
    val got = SparkEntry.queries("dd_er_blocking")(spark, sf).collect()
    assert(got.nonEmpty)
    // the negative-control corruption must be rejected somewhere:
    // blocking and verification each do distinct work
    assert(got.map(_.getLong(3)).sum < got.map(_.getLong(2)).sum,
      "every candidate matched — the verify stage discriminates nothing")
    assert(got.map(_.getLong(3)).sum > 0L, "the verify stage matched nothing")
    got.foreach { r =>
      val (n, pairs, matches) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(pairs == n * (n - 1) / 2,
        s"block ${r.getString(0)}: pair volume != C(n,2) — PairGen dropped " +
          "or duplicated a within-block pair")
      assert(matches <= pairs)
      if (matches > 0) {
        val Array(w1, w2) = r.getString(4).split("\\|")
        assert(w1 < w2, "witness pair must be ordered")
        // the witness must genuinely pass the verify threshold
        val lev = {
          val (a, b) = (w1, w2)
          val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
            if (i == 0) j else if (j == 0) i else 0)
          for (i <- 1 to a.length; j <- 1 to b.length)
            d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
              d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          d(a.length)(b.length)
        }
        assert(lev <= 2, s"witness ${r.getString(4)} fails the threshold")
      }
    }
  }

  test("mm_pgm_adaptive: brute-force 3x3 local-mean agreement") {
    import graft.functions.PgmCodec
    val got = SparkEntry.queries("mm_pgm_adaptive")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(8).collect()
    docs.foreach { d =>
      val px = PgmCodec.decode(
        PgmCodec.encode(d.getString(1).getBytes("UTF-8"))).pixels
      val h = px.length / 8
      def v(x: Int, y: Int) = (px(y * 8 + x) & 0xff).toLong
      var (nI, nA, sE) = (0L, 0L, 0L)
      for (y <- 1 until h - 1; x <- 1 until 7) {
        val s9 = (for (dy <- -1 to 1; dx <- -1 to 1)
          yield v(x + dx, y + dy)).sum
        val e = 9 * v(x, y) - s9
        nI += 1; if (e > 0) { nA += 1; sE += e }
      }
      val r = got(d.getLong(0))
      assert(r.getLong(1) == nI && r.getLong(2) == nA && r.getLong(3) == sE,
        s"doc ${d.getLong(0)}: local-mean census diverged from brute force")
    }
    // foreground under a local mean is strictly rarer than half the
    // interior only on flat images; here just pin the domain
    got.values.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("mm_png_chunks: framing invariants over the real landing") {
    val got = SparkEntry.queries("mm_png_chunks")(spark, sf).collect()
    val expected = Tables.documents(spark, sf)
      .filter(expr("substring(md5(CAST(doc_id AS STRING)), 1, 4) < '2000'"))
      .select(col("doc_id"),
        expr("greatest(1L, CAST((length(text) + 7) DIV 8 AS BIGINT))").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.length == expected.size,
      "chunk walk must cover exactly the landed subset")
    got.foreach { r =>
      val id = r.getLong(0)
      // IHDR dims must match the arithmetic raster dims — the encoder
      // can't change the image, only its framing
      assert(r.getLong(5) == 8L && r.getLong(6) == expected(id),
        s"doc $id: IHDR dims diverged from the arithmetic raster")
      assert(r.getLong(3) >= 1L && r.getLong(4) > 0L,
        s"doc $id: a PNG with no IDAT payload")
      // signature(8) + per-chunk 12-byte framing + data ≤ file size
      assert(8 + r.getLong(2) * 12 + r.getLong(4) <= r.getLong(1),
        s"doc $id: framing accounting exceeds the file")
    }
  }

  test("ss_knn_classify: census bounds, ppm domain, and vote legitimacy") {
    val got = SparkEntry.queries("ss_knn_classify")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val n = Tables.embeddings(spark, sf).count()
    assert(got.map(_._2).sum <= n, "census exceeded the corpus")
    assert(got.map(_._2).sum >= n / 2,
      "less than half the corpus voted — the kNN graph collapsed")
    got.foreach { case (_, cnt, correct, ppm) =>
      assert(correct <= cnt && ppm >= 0L && ppm <= 1000000L)
      assert(ppm == correct * 1000000L / cnt, "ppm drifted from its counts")
    }
    // every prediction must be a label that actually appears among the
    // voter's 5 neighbors (legitimacy of the argmax)
    val lbl = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val votes = operators.Similarity.ivfKnnEdges(spark, sf, 5)
      .join(lbl.select(col("vec_id").as("nbr"), col("label").as("nlbl")), "nbr")
      .select(col("nlbl")).distinct().collect().map(_.getInt(0)).toSet
    val classes = lbl.select(col("label")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(got.map(_._1).toSet.subsetOf(votes ++ classes),
      "a reported label class never appears in the data")
  }

  test("q_bitmap_distinct: bitmap plan equals the raw distinct, and shuffles bounded frames") {
    val got = SparkEntry.queries("q_bitmap_distinct")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val direct = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("d"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.sortBy(_._1).toSeq == direct.sortBy(_._1).toSeq,
      "two-level bitmap count diverged from COUNT(DISTINCT)")
    // the stage-1 frame is (key, bucket)-bounded: with a 32768-wide
    // bucket and this part-key domain it must be ≤ keys · ⌈domain/32768⌉
    val nBuckets = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        expr("bitmap_bucket_number(l_partkey)").as("b"))
      .distinct().count()
    val dom = Tables.part(spark, sf)
      .agg(max(col("p_partkey"))).collect().head.getLong(0) + 1
    assert(nBuckets <= got.length * ((dom + 32767) / 32768 + 1),
      "stage-1 bitmap frame larger than the bounded-domain claim")
  }

  test("mm_pgm_integral: quadrants tile the frame and match direct sums") {
    import graft.functions.PgmCodec
    val got = SparkEntry.queries("mm_pgm_integral")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5)
        == r.getLong(1), s"quadrants must tile the frame: $r")
    }
    // spot-check the SAT corner algebra against a direct pixel sum
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(5).collect()
    val byId = got.map(r => r.getLong(0) -> r).toMap
    docs.foreach { d =>
      val px = PgmCodec.decode(
        PgmCodec.encode(d.getString(1).getBytes("UTF-8"))).pixels
      val h = px.length / 8
      val tl = (for (y <- 0 until h / 2; x <- 0 until 4)
        yield (px(y * 8 + x) & 0xff).toLong).sum
      assert(byId(d.getLong(0)).getLong(2) == tl,
        s"doc ${d.getLong(0)}: SAT top-left box diverged from direct sum")
    }
  }

  test("ta_soundex: probed reference cases and vocabulary partition") {
    import spark.implicits._
    // the exact edge cases probed against spark-sql when the oracle's
    // RE2-safe reconstruction was written — if Spark's soundex ever
    // changes semantics (h/w transparency, vowel separators, same-code
    // first letter), this pins the drift before the oracle gate does
    val cases = Seq(
      "tymczak" -> "T522", "pfister" -> "P236", "ashcraft" -> "A261",
      "robert" -> "R163", "honeyman" -> "H555", "cyc" -> "C200",
      "bfpv" -> "B000", "sgps" -> "S120", "hannah" -> "H500",
      "zzyzx" -> "Z200", "aeiou" -> "A000", "hw" -> "H000")
    val got = cases.map(_._1).toDF("w")
      .select(soundex(col("w"))).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2),
      s"Spark soundex drifted: ${cases.map(_._1).zip(got)}")
    val rows = SparkEntry.queries("ta_soundex")(spark, sf).collect()
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .select(countDistinct(col("w"))).collect().head.getLong(0)
    assert(rows.map(_.getLong(1)).sum == vocab,
      "code buckets must partition the vocabulary")
    rows.foreach { r =>
      assert(r.getString(0).matches("[A-Z][0-9]{3}"), s"malformed code $r")
      assert(r.getString(3) <= r.getString(4)) }
  }

  test("mm_wav_pitch: argmax matches a brute force over the synth samples") {
    val got = SparkEntry.queries("mm_wav_pitch")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val s = text.map(c => (c.toInt - 128).toLong * 256)
      val r0 = s.map(x => x * x).sum
      val byLag = (2 to 13).map { lag =>
        lag -> (0 until s.length - lag).map(j => s(j) * s(j + lag)).sum
      }
      val (bl, br) = byLag.maxBy { case (lag, r) => (r, -lag) }
      val (gl, g0, gr, gp) = got(id)
      assert(gl == bl && g0 == r0 && gr == br,
        s"doc $id: got lag=$gl r=$gr, brute lag=$bl r=$br")
      // Cauchy–Schwarz: |R(L)| ≤ R(0) ⇒ the voicing dial stays in ±1e6
      assert(math.abs(gp) <= 1000000L, s"doc $id: r_ppm escaped the bound")
      assert((gp >= 0) == (gr >= 0), s"doc $id: r_ppm sign flipped")
    }
  }

  test("ss_silhouette: census, domain, and agreement with a direct recompute") {
    val got = SparkEntry.queries("ss_silhouette")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = Tables.embeddings(spark, sf).count()
    assert(got.map(_._2).sum == n, "per-cell census must partition the corpus")
    got.foreach { case (_, _, mean, mn) =>
      assert(mean >= 0L && mean <= 1000000L, "mean silhouette out of [0, 1e6]")
      assert(mn >= 0L && mn <= mean, "min must bound the mean from below")
    }
    // nearest-centroid assignment forces b ≥ a, so the corpus-wide
    // mean must be strictly positive unless every point is equidistant
    // between two centroids — not this corpus
    assert(got.map(t => t._3 * t._2).sum / n > 0L, "all-zero silhouette")
  }

  test("cdc_chunks: one-pass expression matches the legacy explode chain, multibyte included") {
    import graft.functions.RollingHash.cdc_chunks
    import operators.Dedup.{CdcMask, CdcWindow}
    // the r17 dd_cdc_chunks chunk chain (the cdcab A/B's reference arm)
    def legacyChunks(d: org.apache.spark.sql.DataFrame) = LegacyAb.legacyCdcChunkRows(d)
    def newChunks(d: org.apache.spark.sql.DataFrame) = d
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(cdc_chunks(col("text"), CdcWindow, CdcMask)).as("chunk"))
    // corpus pin: the (doc, chunk) MULTISET identical on sf0.001
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(legacyChunks(docs).exceptAll(newChunks(docs)).isEmpty &&
      newChunks(docs).exceptAll(legacyChunks(docs)).isEmpty,
      "cdc_chunks diverged from the legacy chain on the corpus")
    // crafted edges the ASCII corpus can't exercise: multibyte chars
    // (2/3/4-byte UTF-8 — char positions, not byte positions), a doc
    // shorter than the window, exactly the window, and a long
    // all-same-char run (every window hashes identically)
    val crafted = Seq(
      "héllo wörld — ünïcode ¢haracters in the rolling window déjà vu",
      "日本語のテキストと漢字が混ざった行です。これは境界試験。",
      "emoji 😀😃😄 mixed with ascii text and more emoji 🎉🎊 padding padding",
      "short", "exactly sixteen!", "exactly17 chars!!",
      "a" * 200,
      ("mixed ascii then 中文 then more ascii " * 8)
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val cd = spark.createDataFrame(crafted).toDF("doc_id", "text")
    val lc = legacyChunks(cd).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val nc = newChunks(cd).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(lc.sameElements(nc),
      s"crafted-edge divergence: legacy=${lc.toSeq.take(6)} new=${nc.toSeq.take(6)}")
    // chunks must partition each crafted doc exactly, in order
    cd.select(col("doc_id"), cdc_chunks(col("text"), CdcWindow, CdcMask).as("cs"))
      .collect().foreach { r =>
        assert(r.getSeq[String](1).mkString == crafted(r.getLong(0).toInt)._2,
          s"doc ${r.getLong(0)} does not reassemble from its chunks")
      }
  }
}
