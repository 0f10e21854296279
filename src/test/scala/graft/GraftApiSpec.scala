package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library-facing sketch and sweep-line API on [[Graft]], tested
  * on synthetic frames (no testdata) the way an embedding application
  * would call it.
  */
class GraftApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  test("hllSketch/hllEstimate: 10k synthetic keys within 15%") {
    val keys = (1 to 10000).map(i => s"key-$i").toDF("k")
    val est = Graft.hllEstimate(Graft.hllSketch(keys, col("k")))
      .collect().head.getAs[Long]("est_distinct")
    assert(math.abs(est - 10000).toDouble / 10000 <= 0.15, s"est=$est")
  }

  test("hllMerge: sketch of parts equals sketch of the whole") {
    val all = (1 to 5000).map(i => s"k$i").toDF("k")
    val parts = Seq(
      (1 to 2000).map(i => s"k$i").toDF("k"),
      // overlapping middle slice — merge must stay idempotent
      (1500 to 3500).map(i => s"k$i").toDF("k"),
      (3000 to 5000).map(i => s"k$i").toDF("k"))
    val merged = Graft.hllMerge(parts.map(Graft.hllSketch(_, col("k"))))
      .orderBy("reg").collect()
    val direct = Graft.hllSketch(all, col("k")).orderBy("reg").collect()
    assert(merged.toSeq == direct.toSeq)
  }

  test("peakConcurrency and intervalUtilization on a hand-built timeline") {
    // Three 10-minute intervals inside hour H: [00, 10), [05, 15),
    // [30, 40). Peak = 2 (first pair overlaps 5 min); covered =
    // 15 min + 10 min = 25 min.
    def ts(min: Int) = Timestamp.valueOf(f"2024-03-01 09:$min%02d:00")
    val ev = Seq(ts(0), ts(5), ts(30)).toDF("ts")
    val tenMin = 10L * 60 * 1000000
    val peak = Graft.peakConcurrency(ev, "ts", tenMin).collect()
    assert(peak.length == 1)
    assert(peak.head.getAs[Long]("n_opens") == 3L)
    assert(peak.head.getAs[Long]("peak_conc") == 2L)
    val util = Graft.intervalUtilization(ev, "ts", tenMin).collect()
    assert(util.length == 1)
    assert(util.head.getAs[Long]("covered_micros") == 25L * 60 * 1000000)
  }

  test("sketch and sweep API on empty inputs: empty out, never a throw") {
    val noKeys = Seq.empty[String].toDF("k")
    assert(Graft.hllSketch(noKeys, col("k")).count() == 0)
    val est = Graft.hllEstimate(Graft.hllSketch(noKeys, col("k"))).collect().head
    assert(est.getAs[Long]("n_set") == 0L)
    val noEvents = Seq.empty[Timestamp].toDF("ts")
    assert(Graft.peakConcurrency(noEvents, "ts", 1000000L).count() == 0)
    assert(Graft.intervalUtilization(noEvents, "ts", 1000000L).count() == 0)
    assert(Graft.concurrencyHistogram(noEvents, "ts", 1000000L).count() == 0)
  }

  test("intervalUtilization splits a boundary-crossing interval across hours") {
    // One 30-minute interval [09:50, 10:20): 10 min in hour 09,
    // 20 min in hour 10.
    val ev = Seq(Timestamp.valueOf("2024-03-01 09:50:00")).toDF("ts")
    val rows = Graft.intervalUtilization(ev, "ts", 30L * 60 * 1000000)
      .collect().map(r => (r.getTimestamp(0).toString, r.getAs[Long]("covered_micros")))
    assert(rows.toSeq == Seq(
      ("2024-03-01 09:00:00.0", 10L * 60 * 1000000),
      ("2024-03-01 10:00:00.0", 20L * 60 * 1000000)))
  }

  test("bloomBits/bloomProbe: no false negatives, merged filter = direct filter") {
    val a = (1 to 500).map(i => s"member-$i").toDF("k")
    val b = ((400 to 600).map(i => s"member-$i") ++
      (1 to 200).map(i => s"other-$i")).toDF("k")
    val bits = Graft.bloomBits(a, col("k"))
    val probed = Graft.bloomProbe(bits, b, col("k")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // every true member hits
    (400 to 500).foreach(i => assert(probed(s"member-$i") == 1))
    // merged halves OR to exactly the direct bit-set
    val merged = Graft.bloomBits((1 to 250).map(i => s"member-$i").toDF("k"), col("k"))
      .unionByName(Graft.bloomBits((251 to 500).map(i => s"member-$i").toDF("k"), col("k")))
      .distinct()
    assert(merged.orderBy("pos").collect().toSeq ==
      bits.orderBy("pos").collect().toSeq)
  }

  test("attributionUShape conserves credit on a hand-built touch path") {
    def ts(min: Int) = Timestamp.valueOf(f"2024-03-01 09:$min%02d:00")
    val purchases = Seq((1L, 7L, ts(50)), (2L, 8L, ts(55)))
      .toDF("p_id", "p_user", "p_ts")
    // user 7: 4 touches -> 4000/1000/1000/4000; user 8: none
    val touches = Seq(
      (7L, ts(10), 11L, "view"), (7L, ts(20), 12L, "click"),
      (7L, ts(30), 13L, "view"), (7L, ts(40), 14L, "click"))
      .toDF("t_user", "t_ts", "t_id", "touch_type")
    val rows = Graft.attributionUShape(purchases, touches, 24).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("credit_bp")).toMap
    assert(rows("view") == 5000L)  // 4000 (first) + 1000 (middle)
    assert(rows("click") == 5000L) // 1000 (middle+rem) + 4000 (last)
    assert(rows("none") == 10000L)
    assert(rows.values.sum == 20000L)
  }

  test("ksDrift: identical halves give D = 0, disjoint halves give D = nr*nc") {
    val same = ((1 to 100).map(v => (v, true)) ++ (1 to 100).map(v => (v, false)))
      .toDF("v", "is_ref")
    val r0 = Graft.ksDrift(same, col("v"), col("is_ref")).collect().head
    assert(r0.getAs[Long]("d_num") == 0L)
    val disjoint = ((1 to 50).map(v => (v, true)) ++
      (101 to 150).map(v => (v, false))).toDF("v", "is_ref")
    val r1 = Graft.ksDrift(disjoint, col("v"), col("is_ref")).collect().head
    assert(r1.getAs[Long]("d_num") == 50L * 50L)
    assert(r1.getAs[Int]("at_value") == 50)
  }

  test("hits: a pure source is the best hub, a pure sink the best authority") {
    // star out of 1 (1→2, 1→3, 1→4) plus 2→4: node 1 endorses
    // everything (hub), node 4 is endorsed by the strongest hubs
    // (authority); node 1 has no in-edges → authority exactly 0
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L))
      .toDF("src", "dst")
    val got = Graft.hits(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L)._1 == 0L, "a node with no in-edges must hold authority 0")
    assert(got(1L)._2 == 1000000L, "the pure source must be the max hub")
    assert(got(4L)._1 == 1000000L, "the doubly-endorsed sink is max authority")
    assert(got(4L)._2 == 0L, "a node with no out-edges must hold hub 0")
    assert(got.values.forall { case (a, h) =>
      a >= 0 && a <= 1000000L && h >= 0 && h <= 1000000L })
  }

  test("radiusJoin: exact cell cover incl. negative coordinates") {
    val left = Seq((1L, -5L, -5L), (2L, 0L, 0L), (3L, 95L, 5L))
      .toDF("lid", "lx", "ly")
    val right = Seq((10L, -12L, -5L), (11L, 9L, 1L), (12L, 200L, 200L))
      .toDF("rid", "rx", "ry")
    val got = Graft.radiusJoin(left, right, "lx", "ly", "rx", "ry", 10L)
      .select("lid", "rid", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: pairs within d² ≤ 100
    val expect = (for {
      (l, lx, ly) <- Seq((1L, -5L, -5L), (2L, 0L, 0L), (3L, 95L, 5L))
      (r, rx, ry) <- Seq((10L, -12L, -5L), (11L, 9L, 1L), (12L, 200L, 200L))
      d2 = (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)
      if d2 <= 100
    } yield (l, r, d2)).toSet
    assert(got == expect,
      s"cell cover diverged from brute force: got $got expect $expect")
    // the (-5,-5)↔(-12,-5) pair sits across cells −1/−2 — the
    // negative-coordinate cover case the floor division guarantees
    assert(expect.exists(_._1 == 1L))
  }

  test("radiusJoin rejects colliding and non-identifier column names") {
    val left = Seq((1L, 0L, 0L)).toDF("lid", "lx", "ly")
    val right = Seq((2L, 1L, 1L)).toDF("rid", "rx", "ry")
    // an input column named like an internal/output column would have
    // been silently replaced pre-round-13; now it fails loudly
    val lBad = left.withColumn("d2", lit(7L))
    val e1 = intercept[IllegalArgumentException] {
      Graft.radiusJoin(lBad, right, "lx", "ly", "rx", "ry", 10L)
    }
    assert(e1.getMessage.contains("d2"))
    // a coordinate name that is not a plain identifier would have been
    // spliced raw into the cell expression
    val lDot = left.withColumnRenamed("lx", "l x")
    val e2 = intercept[IllegalArgumentException] {
      Graft.radiusJoin(lDot, right, "l x", "ly", "rx", "ry", 10L)
    }
    assert(e2.getMessage.contains("identifier"))
  }

  test("radiusJoin squares INT coordinates in LONG (no 32-bit overflow)") {
    // 50000² = 2.5e9 overflows INT; the diffs are cast to LONG before
    // squaring, so this in-radius pair (d2 = 2.5e9 ≤ r² = 3.6e9) is
    // INCLUDED with the exact d2 — an INT square would have wrapped
    // d2 to a wrong (negative) value and either dropped the pair or
    // reported a corrupted distance
    val left = Seq((1, 0, 0)).toDF("lid", "lx", "ly")
    val right = Seq((2, 50000, 0)).toDF("rid", "rx", "ry")
    val rows = Graft.radiusJoin(left, right, "lx", "ly", "rx", "ry", 60000L)
      .select("lid", "rid", "d2").collect()
    assert(rows.length == 1 && rows(0).getLong(2) == 2500000000L,
      s"expected exact LONG d2=2.5e9, got ${rows.toSeq}")
  }

  test("textRank: a hub word in a star graph ranks first") {
    val docs = Seq("hub alpha", "hub beta", "hub gamma", "hub delta")
      .toDF("text")
    val rows = Graft.textRank(docs, col("text"), 5).collect()
    assert(rows.head.getAs[String]("word") == "hub")
    assert(rows.head.getAs[Long]("pr_micro") >
      rows.last.getAs[Long]("pr_micro"))
  }

  test("unigramSegmentCost picks the fewest-piece segmentation") {
    val vocab = Map("ab" -> 1, "cd" -> 2, "abcd" -> 3,
      "a" -> 4, "b" -> 5, "c" -> 6, "d" -> 7)
    val out = Seq("abcd").toDF("t")
      .select(Graft.unigramSegmentCost(col("t"), vocab, 5, 48).as("enc"))
      .collect().head.getLong(0)
    assert(out == 1000000L + 3L, "one 'abcd' piece beats ab+cd and singles")
  }

  test("zorderIndex / hilbertIndex: bijective keys, shared-cell prefixes") {
    val cells = Seq((0L, 0L), (1L, 0L), (0L, 1L), (513L, 514L),
      (65535L, 65535L), (40000L, 123L)).toDF("x", "y")
    val rows = cells.select(col("x"), col("y"),
      Graft.zorderIndex(col("x"), col("y")).as("z"),
      Graft.hilbertIndex(col("x"), col("y")).as("h")).collect()
    rows.foreach { r =>
      val (x, y, z, h) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(graft.functions.InterleaveBits.deinterleave(z) == ((x, y)))
      assert(graft.functions.HilbertIndex.d2xy(h) == ((x, y)))
    }
    // same 2^10-cell ⇒ same 12-bit prefix under BOTH curves
    val Seq(a, b) = Seq((100L, 200L), (101L, 201L)).map { case (x, y) =>
      (graft.functions.InterleaveBits.interleave(x, y) >> 20,
        graft.functions.HilbertIndex.xy2d(x, y) >> 20)
    }
    assert(a == b)
  }

  test("exactQuantiles: known ranks of a known multiset") {
    val vals = (1 to 1000).map(_.toDouble) ++ Seq.fill(50)(500.0)
    val df = vals.toDF("v")
    val got = Graft.exactQuantiles(spark, df, "v", Seq(
      "min" -> ((_: Long) => 1L),
      "p50" -> ((n: Long) => (n + 1) / 2),
      "max" -> ((n: Long) => n)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sorted = vals.sorted
    assert(got("min") == 1.0 && got("max") == 1000.0)
    assert(got("p50") == sorted((sorted.length + 1) / 2 - 1))
  }

  test("GraftExtensions.register twice installs each extension once") {
    import graft.functions.TokenCountRewrite
    import graft.plans.AsOfJoinStrategy
    val s = spark.newSession()
    GraftExtensions.register(s)
    GraftExtensions.register(s)
    assert(s.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
    assert(s.experimental.extraOptimizations.count(_ == TokenCountRewrite) == 1)
    assert(s.conf.get(org.apache.spark.sql.internal.SQLConf
      .ARTIFACTS_SESSION_ISOLATION_ENABLED.key) == "false")
    assert(s.conf.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)
    assert(s.conf.get("fs.AbstractFileSystem.file.impl") == classOf[NioLocalFs].getName)
    assert(s.conf.get("fs.file.impl.disable.cache") == "true")
    val sh = s.sql("SELECT word_shingles('a b c d', 2)").head().getSeq[String](0)
    assert(sh.nonEmpty, "word_shingles resolved to an empty array")
  }

  test("Graft.joinAsOf plans AsOfJoinExec on a session that never registered") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.plans.{AsOfJoinExec, AsOfJoinStrategy}
    val s = spark.newSession()
    assert(!s.experimental.extraStrategies.contains(AsOfJoinStrategy))
    val l = s.range(5).select(col("id").as("k"), (col("id") * 10).as("t"))
    val r = s.range(5).select(col("id").as("rk"), (col("id") * 10 - 1).as("rt"))
    val plan = Graft.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    assert(plan.collectFirst { case e: AsOfJoinExec => e }.nonEmpty, plan.toString)
  }

  test("Graft.pageRank equals GraphQueries.pageRankMicro") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val viaApi = Graft.pageRank(pairs)
    val direct = graft.operators.GraphQueries.pageRankMicro(pairs)
    assert(viaApi.count() == 6L)
    assert(viaApi.exceptAll(direct).isEmpty && direct.exceptAll(viaApi).isEmpty)
  }

  test("Graft.packSequences equals PipelineQueries.packBySharded") {
    // 40 docs in two languages, 1-7 tokens each
    val dir = TestSpark.tempDir("graft_pack").toString
    (1L to 40L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("tok").mkString(" "),
        if (i % 3 == 0) "de" else "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    val viaApi = Graft.packSequences(spark, dir, 4)
    val direct = graft.operators.PipelineQueries.packBySharded(spark, dir, 4)
    assert(!viaApi.isEmpty)
    assert(viaApi.exceptAll(direct).isEmpty && direct.exceptAll(viaApi).isEmpty)
  }
}
