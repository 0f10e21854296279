package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsOfJoin

/** Custom as-of join operator: golden semantics, null handling, and
  * physical-plan shape (strategy fires, exchanges+sorts inserted by
  * EnsureRequirements).
  */
class AsOfJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private def leftDF = Seq(
    (1L, 5L, "l-a"), (1L, 9L, "l-b"), (2L, 3L, "l-c"), (3L, 7L, "l-d")
  ).toDF("k", "t", "lv")

  private def rightDF = Seq(
    (1L, 4L, "r-x"), (1L, 7L, "r-y"), (2L, 9L, "r-z")
  ).toDF("rk", "rt", "rv")

  test("auto-salt: hot probe key routes plain joinAsOf through the salted form, row-identical") {
    import org.apache.spark.sql.functions._
    // 150k rows over the AutoSaltMinRows floor, 90% on key 0
    val l = spark.range(0, 150000L).select(
      when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 100).as("k"),
      (col("id") * 7 % 5000).as("t"))
    val r = spark.range(0, 2000L).select(
      (col("id") % 100).as("rk"), (expr("id DIV 100") * 250).as("rt"),
      col("id").as("q"))
    def run() = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
    val auto = run()
    // the salted route replicates the right side via explode → a
    // Generate node the plain plan never carries
    assert(auto.queryExecution.executedPlan.toString.contains("Generate"),
      "hot-key join did not take the salted route")
    spark.conf.set("spark.graft.asof.autoSalt", "false")
    val plain = try run() finally
      spark.conf.set("spark.graft.asof.autoSalt", "true")
    assert(!plain.queryExecution.executedPlan.toString.contains("Generate"))
    // row-identical results on both routes
    assert(auto.exceptAll(plain).isEmpty && plain.exceptAll(auto).isEmpty)
    // a uniform frame of the same size stays on the plain route
    val u = spark.range(0, 150000L).select(
      (col("id") % 100).as("k"), (col("id") * 7 % 5000).as("t"))
    val uniform = AsOfJoin.joinAsOf(u, r, u("k"), r("rk"), u("t"), r("rt"))
    assert(!uniform.queryExecution.executedPlan.toString.contains("Generate"))
  }

  test("auto-salt: probe floor scales by the probed fraction (256-partition hot frame still salts)") {
    import org.apache.spark.sql.functions._
    // At 256 partitions the every-(numPartitions/8)th probe touches
    // only ~8/256 of rows; the round-9 hardcoded n < MinRows/8 floor
    // judged this 150k-row hot frame "too small" and silently skipped
    // salting — the probed count must be extrapolated by the actual
    // probed fraction before comparing against AutoSaltMinRows.
    val l = spark.range(0, 150000L).select(
      when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 100).as("k"),
      (col("id") * 7 % 5000).as("t")).repartition(256)
    val r = spark.range(0, 2000L).select(
      (col("id") % 100).as("rk"), (expr("id DIV 100") * 250).as("rt"),
      col("id").as("q"))
    val auto = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
    assert(auto.queryExecution.executedPlan.toString.contains("Generate"),
      "256-partition hot-key join did not take the salted route")
  }

  test("auto-salt probe memo: repeated joinAsOf on the same left frame probes once") {
    import org.apache.spark.sql.functions._
    // the probe runs real Spark jobs at plan-construction; round-11
    // mandate: a session that re-plans the same left frame (stable
    // canonical plan via the Tables handle memo) pays it ONCE, keyed
    // (session UUID, left-plan fingerprint) in CacheRegistry
    val l = spark.range(0, 130000L).select(
      when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 97).as("k"),
      (col("id") * 11 % 4000).as("t"))
    val r = spark.range(0, 1000L).select(
      (col("id") % 97).as("rk"), (expr("id DIV 97") * 400).as("rt"),
      col("id").as("q"))
    def run() = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
    run()
    val afterFirst = AsOfJoin.probeRuns.get()
    run(); run()
    assert(AsOfJoin.probeRuns.get() == afterFirst,
      "repeated joinAsOf on an identical left frame re-ran the skew probe")
  }

  test("auto-salt: sub-floor frames skip the probe via Catalyst stats (no job at plan time)") {
    // a frame whose optimizer size estimate cannot reach the row
    // floor must not launch probe jobs at plan-construction time
    val l = Seq((0L, 1L), (0L, 2L), (1L, 3L)).toDF("k", "t")
    val r = Seq((0L, 1L, "x")).toDF("rk", "rt", "rv")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "plan construction on a tiny frame ran Spark jobs")
    assert(!out.queryExecution.executedPlan.toString.contains("Generate"))
    assert(out.count() == 3L)
  }

  test("backward as-of: latest right row at-or-before each left time") {
    val l = leftDF; val r = rightDF
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
      .orderBy("k", "t")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1),
        if (row.isNullAt(4)) null else row.getLong(4),
        if (row.isNullAt(5)) null else row.getString(5)))
    assert(out.toSeq == Seq(
      (1L, 5L, 4L, "r-x"),   // 4 <= 5 < 7
      (1L, 9L, 7L, "r-y"),   // latest <= 9
      (2L, 3L, null, null),  // right row at t=9 is after 3
      (3L, 7L, null, null))) // no right rows for key 3
  }

  test("exact time tie is inclusive (t >= rt)") {
    val l = Seq((1L, 4L, "l")).toDF("k", "t", "lv")
    val r = rightDF
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt")).collect()
    assert(out.head.getLong(4) == 4L)
  }

  test("physical plan: AsOfJoinExec with exchanges and sorts inserted") {
    val l = leftDF; val r = rightDF
    val plan = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan) // nodeName strips the Exec suffix
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Sort ["), plan)
  }

  test("property: as-of join equals brute-force reference on random data") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pairGen = for {
      k <- Gen.choose(0L, 6L)
      t <- Gen.choose(0L, 50L)
    } yield (k, t)
    val prop = Prop.forAll(
      Gen.listOfN(40, pairGen), Gen.listOfN(25, pairGen)) { (ls, rsRaw) =>
      val rs = rsRaw.distinct // unique (k,t) pairs for determinism
      val l = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "t")
      val r = rs.map { case (k, t) => (k, t, k * 1000 + t) }
        .toDF("rk", "rt", "rv")
      val got = graft.plans.AsOfJoin
        .joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
        .collect()
        .map(row => (row.getLong(0),
          if (row.isNullAt(5)) None else Some(row.getLong(5))))
        .toMap
      val expected = ls.zipWithIndex.map { case ((k, t), i) =>
        val m = rs.filter { case (rk, rt) => rk == k && rt <= t }
        i.toLong -> (if (m.isEmpty) None
                     else { val (mk, mt) = m.maxBy(_._2); Some(mk * 1000 + mt) })
      }.toMap
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("forward as-of: earliest right row at-or-after each left time") {
    val l = leftDF; val r = rightDF
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"),
        forward = true)
      .orderBy("k", "t")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1),
        if (row.isNullAt(4)) null else row.getLong(4),
        if (row.isNullAt(5)) null else row.getString(5)))
    assert(out.toSeq == Seq(
      (1L, 5L, 7L, "r-y"),   // earliest >= 5 (tie-free)
      (1L, 9L, null, null),  // nothing at-or-after 9
      (2L, 3L, 9L, "r-z"),   // earliest >= 3
      (3L, 7L, null, null))) // no right rows for key 3
  }

  test("property: forward as-of equals brute-force reference (incl. shared matches)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pairGen = for {
      k <- Gen.choose(0L, 6L)
      t <- Gen.choose(0L, 50L)
    } yield (k, t)
    val prop = Prop.forAll(
      Gen.listOfN(40, pairGen), Gen.listOfN(25, pairGen)) { (ls, rsRaw) =>
      val rs = rsRaw.distinct
      val l = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "t")
      val r = rs.map { case (k, t) => (k, t, k * 1000 + t) }
        .toDF("rk", "rt", "rv")
      val got = graft.plans.AsOfJoin
        .joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"), forward = true)
        .collect()
        .map(row => (row.getLong(0),
          if (row.isNullAt(5)) None else Some(row.getLong(5))))
        .toMap
      val expected = ls.zipWithIndex.map { case ((k, t), i) =>
        val m = rs.filter { case (rk, rt) => rk == k && rt >= t }
        i.toLong -> (if (m.isEmpty) None
                     else { val (mk, mt) = m.minBy(_._2); Some(mk * 1000 + mt) })
      }.toMap
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("nearest as-of: closer of the two candidates, ties backward") {
    val l = Seq(
      (1L, 5L, "mid"),    // back 4 (d=1) vs fwd 7 (d=2) -> 4
      (1L, 6L, "mid2"),   // back 4 (d=2) vs fwd 7 (d=1) -> 7
      (1L, 9L, "after"),  // only back 7 -> 7
      (2L, 3L, "before"), // only fwd 9 -> 9
      (3L, 7L, "nokey")   // no key-3 right rows -> null
    ).toDF("k", "t", "lv")
    val r = rightDF
    val out = AsOfJoin.joinAsOfNearest(l, r, l("k"), r("rk"), l("t"), r("rt"))
      .collect()
      .map(row => (row.getString(2),
        if (row.isNullAt(4)) null else row.getLong(4)))
      .toMap
    assert(out == Map("mid" -> 4L, "mid2" -> 7L, "after" -> 7L,
      "before" -> 9L, "nokey" -> null))
    // equidistant tie goes to the backward row
    val lt = Seq((1L, 2L, "tie")).toDF("k", "t", "lv")
    val rt = Seq((1L, 1L, "back"), (1L, 3L, "fwd")).toDF("rk", "rt", "rv")
    val tie = AsOfJoin.joinAsOfNearest(lt, rt, lt("k"), rt("rk"), lt("t"), rt("rt"))
      .collect().head.getString(5)
    assert(tie == "back")
  }

  test("property: nearest as-of equals brute-force reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pairGen = for {
      k <- Gen.choose(0L, 6L)
      t <- Gen.choose(0L, 50L)
    } yield (k, t)
    val prop = Prop.forAll(
      Gen.listOfN(40, pairGen), Gen.listOfN(25, pairGen)) { (ls, rsRaw) =>
      val rs = rsRaw.distinct
      val l = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "t")
      val r = rs.map { case (k, t) => (k, t, k * 1000 + t) }
        .toDF("rk", "rt", "rv")
      val got = graft.plans.AsOfJoin
        .joinAsOfNearest(l, r, l("k"), r("rk"), l("t"), r("rt"))
        .collect()
        .map(row => (row.getLong(0),
          if (row.isNullAt(5)) None else Some(row.getLong(5))))
        .toMap
      val expected = ls.zipWithIndex.map { case ((k, t), i) =>
        val m = rs.filter { case (rk, _) => rk == k }
        i.toLong -> (if (m.isEmpty) None
                     else {
                       // min distance; ties -> smaller rt (the backward row)
                       val (mk, mt) = m.minBy { case (_, rt) =>
                         (math.abs(rt - t), rt) }
                       Some(mk * 1000 + mt)
                     })
      }.toMap
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("bucketed tables satisfy the exec's distribution — no exchange") {
    // the 100 TB claim in SCALE.md: AsOfJoinExec declares
    // ClusteredDistribution(key), so tables bucketed by the key at
    // write time feed it without any shuffle exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      leftDF.write.mode("overwrite")
        .bucketBy(4, "k").sortBy("k", "t").saveAsTable("asof_l")
      rightDF.write.mode("overwrite")
        .bucketBy(4, "rk").sortBy("rk", "rt").saveAsTable("asof_r")
      val l = spark.table("asof_l")
      val r = spark.table("asof_r")
      val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed as-of join still shuffles:\n$plan")
      assert(out.count() == leftDF.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS asof_l")
      spark.sql("DROP TABLE IF EXISTS asof_r")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("null keys/times never match: left keeps nulls, right rows skipped") {
    val l = Seq(
      (Option(1L), Option(5L), "ok"),
      (None: Option[Long], Option(5L), "nullkey"),
      (Option(1L), None: Option[Long], "nulltime")
    ).toDF("k", "t", "lv")
    val r = Seq(
      (Option(1L), Option(4L), "r-match"),
      (None: Option[Long], Option(1L), "r-nullkey"), // sorts first; must be drained, never matched
      (Option(1L), None: Option[Long], "r-nulltime")
    ).toDF("rk", "rt", "rv")
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
      .collect()
      .map(row => (row.getString(2), if (row.isNullAt(5)) null else row.getString(5)))
      .toMap
    assert(out == Map("ok" -> "r-match", "nullkey" -> null, "nulltime" -> null))
  }

  test("property: null keys/times behave as no-match on random data") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val optGen = for {
      k <- Gen.frequency(8 -> Gen.choose(0L, 4L).map(Option(_)), 2 -> Gen.const(None))
      t <- Gen.frequency(8 -> Gen.choose(0L, 30L).map(Option(_)), 2 -> Gen.const(None))
    } yield (k, t)
    val prop = Prop.forAll(
      Gen.listOfN(30, optGen), Gen.listOfN(20, optGen)) { (ls, rsRaw) =>
      val rs = rsRaw.distinct
      val l = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "t")
      val r = rs.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("rk", "rt", "rv")
      val got = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
        .collect()
        .map(row => (row.getLong(0),
          if (row.isNullAt(5)) None else Some(row.getLong(5))))
        .toMap
      val expected = ls.zipWithIndex.map { case ((k, t), i) =>
        val m = (k, t) match {
          case (Some(kk), Some(tt)) => rs.zipWithIndex.filter {
            case ((Some(rk), Some(rt)), _) => rk == kk && rt <= tt
            case _ => false
          }
          case _ => Nil
        }
        i.toLong -> (if (m.isEmpty) None
                     else Some(m.maxBy(_._1._2.get)._2.toLong))
      }.toMap
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("negative int keys widen to long (no zero-extension artifacts)") {
    val l = Seq((-1, 10L, "neg"), (2, 10L, "pos")).toDF("k", "t", "lv")
    val r = Seq((-1, 4L, "r-neg"), (2, 5L, "r-pos")).toDF("rk", "rt", "rv")
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
      .collect()
      .map(row => (row.getString(2), row.getString(5)))
      .toMap
    assert(out == Map("neg" -> "r-neg", "pos" -> "r-pos"))
  }

  test("self as-of join re-aliases the right side (no ambiguous exprIds)") {
    val d = Seq((1L, 5L, "a"), (1L, 9L, "b"), (2L, 3L, "c")).toDF("k", "t", "v")
    val out = AsOfJoin.joinAsOf(d, d, d("k"), d("k"), d("t"), d("t"))
      .collect()
      .map(row => (row.getString(2), row.getString(5)))
    // each row's as-of match at its own time is itself ((k,t) unique)
    assert(out.toMap == Map("a" -> "a", "b" -> "b", "c" -> "c"))
  }

  test("date-typed time widens to timestamp and matches timestamp semantics") {
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-03-15 12:00:00")))
      .toDF("k", "t")
    val r = Seq(
      (1L, java.sql.Date.valueOf("2024-03-15"), "same-day-midnight"),
      (1L, java.sql.Date.valueOf("2024-03-16"), "next-day")
    ).toDF("rk", "rt", "rv")
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt")).collect()
    assert(out.head.getString(4) == "same-day-midnight")
  }

  test("unsupported key type is rejected at plan time") {
    val l = Seq(("a", 1L)).toDF("k", "t")
    val r = Seq(("a", 1L, 1L)).toDF("rk", "rt", "rv")
    intercept[IllegalArgumentException] {
      AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
    }
  }

  test("timestamp-typed time columns work (micros-backed)") {
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("k", "t")
    val r = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 100L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 200L)
    ).toDF("rk", "rt", "rv")
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt")).collect()
    assert(out.head.getLong(4) == 100L) // rv of the 09:00 row, not the 11:00 one
  }

  test("NEAREST tie-break survives time spans past Long range (unsigned distances)") {
    // backward candidate sits ~10^19 away (the signed subtraction
    // wraps negative); forward is 10^17 away — a signed compare would
    // wrongly keep the backward row
    val l = Seq((1L, 4000000000000000000L)).toDF("k", "t")
    val r = Seq(
      (1L, -6000000000000000000L, 1L), // true distance 10^19: wraps signed
      (1L, 4100000000000000000L, 2L)   // true distance 10^17: the real nearest
    ).toDF("rk", "rt", "rv")
    val out = AsOfJoin.joinAsOfNearest(l, r, l("k"), r("rk"), l("t"), r("rt")).collect()
    assert(out.head.getLong(4) == 2L,
      s"picked rv=${out.head.getLong(4)}; overflow broke the tie-break")
  }

  test("joinAsOfSalted: row-identical to the unsalted join, hot key included") {
    // 300 left rows, 90% on one hot key, across 3 keys with realistic
    // interleaved right timelines; every salt bucket must see the full
    // right timeline, so results match the unsalted join exactly
    val l = spark.range(0, 300).selectExpr(
      "CASE WHEN id % 10 <> 0 THEN 7L ELSE id % 3 END AS k",
      "(id * 13) % 101 AS t")
    val r = spark.range(0, 60).selectExpr(
      "id % 3 + (CASE WHEN id % 2 = 0 THEN 7 ELSE 0 END) AS rk",
      "(id * 5) % 97 AS rt", "id AS rv")
    val plain = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"))
      .collect().map(_.toSeq).sortBy(_.mkString(","))
    val salted = AsOfJoin.joinAsOfSalted(l, r, l("k"), r("rk"), l("t"), r("rt"),
        salts = 8)
      .collect().map(_.toSeq).sortBy(_.mkString(","))
    assert(salted.length == plain.length)
    assert(salted.toSeq == plain.toSeq)
    // the salted output exposes no helper columns
    val cols = AsOfJoin.joinAsOfSalted(l, r, l("k"), r("rk"), l("t"), r("rt"),
      salts = 4).columns.toSeq
    assert(cols == Seq("k", "t", "rk", "rt", "rv"))
  }

  test("joinAsOfSalted rejects non-integral keys") {
    val l = Seq((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
      .toDF("k", "t")
    val r = Seq((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1L))
      .toDF("rk", "rt", "rv")
    intercept[IllegalArgumentException] {
      AsOfJoin.joinAsOfSalted(l, r, l("k"), r("rk"), l("t"), r("rt"))
    }
  }
}
