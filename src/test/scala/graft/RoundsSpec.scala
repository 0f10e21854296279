package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DedupClusters, EventQueries, GraphQueries, Rounds}

/** [[Rounds]] and the bodies merged onto it: the one PageRank round
  * (undirected, personalized, directed) and the one absorption round
  * are pinned bit for bit to the hand-written loops they replaced
  * ([[RoundsReference]]), on edge fixtures and on the sf0.001 rows;
  * the one-action star-contraction test agrees with the old
  * two-action one round by round.
  */
class RoundsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  private def pairs(ps: (Long, Long)*): DataFrame = ps.toDF("doc_a", "doc_b")

  /** Fixtures: empty, one edge, a 4-node path, and a 4-cycle whose
    * ranks all tie.
    */
  private lazy val fixtures: Seq[(String, DataFrame)] = Seq(
    "empty" -> pairs(),
    "one edge" -> pairs(1L -> 2L),
    "4-node path" -> pairs(1L -> 2L, 2L -> 3L, 3L -> 4L),
    "tie" -> pairs(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L))

  private def ranks(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)

  test("fixed runs n steps with the 1-based round; atMost stops at the first stable round") {
    val seen = Seq.newBuilder[Int]
    val out = Rounds.fixed(3, spark.range(1).toDF("x")) { (df, r) =>
      seen += r
      df.select((col("x") + 1).as("x"))
    }
    assert(seen.result() == Seq(1, 2, 3))
    assert(out.head().getLong(0) == 3L)
    var tests = 0
    val (s, n, stable) = Rounds.atMost(10, spark.range(1).toDF("x"))(
      (df, _) => df.select(least(col("x") + 1, lit(2L)).as("x")),
      (prev, next) => { tests += 1; prev.head().getLong(0) == next.head().getLong(0) })
    assert(stable && n == 3 && tests == 3 && s.head().getLong(0) == 2L)
  }

  test("untilStable fails loudly when the budget runs out; atMost reports it") {
    val grow = (df: DataFrame, _: Int) => df.select((col("x") + 1).as("x"))
    val never = (_: DataFrame, _: DataFrame) => false
    val (_, n, stable) = Rounds.atMost(4, spark.range(1).toDF("x"))(grow, never)
    assert(n == 4 && !stable)
    val e = intercept[IllegalStateException](
      Rounds.untilStable(4, spark.range(1).toDF("x"))(grow, never))
    assert(e.getMessage.contains("4 rounds"))
  }

  test("PageRank, PPR and tolMicro stop equal the old loops bit for bit on the fixtures") {
    fixtures.foreach { case (name, ps) =>
      // Graft.pageRank is pageRankMicro (GraftApiSpec)
      assert(ranks(GraphQueries.pageRankMicro(ps)) ==
        ranks(RoundsReference.pageRankMicroRounds(ps)._1), s"pagerank: $name")
      assert(ranks(GraphQueries.pprMicro(ps)) ==
        ranks(RoundsReference.pprMicro(ps)), s"ppr: $name")
    }
    // the early stop: the tie is a fixpoint from round 1
    val tie = fixtures(3)._2
    val (got, gotRounds) = GraphQueries.pageRankMicroRounds(tie, 6, tolMicro = 0L)
    val (want, wantRounds) = RoundsReference.pageRankMicroRounds(tie, 6, tolMicro = 0L)
    assert(ranks(got) == ranks(want) && gotRounds == wantRounds && gotRounds < 6)
  }

  test("directed PageRank equals the old loop bit for bit, dangling node included") {
    val directed = fixtures.map { case (name, ps) =>
        name -> ps.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      } :+ ("dangling" -> Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 3L)).toDF("src", "dst"))
    directed.foreach { case (name, es) =>
      assert(ranks(GraphQueries.pageRankDirectedMicro(es)) ==
        ranks(RoundsReference.pageRankDirectedMicro(es)), s"directed: $name")
    }
  }

  test("dd_pagerank, dd_ppr_seed, dd_pagerank_directed rows equal the old loops at sf0.001") {
    val ps = Dedup.ngramJaccardPairs(spark, sf).select("doc_a", "doc_b")
    def row(name: String) = ranks(SparkEntry.queries(name)(spark, sf))
    assert(row("dd_pagerank") == ranks(RoundsReference.pageRankMicroRounds(ps)._1))
    assert(row("dd_ppr_seed") == ranks(RoundsReference.pprMicro(ps)))
    assert(row("dd_pagerank_directed") == ranks(RoundsReference.pageRankDirectedMicro(
      ps.select(col("doc_a").as("src"), col("doc_b").as("dst")))))
  }

  private def absorbs(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)

  test("ev_absorption equals the old recurrence bit for bit, on fixtures and at sf0.001") {
    val rounds = EventQueries.MarkovPowerRounds
    val chains = Seq(
      Seq.empty[(String, String, Long)],
      Seq(("view", "purchase", 1000000L)),
      Seq(("view", "click", 500000L), ("view", "view", 500000L),
        ("click", "purchase", 333333L), ("click", "view", 666666L)),
      // a tie: two states one step from the absorber with equal mass,
      // and a sink that never converts
      Seq(("a", "purchase", 500000L), ("a", "sink", 500000L),
        ("b", "purchase", 500000L), ("b", "sink", 500000L),
        ("purchase", "a", 1000000L)))
    chains.foreach { c =>
      val p = c.toDF("cur", "nxt", "pm")
      assert(absorbs(EventQueries.absorptionOf(p)) ==
        absorbs(RoundsReference.absorption(p, rounds)), s"chain $c")
    }
    val p = SparkEntry.queries("ev_markov")(spark, sf)
      .select(col("cur"), col("nxt"), col("p_micro").as("pm"))
    val row = SparkEntry.queries("ev_absorption")(spark, sf)
    assert(row.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq ==
      absorbs(RoundsReference.absorption(p, rounds)))
  }

  test("starContraction: the one-action test agrees with the two-action test every round") {
    val path = (0L until 63L).map(i => (1000L - i, 1000L - i - 1))
    val clique = for (a <- 1L to 10L; b <- (a + 1L) to 10L) yield (a, b)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val graphs = Seq("chain" -> chain,
      "path, clique and an edge" -> (path ++ clique ++ Seq((2000L, 1999L))))
    graphs.foreach { case (name, ps) =>
      val e = GraphQueries.undirected(ps.toDF("doc_a", "doc_b"))
      val (refLabels, verdicts) = RoundsReference.starContraction(e)
      assert(verdicts.nonEmpty && verdicts.forall { case (two, one) => two == one },
        s"$name: (two-action, one-action) verdicts $verdicts")
      assert(ranks(DedupClusters.starContraction(e)) == ranks(refLabels), name)
    }
  }
}
