package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupClusters, GraphQueries}
import graft.operators.GraphQueries.{DampMicro, JumpMicro}

/** The hand-written round loops that [[graft.operators.Rounds]]
  * replaced, kept verbatim as references: three PageRank bodies (one
  * per variant, each with its own eager per-round checkpoint), the
  * `ev_absorption` recurrence, and `starContraction` with its
  * two-action convergence test. [[RoundsSpec]] pins the merged bodies
  * to them bit for bit.
  */
object RoundsReference {

  private def undirectedEdges(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)

  def pageRankMicroRounds(pairs: DataFrame, iters: Int = GraphQueries.Iters,
                          tolMicro: Long = -1L): (DataFrame, Int) = {
    val edges = undirectedEdges(pairs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    val n = deg.agg(count(lit(1)).as("n_nodes"))
    var pr = deg.crossJoin(broadcast(n))
      .select(col("id"), col("deg"), col("n_nodes"),
        expr("1000000 DIV n_nodes").as("pr"))
      .localCheckpoint(true)
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      val contrib = edges.join(pr, edges("src") === pr("id"))
        .select(edges("dst").as("id"), expr("pr DIV deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("cs"))
      val next = pr.select(col("id"), col("deg"), col("n_nodes"),
          col("pr").as("pr_prev"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"), col("deg"), col("n_nodes"), col("pr_prev"),
          (expr(s"$JumpMicro DIV n_nodes") +
            expr(s"($DampMicro * coalesce(cs, 0)) DIV 1000000")).as("pr"))
        .localCheckpoint(true)
      if (tolMicro >= 0L) {
        val delta = next
          .agg(coalesce(max(abs(col("pr") - col("pr_prev"))), lit(0L)).as("d"))
          .head().getLong(0)
        converged = delta <= tolMicro
      }
      pr = next.select("id", "deg", "n_nodes", "pr")
      round += 1
    }
    (pr.select(col("id"), col("pr")), round)
  }

  def pprMicro(pairs: DataFrame, iters: Int = GraphQueries.Iters): DataFrame = {
    val edges = undirectedEdges(pairs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    val seed = deg.agg(min(col("id")).as("seed_id"))
    var pr = deg.crossJoin(broadcast(seed))
      .select(col("id"), col("deg"), col("seed_id"),
        when(col("id") === col("seed_id"), lit(1000000L))
          .otherwise(lit(0L)).as("pr"))
      .localCheckpoint(true)
    (1 to iters).foreach { _ =>
      val contrib = edges.join(pr, edges("src") === pr("id"))
        .select(edges("dst").as("id"), expr("pr DIV deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("cs"))
      pr = pr.select(col("id"), col("deg"), col("seed_id"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"), col("deg"), col("seed_id"),
          (when(col("id") === col("seed_id"), lit(JumpMicro))
            .otherwise(lit(0L)) +
            expr(s"($DampMicro * coalesce(cs, 0)) DIV 1000000")).as("pr"))
        .localCheckpoint(true)
    }
    pr.select(col("id"), col("pr"))
  }

  def pageRankDirectedMicro(edgesIn: DataFrame,
                            iters: Int = GraphQueries.Iters): DataFrame = {
    val edges = edgesIn.select(col("src"), col("dst")).localCheckpoint(true)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val base = nodes.join(outdeg, nodes("id") === outdeg("src"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
    val n = base.agg(count(lit(1)).as("n_nodes"))
    var pr = base.crossJoin(broadcast(n))
      .select(col("id"), col("outdeg"), col("n_nodes"),
        expr("1000000 DIV n_nodes").as("pr"))
      .localCheckpoint(true)
    var round = 0
    while (round < iters) {
      val dang = pr.filter(col("outdeg") === 0)
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dmass"))
      val contrib = edges.join(pr, edges("src") === pr("id"))
        .select(edges("dst").as("id"), expr("pr DIV outdeg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("cs"))
      pr = pr.select(col("id"), col("outdeg"), col("n_nodes"))
        .join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select(col("id"), col("outdeg"), col("n_nodes"),
          (expr(s"$JumpMicro DIV n_nodes") +
            expr(s"($DampMicro * (coalesce(cs, 0) + dmass DIV n_nodes)) " +
              "DIV 1000000")).as("pr"))
        .localCheckpoint(true)
      round += 1
    }
    pr.select(col("id"), col("pr"))
  }

  /** `ev_absorption` over a transition frame `p` (cur, nxt, pm). */
  def absorption(p: DataFrame, rounds: Int): DataFrame = {
    val states = p.select(col("cur").as("state"))
      .unionAll(p.select(col("nxt").as("state"))).distinct()
      .localCheckpoint(false)
    var ab = states.select(col("state"),
      when(col("state") === "purchase", lit(1000000L))
        .otherwise(lit(0L)).as("am"))
    (1 to rounds).foreach { _ =>
      val stepped = p
        .join(ab.select(col("state").as("nxt"), col("am")), "nxt")
        .groupBy(col("cur").as("state"))
        .agg(expr("sum(pm * am) DIV 1000000").as("step"))
      ab = states
        .join(stepped, Seq("state"), "left")
        .select(col("state"),
          when(col("state") === "purchase", lit(1000000L))
            .otherwise(coalesce(col("step"), lit(0L))).as("am"))
        .localCheckpoint(false)
    }
    ab.select(col("state"), col("am").as("absorb_micro"))
  }

  /** The old `starContraction` loop, which tested convergence with two
    * actions (`count()`, then `exceptAll(e).limit(1).count()`). Each
    * round also asks the one-action [[DedupClusters.starStable]] about
    * the same (e, next) pair; returns the labels and, per round, the
    * (two-action, one-action) verdicts.
    */
  def starContraction(edges: DataFrame, maxIters: Int = 25)
      : (DataFrame, Seq[(Boolean, Boolean)]) = {
    var e = edges.filter(col("src") > col("dst"))
      .select(col("src").as("hi"), col("dst").as("lo"))
      .distinct().localCheckpoint(false)
    var eCount = e.count()
    var converged = false
    var iter = 0
    val verdicts = Seq.newBuilder[(Boolean, Boolean)]
    while (!converged && iter < maxIters) {
      val b = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      val lmins = b.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      val large = b.join(lmins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      val smins = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val small = large.join(smins, "hi")
        .select(col("lo").as("v"), col("m"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .unionAll(smins.select(col("hi"), col("m").as("lo")))
        .distinct()
      val next = small.localCheckpoint(false)
      val nextCount = next.count()
      converged = nextCount == eCount &&
        next.exceptAll(e).limit(1).count() == 0
      verdicts += (converged -> DedupClusters.starStable(e, next))
      e = next
      eCount = nextCount
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"starContraction did not converge within $maxIters rounds")
    val star = e.groupBy(col("hi")).agg(min(col("lo")).as("lo"))
    val nodes = edges.select(col("src").as("id")).distinct()
    (nodes.join(star, nodes("id") === star("hi"), "left")
      .select(col("id"), coalesce(col("lo"), col("id")).as("label")),
      verdicts.result())
  }
}
