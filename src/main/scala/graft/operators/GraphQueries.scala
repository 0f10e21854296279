package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the verified near-dup pair graph
  * ([[Dedup.verifiedPairs]]): PageRank centrality (which documents are
  * the "hubs" of duplication — boilerplate detectors rank by exactly
  * this) and triangle counting (local clustering: near-dup communities
  * are quasi-cliques, so triangle density is the health metric of the
  * LSH threshold choice).
  *
  * Both are join+aggregate dataflows — no graph library, no driver-side
  * adjacency: at 100 TB the edge list is just another table. PageRank
  * mass is carried as integer micro-units (Σ initial mass = 10⁶):
  * every operation is an integer add / multiply / truncating divide,
  * identical in any engine — the standard float PageRank would diverge
  * across summation orders, this one cannot.
  */
object GraphQueries {

  val Iters = 3          // fixed PageRank rounds (diagnostic centrality,
                         //  not a convergence chase)
  val DampMicro = 850000 // d = 0.85 in micro-units
  val JumpMicro = 150000 // (1 - d)

  /** The undirected edge list of a (doc_a, doc_b) pair list: both
    * directions as (src, dst), built in ONE pass over `pairs` (a union
    * of two selects would run the upstream pair pipeline twice).
    */
  def undirected(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** The one micro-integer PageRank round loop, shared by the
    * undirected, personalized and directed variants. `nodes` is
    * (id, deg, tele, pr): out-degree, teleport micro-mass and initial
    * rank. Each round,
    * pr'(v) = tele(v) + d · (Σ_{u→v} pr(u) DIV deg(u) + D DIV N) DIV 10⁶,
    * one join + one aggregation keyed by the destination (the shape
    * GraphX/Pregel lowers to), rounds cut by [[Rounds]].
    *
    * D is the dangling mass, Σ pr over out-degree-0 nodes, one 1-row
    * aggregate broadcast per round; only a directed edge list has
    * such nodes, so `dangling = false` drops the term and its
    * aggregate (it would add 0). With `tolMicro >= 0` the loop stops
    * early once max |Δpr| ≤ tolMicro — integer arithmetic makes this
    * an exact fixpoint test — and otherwise runs all `iters` rounds.
    * Returns (id, pr) and the rounds run.
    */
  private def pageRankRounds(edges: DataFrame, nodes: DataFrame, iters: Int,
      dangling: Boolean, tolMicro: Long = -1L): (DataFrame, Int) = {
    def step(pr: DataFrame, r: Int): DataFrame = {
      val contrib = edges.join(pr, edges("src") === pr("id"))
        .select(edges("dst").as("id"), expr("pr DIV deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("cs"))
      val next = pr.select(col("id"), col("deg"), col("tele"),
          col("pr").as("pr_prev"))
        .join(contrib, Seq("id"), "left")
      val (withMass, mass) =
        if (!dangling) (next, "coalesce(cs, 0)")
        else (next.crossJoin(broadcast(pr.agg(
            coalesce(sum(when(col("deg") === 0, col("pr"))), lit(0L)).as("dmass"),
            count(lit(1)).as("n_nodes")))),
          "coalesce(cs, 0) + dmass DIV n_nodes")
      withMass.select(col("id"), col("deg"), col("tele"), col("pr_prev"),
        (col("tele") + expr(s"($DampMicro * ($mass)) DIV 1000000")).as("pr"))
    }
    val (pr, rounds, _) =
      if (tolMicro < 0L) (Rounds.fixed(iters, nodes)(step), iters, false)
      else Rounds.atMost(iters, nodes)(step, (_, next) =>
        next.agg(coalesce(max(abs(col("pr") - col("pr_prev"))), lit(0L)))
          .head().getLong(0) <= tolMicro)
    (pr.select(col("id"), col("pr")), rounds)
  }

  /** (id, deg) of an undirected edge list: every node has deg ≥ 1,
    * so the dangling term is 0 for both undirected variants.
    */
  private def undirectedDeg(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))

  /** The node frame of uniform PageRank over (id, deg): teleport
    * (1-d)/N and initial rank 1/N, in micro-units.
    */
  private def uniform(deg: DataFrame): DataFrame =
    deg.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("id"), col("deg"), expr(s"$JumpMicro DIV n_nodes").as("tele"),
        expr("1000000 DIV n_nodes").as("pr"))

  /** PageRank over an undirected edge list ([[pageRankRounds]] with the
    * uniform teleport (1-d)/N). The fixed `iters` is the oracle's
    * contract; the `tolMicro` early stop is off by default because it
    * makes the result depend on the convergence path.
    */
  def pageRankMicro(pairs: DataFrame, iters: Int = Iters,
                    tolMicro: Long = -1L): DataFrame =
    pageRankMicroRounds(pairs, iters, tolMicro)._1

  /** [[pageRankMicro]] plus the number of rounds actually executed —
    * observable evidence for the early-stop fixpoint test (a timing
    * assertion can't distinguish "converged after 1 round" from "ran
    * all 50 fast").
    */
  def pageRankMicroRounds(pairs: DataFrame, iters: Int = Iters,
                          tolMicro: Long = -1L): (DataFrame, Int) = {
    val edges = undirected(pairs).localCheckpoint(false)
    pageRankRounds(edges, uniform(undirectedDeg(edges)), iters,
      dangling = false, tolMicro)
  }

  /** PERSONALIZED PageRank: the same rounds, but the teleport mass
    * returns to the SEED node alone instead of spreading uniformly —
    * rank becomes proximity TO THE SEED through the graph ("related
    * documents", the retrieval-side PPR use). Seed = the smallest node
    * id (deterministic probe); rank of nodes the seed can't reach
    * within `iters` hops stays 0.
    */
  def pprMicro(pairs: DataFrame, iters: Int = Iters): DataFrame = {
    val edges = undirected(pairs).localCheckpoint(false)
    val deg = undirectedDeg(edges)
    def atSeed(micro: Long) =
      when(col("id") === col("seed_id"), lit(micro)).otherwise(lit(0L))
    pageRankRounds(edges, deg.crossJoin(broadcast(deg.agg(min(col("id")).as("seed_id"))))
        .select(col("id"), col("deg"), atSeed(JumpMicro).as("tele"),
          atSeed(1000000L).as("pr")),
      iters, dangling = false)._1
  }

  /** Directed PageRank with DANGLING-MASS redistribution: on a directed
    * edge list, out-degree-0 nodes absorb rank and would leak total
    * mass, so each round every node also receives d·D/N (see
    * [[pageRankRounds]]). Per-round cost over the undirected form: one
    * extra scalar aggregate + broadcast — nothing keyed.
    */
  def pageRankDirectedMicro(edgesIn: DataFrame, iters: Int = Iters): DataFrame = {
    val edges = edgesIn.select(col("src"), col("dst")).localCheckpoint(false)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ids = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val base = ids.join(outdeg, ids("id") === outdeg("src"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("deg"))
    pageRankRounds(edges, uniform(base), iters, dangling = true)._1
  }

  val HitsRounds = 4 // fixed HITS rounds (same doctrine as [[Iters]])

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    * list — the second classical link-analysis model next to PageRank,
    * and the one that separates the two roles PageRank conflates: on
    * the near-dup endorsement graph (doc_a → doc_b, earlier doc
    * endorses later duplicate) a high HUB is an early template many
    * later docs copy, a high AUTHORITY is a late aggregation stitched
    * from many earlier sources — exactly the two boilerplate shapes a
    * corpus audit wants told apart.
    *
    * Update: a′(v) = Σ_{u→v} h(u), then h′(u) = Σ_{u→v} a′(v) (the
    * standard in-round ordering), each side re-normalized to max = 10⁶
    * (L∞ instead of the textbook L2 — L2 needs a sqrt; L∞ keeps the
    * whole fixed point in exact integers and the RANKING identical,
    * since normalization is a positive scalar either way). The
    * normalizing product is DECIMAL(38,0)/HUGEINT-routed (raw sums are
    * node-count-bounded ≈ 2·10¹⁶ at 100 TB — in range, but ·10⁶ is
    * not), with a loud BIGINT cast at the ≤10⁶ output edge.
    *
    * Dataflow per round: two keyed join+aggregates (one per role) +
    * two 1-row max aggregates broadcast back — the dd_pagerank loop
    * shape, rounds cut by [[Rounds]] with the (authority, hub) pair
    * as the state. Nodes without in-edges hold authority 0, without
    * out-edges hub 0 (true zeros of the model, not artifacts).
    */
  def hitsMicro(edgesIn: DataFrame, iters: Int = HitsRounds): DataFrame = {
    val edges = edgesIn.select(col("src"), col("dst")).localCheckpoint(false)
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .localCheckpoint(false)
    // one role's raw sums over the other role's scores `v`, max-
    // normalized to micro; mx ≥ 0 always, greatest(,1) only guards
    // the all-zero frame (empty edge side)
    def side(v: DataFrame, from: String, to: String): DataFrame = {
      val raw = nodes.join(
          edges.join(v.withColumnRenamed("id", "vid"), col(from) === col("vid"))
            .groupBy(col(to).as("id")).agg(sum(col("v")).as("s")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("r"))
      raw.crossJoin(broadcast(raw.agg(coalesce(max(col("r")), lit(0L)).as("mx"))))
        .select(col("id"), expr(
          "CAST((CAST(r AS DECIMAL(38,0)) * 1000000) " +
            "DIV greatest(mx, CAST(1 AS BIGINT)) AS BIGINT)").as("v"))
    }
    val hub0 = nodes.select(col("id"), lit(1000000L).as("v"))
    val (auth, hub) = Rounds.fixed(iters, (hub0, hub0)) { case ((_, hub), _) =>
      // read by this round's hub side and, after the last round, the result
      val auth = side(hub, "src", "dst").localCheckpoint(false)
      (auth, side(auth, "dst", "src"))
    }
    auth.withColumnRenamed("v", "auth_micro")
      .join(hub.withColumnRenamed("v", "hub_micro"), "id")
      .select(col("id").as("doc_id"), col("auth_micro"), col("hub_micro"))
      .orderBy("doc_id")
  }

  /** Exact triangle count over an undirected (doc_a, doc_b) pair list
    * using degree orientation: every edge is directed from its lower-
    * to its higher-degree endpoint (ties broken by id), wedges are
    * generated per source over its out-neighbors ordered by the same
    * (deg, id) key, and closed by one membership join. Out-degree
    * under this orientation is O(√m), so total wedge volume is
    * O(m^1.5) even on hub-dominated graphs — the standard Suri &
    * Vassilvitskii / Cohen MapReduce formulation, as join+agg
    * dataflow.
    */
  def triangleCount(pairs: DataFrame): DataFrame = {
    // Both directions once, so degrees fall out of one groupBy.
    val und = undirected(pairs).toDF("x", "y").localCheckpoint(true)
    val deg = und.groupBy("x").agg(count(lit(1)).as("d"))
      .select(col("x").as("id"), col("d"))
    // Keep the direction whose source precedes its destination in the
    // (deg, id) total order; each undirected edge survives exactly
    // once. ddeg rides along so wedge generation can order
    // out-neighbors without re-joining degrees.
    val oriented = und
      .join(deg.select(col("id").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("id").as("y"), col("d").as("dy")), "y")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("x").as("src"), col("y").as("dst"), col("dy").as("ddeg"))
      .localCheckpoint(true)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("u"), col("e2.dst").as("v"))
    wedges.join(oriented.as("e3"),
        col("u") === col("e3.src") && col("v") === col("e3.dst"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  val KcoreK = 2       // core order: the quasi-clique floor
  val KcoreRounds = 6  // fixed peeling rounds (oracle unrolls the same)

  /** k-core membership by iterative peeling: each round drops nodes
    * whose CURRENT degree is below k, then re-restricts the edge list
    * to surviving endpoints (removing a node lowers its neighbors'
    * degrees — the recursion is the point; a plain one-shot degree
    * filter keeps chains of degree-2 nodes that unravel once an
    * endpoint goes). Near-dup use: a 2-core separates genuine
    * duplicate communities (quasi-cliques) from incidental pair
    * bridges — the LSH-threshold health signal one level above
    * dd_triangles. Fixed [[KcoreRounds]] rounds cut by [[Rounds]];
    * each round is one degree aggregation + two
    * semi-joins, all keyed shuffles. Both engines run the SAME round
    * count, so results agree even on a graph that hasn't reached the
    * peeling fixpoint (an adversarial path graph unravels one node
    * per round, exactly the diameter-bound caveat the CC operator
    * documents — production chooses rounds like dd_clusters chooses
    * its doubling count).
    */
  def kcoreMembers(pairs: DataFrame, k: Int = KcoreK,
                   rounds: Int = KcoreRounds): DataFrame = {
    val all = undirected(pairs).localCheckpoint(false)
    val edges = Rounds.fixed(rounds, all) { (edges, _) =>
      val keep = edges.groupBy("src").agg(count(lit(1)).as("c"))
        .filter(col("c") >= k).select(col("src").as("id"))
      edges
        .join(keep, edges("src") === keep("id"), "left_semi")
        .join(keep, edges("dst") === keep("id"), "left_semi")
    }
    val core = edges.select(col("src").as("id")).distinct()
      .withColumn("in_core", lit(true))
    all.select(col("src").as("doc_id")).distinct()
      .join(core, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("in_core"), lit(false)).as("in_core2"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dd_pagerank" -> ((s, dir) =>
      pageRankMicro(
        Dedup.verifiedPairs(s, dir, dedup = true).select("doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("pr").as("pr_micro"))
        .orderBy("doc_id")),

    "dd_kcore" -> ((s, dir) =>
      kcoreMembers(Dedup.verifiedPairs(s, dir, dedup = true)
        .select("doc_a", "doc_b"))),

    // Personalized PageRank from the smallest near-dup node — "which
    // documents are graph-close to this probe" (seeded expansion, the
    // retrieval-side PPR use; contrast dd_pagerank's global rank).
    "dd_ppr_seed" -> ((s, dir) =>
      pprMicro(
        Dedup.verifiedPairs(s, dir, dedup = true).select("doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("pr").as("ppr_micro"))
        .orderBy("doc_id")),

    // Directed projection of the near-dup graph: each verified pair
    // points doc_a → doc_b ("earlier doc endorses later duplicate").
    // Because doc_a < doc_b always holds, every component's maximum
    // doc is genuinely dangling (out-degree 0), so the
    // dangling-mass term is exercised on real data, not a no-op.
    "dd_pagerank_directed" -> ((s, dir) =>
      pageRankDirectedMicro(
        Dedup.verifiedPairs(s, dir, dedup = true)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("id").as("doc_id"), col("pr").as("pr_micro"))
        .orderBy("doc_id")),

    // Triangle count via the canonical two-join dataflow, with edges
    // DEGREE-oriented (low-degree → high-degree endpoint, ties by id)
    // before wedge generation: wedges are generated only at each
    // triangle's minimum vertex in the (deg, id) total order, which
    // caps wedge volume at O(m^1.5) regardless of hubs — id-oriented
    // wedges are Σ deg²(v) and go quadratic on a single boilerplate
    // hub, exactly the shape dd_degree_hist exists to detect. The
    // count is orientation-invariant, so the oracle keeps the simple
    // id-oriented SQL.
    "dd_triangles" -> ((s, dir) =>
      triangleCount(Dedup.verifiedPairs(s, dir, dedup = true)
        .select(col("doc_a"), col("doc_b")))),

    // HITS on the same directed endorsement graph as
    // dd_pagerank_directed — see [[hitsMicro]].
    "dd_hits" -> ((s, dir) =>
      hitsMicro(Dedup.verifiedPairs(s, dir, dedup = true)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))),

    // ADAMIC–ADAR LINK PREDICTION over the mutual-kNN graph: for
    // every non-edge pair with ≥1 common neighbor, AA(u,w) =
    // Σ_{v ∈ N(u)∩N(w)} 1/log₂(deg v) — the classic "which documents
    // are probably near-dups the index MISSED" score (a shared
    // low-degree neighbor is strong evidence; a shared hub is weak).
    // The near-dup pair graph itself is the WRONG substrate — verified
    // Jaccard ≥ 0.5 components are quasi-cliques, every wedge already
    // closed — so the score runs over ss_mutual_knn's reciprocal
    // edges, where open wedges are exactly the candidate links.
    // log₂ replaces the textbook ln (a constant factor — ranking is
    // identical) so the whole contract stays in the deterministic
    // fixed-point [[graft.functions.Log2Micro]] toolkit: per middle
    // node v the weight is ⌊10¹²/log2micro(deg v)⌋ (deg ≥ 2 for any
    // common neighbor, so the divisor is ≥ 10⁶ — never zero), and the
    // pair score is an exact integer sum. Dataflow: wedges generated
    // at each middle node (one self-join of the adjacency on v, n1 <
    // n2), aggregated by candidate pair, existing edges removed by
    // anti-join — all shuffle-keyed, no driver state. Wedge volume is
    // Σ deg(v)² with deg ≤ k by construction (mutual top-3 lists), so
    // the wedge generator is O(k²·n) — hub-proof at any corpus size.
    "ss_adamic_adar" -> ((s, dir) => {
      val e0 = Similarity.ivfKnnEdgesCached(s, dir, 3)
      val pairs = e0.as("f").join(e0.as("r"),
          col("f.src") === col("r.nbr") && col("f.nbr") === col("r.src"))
        .filter(col("f.src") < col("f.nbr"))
        .select(col("f.src").as("doc_a"), col("f.nbr").as("doc_b"))
        .localCheckpoint(false) // wedge join + anti-join both read it
      val edges = pairs.select(col("doc_a").as("v"), col("doc_b").as("n"))
        .unionAll(pairs.select(col("doc_b").as("v"), col("doc_a").as("n")))
      val deg = edges.groupBy("v").agg(count(lit(1)).as("deg"))
      // only middle nodes (deg ≥ 2) can sit on a wedge; deg-1 nodes
      // would divide by log2micro(1) = 0
      val wv = deg.filter(col("deg") >= 2)
        .withColumn("lg",
          graft.functions.Log2Micro.log2micro(col("deg"), lit(1L)))
        .select(col("v"), expr("1000000000000 DIV lg").as("w"))
      val a = edges.select(col("v"), col("n").as("n1"))
      val b = edges.select(col("v"), col("n").as("n2"))
      val wedges = a.join(b, Seq("v")).filter(col("n1") < col("n2"))
      val scored = wedges.join(wv, Seq("v"))
        .groupBy("n1", "n2")
        .agg(count(lit(1)).as("n_common"), sum(col("w")).as("aa_micro"))
      scored
        .join(pairs, scored("n1") === pairs("doc_a") &&
          scored("n2") === pairs("doc_b"), "left_anti")
        .select(col("n1").as("doc_a"), col("n2").as("doc_b"),
          col("n_common"), col("aa_micro"))
        .orderBy("doc_a", "doc_b")
    })
  )

  /** Full undirected integer-PageRank CTE skeleton over a
    * caller-supplied `pairs` CTE body (columns doc_a, doc_b) — the
    * dd_pagerank oracle chain, reusable (ta_textrank runs the same
    * fixed-round recursion over a word co-occurrence graph). Emits
    * pairs/edges/deg/n/pr0..pr`iters`; callers append a final SELECT
    * over pr`iters` (id, deg, pr).
    */
  private[operators] def undirectedPrSql(pairsSql: String,
                                         iters: Int = Iters): String =
    s"""pairs AS ($pairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |n AS (SELECT count(*) AS n_nodes FROM deg),
       |pr0 AS (
       |  SELECT id, deg, 1000000 // (SELECT n_nodes FROM n) AS pr FROM deg),
       |${(1 to iters).map(i => prRoundSql(s"pr${i - 1}", s"pr$i")).mkString(",\n")}""".stripMargin

  private def prRoundSql(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT d.id, d.deg,
       |    $JumpMicro // (SELECT n_nodes FROM n)
       |      + ($DampMicro * COALESCE(c.cs, 0)) // 1000000 AS pr
       |  FROM deg d LEFT JOIN (
       |    SELECT e.dst AS id, sum(p.pr // p.deg) AS cs
       |    FROM edges e JOIN $prev p ON e.src = p.id
       |    GROUP BY e.dst) c ON d.id = c.id)""".stripMargin

  // Same round, directed: per-node share of the previous round's
  // dangling mass rides inside the damped term — the SQL mirrors the
  // Spark expression token for token so truncating division agrees.
  private def prDirRoundSql(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT d.id, d.outdeg,
       |    $JumpMicro // (SELECT n_nodes FROM nn)
       |      + ($DampMicro * (COALESCE(c.cs, 0) +
       |           (SELECT COALESCE(sum(pr), 0) FROM $prev WHERE outdeg = 0)
       |             // (SELECT n_nodes FROM nn))) // 1000000 AS pr
       |  FROM odeg d LEFT JOIN (
       |    SELECT e.dst AS id, sum(p.pr // p.outdeg) AS cs
       |    FROM edges e JOIN $prev p ON e.src = p.id
       |    GROUP BY e.dst) c ON d.id = c.id)""".stripMargin

  // MATERIALIZED is load-bearing: each round references the previous
  // round's CTE twice (degree filter + edge restriction), so inlined
  // CTEs re-evaluate the whole chain ~3× per round — minutes at 6
  // rounds vs 0.5 s materialized (the DedupClusters oracle discipline).
  private def kcoreRoundSql(prev: String, round: Int): String =
    s"""k$round AS MATERIALIZED (
       |  SELECT src AS id FROM $prev GROUP BY src HAVING count(*) >= $KcoreK),
       |e$round AS MATERIALIZED (
       |  SELECT e.src, e.dst FROM $prev e
       |  JOIN k$round a ON e.src = a.id
       |  JOIN k$round b ON e.dst = b.id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dd_kcore" ->
      s"""WITH pairs AS MATERIALIZED (${Dedup.ngramJaccardPairsSql}),
         |e0 AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |${(1 to KcoreRounds).map(i => kcoreRoundSql(s"e${i - 1}", i)).mkString(",\n")}
         |SELECT n.id AS doc_id,
         |  n.id IN (SELECT src FROM e$KcoreRounds) AS in_core2
         |FROM (SELECT DISTINCT src AS id FROM e0) n
         |ORDER BY doc_id""".stripMargin,
    "dd_pagerank" ->
      s"""WITH ${undirectedPrSql(Dedup.ngramJaccardPairsSql)}
         |SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr_micro
         |FROM pr$Iters ORDER BY doc_id""".stripMargin,
    // Same edge/deg chain; teleport mass returns to the min-id seed.
    "dd_ppr_seed" -> {
      def round(prev: String, next: String) =
        s"""$next AS MATERIALIZED (
           |  SELECT d.id, d.deg,
           |    CASE WHEN d.id = (SELECT seed FROM seed)
           |         THEN $JumpMicro ELSE 0 END
           |      + ($DampMicro * COALESCE(c.cs, 0)) // 1000000 AS pr
           |  FROM deg d LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.pr // p.deg) AS cs
           |    FROM edges e JOIN $prev p ON e.src = p.id
           |    GROUP BY e.dst) c ON d.id = c.id)""".stripMargin
      s"""WITH pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |seed AS (SELECT min(id) AS seed FROM deg),
         |ppr0 AS (
         |  SELECT id, deg,
         |    CASE WHEN id = (SELECT seed FROM seed)
         |         THEN 1000000 ELSE 0 END AS pr
         |  FROM deg),
         |${(1 to Iters).map(i => round(s"ppr${i - 1}", s"ppr$i")).mkString(",\n")}
         |SELECT id AS doc_id, CAST(pr AS BIGINT) AS ppr_micro
         |FROM ppr$Iters ORDER BY doc_id""".stripMargin
    },
    "dd_pagerank_directed" ->
      s"""WITH pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |odeg AS (
         |  SELECT n.id, COALESCE(o.c, 0) AS outdeg
         |  FROM nodes n LEFT JOIN
         |    (SELECT src, count(*) AS c FROM edges GROUP BY src) o
         |    ON n.id = o.src),
         |nn AS (SELECT count(*) AS n_nodes FROM odeg),
         |pr0 AS (
         |  SELECT id, outdeg, 1000000 // (SELECT n_nodes FROM nn) AS pr
         |  FROM odeg),
         |${(1 to Iters).map(i => prDirRoundSql(s"pr${i - 1}", s"pr$i")).mkString(",\n")}
         |SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr_micro
         |FROM pr$Iters ORDER BY doc_id""".stripMargin,
    "dd_triangles" ->
      s"""WITH pairs AS (${Dedup.ngramJaccardPairsSql}),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs)
         |SELECT count(*) AS n_triangles
         |FROM e e1
         |JOIN e e2 ON e1.b = e2.a
         |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    // Unrolled HITS rounds: per round, raw authority sums (ar) →
    // max-normalized micro (a) → raw hub sums off the NEW a (hr) →
    // normalized h; HUGEINT mirrors the Spark DECIMAL(38,0) routing
    // token for token.
    "dd_hits" -> {
      def round(prevH: String, r: Int) =
        s"""ar$r AS MATERIALIZED (
           |  SELECT n.id, COALESCE(c.s, 0) AS r FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.v) AS s
           |    FROM edges e JOIN $prevH p ON e.src = p.id
           |    GROUP BY e.dst) c ON n.id = c.id),
           |a$r AS MATERIALIZED (
           |  SELECT id, CAST((CAST(r AS HUGEINT) * 1000000) //
           |    greatest((SELECT max(r) FROM ar$r), 1) AS BIGINT) AS v
           |  FROM ar$r),
           |hr$r AS MATERIALIZED (
           |  SELECT n.id, COALESCE(c.s, 0) AS r FROM nodes n LEFT JOIN (
           |    SELECT e.src AS id, sum(p.v) AS s
           |    FROM edges e JOIN a$r p ON e.dst = p.id
           |    GROUP BY e.src) c ON n.id = c.id),
           |h$r AS MATERIALIZED (
           |  SELECT id, CAST((CAST(r AS HUGEINT) * 1000000) //
           |    greatest((SELECT max(r) FROM hr$r), 1) AS BIGINT) AS v
           |  FROM hr$r)""".stripMargin
      s"""WITH pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS v FROM nodes),
         |${(1 to HitsRounds).map(i => round(s"h${i - 1}", i)).mkString(",\n")}
         |SELECT a.id AS doc_id, a.v AS auth_micro, h.v AS hub_micro
         |FROM a$HitsRounds a JOIN h$HitsRounds h USING (id)
         |ORDER BY doc_id""".stripMargin
    },

    "ss_adamic_adar" ->
      s"""WITH RECURSIVE ${Similarity.ivfKnnEdgesCtes(3)},
         |pairs AS MATERIALIZED (
         |  SELECT f.src AS doc_a, f.nbr AS doc_b
         |  FROM knn0 f JOIN knn0 r ON f.src = r.nbr AND f.nbr = r.src
         |  WHERE f.src < f.nbr),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS v, doc_b AS n FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs),
         |deg AS MATERIALIZED (
         |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY v),
         |degl AS (
         |  SELECT v, deg AS num, CAST(1 AS BIGINT) AS den FROM deg
         |  WHERE deg >= 2),
         |${OracleSql.log2microCtes("aal", "degl", Seq("v"))},
         |wv AS MATERIALIZED (
         |  SELECT v, 1000000000000 // lrm AS w FROM aal_lg),
         |wedges AS (
         |  SELECT a.v, a.n AS n1, b.n AS n2
         |  FROM edges a JOIN edges b ON a.v = b.v AND a.n < b.n),
         |scored AS (
         |  SELECT w.n1, w.n2, CAST(count(*) AS BIGINT) AS n_common,
         |    CAST(sum(wv.w) AS BIGINT) AS aa_micro
         |  FROM wedges w JOIN wv ON wv.v = w.v
         |  GROUP BY 1, 2)
         |SELECT s.n1 AS doc_a, s.n2 AS doc_b, s.n_common, s.aa_micro
         |FROM scored s
         |WHERE NOT EXISTS (SELECT 1 FROM pairs p
         |  WHERE p.doc_a = s.n1 AND p.doc_b = s.n2)
         |ORDER BY doc_a, doc_b""".stripMargin
  )
}
