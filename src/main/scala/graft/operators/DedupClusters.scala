package graft.operators

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Pairs → clusters: the last stage of a real dedup pipeline. Verified
  * near-dup pairs (LSH → exact-Jaccard, [[Dedup]]) form an undirected
  * graph; each connected component is one duplicate cluster, and the
  * canonical representative is the minimum doc_id in the component
  * (deterministic "keep first").
  *
  * Spark-first algorithm: iterative min-label propagation —
  * `label(v) ← min(label(v), min over neighbors of label(u))` until a
  * fixpoint, which is exactly the component minimum. Each iteration is
  * one shuffle-join + one aggregation on the (tiny relative to the
  * corpus) edge set; the edge set is persisted once, and label lineage
  * is cut per iteration by [[Rounds]] so the plan doesn't grow
  * exponentially. Near-dup clusters are dense (quasi-cliques), so the
  * effective diameter — and the iteration count — is small; a graph
  * still unconverged after [[StarSwitchRound]] gather rounds has real
  * chains, and the loop SWAPS BODIES: [[starContraction]] (alternating
  * large-star/small-star, Kiveris et al., "Connected Components in
  * MapReduce and Beyond") finishes adversarial-diameter graphs in
  * O(log²) rounds of the same join+min shape. The swap is internal —
  * labels are exact component minima either way.
  *
  * Those rounds serve pair lists above [[DriverPairCap]]. A list that
  * fits is collected once and labeled on the driver by union-find
  * (Lattanzi et al., "Filtering", SPAA 2011: finish on one machine
  * once the state fits), which replaces a dozen tiny Spark jobs with
  * one.
  */
object DedupClusters {

  /** Gather rounds before the loop abandons min-propagation for
    * [[starContraction]]: dense near-dup families converge in 2–3
    * rounds (propagate + confirm), so reaching round 4 unconverged
    * means the graph has chains — exactly the shape stars beat
    * propagation on.
    */
  val StarSwitchRound = 4

  /** Fixed synchronous rounds for dd_label_prop (unrolled in the
    * oracle as CTEs).
    */
  val LpaRounds = 4

  /** Exact connected components by alternating large-star/small-star
    * contraction (Kiveris et al.): the adversarial-diameter body.
    * `edges` is the bidirectional (src, dst) relation. Each round is
    * two (groupBy-min + broadcast-free join) passes over an edge set
    * that only shrinks toward the star forest:
    *
    *  - large-star: per node u with neighborhood N(u) and
    *    m = min(N(u) ∪ u), connect every LARGER neighbor v > u to m;
    *  - small-star: per node u over its smaller-oriented edges
    *    (u > v), with m = min of those v, connect u and every other
    *    smaller neighbor to m.
    *
    * Both preserve connectivity; the fixpoint is the star forest whose
    * roots are component minima, reached in O(log² n) rounds even on a
    * pure path — vs O(diameter) for plain propagation. Rounds are cut
    * by [[Rounds]]; convergence is the exact set test next = e, one
    * aggregation per round ([[starStable]]), and a graph still
    * unconverged after `maxIters` rounds fails loudly.
    * At 100 TB every pass is edge-partitioned — no node ever holds
    * more than its neighborhood, no driver state beyond the round
    * counter. That holds on the distributed path, above
    * [[DriverPairCap]] pairs; below it the driver holds the pair list.
    */
  private[graft] def starContraction(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    // canonical larger→smaller orientation, one row per undirected edge
    val e0 = edges.filter(col("src") > col("dst"))
      .select(col("src").as("hi"), col("dst").as("lo"))
      .distinct().localCheckpoint(false)
    val (e, _) = Rounds.untilStable(maxIters, e0)((e, _) => {
      val b = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      val lmins = b.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      // v > u ≥ m, so the output keeps the larger→smaller orientation
      val large = b.join(lmins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      val smins = large.groupBy("hi").agg(min(col("lo")).as("m"))
      large.join(smins, "hi")
        .select(col("lo").as("v"), col("m"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .unionAll(smins.select(col("hi"), col("m").as("lo")))
        .distinct()
    }, starStable)
    // star forest → labels: non-roots point at their root (defensive
    // groupBy-min in case of a duplicate hi row), roots label themselves
    val star = e.groupBy(col("hi")).agg(min(col("lo")).as("lo"))
    val nodes = edges.select(col("src").as("id")).distinct()
    nodes.join(star, nodes("id") === star("hi"), "left")
      .select(col("id"), coalesce(col("lo"), col("id")).as("label"))
  }

  /** The star rounds' fixpoint test: two distinct (hi, lo) edge sets
    * are equal iff every edge of their union is in both, i.e. its side
    * tags sum to 1 + 2 — one aggregation, one action.
    */
  private[graft] def starStable(e: DataFrame, next: DataFrame): Boolean =
    next.select(col("hi"), col("lo"), lit(1).as("side"))
      .unionAll(e.select(col("hi"), col("lo"), lit(2).as("side")))
      .groupBy("hi", "lo").agg(sum(col("side")).as("sides"))
      .agg(count(when(col("sides") =!= 3, lit(1))))
      .head().getLong(0) == 0L

  /** Largest pair list [[connectedComponents]] labels on the driver:
    * 2¹⁶ (doc_a, doc_b) rows. Collected as rows of two boxed ids,
    * that is about 10 MB of driver heap; the label frame it returns
    * holds at most twice as many (id, label) rows.
    */
  val DriverPairCap: Int = 1 << 16

  /** (id, label) per node of `pairs` (cols doc_a < doc_b); label = min
    * doc_id reachable in the component.
    *
    * A pair list of at most [[DriverPairCap]] rows with integral ids
    * is collected once and labeled on the driver ([[onDriver]]); the
    * result is a local frame, so a later join broadcasts it. Larger
    * lists, and lists holding a null id, run the distributed rounds
    * of [[distributedComponents]]. Both give the same rows and the
    * same schema.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val src = GraphQueries.undirected(pairs).schema("src")
    if (src.dataType != IntegerType && src.dataType != LongType)
      distributedComponents(pairs, maxIters)
    else Rounds.fits(pairs.select("doc_a", "doc_b"), DriverPairCap) match {
      case (_, Some(rows)) if !rows.exists(_.anyNull) =>
        onDriver(pairs.sparkSession, rows, src, maxIters)
      case (cut, _) => distributedComponents(cut, maxIters)
    }
  }

  /** [[connectedComponents]] over collected (doc_a, doc_b) rows:
    * union-find over the ids in ascending order, each root the
    * smaller index, so a root is its component's minimum id. The
    * schema is the distributed body's: `id` and `label` of the edge
    * type `src`, `label` nullable when the propagation rounds would
    * have converged ([[propagationConverges]]), as an aggregate's
    * output is.
    */
  private def onDriver(s: SparkSession, pairs: Array[Row], src: StructField,
      maxIters: Int): DataFrame = {
    val (da, db) = pairs.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).unzip
    val ids = (da ++ db).distinct.sorted
    val a = da.map(java.util.Arrays.binarySearch(ids, _))
    val b = db.map(java.util.Arrays.binarySearch(ids, _))
    val parent = ids.indices.toArray
    @tailrec def find(i: Int): Int =
      if (parent(i) == i) i else { parent(i) = parent(parent(i)); find(parent(i)) }
    a.indices.foreach { k =>
      val (x, y) = (find(a(k)), find(b(k)))
      parent(math.max(x, y)) = math.min(x, y)
    }
    val out: Long => Any = if (src.dataType == IntegerType) _.toInt else identity
    val labelNullable = src.nullable || propagationConverges(a, b, ids.length, maxIters)
    s.createDataFrame(ids.indices.map(i => Row(out(ids(i)), out(ids(find(i))))).asJava,
      StructType(Seq(StructField("id", src.dataType, src.nullable),
        StructField("label", src.dataType, labelNullable))))
  }

  /** Whether [[distributedComponents]] ends in its propagation rounds
    * rather than swapping to [[starContraction]]: its rounds replayed
    * over the edge index arrays (ids ascending, so index order is id
    * order).
    */
  private def propagationConverges(a: Array[Int], b: Array[Int], n: Int,
      maxIters: Int): Boolean = {
    def gather(l: Array[Int]): Array[Int] = {
      val g = l.clone()
      a.indices.foreach { k =>
        g(a(k)) = math.min(g(a(k)), l(b(k)))
        g(b(k)) = math.min(g(b(k)), l(a(k)))
      }
      g
    }
    var label = gather(Array.range(0, n))
    (1 until math.min(StarSwitchRound, maxIters)).exists { r =>
      val g = gather(label)
      val next = if (r < 2) g else g.map(g)
      val same = next.sameElements(label)
      label = next
      same
    }
  }

  /** The distributed body of [[connectedComponents]]: min-label
    * propagation, swapping to [[starContraction]] on chained graphs.
    * The only path for pair lists above [[DriverPairCap]], and the
    * reference the driver path is pinned to.
    */
  private[graft] def distributedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // persisted: the edge set is re-joined every round
    val edges = GraphQueries.undirected(pairs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round 1 needs no node table and no join: every node appears as
    // `src` (edges are bidirectional), so label₁(v) = min(v, min
    // neighbor id) is ONE aggregation over the edge set — it also
    // subsumes the identity-label initialization. It always changes
    // the labels of a nonempty edge set (each pair's larger endpoint
    // drops to the smaller), so it runs outside the loop with no
    // convergence test; round 2's action materializes its checkpoint
    // as part of its lineage.
    val first = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("nmin")).as("label"),
        col("src").as("old"))
      .localCheckpoint(false)
    // Later rounds gather lbl(v) ← min(label(v), label(u) for u ∈
    // N(v)) as a single union+min aggregation: incoming rows cover
    // every neighbor, and the node's own row both joins the min and
    // carries the previous label out for the convergence test — no
    // separate left join. Dense near-dup clusters converge in two
    // rounds (propagate + confirm, the minimum); a graph still
    // unconverged at StarSwitchRound has real chains and falls
    // through to starContraction below.
    val (labels, _, converged) =
      Rounds.atMost(math.min(StarSwitchRound, maxIters) - 1, first)((prev, r) => {
        val labels = prev.select("id", "label")
        val gathered = edges.join(labels, edges("dst") === labels("id"))
          .select(col("src").as("id"), col("label").as("cand"))
          .withColumn("own", lit(false))
          .unionByName(labels.select(col("id"), col("label").as("cand"))
            .withColumn("own", lit(true)))
          .groupBy("id")
          .agg(min(col("cand")).as("label"),
            max(when(col("own"), col("cand"))).as("old"))
        // Pointer jumping (label(v) ← label(label(v)), a self-join on
        // the node-sized label table) doubles effective reach from
        // round 3 on — it lets moderately-chained graphs still finish
        // inside the propagation phase.
        if (r < 2) gathered
        else gathered.as("x")
          .join(gathered.as("y"), col("x.label") === col("y.id"), "left")
          .select(col("x.id").as("id"),
            coalesce(col("y.label"), col("x.label")).as("label"),
            col("x.old").as("old"))
      }, (_, next) => next.filter(col("label") =!= col("old")).count() == 0)
    // Adversarial-diameter fallback: the propagation loop didn't
    // converge, so the graph has long chains — run the O(log²)-round
    // star contraction on the same persisted edge set. It fails
    // loudly itself if ITS round budget is exceeded (an unconverged
    // result would be silently wrong — labels not yet component
    // minima).
    try
      if (converged) labels.select("id", "label")
      else starContraction(edges, maxIters)
    finally edges.unpersist()
  }

  /** DBSCAN ε (cosine floor — looser than dd_embed_cos's 0.3
    * near-dup bar: density clustering wants the NEIGHBORHOOD graph,
    * and at 0.3 the corpus is almost all noise) and core minimum
    * neighbor count.
    */
  val DbscanEps = 0.2
  val DbscanMinPts = 3

  /** Downscale-unit ladder for the ARI pair counts:
    * shift = max(0, 2·⌈log₂ n_docs⌉ − 50), as a CASE on the doc count
    * so both engines derive the SAME power-of-two unit from data, not
    * prose. Below 2²⁵ docs the shift is 0 and every product is EXACT;
    * past that the quartic cross-multiplied ARI numerator
    * (2·s_n·s_ij·10⁶ ≤ n⁴/2·10⁶) would leave DECIMAL(38,0)/HUGEINT
    * around ~6·10⁷ docs, so the pair counts drop `shift` low-order
    * bits first (the ta_collocations two-stage fixed-point
    * discipline). Relative error per scaled count is ≤ 2^shift/count
    * ~ 2⁻²⁵ at the activation threshold — invisible at ppm
    * resolution (OperatorsSpec pins shifted ≈ exact under a forced
    * shift). The rung table ends at n < 2⁴¹ (shift 32);
    * the ELSE rung (34) keeps the expression total beyond it. With
    * the ladder applied, SCALED pair counts stay ≈ 2⁴⁷ across the
    * rung table (shift grows 2 per doubling, exactly offsetting the
    * n² growth) and only approach BIGINT range near ~2⁴⁸ docs — far
    * beyond any realistic corpus. Strict-< boundaries: an exact
    * power of two takes the NEXT rung (n = 2²⁵ → shift 2), as
    * OperatorsSpec's rung check expects.
    */
  private[graft] def ariUnitShiftSql(n: String): String = {
    val rungs = (25 to 40).map(k =>
      s"WHEN $n < ${1L << (k + 1)} THEN ${2 * (k + 1) - 50}").mkString(" ")
    s"(CASE WHEN $n < ${1L << 25} THEN 0 $rungs ELSE 34 END)"
  }

  /** Pair-counting ARI tail of dd_cluster_agreement: `joint` carries one row per doc with the
    * two partition labels (doc_id, l1, l2), `n` is the one-row doc
    * count. Contingency cells, per-side sizes and C(·,2) sums are
    * exact integers; the ARI ratio cross-multiplies through 2·C(n,2)
    * in DECIMAL(38,0) after the [[ariUnitShiftSql]] unit drop;
    * division is sign-explicit so truncation matches floor across
    * engines. `shiftSqlOverride` lets tests force the downscale
    * branch at small doc counts.
    */
  private[graft] def ariFromJoint(joint: DataFrame, n: DataFrame,
      shiftSqlOverride: Option[String] = None): DataFrame = {
    val sij = joint.groupBy("l1", "l2").agg(count(lit(1)).as("nij"))
      .agg(sum(expr("nij * (nij - 1) DIV 2")).as("s_ij"))
    val sa = joint.groupBy("l1").agg(count(lit(1)).as("ai"))
      .agg(sum(expr("ai * (ai - 1) DIV 2")).as("s_a"))
    val sb = joint.groupBy("l2").agg(count(lit(1)).as("bj"))
      .agg(sum(expr("bj * (bj - 1) DIV 2")).as("s_b"))
    n.crossJoin(broadcast(sij)).crossJoin(broadcast(sa))
      .crossJoin(broadcast(sb))
      .withColumn("s_n", expr("n_docs * (n_docs - 1) DIV 2"))
      // the Rand numerator is a pair count ≤ s_n ~ n²/2, so the
      // ·10⁶ cross-multiply overflows BIGINT at ~4.3M docs — route
      // it through DECIMAL(38,0) like num/den (the quotient ≤ 10⁶
      // keeps the DIV-returns-BIGINT contract safe); numerator ≥ 0
      // by definition, so plain DIV needs no sign case. No unit drop
      // needed: the quadratic-times-10⁶ product fits DECIMAL(38,0)
      // to any doc count whose pair counts fit BIGINT at all.
      .withColumn("rand_ppm", expr(
        "CASE WHEN s_n > 0 THEN ((CAST(s_n AS DECIMAL(38,0)) + 2 * s_ij " +
          "- s_a - s_b) * 1000000) DIV s_n END"))
      .withColumn("sh",
        expr(shiftSqlOverride.getOrElse(ariUnitShiftSql("n_docs"))))
      .withColumn("num", expr(
        "2 * CAST(shiftright(s_n, sh) AS DECIMAL(38,0)) * shiftright(s_ij, sh) " +
          "- 2 * CAST(shiftright(s_a, sh) AS DECIMAL(38,0)) * shiftright(s_b, sh)"))
      .withColumn("den", expr(
        "CAST(shiftright(s_n, sh) AS DECIMAL(38,0)) " +
          "* (shiftright(s_a, sh) + shiftright(s_b, sh)) " +
          "- 2 * CAST(shiftright(s_a, sh) AS DECIMAL(38,0)) * shiftright(s_b, sh)"))
      .withColumn("ari_ppm", expr(
        """CASE WHEN den > 0 THEN
          |  CAST(CASE WHEN num >= 0 THEN (num * 1000000) div den
          |       ELSE -((-num * 1000000) div den) END AS BIGINT)
          |END""".stripMargin))
      .select("n_docs", "s_ij", "s_a", "s_b", "rand_ppm", "ari_ppm")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DBSCAN over the embedding space — density clustering, the
    // noise-aware counterpart of the k-means family (clusters of any
    // shape, outliers labeled noise instead of polluting a centroid):
    // ε-neighbors = sign-bucket-blocked pairs with cosine ≥ ε (the
    // dd_embed_cos graph — the bucketing IS the index, same recall
    // contract), core points have ≥ MinPts neighbors, clusters =
    // connected components over CORE–CORE edges (the standard
    // distributed DBSCAN reduction), border points attach to the
    // minimum core-neighbor cluster (deterministic), everything else
    // is noise. All set algebra on the edge frame — joins and
    // aggregations keyed by vector id, the shared CC operator for
    // the transitive step; nothing corpus-quadratic (pair volume is
    // bucket-bounded by the computed sign-bucket dial).
    "dd_dbscan" -> ((s, dir) => {
      val v = Vec.bucketedVectors(Tables.embeddings(s, dir))
        .select("vec_id", "e", "bucket", "nrm")
      val pairs = v.as("a").join(v.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos", round(
          TextOps.dot(col("a.e"), col("b.e")) /
            (col("a.nrm") * col("b.nrm")), 4))
        .filter(col("cos") >= DbscanEps)
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .localCheckpoint(false) // degree, core filter, CC, border reuse
      val nbrs = pairs.select(col("va").as("id"), col("vb").as("nbr"))
        .unionAll(pairs.select(col("vb").as("id"), col("va").as("nbr")))
      val deg = nbrs.groupBy("id").agg(count(lit(1)).as("n_neighbors"))
      val core = deg.filter(col("n_neighbors") >= DbscanMinPts)
        .select("id").localCheckpoint(false)
      val coreEdges = pairs
        .join(core.select(col("id").as("va")), Seq("va"))
        .join(core.select(col("id").as("vb")), Seq("vb"))
        .select(col("va").as("doc_a"), col("vb").as("doc_b"))
      val coreLab = core.join(
          connectedComponents(coreEdges), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("cl"))
        .localCheckpoint(false) // read by core rows AND border attach
      val border = nbrs
        .join(coreLab.select(col("id").as("nbr"), col("cl")), Seq("nbr"))
        .join(core.withColumnRenamed("id", "idc"),
          col("id") === col("idc"), "left_anti")
        .groupBy("id").agg(min(col("cl")).as("bcl"))
      Tables.embeddings(s, dir).select(col("vec_id"))
        .join(deg.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .join(coreLab.select(col("id").as("vec_id"), col("cl")),
          Seq("vec_id"), "left")
        .join(border.select(col("id").as("vec_id"), col("bcl")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("cl").isNotNull, "core")
            .when(col("bcl").isNotNull, "border")
            .otherwise("noise").as("role"),
          coalesce(col("cl"), col("bcl")).as("cluster_id"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"))
        .orderBy("vec_id")
    }),

    // CLUSTER-AGREEMENT AUDIT (Adjusted Rand Index) — do the two
    // independent near-dup methods partition the corpus the same
    // way? MinHash→Jaccard-verified clusters vs SimHash-64 clusters,
    // compared by the pair-counting contingency: Rand = the fraction
    // of doc pairs the two partitions treat identically, ARI = the
    // same corrected for chance (Hubert & Arabie 1985) — THE standard
    // before swapping one dedup parameterization for a cheaper one
    // (high ARI ⇒ the cheap method loses little; low ⇒ they disagree
    // and the verified method stays). Dataflow: both label frames
    // come from the shared CC operator (singletons keep their own
    // id), one join aligns them, and everything after is counting —
    // the contingency cells, the per-side cluster sizes, and the
    // C(·,2) sums, all exact integers. The ARI ratio is formed by
    // cross-multiplying through by 2·C(n,2) so it stays integral:
    // DECIMAL(38,0)/HUGEINT holds it to ~10⁷ docs; past that the
    // pair counts downscale to coarser units (the ta_collocations
    // two-stage fixed-point discipline). Sign-explicit division, so
    // truncation matches floor across engines (ARI is negative when
    // agreement is below chance).
    "dd_cluster_agreement" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      def labels(pairs: DataFrame, name: String) =
        docs.join(connectedComponents(pairs), docs("doc_id") === col("id"),
            "left")
          .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as(name))
      // Resolve BOTH memoized pair frames on this thread first (the
      // Overlap/CacheRegistry deadlock rule), then run the two
      // INDEPENDENT CC label computations as overlapped jobs (guide
      // §2.6, round 18): each CC is a driver-sequential loop of
      // checkpoint+count actions, so running them side by side lets
      // one graph's rounds back-fill the other's straggler tails.
      val p1 = Dedup.verifiedPairs(s, dir, dedup = true)
        .select("doc_a", "doc_b")
      val p2 = Dedup.simhash64Pairs(s, dir).select("doc_a", "doc_b")
      val (l1, l2) = graft.Overlap.par(labels(p1, "l1"), labels(p2, "l2"))
      ariFromJoint(l1.join(l2, "doc_id"), docs.agg(count(lit(1)).as("n_docs")))
    }),

    // CLUSTER QUALITY AUDIT (weakest link) — the over-merge alarm for
    // transitive clustering: connected components chain A~B~C into
    // one cluster even when A and C share nothing, so per cluster
    // this reports the MINIMUM edge similarity (the weakest link that
    // holds it together) and the edge density vs the clique bound. A
    // big cluster with min-jaccard at the 0.5 threshold and density
    // ≪ 10⁶ is a chain — exactly what a dedup reviewer inspects
    // before deleting survivors. Edge-frame joins and aggregates
    // only; sizes from the label frame.
    "dd_cluster_weakest_link" -> ((s, dir) => {
      val pairs = Dedup.verifiedPairs(s, dir, dedup = true)
        .select("doc_a", "doc_b", "jaccard")
      val labels = connectedComponents(pairs.select("doc_a", "doc_b"))
      val el = pairs
        .join(labels.select(col("id").as("doc_a"),
          col("label").as("cluster_id")), "doc_a")
      val sizes = labels.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"))
      el.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_edges"), min(col("jaccard")).as("min_jaccard"))
        .join(sizes, "cluster_id")
        .withColumn("density_ppm",
          expr("(n_edges * 2 * 1000000) DIV (n_docs * (n_docs - 1))"))
        .select("cluster_id", "n_docs", "n_edges", "min_jaccard",
          "density_ppm")
        .orderBy("cluster_id")
    }),

    // Duplicate clusters from the LSH→verify pairs (jaccard ≥ 0.5):
    // every doc appearing in a verified pair, labeled with its
    // component's minimum doc_id, plus the component size.
    "dd_clusters" -> ((s, dir) => {
      // CC is multiplicity-blind and order-blind → feed it the
      // unsorted, un-deduped verified pairs (two fewer exchanges than
      // the presentation-form query). cluster_size via a window count
      // over the label partition: one shuffle by label instead of a
      // size aggregation plus a join back (label groups are duplicate
      // clusters — bounded small, no window-skew concern).
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.verifiedPairs(s, dir, dedup = false)
        .select("doc_a", "doc_b")
      connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          count(lit(1)).over(Window.partitionBy(col("label"))).as("cluster_size"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL CONNECTED COMPONENTS — the clustering leg of the
    // incremental-maintenance family (pipe_agg/join_maintenance,
    // pipe_incremental_dedup cover aggregates/joins/pair-finding;
    // this is the LABEL merge): yesterday's labels survive as STAR
    // EDGES (id → component-min), today's delta pairs union in, and
    // one CC pass over [stars ∪ delta] must equal CC over the full
    // pair graph — the union-find merge theorem as a gated contract
    // (the sk_hll_merge convention: the oracle IS the direct full
    // recompute). Base = pairs with both endpoints in the md5-<'8'
    // half (the established split both engines see identically);
    // delta = every pair touching the other half. At 100 TB
    // yesterday's labels are a materialized table and today's job
    // scans ONLY delta pairs + that table — the base pair graph (the
    // expensive verify output) is never re-read; here both halves
    // compute fresh because rows carry no cross-session state, but
    // the gate pins exactly the equality that makes the materialized
    // form safe to ship.
    "dd_incremental_cc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.verifiedPairs(s, dir, dedup = false)
        .select("doc_a", "doc_b")
        .localCheckpoint(false) // base + delta splits both read it
      def inBase(c: String) =
        substring(md5(col(c).cast("string")), 1, 1) < "8"
      val base = pairs.filter(inBase("doc_a") && inBase("doc_b"))
      val delta = pairs.filter(!(inBase("doc_a") && inBase("doc_b")))
      val stars = connectedComponents(base)
        .select(col("id").as("doc_a"), col("label").as("doc_b"))
      connectedComponents(stars.unionAll(delta))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          count(lit(1)).over(Window.partitionBy(col("label")))
            .as("cluster_size"))
        .orderBy("doc_id")
    }),

    // SOFT DEDUP — the down-weighting alternative to dropping: every
    // member of a near-dup cluster keeps 1/cluster_size of its
    // sampling mass (weight_ppm = 10⁶ DIV size), so the cluster as a
    // whole contributes exactly one document's worth of probability
    // while no individual variant is lost — the loader-side treatment
    // pipelines use when duplicates carry distribution signal (quoted
    // canonical texts, licenses, boilerplate headers) that hard
    // removal would erase. Singletons keep full weight, which makes
    // Σweight ≈ the deduped corpus size — the invariant the spec
    // pins. Same materialized pair graph + CC as dd_clusters; the
    // corpus itself only takes one left join on its own key.
    "dd_soft_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.verifiedPairs(s, dir, dedup = false)
        .select("doc_a", "doc_b")
      val comp = connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          count(lit(1)).over(Window.partitionBy(col("label")))
            .as("cluster_size"))
      Tables.documents(s, dir).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
        .withColumn("weight_ppm", expr("1000000 DIV cluster_size"))
        .orderBy("doc_id")
    }),

    // The end product of the dedup pipeline: the cleaned corpus. Keep
    // every doc that is not a non-representative member of a near-dup
    // cluster (representative = component minimum). One anti-join
    // against the (tiny relative) victim set — the corpus never
    // shuffles by anything but its own partitioning.
    // Degree histogram of the verified near-dup graph — the health
    // check run before clustering: a fat tail (hub documents paired
    // with everything) flags boilerplate that should have died in
    // exact dedup, and predicts CC round counts. Two small
    // aggregations over the pair list.
    "dd_degree_hist" -> ((s, dir) => {
      // distinct pairs (degree must not double-count a pair seen in
      // two bands) but no presentation sort — the histogram re-sorts
      Dedup.verifiedPairs(s, dir, dedup = true)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }),

    // Community detection on the near-dup graph by synchronous label
    // propagation (Raghavan et al. 2007) — the clustering that splits
    // a weakly-bridged blob where CC merges it (CC answers "connected
    // at all?", LPA answers "densely connected together?"). Fixed
    // [[LpaRounds]] synchronous rounds so the oracle can unroll them:
    // each node takes the most frequent label among its neighbors,
    // ties broken by smallest label — the per-node argmax is the
    // two-HashAggregate trick (max count, then min label over the
    // tied rows), never a per-node sort. Per round: one join + two
    // aggregations, rounds cut by [[Rounds]] — the dd_pagerank loop
    // shape. Each node also votes its OWN label once (a single
    // self-loop): without it, synchronous LPA on an isolated pair
    // swaps labels every round and an even round count undoes all
    // work — the classic bipartite oscillation; with it, the pair
    // ties and the min-label tie-break converges both ends.
    "dd_label_prop" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("community_id"))
      lpaLabels(Dedup.verifiedPairs(s, dir, dedup = true)
          .select("doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("lbl").as("community_id"))
        .withColumn("community_size", count(lit(1)).over(w))
        .orderBy("doc_id")
    }),

    // MODULARITY of the LPA partition — the quality number that makes
    // community detection falsifiable (Newman): Q = Σ_c (in_c/m −
    // (tot_c/2m)²), cross-multiplied to the exact integer
    // q_num_c = 4·m·in_c − tot_c² per community with q_den = 4m²
    // (the reader's division, like pipe_drift_ks). Components are
    // maximal, so on this graph Q also reads as the edge-mass
    // concentration complement — but LPA can SPLIT a weakly-joined
    // component, and when it does the per-community rows show the cut
    // (in_c drops below the component's edge count). Headroom:
    // tot_c² ≤ (2m)², inside BIGINT to m ~ 10⁹ pairs.
    "dd_modularity" -> ((s, dir) => {
      // the pair pipeline is materialized once by the verifiedPairs
      // session cache; m/degrees and the LPA rounds all scan it
      val pairs = Dedup.verifiedPairs(s, dir, dedup = true)
        .select("doc_a", "doc_b")
      val m = pairs.count()
      val lbl = lpaLabels(pairs)
      val withL = pairs
        .join(lbl.select(col("id").as("doc_a"), col("lbl").as("la")), "doc_a")
        .join(lbl.select(col("id").as("doc_b"), col("lbl").as("lb")), "doc_b")
      val inC = withL.filter(col("la") === col("lb"))
        .groupBy(col("la").as("community_id"))
        .agg(count(lit(1)).as("in_edges"))
      val deg = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      lbl.join(deg, "id")
        .groupBy(col("lbl").as("community_id"))
        .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("tot_deg"))
        .join(inC, Seq("community_id"), "left")
        .select(col("community_id"), col("n_members"),
          coalesce(col("in_edges"), lit(0L)).as("in_edges"), col("tot_deg"),
          (lit(4L * m) * coalesce(col("in_edges"), lit(0L))
            - col("tot_deg") * col("tot_deg")).as("q_num"))
        .orderBy("community_id")
    }),

    // LOUVAIN MOVE PHASE (Blondel et al. 2008), two synchronized
    // rounds — the modularity-GAIN mechanism dd_label_prop's majority
    // vote lacks: each node scores every neighbor community C (and
    // staying put) by the exact cross-multiplied gain numerator
    //   gain(i→C) = 2m·k_{i,C} − Σtot_C^{−i}·deg_i
    // (Blondel's ΔQ = k_{i,C}/m − Σtot·k_i/2m² over the common
    // positive denominator 2m², with i's own degree removed from its
    // CURRENT community's Σtot so staying is scored by the same
    // formula), and all nodes move AT ONCE to the argmax (ties → min
    // community id). This is the synchronous/parallel Louvain
    // variant — sequential Louvain is visit-order-dependent, which no
    // cross-engine contract can pin. From singletons, round 1
    // reduces to "join your min-degree neighbor iff 2m > deg_i·deg_j";
    // round 2 exercises the general k_{i,C}/Σtot algebra on the
    // merged partition. Synchronous moves oscillate on symmetric
    // structure exactly like LPA (an isolated pair swaps labels in
    // round 1 and un-merges in round 2 — measured, not hypothetical);
    // the damping is the published minimum-label heuristic (Lu,
    // Halappanavar, Kalyanaraman 2015): a SINGLETON may not move into
    // another SINGLETON with a larger id, so of a symmetric swap only
    // the larger-id node moves and cliques collapse onto their min
    // id in one round (the blocked node stays — no second-best
    // fallback, per the paper). Output = the dd_modularity summary
    // over the final partition, so the LPA and Louvain partitions'
    // q_num are directly comparable per community. Headroom: every
    // product ≤ 2m·deg ≤ 4m² — BIGINT to m ~ 1.5e9 pairs,
    // dd_modularity's bound. Per round: two joins + four aggregations
    // over the symmetric edge list, rounds cut by [[Rounds]] (the
    // dd_pagerank loop shape) — shuffles are edge-count-keyed, never
    // all-pairs.
    "dd_louvain" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // verifiedPairs is already session-cached/checkpointed — scan it
      // directly like dd_modularity; only the derived SYMMETRIC edge
      // list (not available upstream) gets its own checkpoint
      val pairs = Dedup.verifiedPairs(s, dir, dedup = true)
        .select("doc_a", "doc_b")
      val m = pairs.count()
      val sym = GraphQueries.undirected(pairs).localCheckpoint(false)
      val deg = sym.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
      def step(comm: DataFrame): DataFrame = {
        val kic = sym
          .join(comm.select(col("id").as("dst"), col("comm").as("c")), "dst")
          .groupBy(col("src").as("id"), col("c"))
          .agg(count(lit(1)).as("kic"))
        val cand = comm.select(col("id"), col("comm").as("c"))
          .unionByName(kic.select("id", "c")).distinct()
          .join(kic, Seq("id", "c"), "left")
          .na.fill(0L, Seq("kic"))
        val tot = comm.join(deg, "id").groupBy(col("comm").as("c"))
          .agg(sum(col("deg")).as("tot"))
        val scored = cand.join(tot, "c").join(deg, "id").join(comm, "id")
          .withColumn("totx", col("tot") -
            when(col("c") === col("comm"), col("deg")).otherwise(lit(0L)))
          .withColumn("gain",
            lit(2L * m) * col("kic") - col("totx") * col("deg"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("gain").desc, col("c").asc)
        val sizes = comm.groupBy(col("comm").as("c"))
          .agg(count(lit(1)).as("csz"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .join(sizes.select(col("c"), col("csz").as("tsz")), "c")
          .join(sizes.select(col("c").as("comm"), col("csz").as("osz")),
            "comm")
          .select(col("id"),
            when(col("tsz") === 1 && col("osz") === 1 &&
              col("c") > col("comm"), col("comm"))
              .otherwise(col("c")).as("comm"))
      }
      val comm2 = Rounds.fixed(2, deg.select(col("id"), col("id").as("comm")))(
        (comm, _) => step(comm))
      val withL = pairs
        .join(comm2.select(col("id").as("doc_a"), col("comm").as("la")),
          "doc_a")
        .join(comm2.select(col("id").as("doc_b"), col("comm").as("lb")),
          "doc_b")
      val inC = withL.filter(col("la") === col("lb"))
        .groupBy(col("la").as("community_id"))
        .agg(count(lit(1)).as("in_edges"))
      comm2.join(deg, "id")
        .groupBy(col("comm").as("community_id"))
        .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("tot_deg"))
        .join(inC, Seq("community_id"), "left")
        .select(col("community_id"), col("n_members"),
          coalesce(col("in_edges"), lit(0L)).as("in_edges"), col("tot_deg"),
          (lit(4L * m) * coalesce(col("in_edges"), lit(0L))
            - col("tot_deg") * col("tot_deg")).as("q_num"))
        .orderBy("community_id")
    }),

    // CLUSTER MEDOIDS — which document REPRESENTS each duplicate
    // cluster: dd_survivors keeps the min doc_id (arbitrary but
    // reproducible); the medoid keeps the most CENTRAL member — the
    // one with the highest total similarity to its cluster-mates
    // (production dedup retains the canonical copy, not the lowest
    // id). Mass = Σ floor(jaccard·10⁴) over incident verified pairs —
    // an order-free integer sum of engine-identical doubles floored
    // (every pair is intra-cluster by construction, components being
    // maximal). Ties break to the smaller id, so medoid choice is
    // total. One explode + one co-partitioned aggregation on top of
    // the pair pipeline; the argmax window partitions by cluster
    // label (dup clusters are bounded small).
    "dd_medoid" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.verifiedPairs(s, dir, dedup = true)
        .select(col("doc_a"), col("doc_b"),
          floor(col("jaccard") * 10000).cast("long").as("jac_bp"))
        .localCheckpoint(false)
      val labels = connectedComponents(pairs.select("doc_a", "doc_b"))
      val mass = pairs.select(explode(array(
          struct(col("doc_a").as("id"), col("jac_bp")),
          struct(col("doc_b").as("id"), col("jac_bp")))).as("e"))
        .select(col("e.id").as("id"), col("e.jac_bp").as("jac_bp"))
        .groupBy("id").agg(sum(col("jac_bp")).as("mass_bp"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("mass_bp").desc, col("id").asc)
      labels.join(mass, Seq("id"))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("label"))))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("label").as("cluster_id"), col("id").as("medoid_doc_id"),
          col("n_members"), col("mass_bp"))
        .orderBy("cluster_id")
    }),

    "dd_survivors" -> ((s, dir) => {
      val pairs = Dedup.verifiedPairs(s, dir, dedup = false)
        .select("doc_a", "doc_b")
      val victims = connectedComponents(pairs)
        .filter(col("id") =!= col("label"))
        .select(col("id"))
      Tables.documents(s, dir)
        .join(victims, Tables.documents(s, dir)("doc_id") === victims("id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    })
  )

  /** Synchronous label propagation over the verified-pair graph (with
    * the one self-loop per node that kills bipartite oscillation):
    * (id, lbl) after [[LpaRounds]] rounds — shared by dd_label_prop
    * and dd_modularity. Takes the (doc_a, doc_b) pair frame as a
    * parameter (round-9 ADVICE) so dd_modularity feeds the SAME
    * frame it aggregates m/degrees from — one pair pipeline per
    * query, structurally.
    */
  private def lpaLabels(pairs: DataFrame): DataFrame = {
    val sym = GraphQueries.undirected(pairs)
    val edges = sym.unionAll(
        sym.select(col("src")).distinct().select(col("src"), col("src").as("dst")))
      .localCheckpoint(false)
    Rounds.fixed(LpaRounds, edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id"))) { (labels, _) =>
      val cnt = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
      val best = cnt.groupBy("src").agg(max(col("c")).as("c"))
      cnt.join(best, Seq("src", "c"))
        .groupBy("src", "c").agg(min(col("lbl")).as("lbl"))
        .select(col("src").as("id"), col("lbl"))
    }
  }

  /** The dd_label_prop oracle's CTE chain through l[[LpaRounds]] —
    * shared with dd_modularity's oracle.
    */
  private def lpaChainSql: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""lc$r AS MATERIALIZED (
         |  SELECT e.src, l.lbl, count(*) AS c
         |  FROM edges e JOIN l${r - 1} l ON e.dst = l.id GROUP BY 1, 2),
         |l$r AS MATERIALIZED (
         |  SELECT src AS id, lbl FROM (
         |    SELECT src, lbl,
         |      row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl ASC) AS rn
         |    FROM lc$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""pairs AS MATERIALIZED (${Dedup.ngramJaccardPairsSql}),
       |sym AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM sym
       |  UNION ALL
       |  SELECT DISTINCT src, src AS dst FROM sym),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM edges),
       |$rounds""".stripMargin
  }

  /** One synchronized Louvain move round in SQL — mirrors `step` in
    * dd_louvain op-for-op (kic, candidate set, Σtot with the own-degree
    * removal, argmax with (gain desc, c asc) ties).
    */
  private def louvainStepSql(r: Int): String =
    s"""kic$r AS MATERIALIZED (
       |  SELECT e.src AS id, c.comm AS c, count(*)::BIGINT AS kic
       |  FROM sym e JOIN cm${r - 1} c ON e.dst = c.id GROUP BY 1, 2),
       |cand$r AS (
       |  SELECT id, comm AS c FROM cm${r - 1}
       |  UNION
       |  SELECT id, c FROM kic$r),
       |tot$r AS (
       |  SELECT c.comm AS c, CAST(sum(d.deg) AS BIGINT) AS tot
       |  FROM cm${r - 1} c JOIN degs d USING (id) GROUP BY 1),
       |sc$r AS (
       |  SELECT ca.id, ca.c,
       |    2 * (SELECT m FROM mm) * COALESCE(k.kic, 0)
       |      - (t.tot - CASE WHEN ca.c = cur.comm THEN d.deg ELSE 0 END)
       |        * d.deg AS gain
       |  FROM cand$r ca
       |  LEFT JOIN kic$r k ON k.id = ca.id AND k.c = ca.c
       |  JOIN tot$r t ON t.c = ca.c
       |  JOIN degs d ON d.id = ca.id
       |  JOIN cm${r - 1} cur ON cur.id = ca.id),
       |sz$r AS (SELECT comm AS c, count(*)::BIGINT AS csz
       |         FROM cm${r - 1} GROUP BY 1),
       |cm$r AS MATERIALIZED (
       |  SELECT b.id,
       |    CASE WHEN ts.csz = 1 AND os.csz = 1 AND b.c > cur.comm
       |         THEN cur.comm ELSE b.c END AS comm
       |  FROM (
       |    SELECT id, c FROM (
       |      SELECT id, c, row_number() OVER (
       |        PARTITION BY id ORDER BY gain DESC, c ASC) AS rn
       |      FROM sc$r) WHERE rn = 1) b
       |  JOIN cm${r - 1} cur ON cur.id = b.id
       |  JOIN sz$r ts ON ts.c = b.c
       |  JOIN sz$r os ON os.c = cur.comm)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "dd_cluster_weakest_link" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (${Dedup.ngramJaccardPairsSql}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges
         |    ON reach.r = edges.src),
         |comp AS (SELECT id, least(id, min(r)) AS cluster_id
         |  FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM comp GROUP BY 1),
         |el AS (
         |  SELECT c.cluster_id, p.jaccard
         |  FROM pairs p JOIN comp c ON c.id = p.doc_a)
         |SELECT e.cluster_id, s.n_docs,
         |  CAST(count(*) AS BIGINT) AS n_edges,
         |  min(e.jaccard) AS min_jaccard,
         |  (CAST(count(*) AS BIGINT) * 2 * 1000000)
         |    // (s.n_docs * (s.n_docs - 1)) AS density_ppm
         |FROM el e JOIN sizes s USING (cluster_id)
         |GROUP BY 1, 2 ORDER BY cluster_id""".stripMargin,

    "dd_cluster_agreement" ->
      s"""WITH RECURSIVE
         |p1 AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM (${Dedup.ngramJaccardPairsSql})),
         |p2 AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM (${Dedup.simhash64PairsSql})),
         |e1 AS (SELECT doc_a AS src, doc_b AS dst FROM p1
         |       UNION SELECT doc_b, doc_a FROM p1),
         |r1 AS (SELECT src AS id, dst AS r FROM e1
         |       UNION SELECT r1.id, e1.dst FROM r1 JOIN e1 ON r1.r = e1.src),
         |c1 AS (SELECT id, least(id, min(r)) AS lbl FROM r1 GROUP BY id),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM p2
         |       UNION SELECT doc_b, doc_a FROM p2),
         |r2 AS (SELECT src AS id, dst AS r FROM e2
         |       UNION SELECT r2.id, e2.dst FROM r2 JOIN e2 ON r2.r = e2.src),
         |c2 AS (SELECT id, least(id, min(r)) AS lbl FROM r2 GROUP BY id),
         |joint AS MATERIALIZED (
         |  SELECT d.doc_id, COALESCE(c1.lbl, d.doc_id) AS l1,
         |    COALESCE(c2.lbl, d.doc_id) AS l2
         |  FROM documents d
         |  LEFT JOIN c1 ON c1.id = d.doc_id
         |  LEFT JOIN c2 ON c2.id = d.doc_id),
         |sij AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS s_ij
         |  FROM (SELECT count(*) AS nij FROM joint GROUP BY l1, l2)),
         |sa AS (SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS s_a
         |  FROM (SELECT count(*) AS ai FROM joint GROUP BY l1)),
         |sb AS (SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS s_b
         |  FROM (SELECT count(*) AS bj FROM joint GROUP BY l2)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS s_n
         |  FROM documents),
         |shf AS (
         |  SELECT *, ${ariUnitShiftSql("n_docs")} AS sh
         |  FROM nn CROSS JOIN sij CROSS JOIN sa CROSS JOIN sb),
         |fin AS (
         |  SELECT n_docs, s_ij, s_a, s_b, s_n,
         |    2 * CAST((s_n >> sh) AS HUGEINT) * (s_ij >> sh)
         |      - 2 * CAST((s_a >> sh) AS HUGEINT) * (s_b >> sh) AS num,
         |    CAST((s_n >> sh) AS HUGEINT) * ((s_a >> sh) + (s_b >> sh))
         |      - 2 * CAST((s_a >> sh) AS HUGEINT) * (s_b >> sh) AS den
         |  FROM shf)
         |SELECT n_docs, s_ij, s_a, s_b,
         |  CASE WHEN s_n > 0
         |    THEN CAST(((CAST(s_n AS HUGEINT) + 2 * s_ij - s_a - s_b)
         |         * 1000000) // s_n AS BIGINT)
         |    END AS rand_ppm,
         |  CASE WHEN den > 0 THEN
         |    CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
         |         ELSE -((-num * 1000000) // den) END AS BIGINT)
         |  END AS ari_ppm
         |FROM fin""".stripMargin,

    "dd_dbscan" ->
      s"""WITH RECURSIVE v AS (${OracleSql.vectors}),
         |prs AS MATERIALIZED (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4)
         |    >= $DbscanEps),
         |nbrs AS MATERIALIZED (
         |  SELECT va AS id, vb AS nbr FROM prs
         |  UNION ALL SELECT vb, va FROM prs),
         |deg AS MATERIALIZED (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_neighbors
         |  FROM nbrs GROUP BY 1),
         |core AS MATERIALIZED (
         |  SELECT id FROM deg WHERE n_neighbors >= $DbscanMinPts),
         |ce AS MATERIALIZED (
         |  SELECT p.va, p.vb FROM prs p
         |  JOIN core ca ON ca.id = p.va
         |  JOIN core cb ON cb.id = p.vb),
         |edges AS (
         |  SELECT va AS src, vb AS dst FROM ce
         |  UNION SELECT vb, va FROM ce),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges
         |    ON reach.r = edges.src),
         |comp AS (SELECT id, least(id, min(r)) AS lbl FROM reach GROUP BY id),
         |corelab AS MATERIALIZED (
         |  SELECT c.id, COALESCE(comp.lbl, c.id) AS cl
         |  FROM core c LEFT JOIN comp ON comp.id = c.id),
         |border AS MATERIALIZED (
         |  SELECT n.id, min(cl.cl) AS bcl
         |  FROM nbrs n
         |  JOIN corelab cl ON cl.id = n.nbr
         |  WHERE n.id NOT IN (SELECT id FROM core)
         |  GROUP BY 1)
         |SELECT e.vec_id,
         |  CASE WHEN c.cl IS NOT NULL THEN 'core'
         |       WHEN b.bcl IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  COALESCE(c.cl, b.bcl) AS cluster_id,
         |  COALESCE(d.n_neighbors, 0) AS n_neighbors
         |FROM embeddings e
         |LEFT JOIN deg d ON d.id = e.vec_id
         |LEFT JOIN corelab c ON c.id = e.vec_id
         |LEFT JOIN border b ON b.id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    // The incremental merge's oracle is the DIRECT full-graph CC —
    // equality IS the merge-equals-recompute contract (same SQL as
    // dd_clusters below, deliberately).
    "dd_incremental_cc" ->
      s"""WITH RECURSIVE pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |comp AS (
         |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
         |SELECT a.id AS doc_id, a.cluster_id,
         |  b.cluster_size
         |FROM comp a
         |JOIN (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1) b
         |  USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // Same clusters from first principles: transitive closure with a
    // recursive CTE (UNION, not UNION ALL — dedup makes cycles
    // terminate), component id = min reachable doc_id.
    "dd_clusters" ->
      s"""WITH RECURSIVE pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |comp AS (
         |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
         |SELECT a.id AS doc_id, a.cluster_id,
         |  b.cluster_size
         |FROM comp a
         |JOIN (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1) b
         |  USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "dd_soft_dedup" ->
      s"""WITH RECURSIVE pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |comp AS (
         |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
         |       FROM comp GROUP BY 1),
         |lab AS (
         |  SELECT a.id AS doc_id, a.cluster_id, b.cluster_size
         |  FROM comp a JOIN sz b USING (cluster_id))
         |SELECT d.doc_id,
         |  COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
         |  COALESCE(l.cluster_size, 1)::BIGINT AS cluster_size,
         |  CAST(1000000 // COALESCE(l.cluster_size, 1) AS BIGINT)
         |    AS weight_ppm
         |FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Same recursive closure; mass from floored intra-pair jaccards.
    "dd_medoid" ->
      s"""WITH RECURSIVE pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |comp AS (
         |  SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
         |jp AS (SELECT doc_a, doc_b,
         |         CAST(floor(jaccard * 10000) AS BIGINT) AS jac_bp
         |       FROM pairs),
         |mass AS (
         |  SELECT id, CAST(sum(jac_bp) AS BIGINT) AS mass_bp FROM (
         |    SELECT doc_a AS id, jac_bp FROM jp
         |    UNION ALL SELECT doc_b, jac_bp FROM jp)
         |  GROUP BY 1),
         |jm AS (
         |  SELECT c.label, c.id, m.mass_bp,
         |    CAST(count(*) OVER (PARTITION BY c.label) AS BIGINT) AS n_members,
         |    row_number() OVER (PARTITION BY c.label
         |      ORDER BY m.mass_bp DESC, c.id ASC) AS rk
         |  FROM comp c JOIN mass m ON c.id = m.id)
         |SELECT label AS cluster_id, id AS medoid_doc_id, n_members, mass_bp
         |FROM jm WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    // Unrolled synchronous LPA: lc$r counts neighbor labels, l$r takes
    // the (count desc, label asc) argmax — identical tie-break to the
    // engine's two-aggregate form.
    "dd_label_prop" ->
      s"""WITH $lpaChainSql
         |SELECT l.id AS doc_id, l.lbl AS community_id,
         |  CAST(s.cs AS BIGINT) AS community_size
         |FROM l$LpaRounds l
         |JOIN (SELECT lbl, count(*) AS cs FROM l$LpaRounds GROUP BY 1) s
         |  USING (lbl)
         |ORDER BY doc_id""".stripMargin,
    // Same chain; modularity pieces off the final labels.
    "dd_modularity" ->
      s"""WITH $lpaChainSql,
         |mm AS (SELECT count(*) AS m FROM pairs),
         |degs AS (
         |  SELECT id, count(*)::BIGINT AS deg FROM (
         |    SELECT doc_a AS id FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs)
         |  GROUP BY 1),
         |wl AS (
         |  SELECT la.lbl AS la, lb.lbl AS lb
         |  FROM pairs p
         |  JOIN l$LpaRounds la ON p.doc_a = la.id
         |  JOIN l$LpaRounds lb ON p.doc_b = lb.id),
         |inc AS (SELECT la AS community_id, count(*)::BIGINT AS in_edges
         |        FROM wl WHERE la = lb GROUP BY 1),
         |tot AS (
         |  SELECT l.lbl AS community_id, count(*)::BIGINT AS n_members,
         |    CAST(sum(d.deg) AS BIGINT) AS tot_deg
         |  FROM l$LpaRounds l JOIN degs d ON l.id = d.id GROUP BY 1)
         |SELECT t.community_id, t.n_members,
         |  COALESCE(i.in_edges, 0)::BIGINT AS in_edges, t.tot_deg,
         |  CAST(4 * (SELECT m FROM mm) * COALESCE(i.in_edges, 0)
         |    - t.tot_deg * t.tot_deg AS BIGINT) AS q_num
         |FROM tot t LEFT JOIN inc i USING (community_id)
         |ORDER BY community_id""".stripMargin,
    // two generated move rounds over the same pair graph; summary =
    // dd_modularity's pieces off cm2 labels
    "dd_louvain" ->
      s"""WITH pairs AS MATERIALIZED (${Dedup.ngramJaccardPairsSql}),
         |sym AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |degs AS (SELECT src AS id, count(*)::BIGINT AS deg
         |         FROM sym GROUP BY 1),
         |mm AS (SELECT count(*)::BIGINT AS m FROM pairs),
         |cm0 AS MATERIALIZED (SELECT id, id AS comm FROM degs),
         |${louvainStepSql(1)},
         |${louvainStepSql(2)},
         |wl AS (
         |  SELECT la.comm AS la, lb.comm AS lb
         |  FROM pairs p
         |  JOIN cm2 la ON p.doc_a = la.id
         |  JOIN cm2 lb ON p.doc_b = lb.id),
         |inc AS (SELECT la AS community_id, count(*)::BIGINT AS in_edges
         |        FROM wl WHERE la = lb GROUP BY 1),
         |tot AS (
         |  SELECT c.comm AS community_id, count(*)::BIGINT AS n_members,
         |    CAST(sum(d.deg) AS BIGINT) AS tot_deg
         |  FROM cm2 c JOIN degs d USING (id) GROUP BY 1)
         |SELECT t.community_id, t.n_members,
         |  COALESCE(i.in_edges, 0)::BIGINT AS in_edges, t.tot_deg,
         |  CAST(4 * (SELECT m FROM mm) * COALESCE(i.in_edges, 0)
         |    - t.tot_deg * t.tot_deg AS BIGINT) AS q_num
         |FROM tot t LEFT JOIN inc i USING (community_id)
         |ORDER BY community_id""".stripMargin,
    "dd_degree_hist" ->
      s"""WITH pairs AS (${Dedup.ngramJaccardPairsSql}),
         |deg AS (
         |  SELECT id, count(*) AS degree FROM (
         |    SELECT doc_a AS id FROM pairs
         |    UNION ALL
         |    SELECT doc_b AS id FROM pairs)
         |  GROUP BY id)
         |SELECT degree, count(*) AS n_docs FROM deg
         |GROUP BY degree ORDER BY degree""".stripMargin,
    // Survivors = all docs minus non-representative cluster members.
    "dd_survivors" ->
      s"""WITH RECURSIVE pairs AS (${Dedup.ngramJaccardPairsSql}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |comp AS (
         |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
         |ORDER BY doc_id""".stripMargin
  )
}
