package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.L2Codebook
import TextOps._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Baseline: brute-force cosine top-k — the query set is tiny and
  * explicitly `broadcast()`, so the candidate side never shuffles; the
  * per-query top-k is a bounded window. Ranking uses the rounded score
  * with vec_id tie-break so results are deterministic across engines.
  *
  * Scale path: sign-bit LSH bucketing (same 8-bit bucket as
  * [[Dedup]]'s embedding near-dup) — each query probes one bucket,
  * cutting candidates ~256×. The bucket column is what you'd partition
  * the table by at write time at 100 TB (an IVF coarse quantizer is the
  * same plan shape: replace sign-bits with nearest-centroid id).
  */
object Similarity {

  val K = 10
  val NumQueries = 5 // query set: vec_id < 5

  /** Cosine radius for ss_ivf_range (this corpus's query cosines top
    * out ≈0.45, so 0.3 yields a non-trivial, per-query-variable
    * result set).
    */
  val RangeTau = 0.3
  val NProbe = 2 // cells probed per query by ss_ivf_nprobe

  /** Fixed Lloyd rounds for the trained codebooks: the coarse IVF
    * quantizer and the per-subspace PQ codebooks both train for a
    * deterministic round count so the DuckDB oracle can mirror the
    * loop as unrolled CTEs (the dd_pagerank fixed-round pattern).
    */
  val KmTrainRounds = 3

  /** nDCG@K report depth for ss_ndcg_eval. */
  val NdcgK = 10

  /** Rank discounts 10⁶/log₂(rk+1), rounded to micro-units ONCE at
    * plan-construction time and interpolated into BOTH engines as the
    * same integer literals — the transcendental runs here, in the
    * spec, never inside either engine's query (the determinism
    * doctrine's answer to log-discount metrics: a libm call at query
    * time could differ by an ulp across engines; a shared literal
    * cannot).
    */
  val NdcgDiscountsMicro: Seq[Long] = (1 to NdcgK).map(i =>
    Math.round(1e6 / (Math.log(i + 1.0) / Math.log(2.0))))

  /** Prefix sums of [[NdcgDiscountsMicro]]: ideal DCG for n relevant
    * items is element n (1-based).
    */
  val NdcgIdealPrefixMicro: Seq[Long] =
    NdcgDiscountsMicro.scanLeft(0L)(_ + _).tail
  val PqTrainRounds = 2

  /** Fixed matrix-vector rounds for ss_pca_power — enough for a clear
    * dominant-eigenpair estimate on the 64-dim covariance while the
    * oracle unrolls the same rounds as CTEs.
    */
  val PowerRounds = 4

  /** Embedding width: the coarse quantizer is one segment of
    * [[EmbeddingDims]] coordinates, PQ is [[PqSegs]] subspaces of
    * [[PqSegLen]].
    */
  val EmbeddingDims = 64
  val PqSegs = 8
  val PqSegLen = 8

  /** Product-quantization building blocks shared by ss_pq_encode and
    * ss_pq_adc: the 64-dim vectors split into 8 subspaces of 8 dims;
    * per-subspace codebooks are TRAINED — [[PqTrainRounds]] Lloyd
    * rounds seeded from the first 8 vectors' subvectors (assign by
    * exact micro-integer squared L2, re-center by exact micro-integer
    * means, empty cells keep their previous centroid). Squared L2 per
    * (vector, centroid, subspace) accumulates as MICRO-integers
    * (floor((x−c)²·10¹²) per coordinate, summed as longs) so argmin
    * and the additive ADC are order-free and engine-exact; the
    * re-centered codebook coordinates are doubles computed from exact
    * integer pieces by identical op trees on both engines, so round 2
    * distances stay bit-equal too. Training is [[Lloyd]] with 8
    * segments: per round one pass over the vector arrays (all 8
    * subspaces' argmins in one projection) and a reduce to 8·8·8
    * partial sums; the codebook lives on the driver between rounds.
    * Returns (dist, codes, codebook): dist keyed by (vec, cent, s)
    * against the trained codebook; codes = the per-(vec, s) argmin
    * with ties to the smaller centroid id.
    */
  /** (vec_id, s, j, x) per-subspace coordinates, checkpointed — the
    * ADC distance frame and ss_train_distortion's seed and trained
    * legs read them.
    */
  private def pqDims(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("p", "x")))
      .select(col("vec_id"),
        expr("p DIV 8").cast("int").as("s"),
        expr("p % 8").cast("int").as("j"),
        col("x"))
      .localCheckpoint(false)

  /** The first 8 vectors' subvectors — the PQ training seed. */
  private def pqSeedCb(dims: DataFrame): DataFrame =
    dims.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("s"), col("j"), col("x").as("c"))

  /** Micro-integer squared L2 per (vector, centroid, subspace). */
  private def pqDistOf(dims: DataFrame, cb: DataFrame): DataFrame =
    dims.join(broadcast(cb), Seq("s", "j"))
      .select(col("vec_id"), col("cent_id"), col("s"),
        floor((col("x") - col("c")) * (col("x") - col("c"))
          * lit(1000000000000.0)).cast("long").as("dm"))
      .groupBy("vec_id", "cent_id", "s")
      .agg(sum(col("dm")).as("dist_micro"))

  // argmin as two HASH aggregations (min long, then min cent_id over
  // the tied rows) — a min(struct(...)) buffer is not
  // HashAggregate-mutable and forces SortAggregate over every
  // (vec, s) partition, the same trap the signature pipeline's
  // min(string) note documents.
  private def pqCodesOf(dist: DataFrame): DataFrame = {
    val best = dist.groupBy("vec_id", "s").agg(min(col("dist_micro")).as("dist_micro"))
    dist.join(best, Seq("vec_id", "s", "dist_micro"))
      .groupBy("vec_id", "s", "dist_micro")
      .agg(min(col("cent_id")).as("code"))
      .select(col("vec_id"), col("s"), col("code"), col("dist_micro"))
  }

  /** [[PqTrainRounds]] Lloyd rounds over all 8 subspaces at once,
    * over (vec_id, e) arrays, seeded from vec_id < 8.
    */
  private def pqBook(vecs: DataFrame): L2Codebook =
    Lloyd.train(vecs,
      Lloyd.seedBook(vecs.filter(col("vec_id") < 8), PqSegs, PqSegLen), PqTrainRounds)

  /** The trained PQ codebook as a local (cent_id, s, j, c) frame. */
  private def pqCodebookFresh(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecArrays(s, dir).localCheckpoint(false) // seeds + every round
    Lloyd.pqFrame(s, pqBook(vecs))
  }

  private def pqPartsFresh(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val cb = pqCodebookFresh(s, dir)
    // consumed by both argmin passes plus the ADC query table
    val dist = pqDistOf(pqDims(s, dir), cb).localCheckpoint(false)
    (dist, pqCodesOf(dist), cb)
  }

  /** Codebooks are BUILD-ONCE artifacts: a production index trains
    * them once and every search reuses them (typically from disk).
    * The cache models that within a session — the trained frames are
    * checkpointed and tiny (k·d cells; the dist frame is N·k·s rows),
    * so the search-side queries measure SEARCH, while the dedicated
    * training queries (ss_kmeans_train, ss_pq_train,
    * ss_train_distortion) deliberately bypass the cache and measure
    * the build. Lifetime/staleness via [[graft.CacheRegistry]]
    * (invalidate-with-table, per-session eviction, bounded size).
    */
  private val trainedCache = graft.CacheRegistry.newCache()
  private def cached[T <: AnyRef](s: SparkSession, dir: String, kind: String)(
      build: => T): T =
    graft.CacheRegistry.cached[T](trainedCache, s, dir, kind)(build)

  private def pqParts(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    cached(s, dir, "pq")(pqPartsFresh(s, dir))

  /** The (vec_id, dim, x) long-format dims, materialized once per
    * (session, dir) — the rows that need every (vector, centroid)
    * distance (diversity sample, silhouette, OOD) and the drift row
    * read it, and without the shared cache each paid its own embeddings
    * scan + posexplode.
    */
  private def cachedKmDims(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "kmdims")(kmDims(s, dir).localCheckpoint(false))

  /** The (vec_id, e) embedding arrays, materialized once per
    * (session, dir) — the trained IVF, the √n index and the
    * residual-PQ reshape all read them.
    */
  private def cachedVecs(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "kmvecs")(vecArrays(s, dir).localCheckpoint(false))

  /** Cached trained IVF: (long-format centroids, full assignment, the
    * codebook itself). The vectors cache is resolved BEFORE entering
    * this entry's compute — nested computeIfAbsent on one
    * ConcurrentHashMap is illegal (the CacheRegistry rule that bit in
    * round 11).
    */
  private def trainedIvf(s: SparkSession, dir: String): (DataFrame, DataFrame, L2Codebook) = {
    val vecs = cachedVecs(s, dir)
    cached(s, dir, "ivf") {
      val book = coarseBook(vecs)
      (Lloyd.coarseFrame(s, book), Lloyd.assign(vecs, book).localCheckpoint(false), book)
    }
  }

  /** On-disk IVF index root for `dir` — parquet index tables, the
    * local stand-in for the index bucket/catalog a 100 TB deployment
    * serves from. Anchored to an ABSOLUTE base (the
    * `graft.index.root` system property, else the JVM tmpdir — the
    * StreamingQueries.stageRoot convention) so the published-index
    * location cannot depend on the launching process's CWD: a search
    * row run from a different working directory than the build row
    * must find the same published tables, not silently retrain a
    * second copy.
    */
  private[graft] def indexRoot(dir: String): String =
    sys.props.getOrElse("graft.index.root",
      s"${System.getProperty("java.io.tmpdir")}/graft_index") +
      "/" + dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Round-13 verdict #4 — the ANN index persistence lifecycle. Write
    * the trained index as PARQUET TABLES: the long-format coarse
    * codebook, the full corpus assignment PARTITIONED BY cent_id (the
    * physical layout behind ss_ivf_search's "a query reads ONE
    * partition" claim — each IVF cell is a partition directory), and
    * the trained PQ codebooks. This is how the index is actually
    * served at scale: train once, publish tables, searches read the
    * tables with ZERO training in their lineage. Everything written
    * is deterministic (exact micro-integer argmins; centroid doubles
    * from identical op trees; parquet round-trips doubles exactly),
    * so a read-back search is row-identical to an in-session one.
    */
  private def writeIvfIndex(s: SparkSession, dir: String): String = {
    val root = indexRoot(dir)
    // Two independent lanes, overlapped as concurrent jobs (guide
    // §2.6, round 18): the coarse lane (Lloyd → centroids write →
    // assignment write) and the PQ lane (PQ Lloyd → codebook write)
    // share NO data. Each Lloyd round is one pass over the vector
    // arrays plus a k·d reduce collected to the driver, so a lane is
    // a short chain of driver-sequential jobs whose tails the other
    // lane's tasks back-fill; the full-corpus assignment is the same
    // argmin as a projection, written with no shuffle. Neither lane
    // touches CacheRegistry (vecArrays/coarseBook/pqCodebookFresh are
    // cache-free — the Overlap deadlock rule; this method itself runs
    // inside cached("ivfIndexPath")).
    graft.Overlap.par(
      {
        val vecs = vecArrays(s, dir).localCheckpoint(false) // seeds, rounds, assignment
        val book = coarseBook(vecs)
        Lloyd.coarseFrame(s, book).write.mode("overwrite").parquet(s"$root/centroids")
        Lloyd.assign(vecs, book).write.mode("overwrite")
          .partitionBy("cent_id").parquet(s"$root/assignments")
      },
      pqCodebookFresh(s, dir).write.mode("overwrite")
        .parquet(s"$root/pq_codebook"))
    root
  }

  /** Index path with publish-once semantics per (session, dir):
    * search rows call this, so they train+write only if no build row
    * has published the index yet this session.
    */
  private def persistedIvfIndex(s: SparkSession, dir: String): String =
    cached[String](s, dir, "ivfIndexPath")(writeIvfIndex(s, dir))

  /** The published-index root for cross-module consumers
    * (st_ivf_admit's streaming admission) — publish-once semantics,
    * resolved on the DRIVER before any stream starts so foreachBatch
    * bodies never trigger a train-and-publish mid-stream.
    */
  private[graft] def publishedIndexRoot(s: SparkSession, dir: String): String =
    persistedIvfIndex(s, dir)

  /** The corpus assignment read back from the PUBLISHED index tables —
    * no Lloyd anywhere in the returned frame's lineage (the partition
    * column comes back as the pruning key; cast restores its width).
    */
  private def persistedAssignment(s: SparkSession, dir: String): DataFrame = {
    val root = persistedIvfIndex(s, dir)
    s.read.parquet(s"$root/assignments")
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
  }

  /** Rebalance alarm threshold for ss_ivf_admit, in ppm of the mean
    * post-admission occupancy: a cell past 2× mean flags — the point
    * where the O(n/k)-per-probe serving claim starts degrading toward
    * the fat cell (ss_ivf_occupancy's skew_ppm band, applied per cell).
    */
  val AdmitRebalancePpm = 2000000L

  /** The ss_ivf_admit DELTA ASSIGNMENT: "new" vectors (a doc-id-sliced
    * batch, re-keyed +10⁶ and deterministically transformed — REVERSED
    * coordinates, so the cell argmin is a genuine recomputation, not a
    * copy of the base assignment) assigned against the PUBLISHED
    * read-back centroids. NO RETRAIN anywhere in this frame's lineage:
    * the centroid side is a parquet scan of the published table
    * (IvfPersistSpec pins it — no ExistingRDD, i.e. no Lloyd
    * checkpoint scan), which is the admission contract a serving tier
    * lives by: index updates must never silently retrain the coarse
    * quantizer the existing partitions were built with.
    */
  private[graft] def admitDeltaAssignment(s: SparkSession, dir: String): DataFrame = {
    val root = persistedIvfIndex(s, dir)
    val centsRb = s.read.parquet(s"$root/centroids")
    assignL2(admitDeltaDims(s, dir), centsRb)
  }

  /** The delta batch's long-format coordinates — the (vec_id, dim, x)
    * relation behind [[admitDeltaAssignment]], factored out so the
    * rebalance row can read the SAME delta vectors when the hot cell
    * it splits contains admitted members (oracle CTE `dd`).
    */
  private def admitDeltaDims(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(pmod(col("vec_id"), lit(10)) === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        posexplode(reverse(toDouble(col("embedding")))).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("int").as("dim"), col("x"))

  /** Publish (idempotent overwrite) the cent_id-partitioned DELTA
    * SEGMENT beside the immutable base assignment and return the index
    * root — the write half of ss_ivf_admit, shared by the rebalance
    * row so it operates on the post-admission index without depending
    * on the admit row having run first this session.
    */
  private def publishDeltaSegment(s: SparkSession, dir: String): String = {
    val root = persistedIvfIndex(s, dir)
    // publish-once per (session, dir) — the persistedIvfIndex /
    // suffix-base idiom (round 18): the delta segment's write half is
    // ss_ivf_admit's declared semantic and its FIRST caller prices it
    // (bench pass 1); the rebalance rows consume the post-admission
    // index and were silently re-paying this publish (delta assignL2 +
    // partitioned write) on every execution. Content is deterministic
    // and the overwrite idempotent, so the memo changes no output.
    cached[String](s, dir, "ivfDeltaSegment") {
      // inlined [[admitDeltaAssignment]] body with `root` already
      // resolved: the build must not re-enter the cache (nested
      // computeIfAbsent on one map — the round-11 CacheRegistry rule)
      val centsRb = s.read.parquet(s"$root/centroids")
      assignL2(admitDeltaDims(s, dir), centsRb).write.mode("overwrite")
        .partitionBy("cent_id").parquet(s"$root/assignments_delta")
      root
    }
  }

  /** The rebalance PUBLISH (the write half of ss_ivf_rebalance — see
    * that query's comment for the algorithm and the scale argument):
    * split the fattest post-admission cell at the midpoint of its
    * max-spread dimension and write the two republished tables —
    * `assignments_split` (the halves, cent_id-partitioned) and
    * `centroids_v2` (micro-int grid: surviving trained centroids +
    * the sub-cell means). Returns (root, two-segment census, worst
    * cell) so the rebalance row can report without recomputing the
    * publish; ss_ivf_search_v2 reaches the artifacts through the
    * memoized [[rebalancedIndexRoot]] instead.
    */
  private def writeRebalance(
      s: SparkSession, dir: String): (String, DataFrame, DataFrame) = {
    val root = publishDeltaSegment(s, dir)
    val base = s.read.parquet(s"$root/assignments")
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
    val delta = s.read.parquet(s"$root/assignments_delta")
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
    val cells = base.groupBy("cent_id").agg(count(lit(1)).as("n_base"))
      .join(delta.groupBy("cent_id").agg(count(lit(1)).as("n_delta")),
        Seq("cent_id"), "full_outer")
      .select(col("cent_id"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
          .as("n_total"))
    val worst = cells.orderBy(col("n_total").desc, col("cent_id").asc)
      .limit(1).select("cent_id")
    // the hot cell's members across BOTH segments, as micro-int dims
    // (fresh kmDims + the delta transform — no checkpointed cache,
    // so the executed plan stays pure parquet scans for the pin)
    val mem = kmDims(s, dir).unionByName(admitDeltaDims(s, dir))
      .join(base.unionByName(delta).join(broadcast(worst), "cent_id")
        .select("vec_id"), "vec_id")
      .select(col("vec_id"), col("dim"),
        floor(col("x") * lit(1000000.0)).cast("long").as("xm"))
    val splitDim = mem.groupBy("dim")
      .agg(min(col("xm")).as("mn"), max(col("xm")).as("mx"))
      .orderBy((col("mx") - col("mn")).desc, col("dim").asc).limit(1)
      .select(col("dim"),
        floor((col("mn") + col("mx")) / lit(2.0)).cast("long").as("mid"))
    // new ids start past max TRAINED id (not max occupied id):
    // delta can only land in trained cells, but an EMPTY trained
    // cell's id must not be reused by a sub-cell
    val kmax = s.read.parquet(s"$root/centroids")
      .agg(max(col("cent_id").cast("long")).as("mxc"))
    val sides = mem.join(broadcast(splitDim), "dim")
      .crossJoin(broadcast(kmax))
      .select(col("vec_id"),
        when(col("xm") <= col("mid"), col("mxc") + 1)
          .otherwise(col("mxc") + 2).as("cent_id"))
    // v2 centroids in micro ints: sub-cell means ⌊Σxm/n⌋ (exact —
    // per-cell micro sums stay far inside double's 2^53 integer
    // range at any per-cell count the alarm would tolerate) beside
    // the surviving trained centroids at the same micro grid
    val ncent = mem.join(sides, "vec_id")
      .groupBy("cent_id", "dim")
      .agg(floor(sum(col("xm")).cast("double") / count(lit(1)))
        .cast("long").as("cm"))
    val oldcent = s.read.parquet(s"$root/centroids")
      .select(col("cent_id").cast("long").as("cent_id"), col("dim"),
        floor(col("c") * lit(1000000.0)).cast("long").as("cm"))
      .join(broadcast(worst), Seq("cent_id"), "left_anti")
    // the two republished tables are independent writes — overlap
    // them (guide §2.6, round 18; both recompute the mem lineage as
    // before — the plan stays pure parquet scans for the pin)
    graft.Overlap.par(
      sides.write.mode("overwrite").partitionBy("cent_id")
        .parquet(s"$root/assignments_split"),
      oldcent.unionByName(ncent).write.mode("overwrite")
        .parquet(s"$root/centroids_v2"))
    (root, cells, worst)
  }

  /** Index root with the rebalance artifacts published — memoized per
    * (session, dir) the way [[persistedIvfIndex]] is, so the serving
    * row (ss_ivf_search_v2) publishes at most once per session and the
    * rebalance row stays the one that PRICES the publish.
    */
  private def rebalancedIndexRoot(s: SparkSession, dir: String): String =
    cached[String](s, dir, "ivfRebalanced")(writeRebalance(s, dir)._1)

  /** Split-iteration bound for [[writeRebalanceQ]]: the loop stops at
    * quiescence (worst-cell occupancy ≤ [[AdmitRebalancePpm]]) or
    * after this many splits, whichever first — a pathological
    * distribution (all vectors bit-identical) can't be split quiet,
    * so the bound keeps the operator terminating; the n_splits output
    * column says which exit was taken.
    */
  val MaxRebalanceSplits = 32

  /** REBALANCE-TO-QUIESCENCE (round-15 verdict #2 — one midpoint
    * split of a 90%-fat cell provably leaves the alarm firing;
    * ivfskew measured 3,272,581 → 2,057,909 ppm vs the 2,000,000
    * threshold): a bounded loop that re-splits the CURRENT worst cell
    * (same k-d midpoint split as [[writeRebalance]] — two aggregates
    * + a filter per round, no window, no corpus-wide sort) until the
    * worst cell's occupancy is ≤ [[AdmitRebalancePpm]] or
    * [[MaxRebalanceSplits]] splits ran. Returns (final read-back
    * census frame extended with from_split, n_splits).
    *
    * Driver-side state per round is O(1): one k-row census aggregate
    * feeds a 1-row head() (worst cell + totals) — never a corpus
    * collect. The working assignment re-checkpoints per round (16-
    * byte rows, the suffix-spans lineage-cut idiom) so round r never
    * re-derives rounds 1..r-1. When any split fired, the final
    * assignment republishes as `assignments_q` and the v3 centroid
    * table (surviving trained + final sub-cell means, micro grid) as
    * `centroids_q`; the returned census is read BACK from the
    * published tables either way (assignments_q, or the untouched
    * base+delta segments when zero splits were needed — which is the
    * uniform-testdata case: the alarm never fires there, so the
    * oracle states the quiescent-already census and the split loop's
    * body is gated by IvfPersistSpec's synthetic fat-cell tests
    * instead).
    *
    * Scale: each round touches ONE cell's rows (≈ n/k·occupancy — the
    * fat cell is the biggest thing scanned, and shrinking it is the
    * point); rounds are ≤ MaxRebalanceSplits; census frames are k
    * rows. At 100 TB this is exactly the background "split hot
    * shards until quiet" job an index serving tier runs.
    */
  /** The split-to-quiescence loop core, shared by [[writeRebalanceQ]]
    * and [[writeRebalanceMQ]]: re-split the CURRENT worst cell (k-d
    * midpoint, two aggregates + a filter per round) until its
    * occupancy is ≤ [[AdmitRebalancePpm]] or [[MaxRebalanceSplits]]
    * splits ran. Driver state per round is two 1-row `head()`s (the
    * k-row census totals + the worst cell); the working assignment
    * re-checkpoints per round (16-byte rows) so round r never
    * re-derives rounds 1..r-1. Returns (final assignment, splits run,
    * next unused sub-cell id).
    */
  private def splitToQuiescence(dimsAll: DataFrame, asg0: DataFrame,
      startId: Long): (DataFrame, Int, Long) = {
    var nextId = startId
    var asg = asg0
    var splits = 0
    var quiet = false
    while (!quiet && splits < MaxRebalanceSplits) {
      val cells = asg.groupBy("cent_id").agg(count(lit(1)).as("n_total"))
        .localCheckpoint(false) // feeds the totals agg + the worst head
      val tot = cells.agg(count(lit(1)), sum(col("n_total"))).head()
      val (k, n) = (tot.getLong(0), tot.getLong(1))
      val worst = cells.orderBy(col("n_total").desc, col("cent_id").asc).head()
      val worstPpm =
        (BigInt(worst.getAs[Long]("n_total")) * 1000000 * k / n).toLong
      if (worstPpm <= AdmitRebalancePpm) quiet = true
      else {
        val worstId = worst.getAs[Long]("cent_id")
        val mem = dimsAll.join(
            asg.filter(col("cent_id") === worstId).select("vec_id"), "vec_id")
          .localCheckpoint(false) // split-dim agg + sides both read it
        val sd = mem.groupBy("dim")
          .agg(min(col("xm")).as("mn"), max(col("xm")).as("mx"))
          .orderBy((col("mx") - col("mn")).desc, col("dim").asc).limit(1)
          .select(col("dim"),
            floor((col("mn") + col("mx")) / lit(2.0)).cast("long").as("mid"))
        val sides = mem.join(broadcast(sd), "dim")
          .select(col("vec_id"),
            when(col("xm") <= col("mid"), lit(nextId))
              .otherwise(lit(nextId + 1)).as("cent_id"))
        asg = asg.filter(col("cent_id") =!= worstId).unionByName(sides)
          .localCheckpoint(false)
        nextId += 2; splits += 1
      }
    }
    (asg, splits, nextId)
  }

  private[graft] def writeRebalanceQ(
      s: SparkSession, dir: String): (DataFrame, Int) = {
    val root = publishDeltaSegment(s, dir)
    def seg(name: String) = s.read.parquet(s"$root/$name")
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
    val baseAsg = seg("assignments").unionByName(seg("assignments_delta"))
    // all vectors' micro dims (base + delta transform); only the worst
    // cell's slice is ever materialized per round via the semi-join
    val dimsAll = kmDims(s, dir).unionByName(admitDeltaDims(s, dir))
      .select(col("vec_id"), col("dim"),
        floor(col("x") * lit(1000000.0)).cast("long").as("xm"))
    // sub-cell ids start past max TRAINED id (the writeRebalance rule)
    val trainedMax = s.read.parquet(s"$root/centroids")
      .agg(max(col("cent_id").cast("long"))).head().getLong(0)
    val (asg, splits, _) =
      splitToQuiescence(dimsAll, baseAsg.localCheckpoint(false), trainedMax + 1)
    val finalAsg =
      if (splits == 0) baseAsg
      else {
        asg.write.mode("overwrite").partitionBy("cent_id")
          .parquet(s"$root/assignments_q")
        // v3 centroids: surviving trained cells at the micro grid +
        // final sub-cell means over the PUBLISHED membership (each
        // vector lives in exactly one final cell, so the end-state
        // mean equals the per-round accumulation)
        val rb = seg("assignments_q").localCheckpoint(false)
        val live = rb.select("cent_id").distinct()
        val ncent = dimsAll.join(rb.filter(col("cent_id") > trainedMax), "vec_id")
          .groupBy("cent_id", "dim")
          .agg(floor(sum(col("xm")).cast("double") / count(lit(1)))
            .cast("long").as("cm"))
        s.read.parquet(s"$root/centroids")
          .select(col("cent_id").cast("long").as("cent_id"), col("dim"),
            floor(col("c") * lit(1000000.0)).cast("long").as("cm"))
          .join(live, Seq("cent_id"), "left_semi")
          .unionByName(ncent)
          .write.mode("overwrite").parquet(s"$root/centroids_q")
        seg("assignments_q")
      }
    val cells = finalAsg.groupBy("cent_id").agg(count(lit(1)).as("n_total"))
      .localCheckpoint(false)
    val tot = cells.agg(count(lit(1)).as("k_after"),
      sum(col("n_total")).as("n_after"))
    val census = cells.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_total"),
        expr("CAST(CAST(n_total AS DECIMAL(38,0)) * 1000000 * k_after " +
          "DIV n_after AS BIGINT)").as("occ_ppm_of_mean"),
        (col("cent_id") > lit(trainedMax)).as("from_split"),
        lit(splits.toLong).as("n_splits"))
      .orderBy("cent_id")
    (census, splits)
  }

  /** Merge floor for [[writeRebalanceMQ]]: a cell whose occupancy
    * falls below this many ppm of the mean is folded into its nearest
    * surviving centroid. 20% of mean — far enough under the
    * [[AdmitRebalancePpm]] 2,000,000 (2× mean) split threshold that a
    * fold target (≥ floor by construction) cannot be pushed over the
    * alarm by absorbing one sub-floor cell unless it was already
    * within 20% of it (the post-merge split re-check handles exactly
    * that case).
    */
  val AdmitMergeFloorPpm = 200000L

  /** Merge-round bound for [[writeRebalanceMQ]]: each round folds
    * EVERY sub-floor cell at once and fold targets only grow, so a
    * second round only fires when the post-merge split re-check
    * created new sub-floor sub-cells — in practice 0 or 1 rounds; the
    * bound keeps adversarial ping-pong (split creates dust, dust
    * merges, target re-trips the alarm) terminating.
    */
  val MaxMergeRounds = 8

  /** REBALANCE — CELL-MERGE DUAL (round-16 verdict #5: continuous
    * admission + split-only rebalance monotonically grows k and
    * strands undersized cells — every IVF serving tier also needs the
    * shrink path). Phase 1 is [[splitToQuiescence]]; phase 2 folds
    * every cell below [[AdmitMergeFloorPpm]] into its NEAREST
    * surviving centroid (micro-grid L2 between cell means); the two
    * phases alternate (a fold can re-trip the split alarm; a split
    * can mint sub-floor dust) until both are quiet or
    * [[MaxMergeRounds]] rounds ran.
    *
    * Per merge round the work is: one k-row census; one n·d-row mean
    * aggregate (the cell means — same linear pass the admit argmin
    * already prices, needed because split sub-cells have no published
    * centroid yet); one k²-row centroid-distance join (driver-free,
    * broadcast both sides — k is tens); and ONE broadcast remap join
    * over the 16-byte assignment rows. Driver state per round is two
    * 1-row `head()`s (totals + candidate count) — never a per-vector
    * collect. The largest cell is never a fold candidate, so the
    * all-cells-tiny degenerate corpus terminates with k = 1 instead
    * of erasing itself.
    *
    * When anything changed, the final assignment republishes as
    * `assignments_mq` and the centroid table (surviving trained
    * centroids at the micro grid + final sub-cell means over the
    * PUBLISHED membership, minus merged-away cells) as
    * `centroids_mq`; the returned census is read BACK from the
    * published tables either way. On the uniform testdata neither
    * phase fires, so the oracle states the quiescent-already census
    * and poisons itself (NULL n_splits / n_merges) if its premise
    * ever breaks; the skewed-corpus path is pinned by IvfPersistSpec's
    * fat-cell fixture (split-then-merge must end with the alarm quiet,
    * no sub-floor cell, and k shrunk by exactly n_merges).
    *
    * At 100 TB: merge is the same background shard-maintenance job as
    * split — each round touches the sub-floor cells' rows (the
    * smallest things in the index) plus one linear mean pass that a
    * production tier amortizes by keeping running per-cell sums.
    */
  private[graft] def writeRebalanceMQ(
      s: SparkSession, dir: String): (DataFrame, Int, Int) = {
    val root = publishDeltaSegment(s, dir)
    def seg(name: String) = s.read.parquet(s"$root/$name")
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
    val baseAsg = seg("assignments").unionByName(seg("assignments_delta"))
    val dimsAll = kmDims(s, dir).unionByName(admitDeltaDims(s, dir))
      .select(col("vec_id"), col("dim"),
        floor(col("x") * lit(1000000.0)).cast("long").as("xm"))
    val trainedMax = s.read.parquet(s"$root/centroids")
      .agg(max(col("cent_id").cast("long"))).head().getLong(0)
    var (asg, splits, nextId) =
      splitToQuiescence(dimsAll, baseAsg.localCheckpoint(false), trainedMax + 1)
    var merges = 0
    var rounds = 0
    var done = false
    while (!done && rounds < MaxMergeRounds) {
      rounds += 1
      val cells = asg.groupBy("cent_id").agg(count(lit(1)).as("n_total"))
        .localCheckpoint(false)
      val tot = cells.agg(count(lit(1)), sum(col("n_total"))).head()
      val (k, n) = (tot.getLong(0), tot.getLong(1))
      // sub-floor candidates, largest cell exempt (never fold the
      // whole index into itself); ppm in exact integer arithmetic
      val withPpm = cells.select(col("cent_id"), col("n_total"),
        expr(s"CAST(CAST(n_total AS DECIMAL(38,0)) * 1000000 * $k " +
          s"DIV $n AS BIGINT)").as("ppm"))
      val largest = cells.orderBy(col("n_total").desc, col("cent_id").asc)
        .limit(1).select("cent_id")
      val cand = withPpm.filter(col("ppm") < AdmitMergeFloorPpm)
        .join(largest, Seq("cent_id"), "left_anti")
        .select("cent_id").localCheckpoint(false)
      val nCand = cand.agg(count(lit(1))).head().getLong(0)
      if (nCand == 0 || k <= 1) done = true
      else {
        // cell means on the micro grid — split sub-cells have no
        // published centroid, so means come from the live assignment
        val cents = dimsAll.join(asg, "vec_id")
          .groupBy("cent_id", "dim")
          .agg(avg(col("xm")).as("cm"))
          .localCheckpoint(false) // candidate + survivor sides both read it
        val candC = cents.join(broadcast(cand), "cent_id")
          .select(col("cent_id").as("from_id"), col("dim"), col("cm"))
        val survC = cents.join(broadcast(cand), Seq("cent_id"), "left_anti")
          .select(col("cent_id").as("to_id"), col("dim"),
            col("cm").as("cm2"))
        // k²·d distance rows → argmin per candidate (min_by keeps the
        // aggregate hash-based; ties break on the smaller target id)
        val mapping = candC.join(survC, "dim")
          .groupBy("from_id", "to_id")
          .agg(sum((col("cm") - col("cm2")) * (col("cm") - col("cm2")))
            .as("d2"))
          .groupBy("from_id")
          .agg(min_by(col("to_id"), struct(col("d2"), col("to_id")))
            .as("to_id"))
        asg = asg.join(broadcast(mapping),
            asg("cent_id") === mapping("from_id"), "left")
          .select(asg("vec_id"),
            coalesce(col("to_id"), asg("cent_id")).as("cent_id"))
          .localCheckpoint(false)
        merges += nCand.toInt
        // a fold can re-trip the split alarm; re-quiesce before the
        // next floor check
        val (asg2, s2, nid2) = splitToQuiescence(dimsAll, asg, nextId)
        asg = asg2; splits += s2; nextId = nid2
      }
    }
    val changed = splits > 0 || merges > 0
    val finalAsg =
      if (!changed) baseAsg
      else {
        asg.write.mode("overwrite").partitionBy("cent_id")
          .parquet(s"$root/assignments_mq")
        val rb = seg("assignments_mq").localCheckpoint(false)
        val live = rb.select("cent_id").distinct()
        val ncent = dimsAll.join(rb.filter(col("cent_id") > trainedMax), "vec_id")
          .groupBy("cent_id", "dim")
          .agg(floor(sum(col("xm")).cast("double") / count(lit(1)))
            .cast("long").as("cm"))
        s.read.parquet(s"$root/centroids")
          .select(col("cent_id").cast("long").as("cent_id"), col("dim"),
            floor(col("c") * lit(1000000.0)).cast("long").as("cm"))
          .join(live, Seq("cent_id"), "left_semi")
          .unionByName(ncent)
          .write.mode("overwrite").parquet(s"$root/centroids_mq")
        seg("assignments_mq")
      }
    val cells = finalAsg.groupBy("cent_id").agg(count(lit(1)).as("n_total"))
      .localCheckpoint(false)
    val tot = cells.agg(count(lit(1)).as("k_after"),
      sum(col("n_total")).as("n_after"))
    val census = cells.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_total"),
        expr("CAST(CAST(n_total AS DECIMAL(38,0)) * 1000000 * k_after " +
          "DIV n_after AS BIGINT)").as("occ_ppm_of_mean"),
        (col("cent_id") > lit(trainedMax)).as("from_split"),
        lit(splits.toLong).as("n_splits"),
        lit(merges.toLong).as("n_merges"))
      .orderBy("cent_id")
    (census, splits, merges)
  }

  /** Rows per centroid in the edge-build training sample. */
  val TrainSamplePerCell = 50

  /** Trained assignment with cells = ⌈√n⌉ — the standard IVF sizing
    * (per-cell candidates O(√n), so a per-cell self-join is O(n^1.5)
    * total instead of O(n²/k) for any FIXED k). The Lloyd loop trains
    * on a DETERMINISTIC bounded sample — the first 50·k vectors in
    * (md5(vec_id), vec_id) order, the suite's reproducible-random
    * rule — and only the single assignment pass touches the full
    * corpus: training cost O(k²·d·rounds), assignment O(n·k·d). This
    * is how production IVF builds actually run (FAISS trains on
    * ~40–256 points per centroid); full-corpus Lloyd would put an
    * n^1.5·d term in the build (measured dominating the 20× stress).
    * Used by the kNN edge build; the search queries keep the 4-cell
    * index their oracles unroll.
    */
  private def sqrtIvfAssignment(s: SparkSession, dir: String): DataFrame = {
    val vecs = cachedVecs(s, dir) // resolved outside the cache compute
    cached(s, dir, "ivfSqrt") {
      import org.apache.spark.sql.expressions.Window
      val n = Tables.embeddings(s, dir).count()
      val k = math.ceil(math.sqrt(n.toDouble)).toInt
      // sample = first 50·k vectors in (md5(vec_id), vec_id) order;
      // seeds = the first k of the sample. Round 13 (verdict #1b):
      // two-phase hashOrderedHead allocation FOR REAL, not by
      // analogy — phase 1 counts per md5-prefix bucket (a 256-row
      // frame; its cumulative window is bucket-bounded), phase 2
      // ranks ONLY the buckets that can intersect the quota
      // (≤ quota + one straddling bucket rows — the sample bound,
      // never the corpus). Bucket order is a prefix of the full
      // (h, vec_id) order and dropped buckets sort strictly after
      // every kept row, so ranks among kept rows equal the global
      // ranks and the selection is row-identical to the
      // corpus-wide-window definition.
      val quota = (k * TrainSamplePerCell).toLong
      val keyed = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          md5(col("vec_id").cast("string")).as("h"))
        .withColumn("bucket", substring(col("h"), 1, 2))
      val keep = keyed.groupBy("bucket").agg(count(lit(1)).as("bcnt"))
        .withColumn("cum_before", coalesce(
          sum(col("bcnt")).over(Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .filter(col("cum_before") < quota)
        .select("bucket")
      val sampleIds = keyed.join(broadcast(keep), "bucket")
        .withColumn("rn", row_number().over(
          Window.orderBy(col("h"), col("vec_id"))))
        .filter(col("rn") <= quota)
        .select("vec_id", "rn")
      val trainVecs = vecs.join(broadcast(sampleIds.select("vec_id")), "vec_id")
        .localCheckpoint(false)
      val seeds = Lloyd.seedBook(trainVecs.join(
        broadcast(sampleIds.filter(col("rn") <= k).select("vec_id")), "vec_id"),
        1, EmbeddingDims)
      Lloyd.assign(vecs, Lloyd.train(trainVecs, seeds, KmTrainRounds))
        .localCheckpoint(false)
    }
  }

  /** Every cached vector (vec_id, e, nrm) with its trained IVF cell
    * `cent_id`: the assignment as a projection over the cached
    * vectors, so no row joins the parquet vectors with a checkpointed
    * assignment.
    */
  private def trainedAssigned(s: SparkSession, dir: String): DataFrame = {
    val book = trainedIvf(s, dir)._3
    cachedVecs(s, dir).select(col("vec_id"), col("e"),
      sqrt(dot(col("e"), col("e"))).as("nrm"),
      Lloyd.nearest(book).getItem(0).getField("cent_id").as("cent_id"))
  }

  /** The ss_ivf_nprobe body, parameterized by probe count: rank the
    * trained cells per query by the SAME exact micro-L2 the assignment
    * uses, take the `nprobe` nearest, exact cosine top-3 over the
    * probed cells' candidates. Probe rank 1 is the query's own cell
    * (identical argmin + tie-break), so nprobe = 1 reproduces
    * single-probe search.
    */
  private def ivfNprobeTopk(s: SparkSession, dir: String, nprobe: Int,
                            k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = trainedIvf(s, dir)._1
    val qDims = Tables.embeddings(s, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 105)
      .select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("int").as("dim"), col("x"))
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("dm").asc, col("cent_id").asc)
    val probes = l2VecDist(qDims, cents)
      .withColumn("pk", row_number().over(wProbe))
      .filter(col("pk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id"))
    val cand = trainedAssigned(s, dir)
    val q = broadcast(probes)
      .join(cand.select(col("vec_id"), col("e"), col("nrm")),
        col("query_id") === col("vec_id"))
      .select(col("query_id"), col("cent_id"), col("e"), col("nrm"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    q.as("q")
      .join(cand.as("c"),
        col("q.cent_id") === col("c.cent_id") &&
          col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id"), col("c.vec_id").as("cand_id"),
        round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4)
          .as("score"))
      .withColumn("rk", row_number().over(wTop).cast("int"))
      .filter(col("rk") <= k)
  }

  /** The ss_binary_quant body: sign-bit codes (two BIGINT halves),
    * Hamming-popcount shortlist of 30, exact-cosine rerank to top-3.
    * Shared with the recall harness.
    */
  private def binaryQuantTop3(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def half(lo: Int): Column = expr(
      s"""aggregate(transform(sequence($lo, ${lo + 31}),
         |  i -> IF(element_at(e, i) >= CAST(0.0 AS DOUBLE),
         |          shiftleft(CAST(1 AS BIGINT), ${lo + 31} - i),
         |          CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      .withColumn("code_hi", half(1))
      .withColumn("code_lo", half(33))
    val q = broadcast(v.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm"), col("code_hi").as("qhi"),
        col("code_lo").as("qlo")))
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("cand_id").asc)
    val short = v.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        col("e"), col("nrm"), col("qe"), col("qnrm"),
        (bit_count(col("code_hi").bitwiseXOR(col("qhi"))) +
          bit_count(col("code_lo").bitwiseXOR(col("qlo"))))
          .cast("int").as("hamming"))
      .withColumn("hk", row_number().over(wHam))
      .filter(col("hk") <= 30)
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    short
      .withColumn("score",
        round(dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 4))
      .withColumn("rk", row_number().over(wTop).cast("int"))
      .filter(col("rk") <= 3)
  }

  /** Directed kNN edge list from a TRAINED IVF index sized for the
    * corpus: per vector, its top-`k` neighbors among the members of
    * its own trained cell (single-probe candidates) by rounded
    * cosine. Cells = ⌈√n⌉ ([[sqrtIvfAssignment]] — the standard IVF
    * sizing), so per-cell candidates are O(√n) and the edge build's
    * total pair volume is O(n^1.5) — the production ANN-graph recipe,
    * unlike any FIXED cell count (sign buckets, or the 4-cell search
    * index) whose per-cell joins go quadratic as the corpus grows.
    * Consumed by ss_graph_expand's recursive expansion.
    */
  /** [[ivfKnnEdges]] memoized per (session, dir, k) — round-12: each
    * consumer re-ran the O(n^1.5) cell self-join + window per
    * execution; now the first call per k pays it into checkpoint
    * blocks. The k=3 entry is SHARED by four rows (beam walk,
    * mutual-kNN, graph expand, Adamic–Adar); the kNN classifier's
    * k=5 entry has no second reader, so its memo only amortizes
    * repeat executions (bench pass 2, multi-query sessions) — it
    * still pays one full build per session. ss_greedy_walk stays on
    * the UNCACHED builder — the designated fresh-construction
    * measurement for this substrate (the dd_simhash64_build
    * convention), so bench still prices the edge build every round.
    */
  def ivfKnnEdgesCached(s: SparkSession, dir: String, k: Int): DataFrame = {
    // resolve the cached dependency OUTSIDE this cache's compute —
    // nested computeIfAbsent on one registry map is illegal (the
    // round-11 CacheRegistry rule; a cold-start ivfKnnEdgesCached
    // otherwise throws CHM "Recursive update" reaching
    // sqrtIvfAssignment, exactly the trainedIvf/cachedVecs precedent)
    sqrtIvfAssignment(s, dir)
    cached[DataFrame](s, dir, s"knnEdges$k") {
      ivfKnnEdges(s, dir, k).localCheckpoint(false)
    }
  }

  def ivfKnnEdges(s: SparkSession, dir: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = sqrtIvfAssignment(s, dir)
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val av = v.join(asg, "vec_id")
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr").asc)
    av.as("a").join(av.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("nbr"),
        round(dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 4)
          .as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("src", "nbr")
  }

  /** ADC top-5 per query (the ss_pq_adc body), reused by the PQ recall
    * harness.
    */
  private def adcTop5(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (dist, codes, _) = pqParts(s, dir)
    val qdist = dist.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      .select(col("vec_id").as("query_id"), col("cent_id"), col("s"),
        col("dist_micro"))
    val cand = codes.select(col("vec_id").as("cand_id"), col("s"), col("code"))
    val scored = cand.as("k")
      .join(broadcast(qdist.as("q")),
        col("q.cent_id") === col("k.code") && col("q.s") === col("k.s"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy("query_id", "cand_id")
      .agg(sum(col("dist_micro")).as("adc_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro").asc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 5)
  }

  /** (vec_id, dim, x) long-format embedding coordinates (dim 1-based),
    * the relation the coarse k-means trains over.
    */
  private def kmDims(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("int").as("dim"), col("x"))

  /** Every vector to its nearest centroid by exact micro-integer
    * squared L2 (order-free sums, so the assignment is engine-exact
    * even against re-centered double centroids — identical op trees
    * feed the floor). `cents` is long-format (cent_id, dim, c) and
    * broadcast-scale (k·d rows) by construction. Argmin = the same
    * two-HashAggregate trick as [[pqParts]].
    */
  /** Micro-integer squared L2 per (vector, centroid). */
  private def l2VecDist(dims: DataFrame, cents: DataFrame): DataFrame =
    dims.join(broadcast(cents), "dim")
      .select(col("vec_id"), col("cent_id"),
        floor((col("x") - col("c")) * (col("x") - col("c"))
          * lit(1000000000000.0)).cast("long").as("dm"))
      .groupBy("vec_id", "cent_id").agg(sum(col("dm")).as("dm"))

  private[graft] def assignL2(dims: DataFrame, cents: DataFrame): DataFrame = {
    val dist = l2VecDist(dims, cents)
    val best = dist.groupBy("vec_id").agg(min(col("dm")).as("dm"))
    dist.join(best, Seq("vec_id", "dm"))
      .groupBy("vec_id", "dm").agg(min(col("cent_id")).as("cent_id"))
      .select("vec_id", "cent_id")
  }

  /** The trained IVF coarse quantizer: [[KmTrainRounds]] [[Lloyd]]
    * rounds over the full vectors `(vec_id, e)`, seeded from the first
    * NumCentroids vectors (one segment of [[EmbeddingDims]]). Each
    * round is one distributed pass — the argmin projection, then
    * per-(centroid, dim) micro-integer sums reduced to k·d rows and
    * collected — and the driver re-centers (an empty cell keeps its
    * previous centroid). At 100 TB a round reads the corpus once and
    * ships k·d partial sums; the codebook never leaves the driver
    * except inside the argmin expression.
    */
  private def coarseBook(vecs: DataFrame): L2Codebook =
    Lloyd.train(vecs,
      Lloyd.seedBook(vecs.filter(col("vec_id") < PipelineQueries.NumCentroids),
        1, EmbeddingDims),
      KmTrainRounds)

  /** (vec_id, e) embedding coordinates as a double array. */
  private def vecArrays(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), toDouble(col("embedding")).as("e"))

  private def vecs(s: SparkSession, dir: String): DataFrame =
    Vec.bucketedVectors(Tables.embeddings(s, dir))
      .select("vec_id", "e", "bucket", "nrm", "bits")

  /** Every vector routed to its nearest coarse centroid (centroids =
    * vec_id < NumCentroids, broadcast): the IVF assignment relation
    * (vec_id, e, nrm, cent_id) shared by the k-means update step and
    * ss_scann_loss.
    */
  private def ivfAssigned(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    val cents = v.filter(col("vec_id") < PipelineQueries.NumCentroids)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"), col("nrm").as("cnrm"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    v.crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(dot(col("e"), col("ce")) / (col("nrm") * col("cnrm")), 6))
      .withColumn("ark", row_number().over(wAssign))
      .filter(col("ark") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id"))
  }

  private def topk(joined: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    joined
      .withColumn("cos",
        round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("vec_id"), col("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .orderBy("query_id", "rn")
  }

  /** MMR geometry: rerank the top-[[MmrPool]] relevance candidates,
    * select [[MmrSelect]] greedily at lambda = 0.7 (score_e5 =
    * 7·rel_bp − 3·maxsim_bp over integer basis points of the
    * 4dp-rounded cosines — 0.7·rel would land on .5 rounding
    * boundaries whenever rel's last digit is odd).
    */
  val MmrPool = 10
  val MmrSelect = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) —
    // the diversity pass between retrieval and the context window:
    // pure top-k hands the LLM near-duplicate passages; MMR trades
    // relevance against redundancy with the already-selected set.
    // Greedy selection is inherently sequential, so the SCALE move is
    // bounding, not parallelizing, the sequence: per query only the
    // top-MmrPool candidates enter (TakeOrdered-style bounded
    // windows), the candidate-pair similarity frame is ≤ pool² rows
    // per query, and the MmrSelect rounds unroll as joins over those
    // bounded frames (the Lloyd/PageRank fixed-unroll pattern). Every
    // cosine rounds to 4dp before use — the identical-IEEE-op-tree
    // doctrine — and ties break by vec_id, so the greedy walk is
    // engine-exact. At 100 TB the per-query work after retrieval is
    // constant; reranking rides whatever candidate generator
    // (brute/LSH/IVF) feeds it.
    "ss_mmr_rerank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = vecs(s, dir)
      val q = v.filter(col("vec_id") < NumQueries)
      val wQ = Window.partitionBy(col("qid"))
        .orderBy(col("rel").desc, col("cand").asc)
      val cands = broadcast(q).as("q")
        .join(v.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("qid"), col("c.vec_id").as("cand"),
          round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4)
            .as("rel"),
          col("c.e").as("ce"), col("c.nrm").as("cnrm"))
        .withColumn("rn", row_number().over(wQ))
        .filter(col("rn") <= MmrPool)
        .localCheckpoint(false) // pairs + every selection round reuse it
      val pairs = cands.select("qid", "cand", "ce", "cnrm").as("a")
        .join(cands.select(col("qid"), col("cand").as("other"),
          col("ce").as("oe"), col("cnrm").as("onrm")).as("b"),
          col("a.qid") === col("b.qid") && col("cand") =!= col("other"))
        .select(col("a.qid").as("qid"), col("cand"), col("other"),
          round(dot(col("ce"), col("oe")) / (col("cnrm") * col("onrm")), 4)
            .as("sim"))
        .localCheckpoint(false)
      // 4dp cosines convert to exact integer basis points before the
      // lambda arithmetic: 0.7·rel with rel at 4dp lands on the .5
      // rounding boundary whenever rel's last digit is odd (measured:
      // 0.7·0.3985 split the engines), so the score is
      // score_e5 = 7·rel_bp − 3·ms_bp — integers end to end.
      val base = cands.select(col("qid"), col("cand"), col("rel"),
        round(col("rel") * 10000).cast("long").as("rel_bp"))
      def pick(frame: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score_e5").desc, col("cand").asc)
        frame.withColumn("prn", row_number().over(w))
          .filter(col("prn") === 1).drop("prn")
      }
      var selected = pick(base
          .withColumn("score_e5", lit(7L) * col("rel_bp")))
        .withColumn("rk", lit(1))
      for (k <- 2 to MmrSelect) {
        val maxsim = pairs
          .join(selected.select(col("qid"), col("cand").as("other")),
            Seq("qid", "other"))
          .groupBy("qid", "cand")
          .agg(max(round(col("sim") * 10000).cast("long")).as("ms_bp"))
        val next = pick(base
            .join(selected.select("qid", "cand"), Seq("qid", "cand"),
              "left_anti")
            .join(maxsim, Seq("qid", "cand"))
            .withColumn("score_e5",
              lit(7L) * col("rel_bp") - lit(3L) * col("ms_bp")))
          .withColumn("rk", lit(k))
        selected = selected.unionByName(next.select(selected.columns.map(col): _*))
      }
      selected.select(col("qid"), col("rk").cast("int").as("rk"),
          col("cand"), col("rel"), col("score_e5"))
        .orderBy("qid", "rk")
    }),

    // Brute-force exact top-k: broadcast query set × all candidates.
    "ss_bruteforce_topk" -> ((s, dir) => {
      val v = vecs(s, dir)
      val q = v.filter(col("vec_id") < NumQueries)
      topk(broadcast(q).as("q")
        .join(v.as("c"), col("q.vec_id") =!= col("c.vec_id")))
    }),

    // FILTERED vector search — the metadata-predicate + ANN
    // composition every vector store fights over (pre- vs
    // post-filtering): here the filter (vec_id ≡ 0 mod 3, standing in
    // for any attribute predicate) applies BEFORE ranking, so top-k
    // is exact over the eligible subset — no recall cliff from
    // post-filtering a fixed candidate pool. At 100 TB the predicate
    // pushes into the candidate scan (partition/zone pruning) and the
    // IVF variant intersects it per cell; the plan here is the
    // brute-force leg with the filter in the join condition.
    "ss_filtered_topk" -> ((s, dir) => {
      val v = vecs(s, dir)
      val q = v.filter(col("vec_id") < NumQueries)
      topk(broadcast(q).as("q")
        .join(v.as("c"),
          col("q.vec_id") =!= col("c.vec_id") &&
            col("c.vec_id") % 3 === 0))
    }),

    // LSH-bucketed ANN: candidates restricted to the query's bucket.
    "ss_lsh_topk" -> ((s, dir) => {
      val v = vecs(s, dir)
      val q = v.filter(col("vec_id") < NumQueries)
      topk(broadcast(q).as("q")
        .join(v.as("c"),
          col("q.bucket") === col("c.bucket") &&
            col("q.vec_id") =!= col("c.vec_id")))
    }),

    // IVF search — the missing half of ss_ivf_assign: route every
    // vector (queries included) to its nearest TRAINED coarse centroid
    // (KmTrainRounds Lloyd rounds, ss_kmeans_train's codebook), then
    // run exact top-k only within the query's cell (nprobe = 1). At
    // 100 TB the cell id is the table's physical partition key, so a
    // query reads ONE partition; centroids broadcast. Recall comes
    // from probing more cells (same plan, more cent_ids per query) —
    // the standard IVF cost/recall dial.
    "ss_ivf_search" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val assigned = trainedAssigned(s, dir)
      val q = assigned.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      q.as("q")
        .join(assigned.as("c"),
          col("q.cent_id") === col("c.cent_id") &&
            col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("cand_id"),
          round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4)
            .as("score"))
        .withColumn("rk", row_number().over(wTop).cast("int"))
        .filter(col("rk") <= 3)
        .orderBy("query_id", "rk")
    }),

    // INDEX PERSISTENCE — BUILD (round-13 verdict #4): train the IVF
    // coarse quantizer + PQ codebooks FRESH (cache-bypassing, the
    // dd_truth_build convention — this row prices the full
    // train-and-publish), write them as parquet index tables
    // (assignment partitioned by cent_id), and report a census read
    // back FROM DISK — so the oracle gates the published tables'
    // contents, not the in-memory frames: per cell the assigned-vector
    // count, the codebook's dim count and micro-coordinate sum, plus
    // the PQ codebook's global row count and micro-sum.
    "ss_ivf_persist_build" -> ((s, dir) => {
      val root = writeIvfIndex(s, dir)
      // mark the published index fresh so search rows don't retrain
      cached[String](s, dir, "ivfIndexPath")(root)
      val cents = s.read.parquet(s"$root/centroids")
      val asg = s.read.parquet(s"$root/assignments")
        .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
      val pqStats = s.read.parquet(s"$root/pq_codebook")
        .agg(count(lit(1)).as("pq_rows"),
          sum(floor(col("c") * lit(1000000.0)).cast("long")).as("pq_sum_micro"))
      asg.groupBy("cent_id").agg(count(lit(1)).as("n_vectors"))
        .join(cents.groupBy("cent_id").agg(count(lit(1)).as("n_dims"),
          sum(floor(col("c") * lit(1000000.0)).cast("long"))
            .as("cent_sum_micro")), "cent_id")
        .crossJoin(broadcast(pqStats))
        .select("cent_id", "n_vectors", "n_dims", "cent_sum_micro",
          "pq_rows", "pq_sum_micro")
        .orderBy("cent_id")
    }),

    // INDEX PERSISTENCE — SEARCH: the ss_ivf_search body with the
    // assignment READ BACK from the published parquet index — zero
    // training in the lineage (IvfPersistSpec pins the plan: index
    // scans, no checkpointed-RDD scan), so this row's time is the
    // probe cost a serving tier actually pays. Row-identical to
    // ss_ivf_search (same oracle SQL) because everything persisted is
    // deterministic and parquet round-trips it exactly.
    "ss_ivf_persist_search" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val asg = persistedAssignment(s, dir)
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val assigned = v.join(asg, "vec_id")
      val q = assigned.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      q.as("q")
        .join(assigned.as("c"),
          col("q.cent_id") === col("c.cent_id") &&
            col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("cand_id"),
          round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4)
            .as("score"))
        .withColumn("rk", row_number().over(wTop).cast("int"))
        .filter(col("rk") <= 3)
        .orderBy("query_id", "rk")
    }),

    // INDEX PERSISTENCE — INCREMENTAL ADMISSION (round-13 verdict #2):
    // a delta batch of new vectors is assigned against the PUBLISHED
    // read-back centroids (zero retraining — the admission path's
    // plan is pinned in IvfPersistSpec) and appended as a cent_id-
    // partitioned DELTA SEGMENT beside the immutable base assignment
    // (the LSM convention a serving tier actually uses: base segments
    // never mutate, deltas accumulate per cell partition, compaction
    // folds them in — overwrite-by-segment here keeps the row
    // idempotent across bench reps without touching the base tables
    // the persist build/search rows gate). The report reads BOTH
    // segments back from disk and is the occupancy-drift alarm:
    // per cell the base/delta/total counts and the post-admission
    // occupancy in ppm of the mean (ss_ivf_occupancy's skew band
    // applied per cell), with a rebalance flag past
    // [[AdmitRebalancePpm]] — the trigger that tells operations
    // "retrain/split this cell before the probe cost degrades".
    // Scale: the delta assignment is one broadcast join + argmin
    // aggregate over delta×k rows; census aggregates shuffle one row
    // per cell; nothing corpus-wide re-runs.
    "ss_ivf_admit" -> ((s, dir) => {
      val root = publishDeltaSegment(s, dir)
      val base = s.read.parquet(s"$root/assignments")
        .select(col("cent_id").cast("long").as("cent_id"))
        .groupBy("cent_id").agg(count(lit(1)).as("n_base"))
      val delta = s.read.parquet(s"$root/assignments_delta")
        .select(col("cent_id").cast("long").as("cent_id"))
        .groupBy("cent_id").agg(count(lit(1)).as("n_delta"))
      // full outer: a delta can land in a base-empty cell (the
      // centroid exists; the base assignment just never used it)
      val cells = base.join(delta, Seq("cent_id"), "full_outer")
        .select(col("cent_id"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"))
        .withColumn("n_total", col("n_base") + col("n_delta"))
        .localCheckpoint(false) // census + the totals aggregate
      val tot = cells.agg(count(lit(1)).as("k_cells"),
        sum(col("n_total")).as("n_after"))
      cells.crossJoin(broadcast(tot))
        .select(col("cent_id"), col("n_base"), col("n_delta"), col("n_total"),
          // DECIMAL ride: n_total·10⁶·k ~ n·10⁶·k wraps int64 exactly
          // in the one-fat-cell case the alarm exists for
          expr("CAST(CAST(n_total AS DECIMAL(38,0)) * 1000000 * k_cells " +
            "DIV n_after AS BIGINT)").as("occ_ppm_of_mean"))
        .withColumn("rebalance", col("occ_ppm_of_mean") > lit(AdmitRebalancePpm))
        .orderBy("cent_id")
    }),

    // INDEX PERSISTENCE — REBALANCE (acting on the ss_ivf_admit
    // alarm): SPLIT the fattest post-admission cell k-d-tree style —
    // midpoint split on the dimension of maximum spread (micro-int
    // mid = ⌊(min+max)/2⌋; members ≤ mid → sub-cell A, else B) — and
    // REPUBLISH: the two halves as a cent_id-partitioned split
    // segment, and a v2 centroid table (micro-int coords: surviving
    // trained centroids + the two sub-cell means) whose new ids start
    // past max(trained cent_id) so they can never collide with an
    // existing (even empty) cell. Midpoint-over-rank is deliberate:
    // a median split needs an exact rank over the hot cell (a
    // single-partition sort of exactly the data you're trying to
    // shrink); the midpoint is two aggregates + a filter — no window,
    // no sort, nothing driver-side — and the census it emits REPORTS
    // the achieved balance instead of promising one. NO RETRAIN
    // anywhere: the whole row's lineage is parquet scans of the
    // published tables + the embeddings source (IvfPersistSpec pins
    // no ExistingRDD in the executed plan — which is also why this
    // row reads fresh kmDims instead of the checkpointed cache).
    // Output: post-rebalance census — per cell the member count, the
    // occupancy ppm vs the NEW mean (k_after cells), the republished
    // centroid's coordinate-sum fingerprint (read BACK from the v2
    // table — round-trip proof), and the from_split flag.
    // Precondition (documented, not asserted): the hot cell's members
    // are not bit-identical on every dim — real embeddings always
    // spread, and a zero-spread "cell" has nothing to split.
    // Scale: two aggregates + one equi-join over ONE cell's rows
    // (≈ n/k — the fat cell is the biggest thing touched, and
    // shrinking it is the point); census frames are k rows.
    "ss_ivf_rebalance" -> ((s, dir) => {
      val (root, cells, worst) = writeRebalance(s, dir)
      // mark the rebalance artifacts fresh so the serving row
      // (ss_ivf_search_v2) doesn't republish — the persist_build idiom
      cached[String](s, dir, "ivfRebalanced")(root)
      // post-rebalance census, everything read BACK from the
      // republished tables (split counts + centroid fingerprints)
      val post = cells.join(broadcast(worst), Seq("cent_id"), "left_anti")
        .withColumn("from_split", lit(false))
        .unionByName(s.read.parquet(s"$root/assignments_split")
          .select(col("cent_id").cast("long").as("cent_id"))
          .groupBy("cent_id").agg(count(lit(1)).as("n_total"))
          .withColumn("from_split", lit(true)))
      val csum = s.read.parquet(s"$root/centroids_v2")
        .groupBy("cent_id").agg(sum(col("cm")).as("cent_sum_micro"))
      val tot = post.agg(count(lit(1)).as("k_after"),
        sum(col("n_total")).as("n_after"))
      post.join(csum, "cent_id").crossJoin(broadcast(tot))
        .select(col("cent_id"), col("n_total"), col("cent_sum_micro"),
          expr("CAST(CAST(n_total AS DECIMAL(38,0)) * 1000000 * k_after " +
            "DIV n_after AS BIGINT)").as("occ_ppm_of_mean"),
          col("from_split"))
        .orderBy("cent_id")
    }),

    // INDEX PERSISTENCE — REBALANCE TO QUIESCENCE (the other half of
    // the alarm→action contract: ss_ivf_rebalance proves ONE split
    // reduces the worst cell; this row keeps splitting until the
    // ss_ivf_admit alarm is actually QUIET — worst-cell occupancy ≤
    // AdmitRebalancePpm — or MaxRebalanceSplits ran). Algorithm,
    // bounds, publish layout, and the scale argument in
    // [[writeRebalanceQ]]. On the uniform testdata the post-admission
    // alarm never fires, so this row's oracle states the
    // quiescent-already census (n_splits = 0, nothing republished,
    // census read back from the base+delta segments) — and POISONS
    // itself if that premise ever breaks: the oracle emits NULL
    // n_splits when its own worst-cell ppm exceeds the threshold, so
    // a testdata change that trips the alarm hash-mismatches loudly
    // instead of silently comparing different regimes. The split
    // loop's body is pinned by IvfPersistSpec's fat-cell fixture
    // (90%-fat cell → alarm must end BELOW threshold).
    "ss_ivf_rebalance_q" -> ((s, dir) => writeRebalanceQ(s, dir)._1),

    // INDEX PERSISTENCE — REBALANCE WITH THE MERGE DUAL (round-16
    // verdict #5: split-only rebalance monotonically grows k under
    // continuous admission and strands undersized cells): split to
    // quiescence, then fold every cell below AdmitMergeFloorPpm into
    // its nearest surviving centroid, re-quiescing after each fold
    // round. Algorithm, bounds, publish layout (assignments_mq /
    // centroids_mq), and the scale argument in [[writeRebalanceMQ]].
    // On the uniform testdata NEITHER phase fires, so the oracle
    // states the quiescent-already census with BOTH premises
    // self-checked: NULL n_splits if the worst cell exceeds the split
    // alarm, NULL n_merges if any cell sits below the merge floor —
    // a testdata change that trips either regime hash-mismatches
    // loudly. The live split+merge path is pinned by IvfPersistSpec's
    // fat-cell fixture (fat cell splits, dust cells fold, k shrinks by
    // exactly n_merges, alarm ends quiet, no sub-floor cell remains).
    "ss_ivf_rebalance_mq" -> ((s, dir) => writeRebalanceMQ(s, dir)._1),

    // INDEX PERSISTENCE — COMPACTION (the LSM fold closing the
    // admit→rebalance→compact lifecycle): the delta segment is merged
    // into the base assignment and republished as ONE cent_id-
    // partitioned compacted segment — base and delta stay immutable
    // (readers pinned to the two-segment view are unaffected), the
    // compacted segment becomes the new serving base, and the
    // accumulated small delta files per cell collapse into one
    // rewrite (the small-file problem every incremental parquet index
    // hits; at 100 TB compaction runs per-cell and only rewrites
    // cells a delta touched). Output = the census read BACK from the
    // compacted segment, which must equal the two-segment census the
    // admit row reported — the merge must lose and invent nothing.
    "ss_ivf_compact" -> ((s, dir) => {
      val root = publishDeltaSegment(s, dir)
      def seg(name: String) = s.read.parquet(s"$root/$name")
        .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
      seg("assignments").unionByName(seg("assignments_delta"))
        .write.mode("overwrite").partitionBy("cent_id")
        .parquet(s"$root/assignments_compacted")
      seg("assignments_compacted")
        .groupBy("cent_id").agg(count(lit(1)).as("n_total"))
        .orderBy("cent_id")
    }),

    // INDEX PERSISTENCE — FORGET (the pipe_forget cascade reaching
    // the ANN serving tier): erase a delete list (vec_id % 97 = 13,
    // the pipe_forget slice — and its re-keyed admitted twin, since a
    // forgotten source vector must also leave the delta segment) from
    // BOTH index segments and republish the survivors as a
    // cent_id-partitioned forgotten segment — physically a
    // partition-filtered rewrite, the same segment-overwrite idiom as
    // admit/compact; at 100 TB only cells holding deleted vectors
    // rewrite. Output = per cell the survivor count plus n_forgotten
    // and leftover (survivors still matching the delete predicate —
    // must be 0), all read BACK from the republished segment so an
    // incomplete erasure cannot pass.
    "ss_ivf_forget" -> ((s, dir) => {
      val root = publishDeltaSegment(s, dir)
      def seg(name: String) = s.read.parquet(s"$root/$name")
        .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
      val both = seg("assignments").unionByName(seg("assignments_delta"))
      // delete predicate: the raw slice and its +10⁶ admitted re-key
      val deleted = (col("vec_id") % 97 === 13) ||
        ((col("vec_id") - lit(1000000L)) % 97 === 13 &&
          col("vec_id") >= lit(1000000L))
      both.filter(!deleted).write.mode("overwrite").partitionBy("cent_id")
        .parquet(s"$root/assignments_forgotten")
      val survivors = seg("assignments_forgotten")
      val forgot = both.filter(deleted)
        .groupBy("cent_id").agg(count(lit(1)).as("n_forgotten"))
      survivors.groupBy("cent_id").agg(
          count(lit(1)).as("n_total"),
          count(when(deleted, lit(1))).as("leftover"))
        .join(forgot, Seq("cent_id"), "full_outer")
        .select(col("cent_id"),
          coalesce(col("n_total"), lit(0L)).as("n_total"),
          coalesce(col("n_forgotten"), lit(0L)).as("n_forgotten"),
          coalesce(col("leftover"), lit(0L)).as("leftover"))
        .orderBy("cent_id")
    }),

    // SERVING CONTINUITY AFTER REBALANCE: the same top-3 search as
    // ss_ivf_persist_search, served from the POST-REBALANCE index —
    // the v2 assignment is (base ∪ delta) with the split cell's
    // members superseded by the split segment (membership in the
    // split segment IS the supersede marker; no census recompute).
    // Candidates include the admitted delta vectors (re-keyed +10⁶,
    // reversed coordinates — their norms computed AFTER reversal so
    // both engines sum the same fp order). Everything in the lineage
    // is a read-back of published tables + the raw embeddings source
    // (the rebalance publish itself resolves driver-side through the
    // memoized root — at most once per session, priced by the
    // rebalance row). What this proves: a probe against the split
    // index still returns exact per-cell top-k — rebalance changed
    // WHERE vectors live, not what a search finds in their cell.
    "ss_ivf_search_v2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val root = rebalancedIndexRoot(s, dir)
      def seg(name: String) = s.read.parquet(s"$root/$name")
        .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
      val split = seg("assignments_split")
      val v2asg = seg("assignments").unionByName(seg("assignments_delta"))
        .join(split.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(split)
      val vBase = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      val vDelta = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(10)) === 3)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          reverse(toDouble(col("embedding"))).as("e"))
      val v = vBase.unionByName(vDelta)
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val assigned = v.join(v2asg, "vec_id")
      val q = assigned.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      q.as("q")
        .join(assigned.as("c"),
          col("q.cent_id") === col("c.cent_id") &&
            col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("cand_id"),
          round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4)
            .as("score"))
        .withColumn("rk", row_number().over(wTop).cast("int"))
        .filter(col("rk") <= 3)
        .orderBy("query_id", "rk")
    }),

    // The IVF cost/recall dial itself: probe the NProbe nearest cells
    // per query instead of 1. The probe set is chosen by the SAME
    // exact micro-integer L2 the assignment uses (so probe ranking is
    // engine-exact), then the exact top-k runs over the union of the
    // probed cells' candidates. Each candidate lives in exactly one
    // cell, so no dedup is needed; at 100 TB this reads NProbe
    // partitions per query instead of one — cost is linear in nprobe
    // and the probe frame (queries × centroids) never leaves the
    // driver-broadcast scale.
    "ss_ivf_nprobe" -> ((s, dir) =>
      ivfNprobeTopk(s, dir, NProbe).orderBy("query_id", "rk")),

    // The recall report FOR the nprobe dial: per query, recall@3 of
    // the 1-cell and NProbe-cell IVF searches against the exact
    // brute-force ranking — "recall comes from probing more cells"
    // measured instead of asserted (the ss_ann_recall shape for the
    // IVF index). The exact leg is the only corpus-wide scan; both
    // IVF legs read their probed cells only.
    "ss_ivf_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val q = v.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val exact = broadcast(q).as("q")
        .join(v.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("cand_id"),
          round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4)
            .as("score"))
        .withColumn("rk", row_number().over(wTop).cast("int"))
        .filter(col("rk") <= 3)
        .select("query_id", "cand_id")
      def hitsOf(leg: DataFrame, name: String) =
        exact.join(leg.select("query_id", "cand_id"),
            Seq("query_id", "cand_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as(name))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        .join(hitsOf(ivfNprobeTopk(s, dir, 1), "h1"), Seq("query_id"), "left")
        .join(hitsOf(ivfNprobeTopk(s, dir, NProbe), "h2"), Seq("query_id"), "left")
        .select(col("query_id"), col("n_true"),
          coalesce(col("h1"), lit(0L)).as("n_hits_p1"),
          coalesce(col("h2"), lit(0L)).as("n_hits_p2"))
        .withColumn("recall_p1_4",
          round(col("n_hits_p1").cast("double") / col("n_true"), 4))
        .withColumn("recall_p2_4",
          round(col("n_hits_p2").cast("double") / col("n_true"), 4))
        .orderBy("query_id")
    }),

    // nDCG@10 of the nprobe IVF ranking against the exact top-10 —
    // the GRADED retrieval metric the recall@k harnesses can't
    // express: recall treats rank 1 and rank 10 alike, nDCG pays
    // 10⁶/log₂(rk+1) per hit so putting the right neighbors FIRST is
    // what scores. The discounts and their prefix sums (ideal DCG)
    // are integer micro-literals baked into both engines at
    // plan-construction ([[NdcgDiscountsMicro]]) — no transcendental
    // executes in either engine, and dcg/idcg/ndcg_bp are pure
    // integer arithmetic on them. Scale: the exact leg is the one
    // corpus-wide scan (the ground-truth cost every eval harness
    // pays, amortized over a fixed query panel); the evaluated leg
    // reads only its probed cells; everything downstream is
    // panel-sized.
    "ss_ndcg_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val q = v.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val exact = broadcast(q).as("q")
        .join(v.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("cand_id"),
          round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4)
            .as("score"))
        .withColumn("rk", row_number().over(wTop).cast("int"))
        .filter(col("rk") <= NdcgK)
        .select("query_id", "cand_id")
      val wArr = array(NdcgDiscountsMicro.map(lit): _*)
      val pArr = array(NdcgIdealPrefixMicro.map(lit): _*)
      val scored = ivfNprobeTopk(s, dir, NProbe, NdcgK)
        .join(exact.withColumn("rel", lit(1)), Seq("query_id", "cand_id"), "left")
        .withColumn("wt", element_at(wArr, col("rk")))
        .groupBy("query_id")
        .agg(sum(when(col("rel").isNotNull, col("wt")).otherwise(0L))
            .as("dcg_micro"),
          sum(when(col("rel").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        .withColumn("idcg_micro",
          element_at(pArr, least(col("n_true"), lit(NdcgK)).cast("int")))
        .join(scored, Seq("query_id"))
        .withColumn("ndcg_bp", expr("(dcg_micro * 10000) DIV idcg_micro"))
        .select("query_id", "n_true", "n_hits", "dcg_micro", "idcg_micro",
          "ndcg_bp")
        .orderBy("query_id")
    }),

    // MEAN-RECIPROCAL-RANK EVAL — the known-item metric that
    // complements ss_ndcg_eval's graded one: each query has ONE right
    // answer (its exact nearest neighbor), and the score is 1/rank of
    // that answer in the served IVF list (0 when the index misses it
    // entirely — the nprobe-too-small symptom this row exists to
    // surface). Reciprocal ranks in exact integer micro (10⁶ DIV
    // rank); same trained-index serving path and 5-query probe set as
    // the ndcg row, so the two metrics are directly comparable.
    "ss_mrr_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val q = v.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val exact1 = broadcast(q).as("q")
        .join(v.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("cand_id"),
          round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4)
            .as("score"))
        .withColumn("rk", row_number().over(wTop).cast("int"))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("cand_id").as("exact_nn"))
      exact1
        .join(ivfNprobeTopk(s, dir, NProbe, NdcgK)
            .select(col("query_id"), col("cand_id"), col("rk")),
          Seq("query_id"), "left")
        .groupBy("query_id")
        .agg(min(col("exact_nn")).as("exact_nn"),
          min(when(col("cand_id") === col("exact_nn"), col("rk")))
            .cast("long").as("found_rank"))
        .withColumn("rr_micro", expr(
          "CASE WHEN found_rank IS NOT NULL THEN 1000000 DIV found_rank " +
            "ELSE 0L END"))
        .orderBy("query_id")
    }),

    // Same rows as ss_bruteforce_topk, but via the bounded-heap
    // TopKAggregator UDAF instead of a window sort: each partial
    // aggregate keeps exactly K candidates and heaps merge, so a group
    // with a million candidates shuffles K rows, not a million — the
    // scale path for grouped top-k (window row_number materializes and
    // sorts every partition's rows first). Ordering matches the window
    // form exactly: rounded cos desc, vec_id asc.
    "ss_topk_agg" -> ((s, dir) => {
      val v = vecs(s, dir)
      val q = v.filter(col("vec_id") < NumQueries)
      val scored = broadcast(q).as("q")
        .join(v.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(
          col("q.vec_id").as("query_id"),
          col("c.vec_id").as("cand_id"),
          round(dot(col("q.e"), col("c.e")) / (col("q.nrm") * col("c.nrm")), 4).as("cos"))
      val topkAgg = udaf(new graft.functions.TopKAggregator(K))
      scored.groupBy("query_id")
        .agg(topkAgg(col("cand_id"), col("cos")).as("tk"))
        .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("query_id"), col("e._1").as("vec_id"), col("e._2").as("cos"),
          (col("pos") + 1).cast("int").as("rn"))
        .orderBy("query_id", "rn")
    }),

    // ANN evaluation harness: recall@K of the single-probe and
    // Hamming-1 multiprobe LSH paths against the brute-force ground
    // truth, per query — the cost/recall report every approximate
    // index ships with (probe counts, band counts and bucket widths
    // are tuned against exactly this query; on near-random embeddings
    // single-probe recall is honestly ~0 while 9 probes move it, which
    // is the whole point of measuring instead of assuming). All legs
    // share the broadcast query set; the ground-truth leg is the only
    // corpus-wide scan, and the recall joins run over Q·K-row frames.
    "ss_ann_recall" -> ((s, dir) => {
      val v = vecs(s, dir)
      val q = v.filter(col("vec_id") < NumQueries)
      val exact = topk(broadcast(q).as("q")
          .join(v.as("c"), col("q.vec_id") =!= col("c.vec_id")))
        .select(col("query_id"), col("vec_id"))
      val approx = topk(broadcast(q).as("q")
          .join(v.as("c"),
            col("q.bucket") === col("c.bucket") &&
              col("q.vec_id") =!= col("c.vec_id")))
        .select(col("query_id"), col("vec_id"))
      // Hamming-1 multiprobe: the query probes its own bucket plus the
      // `bits` one-bit XOR flips (all distinct, so no candidate dedup
      // needed — the computed dial, Vec.signBucketBits); candidates
      // still never shuffle — the probe set rides the broadcast.
      val qProbes = q.select(col("vec_id"), col("e"), col("nrm"),
        explode(expr("concat(array(bucket), transform(sequence(0, bits - 1), " +
          "k -> bucket ^ shiftleft(CAST(1 AS BIGINT), k)))")).as("probe"))
      val approxMp = topk(broadcast(qProbes).as("q")
          .join(v.as("c"),
            col("q.probe") === col("c.bucket") &&
              col("q.vec_id") =!= col("c.vec_id")))
        .select(col("query_id"), col("vec_id"))
      def hitsOf(leg: DataFrame, name: String) =
        exact.join(leg, Seq("query_id", "vec_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as(name))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        .join(hitsOf(approx, "h1"), Seq("query_id"), "left")
        .join(hitsOf(approxMp, "h9"), Seq("query_id"), "left")
        .select(col("query_id"), col("n_true"),
          coalesce(col("h1"), lit(0L)).as("n_hits_lsh"),
          coalesce(col("h9"), lit(0L)).as("n_hits_mp"))
        .withColumn("recall_lsh4",
          round(col("n_hits_lsh").cast("double") / col("n_true"), 4))
        .withColumn("recall_mp4",
          round(col("n_hits_mp").cast("double") / col("n_true"), 4))
        .orderBy("query_id")
    }),

    // One Lloyd iteration of k-means (the update step): vectors →
    // nearest coarse centroid (the IVF assignment), then the new
    // centroid = per-dimension mean of the assigned vectors. Means are
    // order-free exact: each coordinate is quantized to a micro-integer
    // (floor(x·10⁶): the ×10⁶ multiply rounds like any FP multiply,
    // but both engines evaluate the identical rounded op tree before
    // the IEEE-exact floor, so the quantized value is bit-equal — the
    // parity comes from identical op trees, not from the quantization
    // being exact), summed as longs (associative), divided once at
    // the end. Plan shape at
    // 100 TB: broadcast centroids, one narrow posexplode, one
    // aggregation keyed by (centroid, dim) — k·d groups, no skew.
    "ss_kmeans_step" -> ((s, dir) => {
      ivfAssigned(s, dir)
        .select(col("cent_id"), posexplode(col("e")).as(Seq("pos", "x")))
        .select(col("cent_id"), (col("pos") + 1).cast("int").as("dim"),
          floor(col("x") * lit(1000000.0)).cast("long").as("micro"))
        .groupBy("cent_id", "dim")
        .agg(sum(col("micro")).as("s"), count(lit(1)).as("n"))
        .select(col("cent_id"), col("dim"),
          (col("s").cast("double") / col("n") / lit(1000000.0)).as("mean"))
        .orderBy("cent_id", "dim")
    }),

    // The trained IVF coarse codebook itself — KmTrainRounds chained
    // Lloyd iterations (ss_kmeans_step is one such update; this is the
    // loop: one pass + a k·d reduce per round with the codebook on the
    // driver, fixed deterministic round count so DuckDB can mirror it
    // as unrolled CTEs). Assignment is exact micro-integer L2;
    // re-centering is exact micro-integer means; an empty cell keeps
    // its previous centroid. Output = the final (cent_id, dim, c)
    // codebook that ss_ivf_search / ss_ivfpq_search route against.
    "ss_kmeans_train" -> ((s, dir) => {
      val vecs = vecArrays(s, dir).localCheckpoint(false)
      Lloyd.coarseFrame(s, coarseBook(vecs)).orderBy("cent_id", "dim")
    }),

    // Coreset / diversity sampling — the first sweep of the k-center
    // greedy every curated-subset pipeline runs (pick one
    // representative per cluster, weighted by occupancy): each trained
    // IVF cell reports its size and its medoid-ish representative
    // (the member with minimum exact micro-L2 to the centroid, ties
    // to the smallest vec_id). Assignment is a broadcast join against
    // the k·d-row codebook; the representative is an
    // argmin-as-two-hash-aggregations (min dm per cell, then min
    // vec_id at that dm — never a struct-min, which falls out of
    // HashAggregate). Output is k rows regardless of corpus size.
    "ss_diversity_sample" -> ((s, dir) => {
      // rides the session-cached trained IVF (ss_kmeans_train is the
      // designated fresh-construction measurement; this row's own
      // work is the distance frame + three k-row aggregations —
      // round-12: it was re-running the full Lloyd loop per execution)
      val (cents, asg, _) = trainedIvf(s, dir)
      val dist = l2VecDist(cachedKmDims(s, dir), cents)
      val cell = dist.join(asg, Seq("vec_id", "cent_id"))
      val best = cell.groupBy("cent_id").agg(min(col("dm")).as("dm"))
      val rep = cell.join(best, Seq("cent_id", "dm"))
        .groupBy("cent_id", "dm").agg(min(col("vec_id")).as("rep_vec"))
      cell.groupBy("cent_id").agg(count(lit(1)).as("n_vectors"))
        .join(rep, "cent_id")
        .select(col("cent_id"), col("n_vectors"), col("rep_vec"),
          col("dm").as("rep_dm"))
        .orderBy("cent_id")
    }),

    // SILHOUETTE cluster-validity score over the trained IVF
    // assignment — the standard "is k right / did training separate
    // anything" readout (Rousseeuw 1987), in its SIMPLIFIED
    // centroid-distance form (Hruschka et al.): a(i) = squared-L2 to
    // the OWN centroid, b(i) = min squared-L2 to any OTHER centroid,
    // s(i) = (b−a)/max(a,b). The pairwise-distance original is O(n²)
    // and exists only as an audit at toy scale; the centroid form is
    // O(n·k) — one broadcast join against the k·d codebook, the same
    // relation the assignment itself computed, which is why it's THE
    // production clustering-health metric. Distances stay the exact
    // micro-integers of l2VecDist; s(i) lands in ppm via a
    // DECIMAL(38,0)-routed cross-multiply (dm ≤ 2.6·10¹⁴ at unit
    // scale, so dm·10⁶ overflows BIGINT — the MicroDomainLintSpec
    // class). Because assignment IS nearest-centroid, b ≥ a and every
    // s(i) ∈ [0, 10⁶] — a boundary point scores 0, a well-separated
    // one → 10⁶; per-cell mean + min expose both the cell's health
    // and its worst member. max(a,b) = 0 (a vector exactly ON two
    // centroids) resolves to 0 on both engines rather than dividing.
    "ss_silhouette" -> ((s, dir) => {
      val (cents, asg, _) = trainedIvf(s, dir)
      val dist = l2VecDist(cachedKmDims(s, dir), cents)
      val own = asg.join(dist, Seq("vec_id", "cent_id"))
        .select(col("vec_id"), col("cent_id"), col("dm").as("a_dm"))
      val oth = dist
        .join(asg.withColumnRenamed("cent_id", "own_cent"), "vec_id")
        .filter(col("cent_id") =!= col("own_cent"))
        .groupBy("vec_id").agg(min(col("dm")).as("b_dm"))
      own.join(oth, "vec_id")
        .withColumn("sp", expr(
          """CASE WHEN greatest(a_dm, b_dm) = 0 THEN CAST(0 AS BIGINT)
            |ELSE CAST((CAST(b_dm - a_dm AS DECIMAL(38,0)) * 1000000)
            |     DIV greatest(a_dm, b_dm) AS BIGINT) END""".stripMargin))
        .groupBy("cent_id")
        .agg(count(lit(1)).as("n_vec"),
          expr("sum(sp) DIV count(1)").as("mean_sil_ppm"),
          min(col("sp")).as("min_sil_ppm"))
        .orderBy("cent_id")
    }),

    // The trained per-subspace PQ codebooks — PqTrainRounds Lloyd
    // rounds in each of the 8 subspaces at once (the subspace id just
    // rides the grouping keys; one job trains all 8 codebooks). This
    // is the codebook ss_pq_encode / ss_pq_adc / ss_ivfpq_search
    // quantize against, and what moved ss_pq_recall off its stand-in
    // floor.
    "ss_pq_train" -> ((s, dir) => {
      pqCodebookFresh(s, dir).orderBy("cent_id", "s", "j")
    }),

    // Proof the training loops optimize their objective, engine-exact:
    // total assignment distortion (micro-integer squared L2 summed
    // over every vector's nearest centroid) for the seed vs the
    // trained codebook, for both the IVF coarse quantizer and the PQ
    // subspace codebooks. On this synthetic near-random embedding
    // table recall@K is a 25-sample coin flip (see ss_pq_recall's
    // comment), but the k-means objective is exact and must strictly
    // drop with training — this row pair is the check.
    // √n-IVF OCCUPANCY REPORT — the index-health gate behind every
    // O(√n)-per-cell claim this engine makes (kNN edge build, graph
    // expand): if Lloyd training leaves cells wildly unbalanced, the
    // per-cell self-join quietly degrades toward quadratic in the fat
    // cell. One row: nonempty-cell count (empty cells keep their seed
    // centroid and simply never appear in the assignment), assigned
    // vectors, min/max occupancy, mean in micro, and the max/mean
    // skew in ppm — the number to alarm on. Pure counts off the
    // cached assignment — the dial ScaleSpec's 20× stress turns is
    // here made a query.
    "ss_ivf_occupancy" -> ((s, dir) => {
      val occ = sqrtIvfAssignment(s, dir)
        .groupBy("cent_id").agg(count(lit(1)).as("n"))
      val k = occ.agg(count(lit(1)).as("k_nonempty"),
        sum(col("n")).as("n_vec"), min(col("n")).as("occ_min"),
        max(col("n")).as("occ_max"))
      // skew product rides DECIMAL(38,0): in the degenerate all-one-
      // cell case (exactly when the alarm must fire) occ_max·10⁶·k ~
      // n·10⁶·√n wraps int64; the DIV quotients (mean micro ≤ 10⁶·n/k,
      // skew ppm ≤ 10⁶·k) stay BIGINT-bounded
      k.select(col("k_nonempty"), col("n_vec"), col("occ_min"),
          col("occ_max"),
          expr("CAST(n_vec AS DECIMAL(38,0)) * 1000000 DIV k_nonempty")
            .as("occ_mean_micro"),
          expr("CAST(occ_max AS DECIMAL(38,0)) * 1000000 * k_nonempty " +
            "DIV n_vec").as("skew_ppm"))
    }),

    // EMBEDDING OOD SHORTLIST — the outlier-vector filter of a
    // training-data pipeline (mislabeled, corrupt, or out-of-domain
    // embeddings sit far from every centroid): per vector the exact
    // micro-L2 to its trained-IVF centroid, then the global top-10
    // most-distant vectors — the review queue a human (or a stricter
    // model) audits before the batch ships. The dual of
    // ss_diversity_sample's per-cell medoid (min dm): same trained
    // codebook, same engine-exact integer distances, opposite tail.
    // Scale: distances are one broadcast join + aggregation; the
    // top-10 is a TakeOrderedAndProject bounded heap, and the rank
    // window runs inside the 10-row frame.
    "ss_ood_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val (cents, _, _) = trainedIvf(s, dir)
      val dist = l2VecDist(cachedKmDims(s, dir), cents).localCheckpoint(false)
      val best = dist.groupBy("vec_id").agg(min(col("dm")).as("dm"))
      val asg = dist.join(best, Seq("vec_id", "dm"))
        .groupBy("vec_id", "dm").agg(min(col("cent_id")).as("cent_id"))
      asg.orderBy(col("dm").desc, col("vec_id").asc).limit(10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("dm").desc, col("vec_id").asc)).cast("int"))
        .select("rk", "vec_id", "cent_id", "dm")
        .orderBy("rk")
    }),

    "ss_train_distortion" -> ((s, dir) => {
      val dims = kmDims(s, dir).localCheckpoint(false)
      val seed = dims.filter(col("vec_id") < PipelineQueries.NumCentroids)
        .select(col("vec_id").as("cent_id"), col("dim"), col("x").as("c"))
      def ivfObj(cents: DataFrame, stage: String) =
        l2VecDist(dims, cents)
          .groupBy("vec_id").agg(min(col("dm")).as("dm"))
          .agg(sum(col("dm")).as("sum_dist_micro"), count(lit(1)).as("n_vec"))
          .select(lit("ivf").as("codebook"), lit(stage).as("stage"),
            col("sum_dist_micro"), col("n_vec"))
      val pdims = pqDims(s, dir)
      def pqObj(cb: DataFrame, stage: String) =
        pqDistOf(pdims, cb)
          .groupBy("vec_id", "s").agg(min(col("dist_micro")).as("dm"))
          .agg(sum(col("dm")).as("sum_dist_micro"), count(lit(1)).as("n_vec"))
          .select(lit("pq").as("codebook"), lit(stage).as("stage"),
            col("sum_dist_micro"), col("n_vec"))
      // trained legs reuse the session's build-once artifacts (the
      // dedicated train queries measure the build; this one reports
      // the objective)
      ivfObj(seed, "seed")
        .unionAll(ivfObj(trainedIvf(s, dir)._1, "trained"))
        .unionAll(pqObj(pqSeedCb(pdims), "seed"))
        .unionAll(pqObj(pqParts(s, dir)._3, "trained"))
        .orderBy("codebook", "stage")
    }),

    // OPQ-style eigen-allocation (Ge et al. 2013 §4's non-parametric
    // init, variance-profile form): PQ quantizes each subspace with
    // the same code budget, so subspaces should carry BALANCED
    // variance — the naive contiguous split (dims 0-7 → subspace 0, …)
    // inherits whatever variance ordering the embedding model emitted.
    // Rank dims by variance and deal them to subspaces in snake order
    // (r → r%16 going down, 15-r%16 coming back), the standard
    // balanced-allocation heuristic. Output: per-(layout, subspace)
    // variance totals for both layouts — the dispersion drop IS the
    // technique's effect. All exact: per-dim variance as the integer
    // n·Σx²−(Σx)² over floor(x·10⁴) micro-coordinates (longs can't
    // overflow: |xi|≤10⁴ ⇒ n·Σxi² ≤ 7·10¹⁴ at sf0.1); ranking and the
    // snake run over a d-row frame (the only windows anywhere, bounded
    // by the embedding width, never by corpus size). At 100 TB only
    // the variance aggregation touches data — one map-side-combined
    // shuffle to a d-row frame; the allocation itself is metadata.
    "ss_pq_eigenalloc" -> ((s, dir) => {
      val stats = Tables.embeddings(s, dir)
        .select(posexplode(toDouble(col("embedding"))).as(Seq("d", "x")))
        .select(col("d"), floor(col("x") * lit(10000.0)).cast("long").as("xi"))
        .groupBy("d")
        .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"),
          sum(col("xi") * col("xi")).as("sxx"))
        .withColumn("var_scaled", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("r",
          row_number().over(Window.orderBy(col("var_scaled").desc, col("d"))) - 1)
      val contiguous = stats.select(lit("contiguous").as("layout"),
        expr("CAST(d DIV 8 AS INT)").as("s"), col("var_scaled"))
      val eigen = stats.select(lit("eigenalloc").as("layout"),
        expr("CAST(IF(r % 16 < 8, r % 16, 15 - r % 16) AS INT)").as("s"),
        col("var_scaled"))
      contiguous.unionAll(eigen)
        .groupBy("layout", "s")
        .agg(sum(col("var_scaled")).as("sum_var"), count(lit(1)).as("n_dims"))
        .orderBy("layout", "s")
    }),

    // Int8 scalar quantization of the embedding table — the 4× memory
    // cut every serving/ANN index takes before anything fancier (PQ is
    // this per-subspace): per-dimension global [min, max] (one
    // aggregation to a d-row frame, broadcast back), each coordinate
    // mapped to a 0..255 code, reconstruction error accounted exactly
    // as nano-integer sums (order-free, so the per-vector report is
    // bit-identical across engines — the micro-integer trick from
    // ss_kmeans_step). Per vector: dims, total |x − dequant(code)|,
    // code range. At 100 TB the stats frame is still d rows and the
    // quantize pass is narrow — one scan, one broadcast join.
    "ss_quantize_int8" -> ((s, dir) => {
      val x = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"), col("x"))
      val st = x.groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      x.join(broadcast(st), "dim")
        .withColumn("code",
          when(col("mx") === col("mn"), lit(0))
            .otherwise(round((col("x") - col("mn")) * 255 / (col("mx") - col("mn")))
              .cast("int")))
        .withColumn("err_nano",
          floor(abs(col("x") - (col("mn") + col("code") * (col("mx") - col("mn")) / 255))
            * lit(1000000000.0)).cast("long"))
        .groupBy("vec_id")
        .agg(
          count(lit(1)).cast("int").as("n_dims"),
          sum(col("err_nano")).as("sum_err_nano"),
          min(col("code")).as("min_code"),
          max(col("code")).as("max_code"))
        .orderBy("vec_id")
    }),

    // Binary quantization search — the most aggressive embedding
    // compression in production retrieval (a 64-dim float vector
    // becomes 64 SIGN BITS = 8 bytes, a 32× shrink): per vector, two
    // packed BIGINT halves (dims 1-32 / 33-64, MSB-first within each
    // half — integer-exact on both engines, and two halves avoid the
    // 2⁶³ sign-bit overflow a single 64-bit pack would hit); search =
    // a Hamming-distance scan (popcount of XOR — the CPU-friendly
    // 8-byte pass that makes binary codes the first-stage filter at
    // billion-vector scale), shortlist the 30 nearest codes, then
    // exact-cosine rerank of the shortlist to top-3. Everything
    // cross-engine-exact: bit packing and popcount are integer ops,
    // the rerank is the standard rounded cosine. At 100 TB the code
    // table is 8 bytes/vector (fits node memory where floats don't),
    // queries broadcast, and the rerank touches only Q×30 vectors.
    "ss_binary_quant" -> ((s, dir) =>
      binaryQuantTop3(s, dir)
        .select("query_id", "cand_id", "hamming", "score", "rk")
        .orderBy("query_id", "rk")),

    // The evaluation harness the binary leg needs before anyone trusts
    // it (sign-bit codes are the lossiest quantization in the suite):
    // per query, recall@3 of the Hamming-shortlist→rerank path against
    // exact-cosine brute force. MEASURED, not asserted — the same
    // doctrine as ss_ivf_recall/ss_pq_recall. Both legs share the
    // broadcast query set; the exact leg is the one corpus-sized scan.
    "ss_binary_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val q = broadcast(v.filter(col("vec_id") >= 100 && col("vec_id") < 105)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qnrm")))
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val exact = v.join(q, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          round(dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 4)
            .as("score"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select("query_id", "cand_id")
      val binary = binaryQuantTop3(s, dir).select("query_id", "cand_id")
      exact.as("e")
        .join(binary.as("b"),
          col("e.query_id") === col("b.query_id") &&
            col("e.cand_id") === col("b.cand_id"), "left")
        .groupBy(col("e.query_id").as("query_id"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("b.cand_id").isNotNull, 1L).otherwise(0L))
            .as("n_hits"))
        .withColumn("recall4",
          round(col("n_hits").cast("double") / col("n_true"), 4))
        .orderBy("query_id")
    }),

    // PQ encode — the index-build half of IVF-PQ (the memory-bound
    // ANN standard: a 64-dim float vector compresses to 8 one-byte
    // codes): per (vector, subspace), the nearest codebook centroid
    // by exact micro-integer squared L2, plus the quantization
    // distortion the code costs. One narrow explode + one broadcast
    // join + two aggregations; at 100 TB codebooks are always
    // broadcast-scale (k·d floats) and the encode is a map pass.
    "ss_pq_encode" -> ((s, dir) => {
      val (_, codes, _) = pqParts(s, dir)
      codes.orderBy("vec_id", "s")
    }),

    // PQ asymmetric-distance search (ADC): the query keeps its exact
    // subvectors; every candidate is scored from its CODES via the
    // query's precomputed (subspace, centroid) distance table —
    // distance = Σ_s table[s][code_s], additive in exact micro-ints.
    // The table (queries × subspaces × centroids, here 320 rows)
    // broadcasts; candidates never decompress. This is why PQ search
    // touches bytes-per-vector instead of floats-per-vector at scale.
    "ss_pq_adc" -> ((s, dir) => adcTop5(s, dir).orderBy("query_id", "rk")),

    // IVF-PQ search — the full production ANN plan, composed from the
    // pieces above: the IVF coarse quantizer routes each query to ONE
    // cell (at 100 TB, one physical partition read), and within the
    // cell candidates are scored by PQ asymmetric distance from their
    // codes — never decompressed. nprobe and the PQ byte budget are
    // the two dials; recall is what ss_ann_recall-style harnesses
    // measure against the exact path.
    "ss_ivfpq_search" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = trainedIvf(s, dir)._2
      val (dist, codes, _) = pqParts(s, dir)
      val q = cells.filter(col("vec_id") >= 100 && col("vec_id") < 105)
        .select(col("vec_id").as("query_id"), col("cent_id").as("qcell"))
      val qdist = dist.filter(col("vec_id") >= 100 && col("vec_id") < 105)
        .select(col("vec_id").as("query_id"), col("cent_id"), col("s"),
          col("dist_micro"))
      val inCell = cells.as("c")
        .join(broadcast(q), col("c.cent_id") === col("qcell") &&
          col("c.vec_id") =!= col("query_id"))
        .select(col("query_id"), col("c.vec_id").as("cand_id"))
      val scored = inCell
        .join(codes.select(col("vec_id").as("cand_id"), col("s").as("ks"),
          col("code")), "cand_id")
        .join(broadcast(qdist).as("qd"),
          col("qd.query_id") === inCell("query_id") &&
            col("qd.cent_id") === col("code") && col("qd.s") === col("ks"))
        .groupBy(inCell("query_id"), col("cand_id"))
        .agg(sum(col("dist_micro")).as("adc_micro"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_micro").asc, col("cand_id").asc)
      scored.withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 3)
        .orderBy("query_id", "rk")
    }),

    // PQ evaluation harness — recall@5 of ADC ranking against EXACT
    // squared-L2 ranking (both in order-free micro-integers, so the
    // report is engine-exact): how much the 8-byte codes cost in
    // ranking quality, per query. The number the PQ byte budget
    // (subspace count × codebook size) is tuned against — the PQ
    // sibling of ss_ann_recall and dd_lsh_recall. With the round-6
    // stand-in codebook (first 8 vectors' subvectors) the honest
    // answer was 0–0.2 at sf0.01; the trained codebooks (ss_pq_train,
    // PqTrainRounds Lloyd rounds) are what this harness was built to
    // measure — recall moves with codebook quality, exactly the dial
    // a production index tunes until this report clears the target.
    "ss_pq_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dims = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("p", "x")))
      val qd = dims.filter(col("vec_id") >= 100 && col("vec_id") < 105)
        .select(col("vec_id").as("query_id"), col("p"), col("x").as("qx"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("l2_micro").asc, col("cand_id").asc)
      val exact = dims.join(broadcast(qd), "p")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          floor((col("x") - col("qx")) * (col("x") - col("qx"))
            * lit(1000000000000.0)).cast("long").as("dm"))
        .groupBy("query_id", "cand_id")
        .agg(sum(col("dm")).as("l2_micro"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("query_id", "cand_id")
      val adc = adcTop5(s, dir).select("query_id", "cand_id")
      val hits = exact.join(adc, Seq("query_id", "cand_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_true"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall4",
          round(col("n_hits").cast("double") / col("n_true"), 4))
        .orderBy("query_id")
    }),

    // Exact covariance matrix of the embedding table — the PCA /
    // whitening / OPQ-rotation precursor every serious vector index
    // trains from. Upper triangle only (d·(d+1)/2 = 2080 cells at
    // d=64); cross-products and sums accumulate as micro-integers so
    // the matrix is engine-exact, with the rounded covariance derived
    // from exact pieces by an identical op tree on both sides. Scale
    // shape: the per-row d²/2 product explosion is absorbed by the
    // map-side partial aggregate — the shuffle carries only
    // 2080 × partitions rows, and the d-row mean frame broadcasts.
    // (The N·d²/2 multiply count is inherent to covariance itself.)
    "ss_embed_cov" -> ((s, dir) => covFrame(s, dir).orderBy("i", "j")),

    // EMBEDDING DRIFT — pipe_drift_psi's vector-space sibling: did the
    // embedding distribution move between snapshots? Per dimension,
    // the mean over the reference md5-half vs the current half as
    // exact micro-integers (per-row floor(x·10⁶), order-free long
    // sums, truncating mean division identical on both engines) and
    // the absolute shift — the monitoring gate an ANN index rebuild
    // or encoder swap runs before re-training codebooks, since IVF
    // cells and PQ codebooks silently degrade when the distribution
    // walks. One explode into a (dim × half) map-side-combined
    // aggregation; the 64-row pivot and shift arithmetic run on the
    // model frame. Output: per-dim counts, both means, shift_micro.
    "ss_embed_drift" -> ((s, dir) => {
      val half = when(substring(md5(col("vec_id").cast("string")), 1, 1) < "8",
        "ref").otherwise("cur")
      val agg = cachedKmDims(s, dir)
        .select(col("dim"), half.as("half"),
          floor(col("x") * lit(1000000.0)).cast("long").as("xm"))
        .groupBy("dim", "half")
        .agg(count(lit(1)).as("n"), sum(col("xm")).as("sm"))
      agg.groupBy("dim").agg(
          sum(when(col("half") === "ref", col("n")).otherwise(0L)).as("n_ref"),
          sum(when(col("half") === "cur", col("n")).otherwise(0L)).as("n_cur"),
          sum(when(col("half") === "ref", col("sm")).otherwise(0L)).as("s_ref"),
          sum(when(col("half") === "cur", col("sm")).otherwise(0L)).as("s_cur"))
        .select(col("dim"), col("n_ref"), col("n_cur"),
          expr("s_ref DIV n_ref").as("m_ref_micro"),
          expr("s_cur DIV n_cur").as("m_cur_micro"))
        .withColumn("shift_micro", abs(col("m_cur_micro") - col("m_ref_micro")))
        .orderBy("dim")
    }),

    // Power iteration on the exact covariance matrix — the top
    // principal component, i.e. the OPQ-rotation / whitening precursor
    // ss_embed_cov was built to feed. PowerRounds fixed matrix-vector
    // rounds over the broadcast-scale symmetrized matrix (d² = 4096
    // cells), everything engine-exact: the matrix quantizes to 1e8
    // micro-integers, the vector to 1e6, so each product sum is an
    // order-free long (≤ 64·1e14 ≪ 2⁶³ and ≪ 2⁵³ for the exact double
    // cast); normalization squares/divides through identical op trees
    // on both engines, then re-quantizes. Sign and convergence are
    // deterministic because every round is bit-equal. Output: the
    // final component (dim, vm at 1e6 scale) plus the dominant
    // eigenvalue estimate ‖Cv‖ (Rayleigh at a normalized v). At
    // 100 TB only covFrame touches data; the iteration runs on d²
    // rows regardless of corpus size.
    "ss_pca_power" -> ((s, dir) => {
      powerLoop(covMicro(s, dir))
        .select(col("dim"),
          col("vm"),
          floor(col("nrm") * lit(1000000.0)).cast("long").as("lambda_micro"))
        .orderBy("dim")
    }),

    // Top TWO principal components by deflation: after the power loop
    // converges on v₁/λ₁, subtract the rank-1 term λ₁·v₁v₁ᵀ from the
    // micro-integer matrix (the deflation product vmᵢ·vmⱼ ≤ 10¹² stays
    // an exact long, and λ₁ multiplies through the same op tree on
    // both engines before one floor), run the identical loop on the
    // deflated matrix, then one Gram–Schmidt re-orthogonalization —
    // standard alongside deflation, because with a small eigengap the
    // fixed-round v₁ estimate is imperfect and M₂ retains a residual
    // v₁ component; the projection coefficient v₁·v₂ is an exact long
    // at 1e12 scale, so the corrected component is engine-exact too.
    // Output: both components + eigenvalue estimates — the 2-dim
    // rotation/whitening basis. Like ss_pca_power, only the covariance
    // pass touches data; both loops run on d² broadcast-scale cells.
    "ss_pca_top2" -> ((s, dir) => {
      val m = covMicro(s, dir)
      val v1 = powerLoop(m)
      val m2 = m
        .join(broadcast(v1.select(col("dim").as("i"), col("vm").as("vi"),
          col("nrm"))), "i")
        .join(broadcast(v1.select(col("dim").as("j"), col("vm").as("vj"))), "j")
        .select(col("i"), col("j"),
          (col("cm") - floor(col("nrm") * (col("vi") * col("vj")).cast("double")
            / lit(10000.0)).cast("long")).as("cm"))
        .localCheckpoint(false)
      val v2r = powerLoop(m2)
      // Gram–Schmidt: v2 := normalize(v2r − (v1·v2r) v1), micro-exact
      val d12 = v1.as("a")
        .join(v2r.as("b"), col("a.dim") === col("b.dim"))
        .agg(sum(col("a.vm") * col("b.vm")).as("dt"))
      val gd = v2r
        .join(broadcast(v1.select(col("dim"), col("vm").as("vm1"))), "dim")
        .crossJoin(broadcast(d12))
        .select(col("dim"),
          ((col("vm").cast("double")
            - col("dt").cast("double") / lit(1000000000000.0) * col("vm1").cast("double"))
            / lit(1000000.0)).as("d"), col("nrm"))
        .localCheckpoint(false)
      val gn = gd.agg(sum(floor(col("d") * col("d") * lit(1000000000000.0))
          .cast("long")).as("nsq"))
        .select(sqrt(col("nsq").cast("double") / lit(1000000000000.0)).as("gnrm"))
      val v2 = gd.crossJoin(broadcast(gn))
        .select(col("dim"),
          floor(col("d") / col("gnrm") * lit(1000000.0)).cast("long").as("vm"),
          col("nrm"))
      def leg(v: DataFrame, c: Int) =
        v.select(lit(c).as("comp"), col("dim"), col("vm"),
          floor(col("nrm") * lit(1000000.0)).cast("long").as("lambda_micro"))
      leg(v1, 1).unionAll(leg(v2, 2)).orderBy("comp", "dim")
    }),

    // MATRYOSHKA (prefix-dimension) retrieval — the modern MRL
    // recipe's serving dial: embeddings trained so every prefix is
    // itself a usable embedding let an index store/scan only the
    // first 16 or 32 of 64 dims (a 4×/2× memory-and-bandwidth cut,
    // the coarse pass of adaptive retrieval). This harness measures
    // what that truncation costs ON THIS CORPUS: recall@5 of the
    // 16- and 32-dim-prefix exact rankings against the full-64 exact
    // ranking, per query — same micro-integer per-dimension floors as
    // ss_pq_recall, so every distance is an order-free long and the
    // report is engine-exact. (On these near-random synthetic
    // embeddings recall is the honest dimensional-collapse answer,
    // not an MRL advertisement — the harness is the dial.) Scale: the
    // 5-query frame broadcasts; each leg is one linear corpus pass
    // into the bounded-heap top-5 per query, and the prefix legs scan
    // a quarter/half of the dimension stream — the cost model IS the
    // point.
    "ss_matryoshka_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dims = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("p", "x")))
      val qd = dims.filter(col("vec_id") >= 100 && col("vec_id") < 105)
        .select(col("vec_id").as("query_id"), col("p"), col("x").as("qx"))
      def top5(maxDim: Int): DataFrame = {
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("l2_micro").asc, col("cand_id").asc)
        dims.filter(col("p") < maxDim)
          .join(broadcast(qd.filter(col("p") < maxDim)), "p")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("cand_id"),
            floor((col("x") - col("qx")) * (col("x") - col("qx"))
              * lit(1000000000000.0)).cast("long").as("dm"))
          .groupBy("query_id", "cand_id")
          .agg(sum(col("dm")).as("l2_micro"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select("query_id", "cand_id")
      }
      val exact = top5(64).localCheckpoint(false)
      def leg(prefix: Int): DataFrame = {
        val hits = exact.join(top5(prefix), Seq("query_id", "cand_id"),
            "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        exact.groupBy("query_id").agg(count(lit(1)).as("n_true"))
          .join(hits, Seq("query_id"), "left")
          .select(lit(prefix).as("dims"), col("query_id"), col("n_true"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
          .withColumn("recall4",
            round(col("n_hits").cast("double") / col("n_true"), 4))
      }
      leg(16).unionAll(leg(32)).orderBy("dims", "query_id")
    }),

    // RANGE SEARCH — every candidate within a cosine RADIUS (τ =
    // RangeTau) of each query, the "give me everything similar
    // enough" read (near-dup sweeps, recall-oriented retrieval)
    // where top-k's fixed k under- or over-shoots per query. The
    // scale path is the trained ⌈√n⌉-cell IVF with a CONE BOUND that
    // is EXACT, not recall-based: anchoring each cell at its
    // min-vec_id member a, any member x obeys θ(q,x) ≥ θ(q,a) −
    // θmax(a), so cos(q,x) ≤ cos(θqa)·cos(θmax) + sin·sin — a cell
    // whose bound falls below τ (minus a 1e-6 float margin; the
    // bound runs on UNROUNDED doubles, plan-side only) provably
    // contains no result and is never scanned. The DuckDB oracle is
    // the BRUTE-FORCE range scan, so the correctness gate is a
    // soundness proof of the pruning: one vector pruned wrongly and
    // the row goes red. Honesty note: this synthetic corpus is
    // near-isotropic (query cosines top out ≈0.45), so cells are
    // wide (min member-anchor cosine ≈ 0) and the bound keeps ~every
    // cell — measured prune power lives in SimilarityRangeSpec's
    // clustered fixture, where the same code path drops most cells;
    // here the gate proves soundness, the spec proves the prune
    // fires. sin² via greatest(0, 1−c²): IEEE dust at |c|≈1 must not
    // NaN the bound.
    "ss_ivf_range" -> ((s, dir) => {
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val av = v.join(sqrtIvfAssignment(s, dir), "vec_id")
      rangeSearch(av, NumQueries, RangeTau)
    }),

    // CLUSTERED-FIXTURE RANGE SEARCH (round-11 verdict #2) — the
    // prune-POWER proof through the driver gate, not only ScalaTest:
    // ss_ivf_range above is a soundness proof (the isotropic corpus
    // keeps ~every cell), so this row runs the SAME rangeSearch code
    // path over a deterministic mixture-of-cones fixture — 8 tight
    // cones on the orthogonal axes of R⁸, md5-nibble perturbations
    // (cross-engine byte-equivalent: Spark conv(substring(md5)) =
    // DuckDB strpos positional decode), one query per cone — where a
    // firing cone bound keeps exactly the query's own cell. The
    // require makes prune power FAIL-LOUD in the gate: if the bound
    // ever degrades to keep-everything the row errors before
    // returning rows, and the DuckDB oracle is the brute-force scan
    // of the same fixture, so one wrongly-pruned vector still reds
    // the row. Integer-valued doubles keep every dot product exact
    // (≤8·(10⁶+255)² << 2⁵³); norms/divisions are IEEE
    // correctly-rounded on both engines.
    "ss_ivf_range_clustered" -> ((s, dir) => {
      val av = clusteredConeFixture(s).localCheckpoint(false)
      val kept = rangeProbes(av, ClusteredCones.toLong, ClusteredTau).count()
      require(kept >= ClusteredCones,
        s"cone bound unsound on the fixture: a query lost its own cell " +
          s"($kept probes < $ClusteredCones)")
      require(kept < ClusteredCones.toLong * ClusteredCones / 2,
        s"prune never fired: $kept of ${ClusteredCones * ClusteredCones} " +
          "(query, cell) probes survived the cone bound on a fixture " +
          "built to separate them")
      rangeSearch(av, ClusteredCones.toLong, ClusteredTau)
    }),

    // GREEDY GRAPH DESCENT (round 12) — the NSW/HNSW layer-0 SERVING
    // shape the graph rows so far only build: route each query to its
    // trained IVF cell (the coarse hop of a hierarchical index), start
    // at the cell's min-id member, and greedily hop the in-cell kNN
    // graph — always to the neighbor with the best rounded cosine to
    // the query, moving only on STRICT improvement (ties can't cycle),
    // [[WalkHops]] bounded steps unrolled identically on both engines.
    // Per query: where the walk LANDED, the cosine there, and how many
    // hops it took — local optima of the sparse k=3 graph are the
    // honest output (that IS greedy search's failure mode; beam width
    // / ef is the production dial, hops here). Scale shape: the walk
    // frame is query-count-sized, each hop one broadcast-scale join
    // against the O(n^1.5) edge list partitioned by cell — at 100 TB
    // the per-hop lookup is the index-serving read, not a corpus scan.
    "ss_greedy_walk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val edges = ivfKnnEdges(s, dir, 3).localCheckpoint(false)
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val av = v.join(sqrtIvfAssignment(s, dir), "vec_id")
        .localCheckpoint(false)
      val q = av.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qnrm"), col("cent_id"))
      val entry = q.select("query_id", "cent_id")
        .join(av.select(col("cent_id"), col("vec_id").as("m")), "cent_id")
        .filter(col("m") =!= col("query_id"))
        .groupBy("query_id").agg(min(col("m")).as("cur"))
      val start = q.join(entry, "query_id")
        .join(av.select(col("vec_id").as("cur"), col("e").as("ce"),
          col("nrm").as("cnrm")), "cur")
        .select(col("query_id"), col("qe"), col("qnrm"), col("cur"),
          round(dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm")), 4)
            .as("cur_cos"))
        .withColumn("hops", lit(0L))
      def hop(st: DataFrame): DataFrame = {
        val nb = st.join(edges, st("cur") === edges("src"))
          .filter(col("nbr") =!= col("query_id"))
          .join(av.select(col("vec_id").as("nbr"), col("e").as("ne"),
            col("nrm").as("nnrm")), "nbr")
          .withColumn("ncos",
            round(dot(col("qe"), col("ne")) / (col("qnrm") * col("nnrm")), 4))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("ncos").desc, col("nbr").asc)
        val best = nb.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("nbr").as("best_nbr"),
            col("ncos").as("best_cos"))
        st.join(best, Seq("query_id"), "left")
          .select(col("query_id"), col("qe"), col("qnrm"),
            when(col("best_cos") > col("cur_cos"), col("best_nbr"))
              .otherwise(col("cur")).as("cur"),
            when(col("best_cos") > col("cur_cos"), col("best_cos"))
              .otherwise(col("cur_cos")).as("cur_cos"),
            (col("hops") + when(col("best_cos") > col("cur_cos"), 1L)
              .otherwise(0L)).as("hops"))
      }
      Rounds.fixed(WalkHops, start)((st, _) => hop(st))
        .select(col("query_id"), col("cur").as("landed_id"),
          col("cur_cos").as("cos4"), col("hops"))
        .orderBy("query_id")
    }),

    // BEAM SEARCH over the same graph (round 12) — the ef dial
    // ss_greedy_walk's Scaladoc names as the production answer to its
    // local optima: keep the [[BeamWidth]] best candidates per query,
    // expand ALL their neighbors each step, re-rank the union, repeat
    // [[BeamSteps]] times — the frontier can climb out of a single
    // neighbor's dead end because three of them carry it. The beam is
    // monotone (top-B of a superset never loses its best member), and
    // every set operation is deterministic under the (cos desc,
    // vec_id asc) order. Output: the final ranked beam per query —
    // the served candidate list an HNSW reader hands to rerank. Same
    // serving-read scale shape as the greedy row: the frame is
    // (queries × beam)-sized, each step one join against the
    // cell-partitioned edge list.
    "ss_beam_walk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val edges = ivfKnnEdgesCached(s, dir, 3)
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
      val av = v.join(sqrtIvfAssignment(s, dir), "vec_id")
        .localCheckpoint(false)
      val q = av.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("nrm").as("qnrm"), col("cent_id"))
      val ent = q.select("query_id", "cent_id")
        .join(av.select(col("cent_id"), col("vec_id").as("m")), "cent_id")
        .filter(col("m") =!= col("query_id"))
        .groupBy("query_id").agg(min(col("m")).as("vec_id"))
      val beam0 = q.join(ent, "query_id")
        .join(av.select(col("vec_id"), col("e").as("ce"),
          col("nrm").as("cnrm")), "vec_id")
        .select(col("query_id"), col("qe"), col("qnrm"), col("vec_id"),
          round(dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm")), 4)
            .as("cos4"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos4").desc, col("vec_id").asc)
      def step(beam: DataFrame): DataFrame = {
        val exp = beam.join(edges, beam("vec_id") === edges("src"))
          .filter(col("nbr") =!= col("query_id"))
          .join(av.select(col("vec_id").as("nbr"), col("e").as("ne"),
            col("nrm").as("nnrm")), "nbr")
          .select(col("query_id"), col("qe"), col("qnrm"),
            col("nbr").as("vec_id"),
            round(dot(col("qe"), col("ne")) / (col("qnrm") * col("nnrm")), 4)
              .as("cos4"))
        beam.select("query_id", "qe", "qnrm", "vec_id", "cos4")
          .unionByName(exp)
          .dropDuplicates("query_id", "vec_id")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= BeamWidth)
          .drop("rn")
      }
      Rounds.fixed(BeamSteps, beam0)((b, _) => step(b))
        .withColumn("rank", row_number().over(w).cast("int"))
        .select(col("query_id"), col("rank"), col("vec_id"), col("cos4"))
        .orderBy("query_id", "rank")
    }),

    // SCANN ANISOTROPIC LOSS (Guo et al., ICML'20) — score-aware
    // quantization diagnostics: for MIPS/cosine serving, the PARALLEL
    // component of a vector's quantization residual (along the
    // vector's own direction x̂) perturbs EVERY query's score with it,
    // while the orthogonal component only hurts queries pointing
    // off-axis — so an anisotropic codebook deliberately trades
    // orthogonal error for parallel error (minimizing w·para² + orth²
    // with w > 1 instead of plain ‖r‖²). This row measures the split
    // the re-train would optimize: per coarse cell, the member count
    // and the two DECIMAL-summed squared components of r = x − c —
    // para = ⟨r, x⟩/‖x‖ expanded to (⟨x,x⟩ − ⟨c,x⟩)/‖x‖ so the row
    // costs exactly three fixed-order dot products, orth² = ‖r‖² −
    // para² by Pythagoras. Cross-engine float contract: identical op
    // trees of correctly-rounded IEEE ops (the cos4 argument), summed
    // through DECIMAL(18,4) so partial-aggregation order can't move
    // the total. Scale: assignment is the broadcast cross-join every
    // ss_ivf row rides; the only shuffle is the k-row cell aggregate.
    "ss_scann_loss" -> ((s, dir) => {
      val cents = Tables.embeddings(s, dir)
        .filter(col("vec_id") < PipelineQueries.NumCentroids)
        .select(col("vec_id").as("cent_id"),
          toDouble(col("embedding")).as("ce"))
      ivfAssigned(s, dir).join(broadcast(cents), "cent_id")
        .withColumn("dee", dot(col("e"), col("e")))
        .withColumn("dce", dot(col("ce"), col("e")))
        .withColumn("dcc", dot(col("ce"), col("ce")))
        .withColumn("para", (col("dee") - col("dce")) / col("nrm"))
        .withColumn("para2", col("para") * col("para"))
        .withColumn("orth2",
          col("dee") - lit(2.0) * col("dce") + col("dcc") - col("para2"))
        .groupBy("cent_id")
        .agg(count(lit(1)).as("n"),
          Agg.dsum(col("para2")).as("sum_para2"),
          Agg.dsum(col("orth2")).as("sum_orth2"))
        .orderBy("cent_id")
    }),

    // RESIDUAL-CODED PQ (round 12) — the production IVF-PQ detail
    // ss_ivfpq_search composes but does not exercise: FAISS-style
    // indexes quantize the RESIDUAL x − c(x) against the coarse
    // centroid, not x itself, because within-cell residuals have less
    // variance than raw vectors and the same byte budget buys less
    // distortion. This row trains a second codebook set on the
    // IVF-residuals (same 2-round Lloyd over 8 subspaces — pqBook,
    // generic over its vector arrays) and reports the trained total
    // distortion of BOTH codings plus the signed gain in ppm —
    // measured, not asserted (on near-isotropic
    // synthetic embeddings the win is modest; the row prices it
    // honestly, and the spec pins only the sign on this corpus).
    // Scale: the residual x − c is one broadcast-join pass over the
    // vector arrays; training cost is identical to ss_pq_train.
    "ss_pq_residual" -> ((s, dir) => {
      val (_, asg, book) = trainedIvf(s, dir)
      val rvecs = cachedVecs(s, dir).join(asg, "vec_id")
        .join(broadcast(Lloyd.arraysFrame(s, book)), "cent_id")
        .select(col("vec_id"), zip_with(col("e"), col("ce"), _ - _).as("e"))
        .localCheckpoint(false)
      val resTot = rvecs.select(inline(Lloyd.nearest(pqBook(rvecs))))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("dm")).as("res_dist_micro"))
      val (_, rawCodes, _) = pqParts(s, dir)
      val rawTot = rawCodes.agg(sum(col("dist_micro")).as("raw_dist_micro"))
      resTot.crossJoin(broadcast(rawTot))
        .withColumn("gain_ppm", expr(
          "CAST(CASE WHEN raw_dist_micro >= res_dist_micro THEN " +
            "((CAST(raw_dist_micro AS DECIMAL(38,0)) - res_dist_micro) * 1000000) " +
            "DIV raw_dist_micro " +
            "ELSE -(((CAST(res_dist_micro AS DECIMAL(38,0)) - raw_dist_micro) * 1000000) " +
            "DIV raw_dist_micro) " +
            "END AS BIGINT)"))
        .select("n_cells", "raw_dist_micro", "res_dist_micro", "gain_ppm")
    })
  )

  /** Bounded hop count of ss_greedy_walk — unrolled identically in the
    * DuckDB oracle's CTE chain.
    */
  val WalkHops = 6

  /** Beam width / step count of ss_beam_walk (the ef dial). */
  val BeamWidth = 3
  val BeamSteps = 4

  /** Mixture-of-cones embedding fixture for the clustered range row:
    * [[ClusteredVecs]] vectors in R⁸, vector i sits on axis i % 8
    * (component 10⁶) plus per-dimension noise from md5 nibble pairs
    * (0..255 — ~2.9·10⁻⁴ of the axis scale, so same-cone cosines are
    * ≈1 and cross-cone ≈0). cent_id = the cone by construction: the
    * row under test is the cone-bound PROBE math, not Lloyd training
    * (ss_ivf_search owns that). Deterministic by the md5 doctrine —
    * no RNG, identical bytes on both engines.
    */
  private val ClusteredVecs = 2048
  private val ClusteredCones = 8
  private val ClusteredTau = 0.9
  def clusteredConeFixture(s: SparkSession): DataFrame = {
    val e = array((0 until ClusteredCones).map { d =>
      (when(pmod(col("vec_id"), lit(ClusteredCones.toLong)) === d,
        lit(1000000L)).otherwise(lit(0L)) +
        expr(s"CAST(conv(substring(md5(CAST(vec_id AS STRING)), " +
          s"${2 * d + 1}, 2), 16, 10) AS BIGINT)")).cast("double")
    }: _*)
    s.range(ClusteredVecs.toLong).toDF("vec_id")
      .withColumn("cent_id", pmod(col("vec_id"), lit(ClusteredCones.toLong)))
      .withColumn("e", e)
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
  }

  /** The surviving (query, cell) probe frame of [[rangeSearch]] —
    * exposed so SimilarityRangeSpec can assert the prune branch
    * actually fires on a clustered fixture (this repo's isotropic
    * synthetic corpus keeps nearly every cell).
    */
  def rangeProbes(av: DataFrame, numQueries: Long, tau: Double): DataFrame = {
    val anchors = av.groupBy("cent_id").agg(min(col("vec_id")).as("vec_id"))
      .join(av.select("vec_id", "e", "nrm"), "vec_id")
      .select(col("cent_id"), col("e").as("ae"), col("nrm").as("anrm"))
    val cellStats = av.join(broadcast(anchors), "cent_id")
      .withColumn("cxa", dot(col("e"), col("ae")) / (col("nrm") * col("anrm")))
      .groupBy("cent_id").agg(min(col("cxa")).as("m"))
    val cells = anchors.join(cellStats, "cent_id")
    val q = av.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm"))
    q.crossJoin(broadcast(cells))
      .withColumn("cqa",
        dot(col("qe"), col("ae")) / (col("qnrm") * col("anrm")))
      .withColumn("bound",
        when(col("cqa") > col("m"), lit(1.0)) // θqa < θmax: no prune
          .otherwise(col("cqa") * col("m") +
            sqrt(greatest(lit(0.0), lit(1.0) - col("cqa") * col("cqa")) *
              greatest(lit(0.0), lit(1.0) - col("m") * col("m")))))
      // margin = 1e-4: the bound holds for TRUE cosines, but the
      // result filter runs on round(cos, 4) ≥ τ, which admits true
      // cosines down to τ − 5e-5 — a prune margin smaller than that
      // half-ulp could drop a vector the brute-force oracle keeps.
      // 1e-4 covers the rounding slack plus IEEE dust.
      .filter(col("bound") >= lit(tau - 1e-4))
      .select(col("query_id"), col("cent_id"), col("qe"), col("qnrm"))
  }

  /** Cosine-radius search over an assigned vector frame (vec_id, e,
    * nrm, cent_id) with exact cone-bound cell pruning — shared by
    * ss_ivf_range and the clustered-fixture prune spec.
    */
  def rangeSearch(av: DataFrame, numQueries: Long, tau: Double): DataFrame =
    rangeProbes(av, numQueries, tau).join(av, "cent_id")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos",
        round(dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 4))
      .filter(col("cos") >= tau)
      .select(col("query_id"), col("vec_id"), col("cos"))
      .orderBy(col("query_id"), col("cos").desc, col("vec_id"))

  /** Symmetrized micro-integer covariance matrix (i, j, cm at 1e8
    * scale), checkpointed — the frame both PCA legs iterate over.
    * Symmetrization is a struct-explode (one pass, and no self-union —
    * a Union of two branches of the same plan with swapped columns
    * trips Catalyst's constraint rewriting).
    */
  private def covMicro(s: SparkSession, dir: String): DataFrame = {
    val cov = covFrame(s, dir)
      .select(col("i"), col("j"),
        round(col("cov8") * lit(100000000.0)).cast("long").as("cm"))
    cov.select(explode(
        when(col("i") === col("j"),
          array(struct(col("i"), col("j"), col("cm"))))
        .otherwise(array(
          struct(col("i"), col("j"), col("cm")),
          struct(col("j").as("i"), col("i").as("j"), col("cm"))))).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.cm").as("cm"))
      .localCheckpoint(false)
  }

  /** [[PowerRounds]] fixed micro-integer matrix-vector rounds over a
    * symmetrized matrix frame (see ss_pca_power's comment for the
    * exactness argument), cut by [[Rounds]]. Returns (dim, vm, nrm):
    * the unit vector at 1e6 micro-scale and, on every row, ‖Mv‖ of the
    * last round — the eigenvalue estimate at a normalized v.
    */
  private def powerLoop(m: DataFrame): DataFrame =
    Rounds.fixed(PowerRounds, m.select(col("i").as("dim")).distinct()
        .withColumn("vm", lit(125000L))) { (v, _) => // vm: 1/√64 at 1e6 micro-scale
      val p = m.join(v, col("j") === col("dim"))
        .select(col("i"), (col("cm") * col("vm")).as("pm"))
        .groupBy("i").agg(sum(col("pm")).as("sp"))
        .withColumn("d", col("sp").cast("double") / lit(1.0e14))
      val nrm = p.agg(sum(floor(col("d") * col("d") * lit(1000000000000.0))
          .cast("long")).as("nsq"))
        .select(sqrt(col("nsq").cast("double") / lit(1000000000000.0)).as("nrm"))
      p.crossJoin(broadcast(nrm))
        .select(col("i").as("dim"),
          floor(col("d") / col("nrm") * lit(1000000.0)).cast("long").as("vm"),
          col("nrm"))
    }

  /** Exact covariance pieces (i, j, n, sxy_micro, cov8) shared by
    * ss_embed_cov and ss_pca_power — see the ss_embed_cov comment for
    * the scale shape.
    */
  private def covFrame(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(toDouble(col("embedding"))).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("int").as("i"), col("x"))
    val stats = dims.groupBy("i").agg(
      sum(floor(col("x") * lit(1000000.0)).cast("long")).as("sx_micro"))
    val ss = dims.as("a")
      .join(dims.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
      .select(col("a.i").as("i"), col("b.i").as("j"),
        floor(col("a.x") * col("b.x") * lit(1000000000000.0)).cast("long").as("xy"))
      .groupBy("i", "j")
      .agg(sum(col("xy")).as("sxy_micro"), count(lit(1)).as("n"))
    ss
      .join(broadcast(stats.select(col("i"), col("sx_micro").as("sxi"))), "i")
      .join(broadcast(stats.select(col("i").as("j"), col("sx_micro").as("sxj"))), "j")
      .select(col("i"), col("j"), col("n"), col("sxy_micro"),
        round(
          col("sxy_micro").cast("double") / lit(1000000000000.0) / col("n")
            - (col("sxi").cast("double") / lit(1000000.0) / col("n"))
            * (col("sxj").cast("double") / lit(1000000.0) / col("n")), 8)
          .as("cov8"))
  }

  private val vSql = OracleSql.vectors

  /** DuckDB mirror of [[pqParts]] (1-based list index → 0-based dim):
    * subspace dims, the seed codebook pc0, [[PqTrainRounds]] unrolled
    * Lloyd rounds (pd/pa/pm/pc per round — dist, argmin assignment,
    * micro-integer means, coalesce re-center), then the final `dist` /
    * `codes` relations against the trained codebook pc{R}. The Spark
    * loop and this unrolled chain share every op tree, so all doubles
    * and micro-integers are bit-equal.
    */
  /** One PQ Lloyd chain — seed → [[PqTrainRounds]] rounds → trained
    * dist + codes — over a caller-supplied `d` relation body
    * (vec_id, s, j, x), every CTE name carrying prefix `q` so two
    * chains compose in one statement (ss_pq_residual runs the raw
    * and the IVF-residual chains side by side).
    */
  private def pqChainSql(q: String, dBody: String): String = {
    val head =
      s"""${q}d AS MATERIALIZED ($dBody),
         |${q}pc0 AS MATERIALIZED (SELECT vec_id AS cent_id, s, j, x AS c FROM ${q}d WHERE vec_id < 8)""".stripMargin
    val rounds = (1 to PqTrainRounds).map { r =>
      s"""${q}pd$r AS MATERIALIZED (
         |  SELECT d.vec_id, cent_id, d.s,
         |    CAST(sum(CAST(floor((d.x - p.c) * (d.x - p.c) * 1000000000000.0)
         |      AS BIGINT)) AS BIGINT) AS dm
         |  FROM ${q}d d JOIN ${q}pc${r - 1} p ON d.s = p.s AND d.j = p.j
         |  GROUP BY 1, 2, 3),
         |${q}pa$r AS MATERIALIZED (
         |  SELECT vec_id, s, cent_id FROM (
         |    SELECT vec_id, s, cent_id,
         |      row_number() OVER (PARTITION BY vec_id, s
         |        ORDER BY dm, cent_id) AS rn
         |    FROM ${q}pd$r) WHERE rn = 1),
         |${q}pm$r AS MATERIALIZED (
         |  SELECT a.cent_id, d.s, d.j,
         |    CAST(sum(CAST(floor(d.x * 1000000.0) AS BIGINT)) AS BIGINT) AS sm,
         |    count(*) AS n
         |  FROM ${q}d d JOIN ${q}pa$r a ON d.vec_id = a.vec_id AND d.s = a.s
         |  GROUP BY 1, 2, 3),
         |${q}pc$r AS MATERIALIZED (
         |  SELECT p.cent_id, p.s, p.j,
         |    COALESCE(CAST(m.sm AS DOUBLE) / m.n / CAST(1000000.0 AS DOUBLE), p.c) AS c
         |  FROM ${q}pc${r - 1} p LEFT JOIN ${q}pm$r m
         |    ON p.cent_id = m.cent_id AND p.s = m.s AND p.j = m.j)""".stripMargin
    }
    val fin =
      s"""${q}dist AS MATERIALIZED (
         |  SELECT d.vec_id, cent_id, d.s,
         |    CAST(sum(CAST(floor((d.x - p.c) * (d.x - p.c) * 1000000000000.0)
         |      AS BIGINT)) AS BIGINT) AS dist_micro
         |  FROM ${q}d d JOIN ${q}pc$PqTrainRounds p ON d.s = p.s AND d.j = p.j
         |  GROUP BY 1, 2, 3),
         |${q}codes AS MATERIALIZED (
         |  SELECT vec_id, s, cent_id AS code, dist_micro FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
         |      ORDER BY dist_micro, cent_id) AS rn
         |    FROM ${q}dist)
         |  WHERE rn = 1)""".stripMargin
    ((head +: rounds) :+ fin).mkString(",\n")
  }

  /** The raw-vector `d` reshape of [[pqChainSql]] — embeddings cut
    * into 8 subspaces of 8 dims.
    */
  private val pqRawDBody: String =
    """
      |  SELECT vec_id, CAST((i - 1) // 8 AS INT) AS s,
      |    CAST((i - 1) % 8 AS INT) AS j, e[i] AS x
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |       UNNEST(range(1, len(e) + 1)) AS u(i)""".stripMargin

  private val pqCtes: String = "WITH " + pqChainSql("", pqRawDBody)

  /** DuckDB mirror of [[coarseBook]]: cd = long-format dims, c0 =
    * the seed, then [[KmTrainRounds]] unrolled Lloyd rounds
    * (kd/ka/km/c per round). CTE names are disjoint from [[pqCtes]]'s
    * so the two chains compose in one WITH (ss_ivfpq_search).
    */
  private val lloydCtes: String =
    lloydCtesSeed(PipelineQueries.NumCentroids.toString)

  /** The Lloyd CTE chain with a caller-chosen seed-count SQL
    * expression (a literal, or a scalar subquery for data-derived
    * cell counts like ⌈√n⌉).
    */
  private def lloydCtesSeed(seedLimit: String): String = {
    val head =
      s"""cd AS MATERIALIZED (
         |  SELECT vec_id, CAST(i AS INT) AS dim, e[i] AS x
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |       UNNEST(range(1, len(e) + 1)) AS u(i)),
         |c0 AS MATERIALIZED (SELECT vec_id AS cent_id, dim, x AS c FROM cd
         |       WHERE vec_id < ($seedLimit))""".stripMargin
    val rounds = (1 to KmTrainRounds).map { r =>
      s"""kd$r AS MATERIALIZED (
         |  SELECT cd.vec_id, cent_id,
         |    CAST(sum(CAST(floor((cd.x - p.c) * (cd.x - p.c) * 1000000000000.0)
         |      AS BIGINT)) AS BIGINT) AS dm
         |  FROM cd JOIN c${r - 1} p ON cd.dim = p.dim
         |  GROUP BY 1, 2),
         |ka$r AS MATERIALIZED (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dm, cent_id) AS rn
         |    FROM kd$r) WHERE rn = 1),
         |km$r AS MATERIALIZED (
         |  SELECT cent_id, dim,
         |    CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sm,
         |    count(*) AS n
         |  FROM cd JOIN ka$r USING (vec_id) GROUP BY 1, 2),
         |c$r AS MATERIALIZED (
         |  SELECT p.cent_id, p.dim,
         |    COALESCE(CAST(m.sm AS DOUBLE) / m.n / CAST(1000000.0 AS DOUBLE), p.c) AS c
         |  FROM c${r - 1} p LEFT JOIN km$r m
         |    ON p.cent_id = m.cent_id AND p.dim = m.dim)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** [[lloydCtes]] plus the assignment of EVERY vector to the trained
    * centroids (ad/asg) — the DuckDB mirror of
    * `Lloyd.assign(vecs, coarseBook(vecs))`.
    */
  private val trainedAssignAsgn: String =
    s"""ad AS MATERIALIZED (
       |  SELECT cd.vec_id, cent_id,
       |    CAST(sum(CAST(floor((cd.x - p.c) * (cd.x - p.c) * 1000000000000.0)
       |      AS BIGINT)) AS BIGINT) AS dm
       |  FROM cd JOIN c$KmTrainRounds p ON cd.dim = p.dim
       |  GROUP BY 1, 2),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dm, cent_id) AS rn
       |    FROM ad) WHERE rn = 1)""".stripMargin

  private val trainedAssignCtes: String =
    s"$lloydCtes,\n$trainedAssignAsgn"

  /** The DELTA admission assignment in DuckDB (dd/add0/asgd): the
    * ss_ivf_admit delta — doc-id slice %10=3, re-keyed +10⁶, REVERSED
    * coordinates — through the exact micro-L2 argmin against the
    * FINAL trained centroids. Shared by the ss_ivf_admit census
    * oracle and the st_ivf_admit streaming dual.
    */
  private val deltaAsgdCtes: String =
    s"""dd AS (
       |  SELECT vec_id + 1000000 AS vec_id, CAST(i AS INT) AS dim,
       |    e[len(e) - i + 1] AS x
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |        WHERE vec_id % 10 = 3),
       |       UNNEST(range(1, len(e) + 1)) AS u(i)),
       |add0 AS (
       |  SELECT dd.vec_id, cent_id,
       |    CAST(sum(CAST(floor((dd.x - p.c) * (dd.x - p.c) * 1000000000000.0)
       |      AS BIGINT)) AS BIGINT) AS dm
       |  FROM dd JOIN c$KmTrainRounds p ON dd.dim = p.dim
       |  GROUP BY 1, 2),
       |asgd AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dm, cent_id) AS rn
       |    FROM add0) WHERE rn = 1)""".stripMargin

  /** The rebalance SPLIT chain in DuckDB (cells → worst → member
    * micro dims → max-spread midpoint → sides), shared by the
    * ss_ivf_rebalance census oracle and the ss_ivf_search_v2 serving
    * oracle. Expects asg/asgd/cd/dd in scope (trainedAssignCtes +
    * deltaAsgdCtes).
    */
  private val rebalanceSplitCtes: String =
    s"""bc AS (SELECT cent_id, count(*)::BIGINT AS n_base FROM asg GROUP BY 1),
       |dc AS (SELECT cent_id, count(*)::BIGINT AS n_delta FROM asgd GROUP BY 1),
       |cells AS (
       |  SELECT COALESCE(bc.cent_id, dc.cent_id) AS cent_id,
       |    COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_total
       |  FROM bc FULL OUTER JOIN dc ON bc.cent_id = dc.cent_id),
       |worst AS (
       |  SELECT cent_id FROM cells ORDER BY n_total DESC, cent_id ASC LIMIT 1),
       |mem AS MATERIALIZED (
       |  SELECT m.vec_id, m.dim, CAST(floor(m.x * 1000000.0) AS BIGINT) AS xm
       |  FROM (
       |    SELECT cd.vec_id, cd.dim, cd.x
       |    FROM cd JOIN asg USING (vec_id)
       |      JOIN worst ON asg.cent_id = worst.cent_id
       |    UNION ALL
       |    SELECT dd.vec_id, dd.dim, dd.x
       |    FROM dd JOIN asgd USING (vec_id)
       |      JOIN worst ON asgd.cent_id = worst.cent_id) m),
       |sd AS (
       |  SELECT dim, CAST(floor((mn + mx) / 2.0) AS BIGINT) AS mid FROM (
       |    SELECT dim, min(xm) AS mn, max(xm) AS mx FROM mem GROUP BY 1)
       |  ORDER BY mx - mn DESC, dim ASC LIMIT 1),
       |mxc AS (SELECT max(cent_id) AS mxc FROM c$KmTrainRounds),
       |sides AS (
       |  SELECT mem.vec_id,
       |    CASE WHEN xm <= mid THEN mxc + 1 ELSE mxc + 2 END AS cent_id
       |  FROM mem JOIN sd USING (dim), mxc)""".stripMargin

  /** st_ivf_admit's oracle: the per-vector admission record — the
    * batch dual of the streaming micro-batch admission (same delta,
    * same argmin, order-free), the established st_* contract.
    */
  private[graft] val streamAdmitSql: String =
    s"""WITH $lloydCtes,
       |$deltaAsgdCtes
       |SELECT vec_id, cent_id FROM asgd ORDER BY vec_id""".stripMargin

  /** The IVF single-probe search statement — shared verbatim by
    * ss_ivf_search and ss_ivf_persist_search (the persisted index is
    * deterministic, so both rows state the same semantics).
    */
  private val ivfSearchSql: String =
    s"""WITH $trainedAssignCtes,
       |v AS ($vSql),
       |av AS (SELECT v.vec_id, v.e, v.nrm, asg.cent_id
       |       FROM v JOIN asg USING (vec_id))
       |SELECT query_id, cand_id, score, CAST(rk AS INT) AS rk FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS score,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
       |               c.vec_id ASC) AS rk
       |  FROM (SELECT * FROM av WHERE vec_id >= 100 AND vec_id < 105) q
       |  JOIN av c ON q.cent_id = c.cent_id AND q.vec_id <> c.vec_id)
       |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  /** Trained assignment with cells = ⌈√n⌉, trained on the first-50·k
    * md5-order sample (the [[sqrtIvfAssignment]] mirror): training
    * rounds run over `cdt` (the sample), the final `ad`/`asg`
    * assignment over the full `cd`.
    */
  private val sqrtAssignCtes: String = {
    val head =
      s"""kk AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM embeddings),
         |cd AS MATERIALIZED (
         |  SELECT vec_id, CAST(i AS INT) AS dim, e[i] AS x
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |       UNNEST(range(1, len(e) + 1)) AS u(i)),
         |smp AS MATERIALIZED (
         |  SELECT vec_id, rn FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM embeddings)
         |  WHERE rn <= (SELECT k * $TrainSamplePerCell FROM kk)),
         |cdt AS MATERIALIZED (
         |  SELECT cd.vec_id, cd.dim, cd.x FROM cd JOIN smp USING (vec_id)),
         |c0 AS MATERIALIZED (
         |  SELECT cdt.vec_id AS cent_id, dim, x AS c
         |  FROM cdt JOIN smp USING (vec_id)
         |  WHERE smp.rn <= (SELECT k FROM kk))""".stripMargin
    val rounds = (1 to KmTrainRounds).map { r =>
      s"""kd$r AS MATERIALIZED (
         |  SELECT cdt.vec_id, cent_id,
         |    CAST(sum(CAST(floor((cdt.x - p.c) * (cdt.x - p.c) * 1000000000000.0)
         |      AS BIGINT)) AS BIGINT) AS dm
         |  FROM cdt JOIN c${r - 1} p ON cdt.dim = p.dim
         |  GROUP BY 1, 2),
         |ka$r AS MATERIALIZED (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dm, cent_id) AS rn
         |    FROM kd$r) WHERE rn = 1),
         |km$r AS MATERIALIZED (
         |  SELECT cent_id, dim,
         |    CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sm,
         |    count(*) AS n
         |  FROM cdt JOIN ka$r USING (vec_id) GROUP BY 1, 2),
         |c$r AS MATERIALIZED (
         |  SELECT p.cent_id, p.dim,
         |    COALESCE(CAST(m.sm AS DOUBLE) / m.n / CAST(1000000.0 AS DOUBLE), p.c) AS c
         |  FROM c${r - 1} p LEFT JOIN km$r m
         |    ON p.cent_id = m.cent_id AND p.dim = m.dim)""".stripMargin
    }
    ((head +: rounds) :+ trainedAssignAsgn).mkString(",\n")
  }

  /** DuckDB mirror of [[binaryQuantTop3]] as a CTE chain (no WITH
    * prefix): v (vectors + packed sign codes), q (query set), btop
    * (Hamming shortlist 30 → exact-cosine rerank with rk). Shared by
    * the search row and the recall harness.
    */
  private val binaryQuantCtes: String =
    """v AS (
      |  SELECT vec_id, e,
      |    sqrt(list_dot_product(e, e)) AS nrm,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN e[CAST(i AS INT)] >= 0
      |                THEN (1::BIGINT << (32 - CAST(i AS INT))) ELSE 0 END))
      |      AS BIGINT) AS code_hi,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN e[CAST(i AS INT)] >= 0
      |                THEN (1::BIGINT << (64 - CAST(i AS INT))) ELSE 0 END))
      |      AS BIGINT) AS code_lo
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)),
      |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qnrm,
      |        code_hi AS qhi, code_lo AS qlo
      |      FROM v WHERE vec_id >= 100 AND vec_id < 105),
      |bshort AS (
      |  SELECT query_id, cand_id, hamming, e, nrm, qe, qnrm FROM (
      |    SELECT q.query_id, v.vec_id AS cand_id, v.e, v.nrm, q.qe, q.qnrm,
      |      CAST(bit_count(xor(v.code_hi, q.qhi))
      |         + bit_count(xor(v.code_lo, q.qlo)) AS INT) AS hamming,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY CAST(bit_count(xor(v.code_hi, q.qhi))
      |               + bit_count(xor(v.code_lo, q.qlo)) AS INT) ASC,
      |                 v.vec_id ASC) AS hk
      |    FROM v JOIN q ON v.vec_id <> q.query_id)
      |  WHERE hk <= 30),
      |btop AS (
      |  SELECT query_id, cand_id, hamming,
      |    round(list_dot_product(qe, e) / (qnrm * nrm), 4) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(list_dot_product(qe, e) / (qnrm * nrm), 4) DESC,
      |               cand_id ASC) AS rk
      |  FROM bshort)""".stripMargin

  /** DuckDB mirror of [[ivfKnnEdges]]: the trained-assignment CTEs
    * plus `gv` (vectors), `gav` (vectors with trained cell), and
    * `knn0(src, nbr)` — per-vector top-`k` own-cell neighbors. No
    * WITH prefix, so callers can embed it in a WITH RECURSIVE chain.
    */
  def ivfKnnEdgesCtes(k: Int): String =
    s"""$sqrtAssignCtes,
       |gv AS MATERIALIZED ($vSql),
       |gav AS MATERIALIZED (
       |  SELECT gv.vec_id, gv.e, gv.nrm, asg.cent_id
       |  FROM gv JOIN asg USING (vec_id)),
       |knn0 AS MATERIALIZED (
       |  SELECT src, nbr FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS nbr,
       |      row_number() OVER (
       |        PARTITION BY a.vec_id
       |        ORDER BY round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) DESC,
       |                 b.vec_id ASC) AS rn
       |    FROM gav a JOIN gav b
       |      ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id)
       |  WHERE rn <= $k)""".stripMargin

  /** Shared CTE chain: vectors → broadcast centroids → IVF assignment
    * (DuckDB mirror of [[ivfAssigned]]).
    */
  private val assignedCtes =
    s"""WITH v AS ($vSql),
       |cents AS (SELECT vec_id AS cent_id, e AS ce, nrm AS cnrm
       |          FROM v WHERE vec_id < ${PipelineQueries.NumCentroids}),
       |assigned AS (
       |  SELECT vec_id, e, nrm, cent_id FROM (
       |    SELECT v.vec_id, v.e, v.nrm, cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(list_dot_product(e, ce) / (nrm * cnrm), 6) DESC,
       |                 cent_id ASC) AS ark
       |    FROM v CROSS JOIN cents)
       |  WHERE ark = 1)""".stripMargin

  /** The ranked top-K body (no WITH prefix) so it can sit inside a
    * larger CTE chain as well as stand alone in topkSql.
    */
  private def topkBodySql(joinCond: String) =
    s"""SELECT query_id, vec_id, cos, CAST(rn AS INT) AS rn FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS cos,
       |    row_number() OVER (
       |      PARTITION BY q.vec_id
       |      ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
       |               c.vec_id ASC) AS rn
       |  FROM (SELECT * FROM v WHERE vec_id < $NumQueries) q
       |  JOIN v c ON $joinCond)
       |WHERE rn <= $K""".stripMargin

  private def topkSql(joinCond: String) =
    s"""WITH v AS ($vSql)
       |${topkBodySql(joinCond)} ORDER BY query_id, rn""".stripMargin

  /** DuckDB mirror of [[covFrame]] as a CTE chain ending in `cov`. */
  private val covCtes: String =
    """d2 AS MATERIALIZED (
      |  SELECT vec_id, CAST(i AS INT) AS i, e[i] AS x
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |       UNNEST(range(1, len(e) + 1)) AS u(i)),
      |st AS MATERIALIZED (
      |  SELECT i,
      |    CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sx
      |  FROM d2 GROUP BY i),
      |pr AS MATERIALIZED (
      |  SELECT a.i AS i, b.i AS j,
      |    CAST(sum(CAST(floor(a.x * b.x * 1000000000000.0) AS BIGINT))
      |      AS BIGINT) AS sxy,
      |    count(*) AS n
      |  FROM d2 a JOIN d2 b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2),
      |cov AS MATERIALIZED (
      |  SELECT pr.i, pr.j, CAST(pr.n AS BIGINT) AS n, sxy AS sxy_micro,
      |    round(CAST(sxy AS DOUBLE) / 1000000000000.0 / pr.n
      |      - (CAST(si.sx AS DOUBLE) / 1000000.0 / pr.n)
      |      * (CAST(sj.sx AS DOUBLE) / 1000000.0 / pr.n), 8) AS cov8
      |  FROM pr
      |  JOIN st si ON pr.i = si.i
      |  JOIN st sj ON pr.j = sj.i)""".stripMargin

  /** DuckDB mirror of ss_pca_power's iteration: symmetrized
    * micro-integer matrix, uniform unit seed, [[PowerRounds]] unrolled
    * matrix-vector + normalize rounds (pp/pd/pn/pv per round) — every
    * op tree matches the Spark loop, so all longs and doubles are
    * bit-equal.
    */
  private val pcaCtes: String = {
    val head =
      """mm AS MATERIALIZED (
        |  SELECT i, j,
        |    CAST(round(cov8 * CAST(100000000.0 AS DOUBLE)) AS BIGINT) AS cm
        |  FROM cov
        |  UNION ALL
        |  SELECT j AS i, i AS j,
        |    CAST(round(cov8 * CAST(100000000.0 AS DOUBLE)) AS BIGINT) AS cm
        |  FROM cov WHERE i <> j),
        |pv0 AS MATERIALIZED (SELECT DISTINCT i AS dim, CAST(125000 AS BIGINT) AS vm FROM mm)""".stripMargin
    val rounds = (1 to PowerRounds).map { r =>
      s"""pp$r AS MATERIALIZED (
         |  SELECT mm.i, CAST(sum(mm.cm * v.vm) AS BIGINT) AS sp
         |  FROM mm JOIN pv${r - 1} v ON mm.j = v.dim GROUP BY mm.i),
         |pd$r AS MATERIALIZED (
         |  SELECT i, CAST(sp AS DOUBLE) / CAST(100000000000000.0 AS DOUBLE) AS d
         |  FROM pp$r),
         |pn$r AS MATERIALIZED (
         |  SELECT sqrt(CAST(CAST(sum(CAST(floor(d * d
         |      * CAST(1000000000000.0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / CAST(1000000000000.0 AS DOUBLE)) AS nrm
         |  FROM pd$r),
         |pv$r AS MATERIALIZED (
         |  SELECT i AS dim,
         |    CAST(floor(d / nrm * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS vm
         |  FROM pd$r, pn$r)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** DuckDB mirror of ss_pca_top2's second leg: rank-1 deflation of
    * the micro-integer matrix by the converged (pv, pn) pair, then the
    * same unrolled power rounds (qp/qd/qn/qv) over the deflated mm2.
    */
  private val pca2Ctes: String = {
    val R = PowerRounds
    val head =
      s"""mm2 AS MATERIALIZED (
         |  SELECT mm.i, mm.j,
         |    mm.cm - CAST(floor(pn$R.nrm * CAST(vi.vm * vj.vm AS DOUBLE)
         |      / CAST(10000.0 AS DOUBLE)) AS BIGINT) AS cm
         |  FROM mm
         |  JOIN pv$R vi ON mm.i = vi.dim
         |  JOIN pv$R vj ON mm.j = vj.dim, pn$R),
         |qv0 AS MATERIALIZED (SELECT DISTINCT i AS dim, CAST(125000 AS BIGINT) AS vm FROM mm2)""".stripMargin
    val rounds = (1 to R).map { r =>
      s"""qp$r AS MATERIALIZED (
         |  SELECT mm2.i, CAST(sum(mm2.cm * v.vm) AS BIGINT) AS sp
         |  FROM mm2 JOIN qv${r - 1} v ON mm2.j = v.dim GROUP BY mm2.i),
         |qd$r AS MATERIALIZED (
         |  SELECT i, CAST(sp AS DOUBLE) / CAST(100000000000000.0 AS DOUBLE) AS d
         |  FROM qp$r),
         |qn$r AS MATERIALIZED (
         |  SELECT sqrt(CAST(CAST(sum(CAST(floor(d * d
         |      * CAST(1000000000000.0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / CAST(1000000000000.0 AS DOUBLE)) AS nrm
         |  FROM qd$r),
         |qv$r AS MATERIALIZED (
         |  SELECT i AS dim,
         |    CAST(floor(d / nrm * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS vm
         |  FROM qd$r, qn$r)""".stripMargin
    }
    val gs =
      s"""gs AS MATERIALIZED (
         |  SELECT CAST(sum(a.vm * b.vm) AS BIGINT) AS dt
         |  FROM pv$R a JOIN qv$R b ON a.dim = b.dim),
         |gd AS MATERIALIZED (
         |  SELECT b.dim,
         |    (CAST(b.vm AS DOUBLE)
         |      - CAST(dt AS DOUBLE) / CAST(1000000000000.0 AS DOUBLE)
         |        * CAST(a.vm AS DOUBLE))
         |      / CAST(1000000.0 AS DOUBLE) AS d
         |  FROM qv$R b JOIN pv$R a ON b.dim = a.dim, gs),
         |gn AS MATERIALIZED (
         |  SELECT sqrt(CAST(CAST(sum(CAST(floor(d * d
         |      * CAST(1000000000000.0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / CAST(1000000000000.0 AS DOUBLE)) AS nrm
         |  FROM gd),
         |gv AS MATERIALIZED (
         |  SELECT dim,
         |    CAST(floor(d / nrm * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS vm
         |  FROM gd, gn)""".stripMargin
    ((head +: rounds) :+ gs).mkString(",\n")
  }

  val oracleSql: Map[String, String] = Map(
    "ss_ivf_occupancy" ->
      s"""WITH RECURSIVE $sqrtAssignCtes,
         |occ AS (SELECT cent_id, count(*)::BIGINT AS n
         |        FROM asg GROUP BY 1),
         |k AS (
         |  SELECT count(*)::BIGINT AS k_nonempty,
         |    CAST(sum(n) AS BIGINT) AS n_vec,
         |    CAST(min(n) AS BIGINT) AS occ_min,
         |    CAST(max(n) AS BIGINT) AS occ_max
         |  FROM occ)
         |SELECT k_nonempty, n_vec, occ_min, occ_max,
         |  CAST(CAST(n_vec AS HUGEINT) * 1000000 // k_nonempty
         |    AS BIGINT) AS occ_mean_micro,
         |  CAST(CAST(occ_max AS HUGEINT) * 1000000 * k_nonempty
         |    // n_vec AS BIGINT) AS skew_ppm
         |FROM k""".stripMargin,
    "ss_embed_drift" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(i AS INT) AS dim,
        |    CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
        |         THEN 'ref' ELSE 'cur' END AS half,
        |    CAST(floor(e[i] * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS xm
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |       UNNEST(range(1, len(e) + 1)) AS u(i)),
        |hs AS (
        |  SELECT dim, half, count(*)::BIGINT AS n,
        |    CAST(sum(xm) AS BIGINT) AS sm
        |  FROM dims GROUP BY 1, 2),
        |p AS (
        |  SELECT dim,
        |    CAST(sum(CASE WHEN half = 'ref' THEN n ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(sum(CASE WHEN half = 'cur' THEN n ELSE 0 END) AS BIGINT)
        |      AS n_cur,
        |    CAST(sum(CASE WHEN half = 'ref' THEN sm ELSE 0 END) AS BIGINT)
        |      AS s_ref,
        |    CAST(sum(CASE WHEN half = 'cur' THEN sm ELSE 0 END) AS BIGINT)
        |      AS s_cur
        |  FROM hs GROUP BY 1)
        |SELECT dim, n_ref, n_cur,
        |  s_ref // n_ref AS m_ref_micro,
        |  s_cur // n_cur AS m_cur_micro,
        |  abs(s_cur // n_cur - s_ref // n_ref) AS shift_micro
        |FROM p ORDER BY dim""".stripMargin,
    "ss_ood_topk" ->
      s"""WITH $trainedAssignCtes,
         |cell AS (
         |  SELECT a.vec_id, a.cent_id, ad.dm
         |  FROM asg a JOIN ad ON a.vec_id = ad.vec_id
         |    AND a.cent_id = ad.cent_id)
         |SELECT CAST(row_number() OVER (ORDER BY dm DESC, vec_id ASC) AS INT)
         |    AS rk,
         |  vec_id, cent_id, dm
         |FROM cell ORDER BY dm DESC, vec_id ASC LIMIT 10""".stripMargin,
    "ss_diversity_sample" ->
      s"""WITH $trainedAssignCtes,
         |cell AS MATERIALIZED (
         |  SELECT a.vec_id, a.cent_id, ad.dm
         |  FROM asg a JOIN ad ON a.vec_id = ad.vec_id
         |    AND a.cent_id = ad.cent_id),
         |best AS (SELECT cent_id, min(dm) AS dm FROM cell GROUP BY cent_id),
         |rep AS (
         |  SELECT c.cent_id, c.dm, min(c.vec_id) AS rep_vec
         |  FROM cell c JOIN best b ON c.cent_id = b.cent_id AND c.dm = b.dm
         |  GROUP BY c.cent_id, c.dm),
         |occ AS (SELECT cent_id, count(*) AS n_vectors FROM cell GROUP BY cent_id)
         |SELECT o.cent_id, o.n_vectors, r.rep_vec, r.dm AS rep_dm
         |FROM occ o JOIN rep r ON o.cent_id = r.cent_id
         |ORDER BY o.cent_id""".stripMargin,
    // Greedy MMR unrolled: per selection round, the argmax window runs
    // inside the ≤MmrPool-row per-query candidate frame; the rounded
    // score is the ORDER key on both engines (rounding can tie rels
    // that raw doubles would order, and the tie must break by cand
    // identically).
    "ss_mmr_rerank" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS e,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |q AS (SELECT * FROM v WHERE vec_id < $NumQueries),
         |cand AS (
         |  SELECT qid, cand, rel, ce, cnrm FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cand,
         |      round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS rel,
         |      c.e AS ce, c.nrm AS cnrm,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4)
         |          DESC, c.vec_id) AS rn
         |    FROM q JOIN v c ON c.vec_id <> q.vec_id)
         |  WHERE rn <= $MmrPool),
         |pairs AS (
         |  SELECT a.qid, a.cand, b.cand AS other,
         |    round(list_dot_product(a.ce, b.ce) / (a.cnrm * b.cnrm), 4) AS sim
         |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cand <> b.cand),
         |cb AS (SELECT qid, cand, rel,
         |         CAST(round(rel * 10000) AS BIGINT) AS rel_bp FROM cand),
         |s1 AS (
         |  SELECT qid, cand, rel, score_e5, 1 AS rk FROM (
         |    SELECT qid, cand, rel, 7 * rel_bp AS score_e5,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY 7 * rel_bp DESC, cand) AS rn
         |    FROM cb)
         |  WHERE rn = 1),
         |m2 AS (
         |  SELECT p.qid, p.cand,
         |    max(CAST(round(p.sim * 10000) AS BIGINT)) AS ms_bp FROM pairs p
         |  JOIN s1 ON p.qid = s1.qid AND p.other = s1.cand GROUP BY 1, 2),
         |s2 AS (
         |  SELECT qid, cand, rel, score_e5, 2 AS rk FROM (
         |    SELECT c.qid, c.cand, c.rel,
         |      7 * c.rel_bp - 3 * m.ms_bp AS score_e5,
         |      row_number() OVER (PARTITION BY c.qid
         |        ORDER BY 7 * c.rel_bp - 3 * m.ms_bp DESC, c.cand) AS rn
         |    FROM cb c JOIN m2 m ON m.qid = c.qid AND m.cand = c.cand
         |    WHERE NOT EXISTS (SELECT 1 FROM s1
         |                      WHERE s1.qid = c.qid AND s1.cand = c.cand))
         |  WHERE rn = 1),
         |sel2 AS (SELECT qid, cand FROM s1 UNION ALL SELECT qid, cand FROM s2),
         |m3 AS (
         |  SELECT p.qid, p.cand,
         |    max(CAST(round(p.sim * 10000) AS BIGINT)) AS ms_bp FROM pairs p
         |  JOIN sel2 ON p.qid = sel2.qid AND p.other = sel2.cand GROUP BY 1, 2),
         |s3 AS (
         |  SELECT qid, cand, rel, score_e5, 3 AS rk FROM (
         |    SELECT c.qid, c.cand, c.rel,
         |      7 * c.rel_bp - 3 * m.ms_bp AS score_e5,
         |      row_number() OVER (PARTITION BY c.qid
         |        ORDER BY 7 * c.rel_bp - 3 * m.ms_bp DESC, c.cand) AS rn
         |    FROM cb c JOIN m3 m ON m.qid = c.qid AND m.cand = c.cand
         |    WHERE NOT EXISTS (SELECT 1 FROM sel2
         |                      WHERE sel2.qid = c.qid AND sel2.cand = c.cand))
         |  WHERE rn = 1)
         |SELECT qid, CAST(rk AS INT) AS rk, cand, rel,
         |  CAST(score_e5 AS BIGINT) AS score_e5
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |      UNION ALL SELECT * FROM s3)
         |ORDER BY qid, rk""".stripMargin,
    "ss_bruteforce_topk" -> topkSql("q.vec_id <> c.vec_id"),
    "ss_filtered_topk" ->
      topkSql("q.vec_id <> c.vec_id AND c.vec_id % 3 = 0"),
    "ss_lsh_topk" -> topkSql("q.bucket = c.bucket AND q.vec_id <> c.vec_id"),
    // Aggregated top-k must produce exactly the window form's rows.
    "ss_topk_agg" -> topkSql("q.vec_id <> c.vec_id"),
    "ss_ivf_search" -> ivfSearchSql,
    // row-identical by design: the persisted index is deterministic
    // and parquet round-trips it exactly, so the read-back search
    // shares ss_ivf_search's oracle verbatim
    "ss_ivf_persist_search" -> ivfSearchSql,
    // census over the published tables = census over the trained
    // relations (deterministic write), plus the PQ chain's stats
    "ss_ivf_persist_build" ->
      s"""WITH $trainedAssignCtes,
         |${pqChainSql("", pqRawDBody)},
         |census AS (
         |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vectors
         |  FROM asg GROUP BY 1),
         |cstats AS (
         |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_dims,
         |    CAST(sum(CAST(floor(c * 1000000.0) AS BIGINT)) AS BIGINT)
         |      AS cent_sum_micro
         |  FROM c$KmTrainRounds GROUP BY 1),
         |pqs AS (
         |  SELECT CAST(count(*) AS BIGINT) AS pq_rows,
         |    CAST(sum(CAST(floor(c * 1000000.0) AS BIGINT)) AS BIGINT)
         |      AS pq_sum_micro
         |  FROM pc$PqTrainRounds)
         |SELECT census.cent_id, n_vectors, n_dims, cent_sum_micro,
         |  pq_rows, pq_sum_micro
         |FROM census JOIN cstats USING (cent_id) CROSS JOIN pqs
         |ORDER BY cent_id""".stripMargin,
    // delta admission = the SAME micro-L2 argmin the base assignment
    // uses, over reversed-coordinate deltas against the FINAL trained
    // centroids (c$KmTrainRounds — the published table's content);
    // census + per-cell ppm mirror ss_ivf_occupancy's integer ride
    "ss_ivf_admit" ->
      s"""WITH $trainedAssignCtes,
         |$deltaAsgdCtes,
         |bc AS (SELECT cent_id, count(*)::BIGINT AS n_base FROM asg GROUP BY 1),
         |dc AS (SELECT cent_id, count(*)::BIGINT AS n_delta FROM asgd GROUP BY 1),
         |cells AS (
         |  SELECT COALESCE(bc.cent_id, dc.cent_id) AS cent_id,
         |    COALESCE(n_base, 0) AS n_base, COALESCE(n_delta, 0) AS n_delta,
         |    COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_total
         |  FROM bc FULL OUTER JOIN dc ON bc.cent_id = dc.cent_id),
         |tot AS (SELECT count(*)::BIGINT AS k_cells,
         |               CAST(sum(n_total) AS BIGINT) AS n_after FROM cells)
         |SELECT cent_id, CAST(n_base AS BIGINT) AS n_base,
         |  CAST(n_delta AS BIGINT) AS n_delta,
         |  CAST(n_total AS BIGINT) AS n_total,
         |  CAST(CAST(n_total AS HUGEINT) * 1000000 * k_cells // n_after
         |    AS BIGINT) AS occ_ppm_of_mean,
         |  CAST(CAST(n_total AS HUGEINT) * 1000000 * k_cells // n_after
         |    AS BIGINT) > $AdmitRebalancePpm AS rebalance
         |FROM cells, tot ORDER BY cent_id""".stripMargin,
    // rebalance = the admit census, then: worst cell by (n_total DESC,
    // cent_id), its members' micro dims from BOTH segments, midpoint
    // split on the max-spread dim, sub-cell ids past max(trained id),
    // v2 centroids = surviving trained (micro grid) + sub-cell means
    // ⌊Σxm/n⌋, census re-based on k_after cells
    "ss_ivf_rebalance" ->
      s"""WITH $trainedAssignCtes,
         |$deltaAsgdCtes,
         |$rebalanceSplitCtes,
         |ncent AS (
         |  SELECT s2.cent_id, m.dim,
         |    CAST(floor(CAST(sum(m.xm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
         |  FROM mem m JOIN sides s2 USING (vec_id) GROUP BY 1, 2),
         |v2 AS (
         |  SELECT cent_id, dim, CAST(floor(c * 1000000.0) AS BIGINT) AS cm
         |  FROM c$KmTrainRounds
         |  WHERE cent_id NOT IN (SELECT cent_id FROM worst)
         |  UNION ALL SELECT cent_id, dim, cm FROM ncent),
         |csum AS (
         |  SELECT cent_id, CAST(sum(cm) AS BIGINT) AS cent_sum_micro
         |  FROM v2 GROUP BY 1),
         |post AS (
         |  SELECT cent_id, n_total, FALSE AS from_split FROM cells
         |  WHERE cent_id NOT IN (SELECT cent_id FROM worst)
         |  UNION ALL
         |  SELECT cent_id, count(*)::BIGINT AS n_total, TRUE AS from_split
         |  FROM sides GROUP BY cent_id),
         |tot AS (SELECT count(*)::BIGINT AS k_after,
         |               CAST(sum(n_total) AS BIGINT) AS n_after FROM post)
         |SELECT p.cent_id, CAST(p.n_total AS BIGINT) AS n_total,
         |  cent_sum_micro,
         |  CAST(CAST(p.n_total AS HUGEINT) * 1000000 * k_after // n_after
         |    AS BIGINT) AS occ_ppm_of_mean,
         |  from_split
         |FROM post p JOIN csum USING (cent_id), tot
         |ORDER BY p.cent_id""".stripMargin,
    // rebalance-to-quiescence on quiescent-already data = the admit
    // census with from_split=false, n_splits=0 — with the premise
    // SELF-CHECKED: if the worst cell's ppm ever exceeds the alarm
    // threshold (i.e. the engine-side loop would split), n_splits
    // goes NULL and the row hash-mismatches loudly instead of
    // comparing a 0-split oracle against a split engine
    "ss_ivf_rebalance_q" ->
      s"""WITH $trainedAssignCtes,
         |$deltaAsgdCtes,
         |bc AS (SELECT cent_id, count(*)::BIGINT AS n_base FROM asg GROUP BY 1),
         |dc AS (SELECT cent_id, count(*)::BIGINT AS n_delta FROM asgd GROUP BY 1),
         |cells AS (
         |  SELECT COALESCE(bc.cent_id, dc.cent_id) AS cent_id,
         |    COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_total
         |  FROM bc FULL OUTER JOIN dc ON bc.cent_id = dc.cent_id),
         |tot AS (SELECT count(*)::BIGINT AS k_cells,
         |               CAST(sum(n_total) AS BIGINT) AS n_after FROM cells),
         |occ AS (SELECT cent_id, CAST(n_total AS BIGINT) AS n_total,
         |          CAST(CAST(n_total AS HUGEINT) * 1000000 * k_cells // n_after
         |            AS BIGINT) AS occ_ppm_of_mean
         |        FROM cells, tot),
         |prem AS (SELECT CASE WHEN max(occ_ppm_of_mean) > $AdmitRebalancePpm
         |                THEN NULL ELSE 0 END::BIGINT AS n_splits FROM occ)
         |SELECT cent_id, n_total, occ_ppm_of_mean, FALSE AS from_split,
         |  n_splits
         |FROM occ, prem ORDER BY cent_id""".stripMargin,
    // split+merge rebalance on quiescent-already data = the admit
    // census with n_splits = n_merges = 0 — BOTH premises self-
    // checked: NULL n_splits if the worst cell would split, NULL
    // n_merges if any cell sits below the merge floor (i.e. the
    // engine-side fold would fire and the regimes diverge)
    "ss_ivf_rebalance_mq" ->
      s"""WITH $trainedAssignCtes,
         |$deltaAsgdCtes,
         |bc AS (SELECT cent_id, count(*)::BIGINT AS n_base FROM asg GROUP BY 1),
         |dc AS (SELECT cent_id, count(*)::BIGINT AS n_delta FROM asgd GROUP BY 1),
         |cells AS (
         |  SELECT COALESCE(bc.cent_id, dc.cent_id) AS cent_id,
         |    COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_total
         |  FROM bc FULL OUTER JOIN dc ON bc.cent_id = dc.cent_id),
         |tot AS (SELECT count(*)::BIGINT AS k_cells,
         |               CAST(sum(n_total) AS BIGINT) AS n_after FROM cells),
         |occ AS (SELECT cent_id, CAST(n_total AS BIGINT) AS n_total,
         |          CAST(CAST(n_total AS HUGEINT) * 1000000 * k_cells // n_after
         |            AS BIGINT) AS occ_ppm_of_mean
         |        FROM cells, tot),
         |prem AS (SELECT
         |    CASE WHEN max(occ_ppm_of_mean) > $AdmitRebalancePpm
         |         THEN NULL ELSE 0 END::BIGINT AS n_splits,
         |    CASE WHEN min(occ_ppm_of_mean) < $AdmitMergeFloorPpm
         |         THEN NULL ELSE 0 END::BIGINT AS n_merges FROM occ)
         |SELECT cent_id, n_total, occ_ppm_of_mean, FALSE AS from_split,
         |  n_splits, n_merges
         |FROM occ, prem ORDER BY cent_id""".stripMargin,
    // compaction must preserve the two-segment census exactly
    "ss_ivf_compact" ->
      s"""WITH $trainedAssignCtes,
         |$deltaAsgdCtes,
         |u AS (SELECT vec_id, cent_id FROM asg
         |      UNION ALL SELECT vec_id, cent_id FROM asgd)
         |SELECT cent_id, count(*)::BIGINT AS n_total
         |FROM u GROUP BY 1 ORDER BY cent_id""".stripMargin,
    // forget = census over both segments minus the delete slice (raw
    // ids and their +10⁶ admitted re-keys); leftover recomputed as
    // survivors still matching the predicate (0 by construction —
    // the oracle proves the engine's erasure, not the arithmetic)
    "ss_ivf_forget" ->
      s"""WITH $trainedAssignCtes,
         |$deltaAsgdCtes,
         |u AS (SELECT vec_id, cent_id FROM asg
         |      UNION ALL SELECT vec_id, cent_id FROM asgd),
         |fl AS (SELECT vec_id, cent_id,
         |         (vec_id % 97 = 13 OR
         |          (vec_id >= 1000000 AND (vec_id - 1000000) % 97 = 13))
         |           AS deleted
         |       FROM u),
         |sv AS (SELECT cent_id,
         |         count(*)::BIGINT AS n_total,
         |         CAST(coalesce(sum(CASE WHEN deleted THEN 1 END), 0)
         |           AS BIGINT) AS leftover
         |       FROM fl WHERE NOT deleted GROUP BY 1),
         |fg AS (SELECT cent_id, count(*)::BIGINT AS n_forgotten
         |       FROM fl WHERE deleted GROUP BY 1)
         |SELECT COALESCE(sv.cent_id, fg.cent_id) AS cent_id,
         |  COALESCE(n_total, 0)::BIGINT AS n_total,
         |  COALESCE(n_forgotten, 0)::BIGINT AS n_forgotten,
         |  COALESCE(leftover, 0)::BIGINT AS leftover
         |FROM sv FULL OUTER JOIN fg ON sv.cent_id = fg.cent_id
         |ORDER BY cent_id""".stripMargin,
    // post-rebalance serving: v2 assignment = (asg ∪ asgd) with split
    // members superseded by their sides row; candidates include the
    // reversed-coordinate delta vectors, norms computed AFTER the
    // reversal (same fp summation order as the engine)
    "ss_ivf_search_v2" ->
      s"""WITH $trainedAssignCtes,
         |$deltaAsgdCtes,
         |$rebalanceSplitCtes,
         |v2a AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id FROM asg
         |    UNION ALL SELECT vec_id, cent_id FROM asgd) u
         |  WHERE vec_id NOT IN (SELECT vec_id FROM sides)
         |  UNION ALL SELECT vec_id, cent_id FROM sides),
         |vb AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS e,
         |    sqrt(list_dot_product(embedding::DOUBLE[],
         |                          embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |vd AS (
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_reverse(embedding::DOUBLE[]) AS e,
         |    sqrt(list_dot_product(list_reverse(embedding::DOUBLE[]),
         |                          list_reverse(embedding::DOUBLE[]))) AS nrm
         |  FROM embeddings WHERE vec_id % 10 = 3),
         |vv AS (SELECT * FROM vb UNION ALL SELECT * FROM vd),
         |av AS (SELECT vv.vec_id, vv.e, vv.nrm, v2a.cent_id
         |       FROM vv JOIN v2a USING (vec_id))
         |SELECT query_id, cand_id, score, CAST(rk AS INT) AS rk FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS score,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4)
         |                 DESC,
         |               c.vec_id ASC) AS rk
         |  FROM (SELECT * FROM av WHERE vec_id >= 100 AND vec_id < 105) q
         |  JOIN av c ON q.cent_id = c.cent_id AND q.vec_id <> c.vec_id)
         |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    // Probe ranking reads straight off `ad` (every vector's exact
    // micro-L2 distance to every trained centroid — the same relation
    // the assignment argmin consumes).
    "ss_ivf_nprobe" ->
      s"""WITH $trainedAssignCtes,
         |v AS ($vSql),
         |probes AS (
         |  SELECT vec_id AS query_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dm, cent_id) AS pk
         |    FROM ad WHERE vec_id >= 100 AND vec_id < 105)
         |  WHERE pk <= $NProbe),
         |av AS (SELECT v.vec_id, v.e, v.nrm, asg.cent_id
         |       FROM v JOIN asg USING (vec_id)),
         |q AS (SELECT p.query_id, p.cent_id, v.e, v.nrm
         |      FROM probes p JOIN v ON p.query_id = v.vec_id)
         |SELECT query_id, cand_id, score, CAST(rk AS INT) AS rk FROM (
         |  SELECT q.query_id, c.vec_id AS cand_id,
         |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS score,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
         |               c.vec_id ASC) AS rk
         |  FROM q JOIN av c ON q.cent_id = c.cent_id AND q.query_id <> c.vec_id)
         |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "ss_ivf_recall" -> {
      def leg(n: Int, name: String) =
        s"""$name AS MATERIALIZED (
           |  SELECT query_id, cand_id FROM (
           |    SELECT q.query_id, c.vec_id AS cand_id,
           |      row_number() OVER (PARTITION BY q.query_id
           |        ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
           |                 c.vec_id ASC) AS rk
           |    FROM (SELECT p.query_id, p.cent_id, v.e, v.nrm
           |          FROM (SELECT query_id, cent_id FROM pr WHERE pk <= $n) p
           |          JOIN v ON p.query_id = v.vec_id) q
           |    JOIN av c ON q.cent_id = c.cent_id AND q.query_id <> c.vec_id)
           |  WHERE rk <= 3)""".stripMargin
      s"""WITH $trainedAssignCtes,
         |v AS MATERIALIZED ($vSql),
         |av AS MATERIALIZED (
         |  SELECT v.vec_id, v.e, v.nrm, asg.cent_id FROM v JOIN asg USING (vec_id)),
         |exact AS MATERIALIZED (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
         |                 c.vec_id ASC) AS rk
         |    FROM (SELECT * FROM v WHERE vec_id >= 100 AND vec_id < 105) q
         |    JOIN v c ON q.vec_id <> c.vec_id)
         |  WHERE rk <= 3),
         |pr AS MATERIALIZED (
         |  SELECT vec_id AS query_id, cent_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dm, cent_id) AS pk
         |  FROM ad WHERE vec_id >= 100 AND vec_id < 105),
         |${leg(1, "leg1")},
         |${leg(NProbe, "leg2")},
         |h1 AS (SELECT e.query_id, count(*) AS n FROM exact e
         |       JOIN leg1 l ON e.query_id = l.query_id AND e.cand_id = l.cand_id
         |       GROUP BY e.query_id),
         |h2 AS (SELECT e.query_id, count(*) AS n FROM exact e
         |       JOIN leg2 l ON e.query_id = l.query_id AND e.cand_id = l.cand_id
         |       GROUP BY e.query_id),
         |tot AS (SELECT query_id, count(*) AS n_true FROM exact GROUP BY query_id)
         |SELECT t.query_id, CAST(t.n_true AS BIGINT) AS n_true,
         |  CAST(COALESCE(h1.n, 0) AS BIGINT) AS n_hits_p1,
         |  CAST(COALESCE(h2.n, 0) AS BIGINT) AS n_hits_p2,
         |  round(CAST(COALESCE(h1.n, 0) AS DOUBLE) / t.n_true, 4) AS recall_p1_4,
         |  round(CAST(COALESCE(h2.n, 0) AS DOUBLE) / t.n_true, 4) AS recall_p2_4
         |FROM tot t
         |LEFT JOIN h1 ON t.query_id = h1.query_id
         |LEFT JOIN h2 ON t.query_id = h2.query_id
         |ORDER BY t.query_id""".stripMargin
    },
    // Discounts/prefix sums are the SAME Scala-computed integer
    // literals the Spark plan uses — no engine-side transcendental.
    // exact top-1 + the same nprobe serving CTEs as the ndcg oracle.
    "ss_mrr_eval" ->
      s"""WITH $trainedAssignCtes,
         |v AS MATERIALIZED ($vSql),
         |av AS MATERIALIZED (
         |  SELECT v.vec_id, v.e, v.nrm, asg.cent_id FROM v JOIN asg USING (vec_id)),
         |exact1 AS MATERIALIZED (
         |  SELECT query_id, cand_id AS exact_nn FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
         |                 c.vec_id ASC) AS rk
         |    FROM (SELECT * FROM v WHERE vec_id >= 100 AND vec_id < 105) q
         |    JOIN v c ON q.vec_id <> c.vec_id)
         |  WHERE rk = 1),
         |pr AS (
         |  SELECT vec_id AS query_id, cent_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dm, cent_id) AS pk
         |  FROM ad WHERE vec_id >= 100 AND vec_id < 105),
         |approx AS (
         |  SELECT query_id, cand_id, rk FROM (
         |    SELECT q.query_id, c.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
         |                 c.vec_id ASC) AS rk
         |    FROM (SELECT p.query_id, p.cent_id, v.e, v.nrm
         |          FROM (SELECT query_id, cent_id FROM pr WHERE pk <= $NProbe) p
         |          JOIN v ON p.query_id = v.vec_id) q
         |    JOIN av c ON q.cent_id = c.cent_id AND q.query_id <> c.vec_id)
         |  WHERE rk <= $NdcgK)
         |SELECT e.query_id, min(e.exact_nn) AS exact_nn,
         |  min(CASE WHEN a.cand_id = e.exact_nn THEN a.rk END) AS found_rank,
         |  CAST(COALESCE(1000000 // min(CASE WHEN a.cand_id = e.exact_nn
         |    THEN a.rk END), 0) AS BIGINT) AS rr_micro
         |FROM exact1 e LEFT JOIN approx a USING (query_id)
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    "ss_ndcg_eval" -> {
      val wVals = NdcgDiscountsMicro.zipWithIndex
        .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
      val pVals = NdcgIdealPrefixMicro.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH $trainedAssignCtes,
         |v AS MATERIALIZED ($vSql),
         |av AS MATERIALIZED (
         |  SELECT v.vec_id, v.e, v.nrm, asg.cent_id FROM v JOIN asg USING (vec_id)),
         |exact AS MATERIALIZED (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
         |                 c.vec_id ASC) AS rk
         |    FROM (SELECT * FROM v WHERE vec_id >= 100 AND vec_id < 105) q
         |    JOIN v c ON q.vec_id <> c.vec_id)
         |  WHERE rk <= $NdcgK),
         |pr AS (
         |  SELECT vec_id AS query_id, cent_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dm, cent_id) AS pk
         |  FROM ad WHERE vec_id >= 100 AND vec_id < 105),
         |approx AS (
         |  SELECT query_id, cand_id, rk FROM (
         |    SELECT q.query_id, c.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
         |                 c.vec_id ASC) AS rk
         |    FROM (SELECT p.query_id, p.cent_id, v.e, v.nrm
         |          FROM (SELECT query_id, cent_id FROM pr WHERE pk <= $NProbe) p
         |          JOIN v ON p.query_id = v.vec_id) q
         |    JOIN av c ON q.cent_id = c.cent_id AND q.query_id <> c.vec_id)
         |  WHERE rk <= $NdcgK),
         |w(rk, wt) AS (VALUES $wVals),
         |pw(n, pwt) AS (VALUES $pVals),
         |d AS (
         |  SELECT a.query_id,
         |    CAST(sum(CASE WHEN e.cand_id IS NOT NULL THEN w.wt ELSE 0 END)
         |      AS BIGINT) AS dcg_micro,
         |    CAST(sum(CASE WHEN e.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits
         |  FROM approx a JOIN w ON w.rk = a.rk
         |  LEFT JOIN exact e ON e.query_id = a.query_id AND e.cand_id = a.cand_id
         |  GROUP BY a.query_id),
         |t AS (SELECT query_id, count(*)::BIGINT AS n_true FROM exact
         |      GROUP BY query_id)
         |SELECT t.query_id, t.n_true, d.n_hits, d.dcg_micro,
         |  CAST(pw.pwt AS BIGINT) AS idcg_micro,
         |  CAST(d.dcg_micro * 10000 // pw.pwt AS BIGINT) AS ndcg_bp
         |FROM t JOIN d USING (query_id)
         |JOIN pw ON pw.n = least(t.n_true, $NdcgK)
         |ORDER BY t.query_id""".stripMargin
    },
    "ss_kmeans_train" ->
      s"""WITH $lloydCtes
         |SELECT cent_id, dim, c FROM c$KmTrainRounds ORDER BY cent_id, dim""".stripMargin,
    // ad = every (vector, trained centroid) micro-L2; own/other split
    // by the asg assignment; HUGEINT mirrors the DECIMAL(38,0) routing.
    "ss_silhouette" ->
      s"""WITH $trainedAssignCtes,
         |own AS (
         |  SELECT asg.vec_id, asg.cent_id, ad.dm AS a_dm
         |  FROM asg JOIN ad
         |    ON ad.vec_id = asg.vec_id AND ad.cent_id = asg.cent_id),
         |oth AS (
         |  SELECT ad.vec_id, min(ad.dm) AS b_dm
         |  FROM ad JOIN asg
         |    ON ad.vec_id = asg.vec_id AND ad.cent_id <> asg.cent_id
         |  GROUP BY ad.vec_id),
         |sil AS (
         |  SELECT own.cent_id,
         |    CASE WHEN greatest(a_dm, b_dm) = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((CAST(b_dm - a_dm AS HUGEINT) * 1000000)
         |         // greatest(a_dm, b_dm) AS BIGINT) END AS sp
         |  FROM own JOIN oth USING (vec_id))
         |SELECT cent_id, count(*)::BIGINT AS n_vec,
         |  CAST(sum(sp) // count(*) AS BIGINT) AS mean_sil_ppm,
         |  CAST(min(sp) AS BIGINT) AS min_sil_ppm
         |FROM sil GROUP BY cent_id ORDER BY cent_id""".stripMargin,
    "ss_pq_train" ->
      s"""$pqCtes
         |SELECT cent_id, s, j, c FROM pc$PqTrainRounds
         |ORDER BY cent_id, s, j""".stripMargin,
    // kd1/pd1 are the round-1 distance relations, i.e. distances to
    // the SEED codebooks; ad/codes are distances to the trained ones.
    "ss_train_distortion" ->
      s"""$pqCtes,
         |$trainedAssignCtes,
         |ivf_seed AS (
         |  SELECT 'ivf' AS codebook, 'seed' AS stage,
         |    CAST(sum(dm) AS BIGINT) AS sum_dist_micro, count(*) AS n_vec
         |  FROM (SELECT vec_id, min(dm) AS dm FROM kd1 GROUP BY 1)),
         |ivf_tr AS (
         |  SELECT 'ivf' AS codebook, 'trained' AS stage,
         |    CAST(sum(dm) AS BIGINT) AS sum_dist_micro, count(*) AS n_vec
         |  FROM (SELECT vec_id, min(dm) AS dm FROM ad GROUP BY 1)),
         |pq_seed AS (
         |  SELECT 'pq' AS codebook, 'seed' AS stage,
         |    CAST(sum(dm) AS BIGINT) AS sum_dist_micro, count(*) AS n_vec
         |  FROM (SELECT vec_id, s, min(dm) AS dm FROM pd1 GROUP BY 1, 2)),
         |pq_tr AS (
         |  SELECT 'pq' AS codebook, 'trained' AS stage,
         |    CAST(sum(dm) AS BIGINT) AS sum_dist_micro, count(*) AS n_vec
         |  FROM (SELECT vec_id, s, min(dist_micro) AS dm FROM dist GROUP BY 1, 2))
         |SELECT * FROM ivf_seed UNION ALL SELECT * FROM ivf_tr
         |UNION ALL SELECT * FROM pq_seed UNION ALL SELECT * FROM pq_tr
         |ORDER BY codebook, stage""".stripMargin,
    "ss_pq_eigenalloc" ->
      """WITH x AS (
        |  SELECT CAST(i - 1 AS INT) AS d,
        |    CAST(floor(e[i] * 10000) AS BIGINT) AS xi
        |  FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings),
        |       UNNEST(range(1, len(e) + 1)) AS u(i)),
        |st AS (
        |  SELECT d, count(*) AS n, sum(xi) AS sx, sum(xi * xi) AS sxx
        |  FROM x GROUP BY d),
        |rk AS (
        |  SELECT d, n * sxx - sx * sx AS var_scaled,
        |    row_number() OVER (ORDER BY n * sxx - sx * sx DESC, d) - 1 AS r
        |  FROM st),
        |legs AS (
        |  SELECT 'contiguous' AS layout, CAST(d // 8 AS INT) AS s, var_scaled
        |  FROM rk
        |  UNION ALL
        |  SELECT 'eigenalloc' AS layout,
        |    CAST(CASE WHEN r % 16 < 8 THEN r % 16 ELSE 15 - r % 16 END AS INT) AS s,
        |    var_scaled
        |  FROM rk)
        |SELECT layout, s, CAST(sum(var_scaled) AS BIGINT) AS sum_var,
        |  count(*) AS n_dims
        |FROM legs GROUP BY layout, s
        |ORDER BY layout, s""".stripMargin,
    "ss_ann_recall" -> {
      s"""WITH v AS ($vSql),
         |exact AS (${topkBodySql("q.vec_id <> c.vec_id")}),
         |approx AS (${topkBodySql("q.bucket = c.bucket AND q.vec_id <> c.vec_id")}),
         |probes AS (
         |  SELECT vec_id, e, nrm,
         |    unnest([bucket] || list_transform(range(0, bits),
         |      k -> xor(bucket, 1::BIGINT << k))) AS probe
         |  FROM v WHERE vec_id < $NumQueries),
         |approx_mp AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |      row_number() OVER (
         |        PARTITION BY q.vec_id
         |        ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) DESC,
         |                 c.vec_id ASC) AS rn
         |    FROM probes q JOIN v c
         |      ON q.probe = c.bucket AND q.vec_id <> c.vec_id)
         |  WHERE rn <= $K),
         |h1 AS (
         |  SELECT e.query_id, count(*) AS n
         |  FROM exact e JOIN approx a
         |    ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         |  GROUP BY e.query_id),
         |h9 AS (
         |  SELECT e.query_id, count(*) AS n
         |  FROM exact e JOIN approx_mp a
         |    ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         |  GROUP BY e.query_id),
         |tot AS (SELECT query_id, count(*) AS n_true FROM exact GROUP BY query_id)
         |SELECT t.query_id, CAST(t.n_true AS BIGINT) AS n_true,
         |  CAST(COALESCE(h1.n, 0) AS BIGINT) AS n_hits_lsh,
         |  CAST(COALESCE(h9.n, 0) AS BIGINT) AS n_hits_mp,
         |  round(CAST(COALESCE(h1.n, 0) AS DOUBLE) / t.n_true, 4) AS recall_lsh4,
         |  round(CAST(COALESCE(h9.n, 0) AS DOUBLE) / t.n_true, 4) AS recall_mp4
         |FROM tot t
         |LEFT JOIN h1 ON t.query_id = h1.query_id
         |LEFT JOIN h9 ON t.query_id = h9.query_id
         |ORDER BY t.query_id""".stripMargin
    },
    "ss_kmeans_step" ->
      s"""$assignedCtes
         |SELECT cent_id, CAST(i AS INT) AS dim,
         |  CAST(s AS DOUBLE) / n / CAST(1000000.0 AS DOUBLE) AS mean
         |FROM (
         |  SELECT cent_id, i,
         |    CAST(sum(CAST(floor(e[i] * CAST(1000000.0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s,
         |    count(*) AS n
         |  FROM assigned, UNNEST(range(1, len(e) + 1)) AS u(i)
         |  GROUP BY cent_id, i)
         |ORDER BY cent_id, dim""".stripMargin,
    // Bit packing and popcount are pure integer ops; the rerank is the
    // standard rounded cosine. Shortlist boundary ties break on
    // cand_id — integer-deterministic on both engines.
    "ss_binary_quant" ->
      s"""WITH $binaryQuantCtes
         |SELECT query_id, cand_id, hamming, score, CAST(rk AS INT) AS rk
         |FROM btop WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "ss_binary_recall" ->
      s"""WITH $binaryQuantCtes,
         |bsel AS (SELECT query_id, cand_id FROM btop WHERE rk <= 3),
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT q.query_id, v.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_dot_product(q.qe, v.e) / (q.qnrm * v.nrm), 4) DESC,
         |                 v.vec_id ASC) AS rk
         |    FROM v JOIN q ON v.vec_id <> q.query_id)
         |  WHERE rk <= 3)
         |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN b.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN b.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 4) AS recall4
         |FROM exact e LEFT JOIN bsel b
         |  ON e.query_id = b.query_id AND e.cand_id = b.cand_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // Identical double op tree on both sides (the code and the
    // reconstruction), so the floor'd nano-error is bit-equal; the
    // only rounding op, round(), sees a quasi-continuous argument
    // (midpoint hit probability ~1e-12, the dd_embed_cos rationale).
    "ss_quantize_int8" ->
      """WITH x AS (
        |  SELECT vec_id, CAST(i AS INT) AS dim, e[i] AS x
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |       UNNEST(range(1, len(e) + 1)) AS u(i)),
        |st AS MATERIALIZED (SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY dim),
        |q AS (
        |  SELECT vec_id, x, mn, mx,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE CAST(round((x - mn) * 255 / (mx - mn)) AS INT) END AS code
        |  FROM x JOIN st USING (dim))
        |SELECT vec_id, CAST(count(*) AS INT) AS n_dims,
        |  CAST(sum(CAST(floor(abs(x - (mn + code * (mx - mn) / 255))
        |    * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum_err_nano,
        |  min(code) AS min_code, max(code) AS max_code
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "ss_pq_encode" ->
      s"""$pqCtes
         |SELECT vec_id, s, code, dist_micro FROM codes ORDER BY vec_id, s""".stripMargin,
    "ss_pq_adc" ->
      s"""$pqCtes,
         |q AS (SELECT vec_id AS query_id, cent_id, s, dist_micro
         |      FROM dist WHERE vec_id >= 100 AND vec_id < 105),
         |sc AS (
         |  SELECT q.query_id, k.vec_id AS cand_id,
         |    CAST(sum(q.dist_micro) AS BIGINT) AS adc_micro
         |  FROM codes k JOIN q ON q.s = k.s AND q.cent_id = k.code
         |  WHERE q.query_id <> k.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, cand_id, adc_micro, CAST(rk AS INT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_micro, cand_id) AS rk
         |  FROM sc)
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // One WITH chain: the PQ CTEs then the trained-IVF-assignment CTEs
    // (names are disjoint by construction).
    "ss_ivfpq_search" ->
      s"""$pqCtes,
         |$trainedAssignCtes,
         |qc AS (SELECT vec_id AS query_id, cent_id AS qcell FROM asg
         |       WHERE vec_id >= 100 AND vec_id < 105),
         |qd AS (SELECT vec_id AS query_id, cent_id, s, dist_micro FROM dist
         |       WHERE vec_id >= 100 AND vec_id < 105),
         |incell AS (
         |  SELECT qc.query_id, a.vec_id AS cand_id
         |  FROM asg a
         |  JOIN qc ON a.cent_id = qc.qcell AND a.vec_id <> qc.query_id),
         |sc AS (
         |  SELECT i.query_id, i.cand_id,
         |    CAST(sum(qd.dist_micro) AS BIGINT) AS adc_micro
         |  FROM incell i
         |  JOIN codes k ON i.cand_id = k.vec_id
         |  JOIN qd ON qd.query_id = i.query_id
         |         AND qd.s = k.s AND qd.cent_id = k.code
         |  GROUP BY 1, 2)
         |SELECT query_id, cand_id, adc_micro, CAST(rk AS INT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_micro, cand_id) AS rk FROM sc)
         |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "ss_pq_recall" ->
      s"""$pqCtes,
         |fulld AS (
         |  SELECT vec_id, CAST(i AS INT) AS p, e[i] AS x
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |       UNNEST(range(1, len(e) + 1)) AS u(i)),
         |qd2 AS MATERIALIZED (SELECT vec_id AS query_id, p, x AS qx FROM fulld
         |        WHERE vec_id >= 100 AND vec_id < 105),
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY l2_micro, cand_id) AS rk
         |    FROM (
         |      SELECT q.query_id, f.vec_id AS cand_id,
         |        CAST(sum(CAST(floor((f.x - q.qx) * (f.x - q.qx)
         |          * 1000000000000.0) AS BIGINT)) AS BIGINT) AS l2_micro
         |      FROM fulld f JOIN qd2 q ON f.p = q.p AND f.vec_id <> q.query_id
         |      GROUP BY 1, 2))
         |  WHERE rk <= 5),
         |qdist AS MATERIALIZED (SELECT vec_id AS query_id, cent_id, s, dist_micro
         |          FROM dist WHERE vec_id >= 100 AND vec_id < 105),
         |adc AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_micro, cand_id) AS rk
         |    FROM (
         |      SELECT q.query_id, k.vec_id AS cand_id,
         |        CAST(sum(q.dist_micro) AS BIGINT) AS adc_micro
         |      FROM codes k JOIN qdist q ON q.s = k.s AND q.cent_id = k.code
         |      WHERE q.query_id <> k.vec_id
         |      GROUP BY 1, 2))
         |  WHERE rk <= 5),
         |hits AS (
         |  SELECT e.query_id, count(*) AS n_hits
         |  FROM exact e
         |  WHERE EXISTS (SELECT 1 FROM adc a
         |                WHERE a.query_id = e.query_id AND a.cand_id = e.cand_id)
         |  GROUP BY 1)
         |SELECT t.query_id, t.n_true, COALESCE(h.n_hits, 0) AS n_hits,
         |  round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_true, 4) AS recall4
         |FROM (SELECT query_id, count(*) AS n_true FROM exact GROUP BY 1) t
         |LEFT JOIN hits h ON t.query_id = h.query_id
         |ORDER BY t.query_id""".stripMargin,
    // Three exact rankings off one dimension stream; Spark's 0-based
    // posexplode prefix p < N is DuckDB's 1-based p <= N.
    "ss_matryoshka_recall" -> {
      def matTop(name: String, maxP: Int) =
        s"""$name AS (
           |  SELECT query_id, cand_id FROM (
           |    SELECT query_id, cand_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY l2_micro, cand_id) AS rk
           |    FROM (
           |      SELECT q.query_id, f.vec_id AS cand_id,
           |        CAST(sum(CAST(floor((f.x - q.qx) * (f.x - q.qx)
           |          * 1000000000000.0) AS BIGINT)) AS BIGINT) AS l2_micro
           |      FROM fulld f JOIN qd q ON f.p = q.p AND f.vec_id <> q.query_id
           |      WHERE f.p <= $maxP
           |      GROUP BY 1, 2))
           |  WHERE rk <= 5)""".stripMargin
      def matLeg(top: String, dims: Int) =
        s"""SELECT $dims AS dims, t.query_id, t.n_true,
           |  COALESCE(h.n_hits, 0) AS n_hits,
           |  round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_true, 4) AS recall4
           |FROM (SELECT query_id, count(*) AS n_true FROM exact64 GROUP BY 1) t
           |LEFT JOIN (
           |  SELECT e.query_id, count(*) AS n_hits FROM exact64 e
           |  WHERE EXISTS (SELECT 1 FROM $top a
           |                WHERE a.query_id = e.query_id AND a.cand_id = e.cand_id)
           |  GROUP BY 1) h ON t.query_id = h.query_id""".stripMargin
      s"""WITH fulld AS (
         |  SELECT vec_id, CAST(i AS INT) AS p, e[i] AS x
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |       UNNEST(range(1, len(e) + 1)) AS u(i)),
         |qd AS MATERIALIZED (SELECT vec_id AS query_id, p, x AS qx FROM fulld
         |      WHERE vec_id >= 100 AND vec_id < 105),
         |${matTop("exact64", 64)},
         |${matTop("m16", 16)},
         |${matTop("m32", 32)}
         |SELECT * FROM (
         |${matLeg("m16", 16)}
         |UNION ALL
         |${matLeg("m32", 32)})
         |ORDER BY dims, query_id""".stripMargin
    },
    "ss_embed_cov" ->
      s"""WITH $covCtes
         |SELECT i, j, n, sxy_micro, cov8 FROM cov ORDER BY i, j""".stripMargin,
    "ss_pca_power" ->
      s"""WITH $covCtes,
         |$pcaCtes
         |SELECT v.dim, v.vm,
         |  CAST(floor(nrm * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS lambda_micro
         |FROM pv$PowerRounds v, pn$PowerRounds
         |ORDER BY v.dim""".stripMargin,
    "ss_pca_top2" ->
      s"""WITH $covCtes,
         |$pcaCtes,
         |$pca2Ctes
         |SELECT CAST(1 AS INT) AS comp, v.dim, v.vm,
         |  CAST(floor(nrm * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS lambda_micro
         |FROM pv$PowerRounds v, pn$PowerRounds
         |UNION ALL
         |SELECT CAST(2 AS INT) AS comp, v.dim, v.vm,
         |  CAST(floor(nrm * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS lambda_micro
         |FROM gv v, qn$PowerRounds
         |ORDER BY comp, dim""".stripMargin,
    // The brute-force range scan IS the oracle: the gate red-flags
    // any vector the Spark side's cone-bound pruning wrongly drops.
    "ss_ivf_range" ->
      s"""WITH v AS ($vSql)
         |SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |  round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS cos
         |FROM (SELECT * FROM v WHERE vec_id < $NumQueries) q
         |JOIN v c ON c.vec_id <> q.vec_id
         |WHERE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4)
         |  >= $RangeTau
         |ORDER BY query_id, cos DESC, vec_id""".stripMargin,

    // unrolled greedy-descent chain over the same trained cell graph:
    // entry = min in-cell member, WalkHops hops, move on strict
    // rounded-cosine improvement with nbr-asc tie order
    "ss_greedy_walk" -> {
      val hops = (1 to WalkHops).map { i =>
        s"""b$i AS (
           |  SELECT query_id, nbr, ncos FROM (
           |    SELECT h.query_id, e.nbr,
           |      round(list_dot_product(h.qe, g.e) / (h.qnrm * g.nrm), 4)
           |        AS ncos,
           |      row_number() OVER (PARTITION BY h.query_id
           |        ORDER BY round(list_dot_product(h.qe, g.e)
           |          / (h.qnrm * g.nrm), 4) DESC, e.nbr ASC) AS rn
           |    FROM h${i - 1} h
           |    JOIN knn0 e ON e.src = h.cur AND e.nbr <> h.query_id
           |    JOIN gav g ON g.vec_id = e.nbr)
           |  WHERE rn = 1),
           |h$i AS MATERIALIZED (
           |  SELECT h.query_id, h.qe, h.qnrm,
           |    CASE WHEN b.ncos > h.cur_cos THEN b.nbr ELSE h.cur END AS cur,
           |    CASE WHEN b.ncos > h.cur_cos THEN b.ncos ELSE h.cur_cos END
           |      AS cur_cos,
           |    h.hops + CASE WHEN b.ncos > h.cur_cos THEN 1 ELSE 0 END
           |      AS hops
           |  FROM h${i - 1} h LEFT JOIN b$i b USING (query_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE ${ivfKnnEdgesCtes(3)},
         |q AS (
         |  SELECT vec_id AS query_id, e AS qe, nrm AS qnrm, cent_id
         |  FROM gav WHERE vec_id < $NumQueries),
         |ent AS (
         |  SELECT q.query_id, min(m.vec_id) AS cur
         |  FROM q JOIN gav m
         |    ON m.cent_id = q.cent_id AND m.vec_id <> q.query_id
         |  GROUP BY q.query_id),
         |h0 AS MATERIALIZED (
         |  SELECT q.query_id, q.qe, q.qnrm, e.cur,
         |    round(list_dot_product(q.qe, c.e) / (q.qnrm * c.nrm), 4)
         |      AS cur_cos,
         |    CAST(0 AS BIGINT) AS hops
         |  FROM q JOIN ent e USING (query_id)
         |  JOIN gav c ON c.vec_id = e.cur),
         |$hops
         |SELECT query_id, cur AS landed_id, cur_cos AS cos4,
         |  CAST(hops AS BIGINT) AS hops
         |FROM h$WalkHops ORDER BY query_id""".stripMargin
    },

    // unrolled beam-expansion chain: top-BeamWidth of (beam ∪
    // neighbors(beam)) per step, same strict (cos desc, vec_id asc)
    // order as the Spark window
    "ss_beam_walk" -> {
      val steps = (1 to BeamSteps).map { i =>
        s"""bm$i AS MATERIALIZED (
           |  SELECT query_id, qe, qnrm, vec_id, cos4 FROM (
           |    SELECT query_id, qe, qnrm, vec_id, cos4,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY cos4 DESC, vec_id ASC) AS rn
           |    FROM (
           |      SELECT query_id, qe, qnrm, vec_id, cos4 FROM bm${i - 1}
           |      UNION
           |      SELECT b.query_id, b.qe, b.qnrm, e.nbr AS vec_id,
           |        round(list_dot_product(b.qe, g.e) / (b.qnrm * g.nrm), 4)
           |          AS cos4
           |      FROM bm${i - 1} b
           |      JOIN knn0 e ON e.src = b.vec_id AND e.nbr <> b.query_id
           |      JOIN gav g ON g.vec_id = e.nbr))
           |  WHERE rn <= $BeamWidth)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE ${ivfKnnEdgesCtes(3)},
         |q AS (
         |  SELECT vec_id AS query_id, e AS qe, nrm AS qnrm, cent_id
         |  FROM gav WHERE vec_id < $NumQueries),
         |ent AS (
         |  SELECT q.query_id, min(m.vec_id) AS vec_id
         |  FROM q JOIN gav m
         |    ON m.cent_id = q.cent_id AND m.vec_id <> q.query_id
         |  GROUP BY q.query_id),
         |bm0 AS MATERIALIZED (
         |  SELECT q.query_id, q.qe, q.qnrm, ent.vec_id,
         |    round(list_dot_product(q.qe, c.e) / (q.qnrm * c.nrm), 4)
         |      AS cos4
         |  FROM q JOIN ent USING (query_id)
         |  JOIN gav c ON c.vec_id = ent.vec_id),
         |$steps
         |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos4 DESC, vec_id ASC) AS INT) AS rank,
         |  vec_id, cos4
         |FROM bm$BeamSteps ORDER BY query_id, rank""".stripMargin
    },

    // both chains in one statement: the raw PQ CTEs (unprefixed, the
    // ss_pq_train relations), the Lloyd + trained-assignment chain,
    // and the r-prefixed residual PQ chain over (cd.x − trained c)
    "ss_pq_residual" -> {
      val residualDBody =
        s"""
           |  SELECT cd.vec_id, CAST((cd.dim - 1) // 8 AS INT) AS s,
           |    CAST((cd.dim - 1) % 8 AS INT) AS j, cd.x - p.c AS x
           |  FROM cd JOIN asg USING (vec_id)
           |  JOIN c$KmTrainRounds p
           |    ON p.cent_id = asg.cent_id AND p.dim = cd.dim""".stripMargin
      s"""$pqCtes,
         |$trainedAssignCtes,
         |${pqChainSql("r", residualDBody)},
         |rt AS (SELECT count(*)::BIGINT AS n_cells,
         |         CAST(sum(dist_micro) AS BIGINT) AS res_dist_micro
         |       FROM rcodes),
         |wt AS (SELECT CAST(sum(dist_micro) AS BIGINT) AS raw_dist_micro
         |       FROM codes)
         |SELECT rt.n_cells, wt.raw_dist_micro, rt.res_dist_micro,
         |  CAST(CASE WHEN wt.raw_dist_micro >= rt.res_dist_micro THEN
         |    ((CAST(wt.raw_dist_micro AS HUGEINT) - rt.res_dist_micro) * 1000000)
         |      // wt.raw_dist_micro
         |  ELSE -(((CAST(rt.res_dist_micro AS HUGEINT) - wt.raw_dist_micro) * 1000000)
         |      // wt.raw_dist_micro)
         |  END AS BIGINT) AS gain_ppm
         |FROM rt CROSS JOIN wt""".stripMargin
    },

    // same op tree: three dot products, Pythagoras split, dsum edges
    "ss_scann_loss" ->
      s"""$assignedCtes,
         |ce AS (SELECT vec_id AS cent_id, e AS ce FROM v
         |       WHERE vec_id < ${PipelineQueries.NumCentroids}),
         |parts AS (
         |  SELECT a.cent_id, a.nrm,
         |    list_dot_product(a.e, a.e) AS dee,
         |    list_dot_product(c.ce, a.e) AS dce,
         |    list_dot_product(c.ce, c.ce) AS dcc
         |  FROM assigned a JOIN ce c USING (cent_id)),
         |comps AS (
         |  SELECT cent_id,
         |    ((dee - dce) / nrm) * ((dee - dce) / nrm) AS para2,
         |    dee - 2.0 * dce + dcc -
         |      ((dee - dce) / nrm) * ((dee - dce) / nrm) AS orth2
         |  FROM parts)
         |SELECT cent_id, count(*) AS n,
         |  ${OracleSql.dsum("para2")} AS sum_para2,
         |  ${OracleSql.dsum("orth2")} AS sum_orth2
         |FROM comps GROUP BY cent_id ORDER BY cent_id""".stripMargin,

    // brute-force range scan over the SAME mixture-of-cones fixture
    // (DuckDB strpos positional decode = Spark conv(substring(md5)))
    "ss_ivf_range_clustered" -> {
      def nib(pos: Int) =
        s"(strpos('0123456789abcdef', substring(h, $pos, 1)) - 1)"
      val dims = (0 until ClusteredCones).map { d =>
        s"CAST(CASE WHEN vec_id % $ClusteredCones = $d THEN 1000000 ELSE 0 END" +
          s" + ${nib(2 * d + 1)} * 16 + ${nib(2 * d + 2)} AS DOUBLE)"
      }.mkString("[", ", ", "]")
      s"""WITH f AS (
         |  SELECT i AS vec_id, md5(CAST(i AS VARCHAR)) AS h
         |  FROM range(0, $ClusteredVecs) t(i)),
         |v AS (
         |  SELECT vec_id, $dims AS e FROM f),
         |n AS (
         |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
         |SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |  round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS cos
         |FROM (SELECT * FROM n WHERE vec_id < $ClusteredCones) q
         |JOIN n c ON c.vec_id <> q.vec_id
         |WHERE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4)
         |  >= $ClusteredTau
         |ORDER BY query_id, cos DESC, vec_id""".stripMargin
    }
  )

}
