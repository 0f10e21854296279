package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Mergeable cardinality/frequency SKETCHES with integer-exact,
  * DuckDB-verifiable contracts — the missing piece between the exact
  * paths (q_exact_quantiles, wordcount) and the engine-opaque builtins
  * (approx_count_distinct / approx_percentile, whose HLL++/KLL
  * register layouts are not SQL-reproducible — they stay pinned by
  * error-bound ScalaTests in ScaleSpec, while the q_approx_* QUERY
  * rows run THIS family's integer sketches and are fully oracle-gated
  * since round 9).
  *
  * Why this family exists: at 100 TB every corpus-level statistic must
  * be a commutative-monoid fold (the pipe_agg_maintenance rule) or it
  * can't be maintained incrementally, can't partial-aggregate
  * map-side, and can't merge across 1000 executors without a second
  * scan. Sketches are the canonical monoids for the questions exact
  * aggregation can't afford: distinct counts (HLL registers merge by
  * elementwise max; KMV minima merge by k-smallest-of-union) and
  * per-key frequencies (count-min cells merge by sum). Spark's own
  * approx builtins prove the point but hide the state; here the state
  * IS the query output, so the oracle checks the sketch itself.
  *
  * Determinism doctrine (SCALE.md): every number that crosses the
  * cross-engine gate is an integer. Hashes are md5-hex-substring
  * decodes (the dd_simhash nibble idiom), register indices and
  * leading-zero ranks are pure bit arithmetic (`bin()` string length —
  * identical on both engines, no log2), and the HLL harmonic mean is
  * computed in FIXED POINT: rho capped at [[HllRhoCap]] bits so
  * Z = Σ 2^(cap−min(rho,cap)) is an exact BIGINT, and the estimate is
  * one integer division by a pre-multiplied alpha constant. No libm
  * call anywhere in the verified contract; the float forms (standard
  * alpha·m²/Z and linear counting) are pinned single-engine in
  * SketchSpec with epsilons.
  */
object SketchQueries {

  /** HLL register-index width: first 2 hex chars → m = 256 registers
    * (standard error ≈ 1.04/√256 = 6.5%).
    */
  val HllRegisters = 256

  /** Fixed-point cap on rho inside the harmonic sum: 2^(20−rho)
    * truncates to 0 past 20 — a ≤2⁻²⁰·m relative perturbation of Z,
    * far below the sketch's own 6.5% error, and it keeps
    * 10⁶·Z < 2⁶³ with no HUGEINT divergence (DuckDB would widen,
    * Spark would overflow — capping removes the hazard instead of
    * papering over it).
    */
  val HllRhoCap = 20

  /** alpha_256 = 0.7213/(1 + 1.079/256) in parts-per-million, fixed
    * by this spec so both engines multiply by the same integer.
    */
  val HllAlphaPpm = 718274L

  /** Pre-multiplied estimator numerator: alpha_ppm · m² · 2^cap. */
  val HllNumer: Long = HllAlphaPpm * HllRegisters.toLong * HllRegisters.toLong *
    (1L << HllRhoCap)

  /** Count-min geometry: 4 rows × 16 buckets; row i's hash is hex
    * nibble i+1 of the single md5 digest (independent-enough nibbles,
    * one digest per token — no 4× hashing cost). Deliberately narrow —
    * see sk_cms_heavy's comment.
    */
  val CmsRows = 4
  val CmsBuckets = 16

  /** The (r, b, c) count-min cell table of a frame exposing an md5
    * column `h` — hex nibble i+1 of the ONE digest is row i's bucket.
    * One definition of the geometry: sk_cms_heavy, sk_cms_merge and
    * sk_cms_join_size all build their tables here, so a geometry
    * change cannot be applied to one sketch and not another.
    */
  private def cmsCellTable(hashed: DataFrame): DataFrame = hashed
    .select(explode(array((0 until CmsRows).map(i =>
      struct(lit(i).as("r"),
        conv(substring(col("h"), i + 1, 1), 16, 10).cast("int").as("b"))): _*))
      .as("cell"))
    .select(col("cell.r").as("r"), col("cell.b").as("b"))
    .groupBy("r", "b").agg(count(lit(1)).as("c"))

  /** KMV: distinct-count estimate from the k = 64 smallest 52-bit
    * hashes; est = (k−1)·2⁵² / h_(k) (the classic k-minimum-values
    * unbiased form, integer-floored by this spec).
    */
  val KmvK = 64

  /** Set-operation sketches use a larger k: intersection error scales
    * with 1/√(common sample size), which is k shrunk by the overlap
    * fraction — 256 keeps the intersect estimate usable down to ~10%
    * overlaps. (n · 2⁵² with n ≤ 2·256 stays far inside BIGINT.)
    */
  val KmvIntersectK = 256

  /** Bloom filter geometry: m = 2¹⁶ bits (positions are 4-hex-char
    * slices of the md5 digest), k = 2 hash functions. At the ~10k
    * distinct shingles of a corpus half this fills ~25% of the bits —
    * FPR ≈ fill² ≈ 6%: collisions actually happen and the probe sees
    * the one-sided error, yet the filter stays discriminating.
    */
  val BloomBits = 1 << 16
  val BloomHashes = 2

  /** Word-3-gram shingles of the documents corpus (multiplicity
    * preserved, all docs pooled) with their md5 digest — the shared
    * scan of every sketch below. Shingles, not tokens, are the sketch
    * key: the synthetic corpus has a ~31-word vocabulary (trivially
    * exact-countable) but ~16k distinct shingles — squarely in the
    * raw-HLL regime (n ≫ 2.5m) and exactly the cardinality a dedup
    * planner needs (distinct-shingle count sizes the minhash/LSH
    * stage). Narrow: explode + one digest per shingle, no shuffle.
    */
  private[graft] def words(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(TextOps.shinglesOf(col("text"))).as("key"))
      .withColumn("h", md5(col("key")))

  /** (reg, rho) per token: register index from hex chars 1-2, rank =
    * leading zeros of the 52-bit tail + 1 via `53 − bitlength`, where
    * bitlength(v>0) = length(bin(v)) on both engines and the v = 0
    * row (all 52 bits zero) is the explicit rho = 53 case.
    */
  private[graft] def hllRegRho(df: DataFrame): DataFrame = df
    .withColumn("reg", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
    .withColumn("v", conv(substring(col("h"), 3, 13), 16, 10).cast("long"))
    .withColumn("rho",
      when(col("v") === 0L, lit(53))
        .otherwise(lit(53) - length(bin(col("v")))).cast("int"))

  // ---- public sketch API (aliased on graft.Graft) ----

  /** Bloom bit-set of `key` over `rows`: the DISTINCT md5-derived bit
    * positions ([[BloomHashes]] per key, m = [[BloomBits]]). ≤m rows —
    * the mergeable form: union two bit-sets (distinct) to OR two
    * filters.
    */
  def bloomBits(rows: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    bloomPositions(rows.select(key.cast("string").as("key")))
      .select("pos").distinct()

  /** Probe `rows(key)` against a [[bloomBits]] frame: one row per
    * distinct key with all_set = 1 iff every position is set (possible
    * false positives, never false negatives). The bit-set broadcasts.
    */
  def bloomProbe(bits: DataFrame, rows: DataFrame,
                 key: org.apache.spark.sql.Column): DataFrame =
    bloomPositions(rows.select(key.cast("string").as("key")).distinct())
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("hit"), lit(0))).as("all_set"))

  /** (key, pos) pairs: [[BloomHashes]] 4-hex-char md5 slices per key. */
  private def bloomPositions(keyed: DataFrame): DataFrame = keyed
    .select(col("key"), explode(array((0 until BloomHashes).map(i =>
      conv(substring(md5(col("key")), 4 * i + 1, 4), 16, 10)
        .cast("long")): _*)).as("pos"))

  /** Build the HLL register table of `key` over `rows`: one (reg,
    * rho) row per occupied register, ≤[[HllRegisters]] rows total.
    * The fold partial-aggregates map-side, so the shuffle carries
    * ≤256 rows per task at any input size; merge two sketches with
    * [[hllMerge]], read the cardinality with [[hllEstimate]].
    */
  def hllSketch(rows: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    hllRegRho(rows.select(md5(key.cast("string")).as("h")))
      .groupBy("reg").agg(max(col("rho")).as("rho"))

  /** Merge register tables by elementwise max — the commutative
    * monoid that makes stored sketches absorb deltas without rescan.
    */
  def hllMerge(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy("reg").agg(max(col("rho")).as("rho"))

  /** Register table → the 1-row fixed-point estimate frame
    * (m, n_set, zcap, est_distinct) — integer end to end, see the
    * object doc for the derivation.
    */
  def hllEstimate(regs: DataFrame): DataFrame =
    regs.agg(
        count(lit(1)).as("n_set"),
        sum(expr(s"shiftleft(1L, $HllRhoCap - least(rho, $HllRhoCap))"))
          .as("z_set"))
      .select(
        lit(HllRegisters.toLong).as("m"),
        col("n_set"),
        (col("z_set") +
          (lit(HllRegisters.toLong) - col("n_set")) * lit(1L << HllRhoCap))
          .as("zcap"))
      .withColumn("est_distinct", expr(s"$HllNumer DIV (1000000 * zcap)"))

  /** Query-side wrapper: estimate frame with the exact-count audit
    * column the oracle rows carry.
    */
  private def hllEstimateWith(regs: DataFrame, exact: DataFrame): DataFrame =
    hllEstimate(regs).crossJoin(broadcast(exact))
      .select(col("m"), col("n_set"), col("zcap"), col("est_distinct"),
        col("exact_distinct"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The HLL sketch ITSELF: per-register max leading-zero rank over
    // every token occurrence of the corpus. This is the true HLL
    // dataflow — no distinct() anywhere: duplicate tokens collapse in
    // the map-side partial max, so the shuffle carries ≤256 rows per
    // task regardless of corpus size (the combiner advantage the
    // reference's WordCount lacks, applied to cardinality). ≤256-row
    // output, ordered by register.
    "sk_hll_registers" -> ((s, dir) =>
      hllRegRho(words(s, dir))
        .groupBy("reg").agg(max(col("rho")).as("rho"))
        .orderBy("reg")),

    // The fixed-point HLL estimate next to the exact distinct count —
    // the one-row dataset-card answer "how many distinct tokens", with
    // the sketch error visible and every column a BIGINT (see the
    // object doc for the fixed-point derivation). The exact count is
    // the audit column: at 100 TB you'd drop it and keep the sketch;
    // at oracle scale it is what proves the estimator honest (6.5%
    // expected error, asserted ≤15% in SketchSpec).
    "sk_hll_estimate" -> ((s, dir) => {
      val exact = words(s, dir)
        .agg(count_distinct(col("key")).as("exact_distinct"))
      hllEstimateWith(
        hllRegRho(words(s, dir)).groupBy("reg").agg(max(col("rho")).as("rho")),
        exact)
    }),

    // SLIDING-WINDOW CARDINALITY — the production "distinct users over
    // the trailing 24 h, per hour" read, answered from HOURLY REGISTER
    // SKETCHES instead of 24 overlapping full scans: registers are a
    // max-monoid, so the trailing merge is max(rho) over a 23-hour
    // RANGE window per register — one pass over an (hours × 256)
    // model frame, never a re-read of the events (the naive form
    // re-scans every row ~24×; the sketch form's cost is independent
    // of the window length). The register series densifies to the
    // (distinct hour × occupied register) grid first — a sparse
    // window would drop a register from hours it wasn't refreshed in,
    // silently undercounting. Per-hour estimates ride the established
    // fixed-point read (same integers as sk_hll_estimate); the exact
    // trailing distinct rides along as the audit column, so the gate
    // pins BOTH the windowed merge and the estimator.
    "sk_hll_sliding" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
      val hourly = hllRegRho(
          ev.select(col("hour"), md5(col("user_id").cast("string")).as("h")))
        .groupBy("hour", "reg").agg(max(col("rho")).as("rho"))
        .localCheckpoint(false) // grid + window read it
      val hours = ev.select("hour").distinct()
      val dense = hours.crossJoin(broadcast(hourly.select("reg").distinct()))
        .join(hourly, Seq("hour", "reg"), "left")
        .withColumn("hour_us", unix_micros(col("hour")))
      val w = Window.partitionBy(col("reg")).orderBy(col("hour_us"))
        .rangeBetween(-23L * 3600L * 1000000L, 0L)
      val merged = dense
        .withColumn("rho24", max(col("rho")).over(w)) // max ignores nulls
        .filter(col("rho24").isNotNull)
      val est = merged.groupBy("hour")
        .agg(count(lit(1)).as("n_set"),
          sum(expr(s"shiftleft(1L, $HllRhoCap - least(rho24, $HllRhoCap))"))
            .as("z_set"))
        .withColumn("zcap", col("z_set") +
          (lit(HllRegisters.toLong) - col("n_set")) * lit(1L << HllRhoCap))
        .withColumn("raw_est", expr(s"$HllNumer DIV (1000000 * zcap)"))
        // small-range (linear counting) branch — the q_approx_distinct
        // correction verbatim: trailing-24h user counts sit far below
        // m = 256, exactly the regime where the raw estimator
        // overshoots (measured ~1.6× here before the branch)
        .withColumn("lrm", graft.functions.Log2Micro.log2micro(
          lit(HllRegisters.toLong),
          greatest(lit(HllRegisters.toLong) - col("n_set"), lit(1L))))
        .withColumn("est_distinct", expr(
          s"CASE WHEN n_set < $HllRegisters AND raw_est <= ${5 * HllRegisters / 2} " +
            s"THEN ($HllRegisters * lrm * 693147) DIV 1000000000000 " +
            "ELSE raw_est END"))
      // exact audit via the RangeJoin binning doctrine, not an
      // inequality nested loop: a user active at hour h is present in
      // every trailing window anchored at h..h+23, so each distinct
      // (user, hour) expands to its 24 covered anchors and the count
      // is a plain distinct aggregation — equi-keyed end to end
      // (measured 6.4 s → sub-second at sf0.1 vs the range join)
      val exact = ev.distinct()
        .select(col("user_id"),
          explode(sequence(lit(0), lit(23))).as("k"), col("hour"))
        .select(col("user_id"),
          expr("hour + make_dt_interval(0, k, 0, 0)").as("hour"))
        .join(hours, "hour") // only anchors that exist in the data
        .groupBy("hour")
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, "hour")
        .select(col("hour"), col("n_set"), col("zcap"),
          col("est_distinct"), col("exact_distinct"))
        .orderBy("hour")
    }),

    // SLIDING-WINDOW FREQUENCIES — sk_hll_sliding's twin for the
    // count sketch: trailing-24h count-min estimates of the hot
    // `props.k` values per hour, from HOURLY 4×16 cell tables summed
    // over a per-cell RANGE window (cells are a +-monoid). The window
    // runs over the STATIC full 4×16 grid densified per hour — the
    // min-over-rows read needs all four rows present, zeros included
    // (a missing cell would silently drop the tightest bound). Probe
    // set = the 5 globally hottest values; the exact trailing count
    // rides along via the 24× anchor expansion (the equi-keyed form),
    // with COALESCE 0 for anchors where the value never fired — there
    // the estimate is pure collision mass, the one-sided error made
    // visible. est ≥ exact everywhere is the count-min theorem,
    // pinned in Round18OpsSpec.
    "sk_cms_sliding" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(date_trunc("hour", col("ts")).as("hour"),
          get_json_object(col("props"), "$.k").as("key"))
        .localCheckpoint(false) // cells + top + exact all read it
      def cellsOf(df: DataFrame, extra: Seq[String]): DataFrame = df
        .withColumn("h", md5(col("key")))
        .select((extra.map(col) :+ explode(array((0 until CmsRows).map(i =>
          struct(lit(i).as("r"),
            conv(substring(col("h"), i + 1, 1), 16, 10).cast("int").as("b"))): _*))
          .as("cell")): _*)
        .select((extra.map(col) :+ col("cell.r").as("r") :+
          col("cell.b").as("b")): _*)
      val hourly = cellsOf(ev, Seq("hour"))
        .groupBy("hour", "r", "b").agg(count(lit(1)).as("c"))
      val hours = ev.select("hour").distinct()
      val grid = s.range(0, CmsRows.toLong)
        .select(col("id").cast("int").as("r"))
        .crossJoin(s.range(0, CmsBuckets.toLong)
          .select(col("id").cast("int").as("b")))
      val dense = hours.crossJoin(broadcast(grid))
        .join(hourly, Seq("hour", "r", "b"), "left")
        .withColumn("hour_us", unix_micros(col("hour")))
      val w = Window.partitionBy(col("r"), col("b")).orderBy(col("hour_us"))
        .rangeBetween(-23L * 3600L * 1000000L, 0L)
      val merged = dense
        .withColumn("c24", sum(coalesce(col("c"), lit(0L))).over(w))
      val top = ev.groupBy("key").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("key").asc).limit(5).select("key")
      val est = merged
        .join(broadcast(cellsOf(top, Seq("key"))), Seq("r", "b"))
        .groupBy("hour", "key").agg(min(col("c24")).as("est_cnt"))
      val exact = ev.groupBy("hour", "key").agg(count(lit(1)).as("n"))
        .join(broadcast(top), Seq("key"))
        .select(col("key"), col("n"),
          explode(sequence(lit(0), lit(23))).as("kk"), col("hour"))
        .select(col("key"), col("n"),
          expr("hour + make_dt_interval(0, kk, 0, 0)").as("hour"))
        .join(hours, "hour")
        .groupBy("hour", "key").agg(sum(col("n")).as("exact_cnt"))
      est.join(exact, Seq("hour", "key"), "left")
        .select(col("hour"), col("key"), col("est_cnt"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"))
        .orderBy("hour", "key")
    }),

    // Merge-of-partials-equals-rescan, the sketch's reason to exist:
    // two corpus halves (the pipe_agg_maintenance md5 split, so both
    // engines see identical halves) are sketched INDEPENDENTLY — as a
    // stored snapshot sketch and a new-batch sketch would be — and
    // merged by elementwise register max; the oracle computes the
    // direct full-corpus estimate and the gate asserts they are
    // identical. At 100 TB this is how yesterday's distinct-token
    // count absorbs today's delta without rescanning yesterday.
    "sk_hll_merge" -> ((s, dir) => {
      def half(pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        hllRegRho(
          Tables.documents(s, dir)
            .filter(pred(substring(md5(col("doc_id").cast("string")), 1, 1)))
            .select(explode(TextOps.shinglesOf(col("text"))).as("key"))
            .withColumn("h", md5(col("key"))))
          .groupBy("reg").agg(max(col("rho")).as("rho"))
      val merged = hllMerge(Seq(half(_ < "8"), half(_ >= "8")))
      val exact = words(s, dir)
        .agg(count_distinct(col("key")).as("exact_distinct"))
      hllEstimateWith(merged, exact)
    }),

    // Count-min point estimates for the exact top-10 TOKENS (tokens,
    // not shingles: the token frequencies are the corpus's true
    // Zipf-skewed heavy hitters — shingle counts are near-uniform, so
    // a shingle CMS would only measure collision noise). The sketch is
    // the 4×16 cell-count table — a groupBy sum, so cells merge by +
    // across partitions and future batches — deliberately NARROW
    // (w = 16, one hex nibble per row) so collisions actually happen
    // at this vocabulary and the min-over-rows is seen resolving
    // them: rows where one of the 4 cells is collision-free come out
    // est = exact, the rest overshoot. The oracle certifies the
    // one-sided bound (est ≥ exact always). The sketch frame is ≤64
    // rows → broadcast into the probe join; at 100 TB the build is
    // one narrow pass + a 64-row shuffle.
    "sk_cms_heavy" -> ((s, dir) => {
      val w = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("key"))
        .withColumn("h", md5(col("key")))
      def cellsOf(df: DataFrame): DataFrame = df
        .select(col("key"), col("exact_cnt"),
          explode(array((0 until CmsRows).map(i =>
            struct(lit(i).as("r"),
              conv(substring(col("h"), i + 1, 1), 16, 10).cast("int").as("b"))): _*))
            .as("cell"))
        .select(col("key"), col("exact_cnt"),
          col("cell.r").as("r"), col("cell.b").as("b"))
      val cells = cmsCellTable(w)
      val top = w.groupBy("key").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("key").asc).limit(10)
      cellsOf(top.withColumn("h", md5(col("key"))))
        .join(broadcast(cells), Seq("r", "b"))
        .groupBy("key", "exact_cnt").agg(min(col("c")).as("est_cnt"))
        .orderBy("key")
    }),

    // The count-min MERGE contract — completing the "every sketch is
    // a monoid" triple (HLL merges by max, KMV by k-smallest-of-union,
    // CMS by cellwise +): the two md5-half corpora build their 4×16
    // cell tables independently and merge by summing matching cells;
    // the oracle computes the direct full-corpus cell table, so
    // equality IS merge-equals-rescan for the frequency sketch. At
    // 100 TB this is how a stored per-shard CMS absorbs a new shard:
    // 64 numbers added to 64 numbers.
    "sk_cms_merge" -> ((s, dir) => {
      def cellsOf(docs: DataFrame): DataFrame = cmsCellTable(docs
        .select(explode(TextOps.tokens(col("text"))).as("key"))
        .withColumn("h", md5(col("key"))))
      def h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val docs = Tables.documents(s, dir)
      cellsOf(docs.filter(h < "8"))
        .unionByName(cellsOf(docs.filter(h >= "8")))
        .groupBy("r", "b").agg(sum(col("c")).as("c"))
        .orderBy("r", "b")
    }),

    // Sketch SET ALGEBRA — the theta-sketch intersection that makes
    // KMV more than a counter: the two md5-half corpora are sketched
    // independently (k = 256 minima each), theta = the smaller of the
    // two k-th minima, and every estimate is a sample count below
    // theta scaled by 2⁵²/theta — the textbook theta-sketch
    // estimator. Membership below theta is EXACT from the sketches
    // alone (every A-hash under theta ≤ kth_A is in A's k-min set),
    // so the intersection estimate is n_common·2⁵²/theta — direct,
    // not the inclusion-exclusion difference est_A+est_B−est_U whose
    // error is the SUM of three sketch errors (measured here: I-E
    // said 2076 against an exact 4143; the theta sample says ~4100).
    // The exact intersection sits beside it as the audit column: the
    // "how much does the new crawl overlap the corpus" question
    // answered from two 256-number summaries instead of the
    // corpus-sized join the oracle can afford at sf scale and 100 TB
    // cannot. Integer end to end.
    "sk_kmv_intersect" -> ((s, dir) => {
      def half(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Tables.documents(s, dir)
          .filter(p(substring(md5(col("doc_id").cast("string")), 1, 1)))
          .select(explode(TextOps.shinglesOf(col("text"))).as("key"))
          .select(conv(substring(md5(col("key")), 1, 13), 16, 10)
            .cast("long").as("hv"))
          .distinct()
      val a = half(_ < "8")
      val b = half(_ >= "8")
      val ka = a.orderBy("hv").limit(KmvIntersectK).localCheckpoint(false)
      val kb = b.orderBy("hv").limit(KmvIntersectK).localCheckpoint(false)
      val theta = ka.agg(max(col("hv")).as("ta"))
        .crossJoin(kb.agg(max(col("hv")).as("tb")))
        .select(least(col("ta"), col("tb")).as("theta"))
      val sa = ka.crossJoin(broadcast(theta))
        .filter(col("hv") < col("theta")).select("hv")
      val sb = kb.crossJoin(broadcast(theta))
        .filter(col("hv") < col("theta")).select("hv")
      val exact = a.intersect(b).agg(count(lit(1)).as("exact_inter"))
      val c = 1L << 52
      sa.agg(count(lit(1)).as("n_a"))
        .crossJoin(broadcast(sb.agg(count(lit(1)).as("n_b"))))
        .crossJoin(broadcast(sa.intersect(sb).agg(count(lit(1)).as("n_common"))))
        .crossJoin(broadcast(theta))
        .select(
          expr(s"(n_a * $c) DIV theta").as("est_a"),
          expr(s"(n_b * $c) DIV theta").as("est_b"),
          expr(s"(n_common * $c) DIV theta").as("est_inter"))
        .crossJoin(broadcast(exact))
        .select("est_a", "est_b", "est_inter", "exact_inter")
    }),

    // K-minimum-values distinct estimate: keep the 64 smallest
    // distinct 52-bit hashes; the k-th one's magnitude IS the density
    // estimate (est = (k−1)·2⁵²/h_(k), integer-floored). The
    // distinct() here is vocabulary-bounded (the wordcount-combiner
    // argument: partial aggregation collapses repeats map-side), and
    // the orderBy.limit compiles to TakeOrderedAndProject — a
    // per-partition bounded heap + driver merge of 64-row tops, never
    // a global sort. One row out, all BIGINT.
    // Theta-sketch DIFFERENCE and UNION — the remaining set-algebra
    // verbs on the same two 256-minima summaries sk_kmv_intersect
    // builds: below theta every sample is exact membership for its
    // own set, so the A∖B sample is a plain EXCEPT of two ≤k-row
    // frames and the union sample their distinct union — each scaled
    // by 2⁵²/theta. est_diff answers the crawl-ops question the
    // intersection can't: "how much of the new snapshot is genuinely
    // NEW", from two 256-number summaries instead of a corpus-sized
    // anti-join (the exact_diff audit column is that anti-join, which
    // sf scale affords and 100 TB does not). Integer end to end.
    "sk_theta_diff" -> ((s, dir) => {
      def half(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Tables.documents(s, dir)
          .filter(p(substring(md5(col("doc_id").cast("string")), 1, 1)))
          .select(explode(TextOps.shinglesOf(col("text"))).as("key"))
          .select(conv(substring(md5(col("key")), 1, 13), 16, 10)
            .cast("long").as("hv"))
          .distinct()
      val a = half(_ < "8")
      val b = half(_ >= "8")
      val ka = a.orderBy("hv").limit(KmvIntersectK).localCheckpoint(false)
      val kb = b.orderBy("hv").limit(KmvIntersectK).localCheckpoint(false)
      val theta = ka.agg(max(col("hv")).as("ta"))
        .crossJoin(kb.agg(max(col("hv")).as("tb")))
        .select(least(col("ta"), col("tb")).as("theta"))
      val sa = ka.crossJoin(broadcast(theta))
        .filter(col("hv") < col("theta")).select("hv")
      val sb = kb.crossJoin(broadcast(theta))
        .filter(col("hv") < col("theta")).select("hv")
      val exact = b.except(a).agg(count(lit(1)).as("exact_new"))
      val c = 1L << 52
      sa.agg(count(lit(1)).as("n_a"))
        .crossJoin(broadcast(sb.agg(count(lit(1)).as("n_b"))))
        .crossJoin(broadcast(sb.except(sa).agg(count(lit(1)).as("n_new"))))
        .crossJoin(broadcast(sa.unionByName(sb).distinct()
          .agg(count(lit(1)).as("n_union"))))
        .crossJoin(broadcast(theta))
        .select(
          expr(s"(n_new * $c) DIV theta").as("est_new"),
          expr(s"(n_union * $c) DIV theta").as("est_union"))
        .crossJoin(broadcast(exact))
        .select("est_new", "est_union", "exact_new")
    }),

    // BLOOM FILTER with its error MEASURED — the approximate-membership
    // monoid that completes the sketch family (HLL answers "how many
    // distinct", CMS "how often", KMV "how much overlap", Bloom "have
    // I seen this one"): the reference corpus half's distinct shingles
    // set 2 md5-derived bit positions each in a 2¹⁶-bit filter (the
    // bit-set merges by OR / position-set union — same monoid story as
    // the rest); the current half then PROBES it. A probe hits iff
    // every one of its positions is set, so misses are impossible for
    // true members — the one-sided contract: bloom_hits ≥ exact_common
    // always (the oracle row carries both, making the FPR visible as
    // their gap; ≈ fill² ≈ 6% of the ~10k disjoint probes here).
    // pipe_bloom_dedup uses Spark's engine-opaque builtin for the same
    // job; this row pins a register-level reproducible filter through
    // the oracle. Scale: the bit-set frame is m-bounded (≤65536 rows,
    // the radix-histogram budget) and broadcasts into the probe; both
    // shingle scans are narrow; no corpus-sized state anywhere.
    "sk_bloom_probe" -> ((s, dir) => {
      def halfKeys(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Tables.documents(s, dir)
          .filter(p(substring(md5(col("doc_id").cast("string")), 1, 1)))
          .select(explode(TextOps.shinglesOf(col("text"))).as("key"))
          .distinct()
      val a = halfKeys(_ < "8")
      val b = halfKeys(_ >= "8")
      val bits = bloomBits(a, col("key"))
      val probed = bloomProbe(bits, b, col("key"))
      val exact = a.intersect(b).agg(count(lit(1)).as("exact_common"))
      bits.agg(count(lit(1)).as("n_bits_set"))
        .crossJoin(broadcast(a.agg(count(lit(1)).as("n_a"))))
        .crossJoin(broadcast(probed.agg(
          count(lit(1)).as("n_b"),
          sum(col("all_set").cast("long")).as("bloom_hits"))))
        .crossJoin(broadcast(exact))
        .select("n_bits_set", "n_a", "n_b", "bloom_hits", "exact_common")
    }),

    // CMS JOIN-SIZE ESTIMATION (the AMS F₂/inner-product lineage,
    // Alon–Matias–Szegedy '96 via the count-min formulation) — the
    // sketch family's QUERY-PLANNING application: |A ⋈ B| =
    // Σ_k f_A(k)·f_B(k) from two 4×16 CMS tables. TWO estimators,
    // honestly: min_r Σ_b A[r][b]·B[r][b] is the one-sided UPPER
    // BOUND (collision mass only adds), which at width 16 is
    // ~|A|·|B|/16 of pure collision — useless as a point estimate and
    // reported anyway because the bound is what it is; the AMS
    // correction (w·ip − |A|·|B|)/(w−1) removes the expected
    // collision term per row and the MEDIAN across the 4 rows is the
    // unbiased point estimate a planner actually uses (94× off → ~1×
    // at this width, measured). All products DECIMAL/HUGEINT-routed;
    // the BIGINT output edge is NOT bounded — est_r ~ |A|·|B|/w, past
    // int64 once |A|·|B| > 9.2·10¹⁸ — and deliberately FAILS LOUDLY
    // there on both engines (ANSI cast / HUGEINT cast): a deployment
    // joining >10⁹-row sides through this sketch must widen the
    // output to DECIMAL or estimate on a sample, and the loud edge is
    // what tells it so. The corrected numerator can be NEGATIVE, so
    // its division truncates TOWARD ZERO, spelled sign-explicitly and
    // identically on both engines.
    "sk_cms_join_size" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def cms(df: DataFrame, keyCol: String): DataFrame =
        cmsCellTable(df.select(md5(col(keyCol).cast("string")).as("h")))
          .localCheckpoint(false) // counts + inner product reuse it
      val cmsA = cms(Tables.orders(s, dir), "o_custkey")
      val cmsB = cms(Tables.customer(s, dir), "c_custkey")
      // insertion counts come from the sketches themselves (any one
      // row's cells sum to them) — no extra source scan
      def nOf(cells: DataFrame, name: String) =
        cells.filter(col("r") === 0).agg(sum(col("c")).as(name))
      val estR = cmsA.withColumnRenamed("c", "ca")
        .join(cmsB.withColumnRenamed("c", "cb"), Seq("r", "b"))
        .groupBy("r")
        .agg(expr("CAST(sum(CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)")
          .as("est_r"))
        .crossJoin(broadcast(nOf(cmsA, "n_a")))
        .crossJoin(broadcast(nOf(cmsB, "n_b")))
        .withColumn("corr_num", expr(
          s"CAST($CmsBuckets * CAST(est_r AS DECIMAL(38,0)) " +
            "- CAST(n_a AS DECIMAL(38,0)) * n_b AS BIGINT)"))
        .withColumn("unbiased_r", expr(
          s"CASE WHEN corr_num >= 0 THEN corr_num DIV ${CmsBuckets - 1} " +
            s"ELSE -((-corr_num) DIV ${CmsBuckets - 1}) END"))
        .localCheckpoint(false) // three consumers: select, min, median
      // median of the 4 per-row estimates = mean of the two middle
      // order statistics, truncated toward zero like every signed
      // division in this row (the 4-row frame is broadcast-scale)
      val wOrd = Window.orderBy(col("unbiased_r"), col("r"))
      val med = estR.withColumn("rk", row_number().over(wOrd))
        .filter(col("rk").isin(2, 3))
        .agg(expr("CAST(CASE WHEN sum(unbiased_r) >= 0 " +
          "THEN sum(unbiased_r) DIV 2 " +
          "ELSE -((-sum(unbiased_r)) DIV 2) END AS BIGINT)")
          .as("unbiased_med"))
      val minEst = estR.agg(min(col("est_r")).as("upper_bound"))
      val exact = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("exact_join"))
      estR.crossJoin(broadcast(minEst)).crossJoin(broadcast(med))
        .crossJoin(broadcast(exact))
        .select("r", "est_r", "unbiased_r", "upper_bound",
          "unbiased_med", "exact_join")
        .orderBy("r")
    }),

    // DDSKETCH (Masson/Rim/Lee, VLDB'19) — the relative-error
    // quantile sketch, and the only sketch family here whose ANSWER
    // is a quantile (HLL/KMV count, CMS counts keys): bucket
    // i = ⌊log_γ v⌋ with γ = 2^(1/8), realized as
    // (log2micro(cents)·8) DIV 10⁶ — the deterministic fixed-point
    // log2, so the bucket edge is a DEFINED function, never a libm
    // ulp coin-flip. The sketch is groupBy(bucket).count(): a
    // ≤ ~126-row commutative monoid (counts add across executors,
    // micro-batches, and days — the pipe_agg_maintenance rule), vs
    // an exact quantile's full value histogram. Serving walks the
    // cumulative bucket counts to rank ⌈q·n/100⌉ and estimates the
    // value as the bucket's geometric midpoint γ^(b+1/2) via
    // exp2micro((2b+1)·62500) — micro-cents, pure integers end to
    // end. The same row audits itself against the EXACT quantile
    // (cumulative walk over the value-bounded distinct-cents frame)
    // and emits the realized rel_err_ppm; DDSketch guarantees
    // ≤ γ^(1/2)−1 ≈ 4.4% and the oracle recomputes the identical
    // integers. Corpus-count products (qpct·n) stay ≤ 10²·10¹³ —
    // far inside BIGINT; the ppm quotient is DECIMAL/HUGEINT-routed
    // per the micro-domain doctrine.
    "sk_ddsketch" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = Tables.events(s, dir)
        .select(expr("CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
        .groupBy("cents").agg(count(lit(1)).as("cnt"))
      // bucket −1 is DDSketch's ZERO bucket: values below one cent
      // (sf0.1 ships value = 0.0 rows) can't enter the log domain and
      // the real sketch keeps them in a dedicated zero counter — the
      // CASE short-circuit guards log2micro's fail-loud
      // positive-domain contract (CaseWhen branches evaluate lazily).
      // NEGATIVE cents stay fail-loud on BOTH engines (real DDSketch
      // keeps a separate negative store; silently folding negatives
      // into the zero bucket would be a wrong-but-green p50 the gate
      // cannot see, since the oracle would misclassify identically).
      val bucketed = cents
        .withColumn("lrm",
          when(col("cents") >= 1,
            graft.functions.Log2Micro.log2micro(col("cents"), lit(1L)))
            .otherwise(lit(0L)))
        .withColumn("bucket",
          expr("CASE WHEN cents >= 1 THEN (lrm * 8) DIV 1000000 " +
            "WHEN cents = 0 THEN CAST(-1 AS BIGINT) " +
            "ELSE CAST(raise_error('sk_ddsketch: negative cents — " +
            "add a negative store before sketching signed values') " +
            "AS BIGINT) END"))
      val sketch = bucketed.groupBy("bucket")
        .agg(sum(col("cnt")).as("n"))
      val tot = sketch.agg(sum(col("n")).as("n_tot"))
      val qs = tot.select(explode(array(lit(50L), lit(90L), lit(99L)))
          .as("qpct"), col("n_tot"))
        .withColumn("trank", expr("(qpct * n_tot + 99) DIV 100"))
      val wCum = Window.orderBy("bucket")
      val cum = sketch.withColumn("cum", sum(col("n")).over(wCum))
      val pick = qs.join(broadcast(cum), col("cum") >= col("trank"))
        .groupBy("qpct", "trank").agg(min(col("bucket")).as("bucket"))
      val est = pick
        .withColumn("est_micro",
          when(col("bucket") >= 0, graft.functions.Exp2Micro.exp2micro(
            (col("bucket") * 2 + 1) * lit(62500L)))
            .otherwise(lit(0L))) // the zero bucket serves exactly 0
      val wCents = Window.orderBy("cents")
      val ccum = cents.withColumn("ccum", sum(col("cnt")).over(wCents))
      val exact = qs.join(broadcast(ccum), col("ccum") >= col("trank"))
        .groupBy("qpct").agg(min(col("cents")).as("exact_cents"))
      est.join(exact, "qpct")
        .withColumn("rel_err_ppm", expr(
          "CASE WHEN exact_cents >= 1 THEN " +
            "(abs(est_micro - CAST(exact_cents AS DECIMAL(38,0)) * 1000000) " +
            "* 1000000) DIV (CAST(exact_cents AS DECIMAL(38,0)) * 1000000) " +
            "WHEN est_micro = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE CAST(NULL AS BIGINT) END"))
        .select(col("qpct"), col("bucket"), col("est_micro"),
          col("exact_cents"), col("rel_err_ppm").cast("long").as("rel_err_ppm"))
        .orderBy("qpct")
    }),

    "sk_kmv_distinct" -> ((s, dir) => {
      val hv = words(s, dir)
        .select(conv(substring(col("h"), 1, 13), 16, 10).cast("long").as("hv"))
        .distinct()
      val kth = hv.orderBy("hv").limit(KmvK)
        .agg(count(lit(1)).as("k"), max(col("hv")).as("kth_hash"))
      val exact = words(s, dir)
        .agg(count_distinct(col("key")).as("exact_distinct"))
      kth.crossJoin(broadcast(exact))
        .withColumn("est_distinct",
          expr(s"((k - 1) * ${1L << 52}) DIV kth_hash"))
        .select("k", "kth_hash", "est_distinct", "exact_distinct")
    })
  )

  /** Shared oracle CTE: word-3-gram shingles with multiplicity (the
    * non-DISTINCT sibling of Dedup's shingle CTE) and their digest.
    */
  private val wordsSql =
    s"""w AS (
       |  SELECT key, md5(key) AS h FROM (
       |    SELECT array_to_string(list_slice(t, i, i + 2), ' ') AS key
       |    FROM (SELECT ${OracleSql.toks} AS t FROM documents),
       |         UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
       |    WHERE len(t) >= 3))""".stripMargin

  /** Shared oracle CTE on top of `w`: per-token (reg, rho). */
  private val regRhoSql =
    s"""rr AS (
       |  SELECT ${OracleSql.hexLong("h", 1, 2)}::INT AS reg,
       |    CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END::INT AS rho
       |  FROM (SELECT h, ${OracleSql.hexLong("h", 3, 13)} AS v FROM w))""".stripMargin

  /** Occupied registers → the estimate row (mirror of [[hllEstimate]]). */
  private val estimateSql =
    s"""z AS (
       |  SELECT count(*)::BIGINT AS n_set,
       |    sum((1::BIGINT << ($HllRhoCap - least(rho, $HllRhoCap))))::BIGINT AS z_set
       |  FROM regs),
       |ex AS (SELECT count(DISTINCT key)::BIGINT AS exact_distinct FROM w)
       |SELECT $HllRegisters::BIGINT AS m, n_set,
       |  (z_set + ($HllRegisters - n_set) * ${1L << HllRhoCap})::BIGINT AS zcap,
       |  ($HllNumer // (1000000::BIGINT *
       |    (z_set + ($HllRegisters - n_set) * ${1L << HllRhoCap})))::BIGINT
       |    AS est_distinct,
       |  exact_distinct
       |FROM z, ex""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "sk_hll_registers" ->
      s"""WITH $wordsSql,
         |$regRhoSql
         |SELECT reg, max(rho)::INT AS rho FROM rr GROUP BY reg
         |ORDER BY reg""".stripMargin,
    "sk_hll_estimate" ->
      s"""WITH $wordsSql,
         |$regRhoSql,
         |regs AS (SELECT reg, max(rho) AS rho FROM rr GROUP BY reg),
         |$estimateSql""".stripMargin,
    // hours × hourly-register inequality join states the trailing-
    // merge semantics; the Spark side's RANGE window over the dense
    // grid is the one-pass scale form (row-identical)
    "sk_hll_sliding" -> {
      val zc = s"(z_set + ($HllRegisters - n_set) * ${1L << HllRhoCap})"
      s"""WITH RECURSIVE ev AS (
         |  SELECT date_trunc('hour', ts) AS hour,
         |    md5(CAST(user_id AS VARCHAR)) AS h, user_id
         |  FROM events),
         |rr AS (
         |  SELECT hour, ${OracleSql.hexLong("h", 1, 2)}::INT AS reg,
         |    CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END::INT AS rho
         |  FROM (SELECT hour, h, ${OracleSql.hexLong("h", 3, 13)} AS v FROM ev)),
         |hourly AS (SELECT hour, reg, max(rho) AS rho FROM rr GROUP BY 1, 2),
         |hours AS (SELECT DISTINCT hour FROM ev),
         |merged AS (
         |  SELECT hs.hour, hh.reg, max(hh.rho) AS rho24
         |  FROM hours hs JOIN hourly hh
         |    ON hh.hour > hs.hour - INTERVAL 24 HOURS AND hh.hour <= hs.hour
         |  GROUP BY 1, 2),
         |z AS (
         |  SELECT hour, count(*)::BIGINT AS n_set,
         |    sum((1::BIGINT << ($HllRhoCap - least(rho24, $HllRhoCap))))::BIGINT
         |      AS z_set
         |  FROM merged GROUP BY hour),
         |zn AS (
         |  SELECT hour, n_set, z_set,
         |    CAST($HllRegisters AS BIGINT) AS num,
         |    greatest($HllRegisters - n_set, 1)::BIGINT AS den
         |  FROM z),
         |${OracleSql.log2microCtes("sl", "zn", Seq("hour"))},
         |ze AS (
         |  SELECT zn.hour, n_set, z_set, sl_lg.lrm,
         |    ($HllNumer // (1000000::BIGINT * $zc))::BIGINT AS raw_est
         |  FROM zn JOIN sl_lg USING (hour)),
         |exact AS (
         |  SELECT hs.hour, count(DISTINCT e.user_id)::BIGINT AS exact_distinct
         |  FROM hours hs JOIN ev e
         |    ON e.hour > hs.hour - INTERVAL 24 HOURS AND e.hour <= hs.hour
         |  GROUP BY hs.hour)
         |SELECT ze.hour, ze.n_set, $zc::BIGINT AS zcap,
         |  CASE WHEN n_set < $HllRegisters AND raw_est <= ${5 * HllRegisters / 2}
         |    THEN ($HllRegisters * lrm * 693147) // 1000000000000
         |    ELSE raw_est END::BIGINT AS est_distinct,
         |  exact.exact_distinct
         |FROM ze JOIN exact ON ze.hour = exact.hour
         |ORDER BY ze.hour""".stripMargin
    },
    // The merge query's oracle IS the direct full-corpus estimate:
    // equality is the merge-equals-rescan contract.
    "sk_hll_merge" ->
      s"""WITH $wordsSql,
         |$regRhoSql,
         |regs AS (SELECT reg, max(rho) AS rho FROM rr GROUP BY reg),
         |$estimateSql""".stripMargin,
    // dense grid + inequality-join window states the trailing-sum
    // semantics; the Spark side's per-cell RANGE window is the
    // one-pass scale form (row-identical)
    "sk_cms_sliding" -> {
      val evCells = (0 until CmsRows).map(i =>
        s"{'r': $i, 'b': ${OracleSql.hexLong("h", i + 1, 1)}::INT}").mkString(", ")
      val probeCells = (0 until CmsRows).map(i =>
        s"{'r': $i, 'b': ${OracleSql.hexLong("md5(key)", i + 1, 1)}::INT}").mkString(", ")
      s"""WITH ev AS (
         |  SELECT date_trunc('hour', ts) AS hour,
         |    json_extract_string(props, '$$.k') AS key
         |  FROM events),
         |hourly AS (
         |  SELECT hour, cell.r AS r, cell.b AS b, count(*)::BIGINT AS c FROM (
         |    SELECT hour, unnest([$evCells]) AS cell
         |    FROM (SELECT hour, md5(key) AS h FROM ev))
         |  GROUP BY 1, 2, 3),
         |hours AS (SELECT DISTINCT hour FROM ev),
         |grid AS (
         |  SELECT CAST(rr.r AS INT) AS r, CAST(bb.b AS INT) AS b
         |  FROM (SELECT unnest(range(0, $CmsRows)) AS r) rr,
         |       (SELECT unnest(range(0, $CmsBuckets)) AS b) bb),
         |merged AS (
         |  SELECT hs.hour, g.r, g.b,
         |    CAST(COALESCE(sum(hh.c), 0) AS BIGINT) AS c24
         |  FROM hours hs CROSS JOIN grid g
         |  LEFT JOIN hourly hh ON hh.r = g.r AND hh.b = g.b
         |    AND hh.hour > hs.hour - INTERVAL 24 HOURS AND hh.hour <= hs.hour
         |  GROUP BY 1, 2, 3),
         |top AS (
         |  SELECT key FROM (
         |    SELECT key, count(*) AS n FROM ev GROUP BY key
         |    ORDER BY n DESC, key ASC LIMIT 5)),
         |probe AS (
         |  SELECT key, cell.r AS r, cell.b AS b FROM (
         |    SELECT key, unnest([$probeCells]) AS cell FROM top)),
         |est AS (
         |  SELECT m.hour, p.key, min(m.c24)::BIGINT AS est_cnt
         |  FROM merged m JOIN probe p ON p.r = m.r AND p.b = m.b
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT anchor AS hour, key, CAST(sum(n) AS BIGINT) AS exact_cnt
         |  FROM (
         |    SELECT hn.hour + kk * INTERVAL 1 HOUR AS anchor, hn.key, hn.n
         |    FROM (SELECT hour, key, count(*)::BIGINT AS n FROM ev
         |          WHERE key IN (SELECT key FROM top) GROUP BY 1, 2) hn,
         |         UNNEST(range(0, 24)) AS u(kk))
         |  WHERE anchor IN (SELECT hour FROM hours)
         |  GROUP BY 1, 2)
         |SELECT e2.hour, e2.key, e2.est_cnt,
         |  COALESCE(x.exact_cnt, 0) AS exact_cnt
         |FROM est e2 LEFT JOIN exact x
         |  ON x.hour = e2.hour AND x.key = e2.key
         |ORDER BY e2.hour, e2.key""".stripMargin
    },
    "sk_cms_heavy" ->
      s"""WITH w AS (
         |  SELECT key, md5(key) AS h FROM (
         |    SELECT unnest(${OracleSql.toks}) AS key FROM documents)),
         |cells AS (
         |  SELECT cell.r AS r, cell.b AS b, count(*)::BIGINT AS c FROM (
         |    SELECT unnest([${(0 until CmsRows).map(i =>
               s"{'r': $i, 'b': ${OracleSql.hexLong("h", i + 1, 1)}::INT}").mkString(", ")}]) AS cell
         |    FROM w)
         |  GROUP BY 1, 2),
         |top AS (
         |  SELECT key, count(*)::BIGINT AS exact_cnt FROM w GROUP BY key
         |  ORDER BY exact_cnt DESC, key ASC LIMIT 10),
         |probe AS (
         |  SELECT key, exact_cnt, cell.r AS r, cell.b AS b FROM (
         |    SELECT key, exact_cnt, unnest([${(0 until CmsRows).map(i =>
               s"{'r': $i, 'b': ${OracleSql.hexLong("md5(key)", i + 1, 1)}::INT}").mkString(", ")}]) AS cell
         |    FROM top))
         |SELECT p.key, p.exact_cnt, min(c.c)::BIGINT AS est_cnt
         |FROM probe p JOIN cells c ON c.r = p.r AND c.b = p.b
         |GROUP BY p.key, p.exact_cnt ORDER BY p.key""".stripMargin,
    // Direct full-corpus cell table — equality with the Spark side's
    // half⊕half cellwise sum is the CMS merge contract.
    "sk_cms_merge" ->
      s"""WITH w AS (
         |  SELECT key, md5(key) AS h FROM (
         |    SELECT unnest(${OracleSql.toks}) AS key FROM documents))
         |SELECT cell.r AS r, cell.b AS b, count(*)::BIGINT AS c FROM (
         |  SELECT unnest([${(0 until CmsRows).map(i =>
             s"{'r': $i, 'b': ${OracleSql.hexLong("h", i + 1, 1)}::INT}").mkString(", ")}]) AS cell
         |  FROM w)
         |GROUP BY 1, 2 ORDER BY r, b""".stripMargin,
    "sk_kmv_intersect" -> {
      def halfSql(name: String, cond: String) =
        s"""$name AS (
           |  SELECT DISTINCT ${OracleSql.hexLong("md5(key)", 1, 13)} AS hv FROM (
           |    SELECT array_to_string(list_slice(t, i, i + 2), ' ') AS key
           |    FROM (SELECT ${OracleSql.toks} AS t FROM documents
           |          WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) $cond),
           |         UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
           |    WHERE len(t) >= 3))""".stripMargin
      val c = 1L << 52
      s"""WITH ${halfSql("ha", "< '8'")},
         |${halfSql("hb", ">= '8'")},
         |ka AS (SELECT hv FROM ha ORDER BY hv LIMIT $KmvIntersectK),
         |kb AS (SELECT hv FROM hb ORDER BY hv LIMIT $KmvIntersectK),
         |th AS (SELECT least((SELECT max(hv) FROM ka),
         |                    (SELECT max(hv) FROM kb)) AS theta),
         |sa AS (SELECT hv FROM ka, th WHERE hv < theta),
         |sb AS (SELECT hv FROM kb, th WHERE hv < theta),
         |e AS (SELECT
         |  (SELECT count(*)::BIGINT FROM sa) AS n_a,
         |  (SELECT count(*)::BIGINT FROM sb) AS n_b,
         |  (SELECT count(*)::BIGINT FROM
         |     (SELECT hv FROM sa INTERSECT SELECT hv FROM sb)) AS n_common,
         |  (SELECT count(*)::BIGINT FROM
         |     (SELECT hv FROM ha INTERSECT SELECT hv FROM hb)) AS exact_inter,
         |  (SELECT theta FROM th) AS theta)
         |SELECT ((n_a * $c) // theta)::BIGINT AS est_a,
         |  ((n_b * $c) // theta)::BIGINT AS est_b,
         |  ((n_common * $c) // theta)::BIGINT AS est_inter,
         |  exact_inter
         |FROM e""".stripMargin
    },
    "sk_theta_diff" -> {
      def halfSql(name: String, cond: String) =
        s"""$name AS (
           |  SELECT DISTINCT ${OracleSql.hexLong("md5(key)", 1, 13)} AS hv FROM (
           |    SELECT array_to_string(list_slice(t, i, i + 2), ' ') AS key
           |    FROM (SELECT ${OracleSql.toks} AS t FROM documents
           |          WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) $cond),
           |         UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
           |    WHERE len(t) >= 3))""".stripMargin
      val c = 1L << 52
      s"""WITH ${halfSql("ha", "< '8'")},
         |${halfSql("hb", ">= '8'")},
         |ka AS (SELECT hv FROM ha ORDER BY hv LIMIT $KmvIntersectK),
         |kb AS (SELECT hv FROM hb ORDER BY hv LIMIT $KmvIntersectK),
         |th AS (SELECT least((SELECT max(hv) FROM ka),
         |                    (SELECT max(hv) FROM kb)) AS theta),
         |sa AS (SELECT hv FROM ka, th WHERE hv < theta),
         |sb AS (SELECT hv FROM kb, th WHERE hv < theta),
         |e AS (SELECT
         |  (SELECT count(*)::BIGINT FROM
         |     (SELECT hv FROM sb EXCEPT SELECT hv FROM sa)) AS n_new,
         |  (SELECT count(*)::BIGINT FROM
         |     (SELECT hv FROM sa UNION SELECT hv FROM sb)) AS n_union,
         |  (SELECT count(*)::BIGINT FROM
         |     (SELECT hv FROM hb EXCEPT SELECT hv FROM ha)) AS exact_new,
         |  (SELECT theta FROM th) AS theta)
         |SELECT ((n_new * $c) // theta)::BIGINT AS est_new,
         |  ((n_union * $c) // theta)::BIGINT AS est_union,
         |  exact_new
         |FROM e""".stripMargin
    },
    "sk_bloom_probe" -> {
      def halfSql(name: String, cond: String) =
        s"""$name AS (
           |  SELECT DISTINCT key FROM (
           |    SELECT array_to_string(list_slice(t, i, i + 2), ' ') AS key
           |    FROM (SELECT ${OracleSql.toks} AS t FROM documents
           |          WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) $cond),
           |         UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
           |    WHERE len(t) >= 3))""".stripMargin
      def posList(keyExpr: String) =
        (0 until BloomHashes).map(i =>
          s"${OracleSql.hexLong(s"md5($keyExpr)", 4 * i + 1, 4)}").mkString("[", ", ", "]")
      s"""WITH ${halfSql("a", "< '8'")},
         |${halfSql("b", ">= '8'")},
         |bits AS (
         |  SELECT DISTINCT unnest(${posList("key")}) AS pos FROM a),
         |probed AS (
         |  SELECT key, min(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END)
         |    AS all_set
         |  FROM (SELECT key, unnest(${posList("key")}) AS pos FROM b) p
         |  LEFT JOIN bits ON p.pos = bits.pos GROUP BY key),
         |e AS (SELECT count(*)::BIGINT AS exact_common FROM
         |  (SELECT key FROM a INTERSECT SELECT key FROM b))
         |SELECT (SELECT count(*)::BIGINT FROM bits) AS n_bits_set,
         |  (SELECT count(*)::BIGINT FROM a) AS n_a,
         |  (SELECT count(*)::BIGINT FROM probed) AS n_b,
         |  (SELECT sum(all_set)::BIGINT FROM probed) AS bloom_hits,
         |  exact_common
         |FROM e""".stripMargin
    },
    // same two 64-cell tables, HUGEINT-routed inner products, the
    // exact join beside the estimate
    "sk_cms_join_size" -> {
      def cellsSql(name: String, table: String, key: String) =
        s"""$name AS (
           |  SELECT cell.r AS r, cell.b AS b, count(*)::BIGINT AS c FROM (
           |    SELECT unnest([${(0 until CmsRows).map(i =>
                 s"{'r': $i, 'b': ${OracleSql.hexLong(s"md5(CAST($key AS VARCHAR))", i + 1, 1)}::INT}")
                 .mkString(", ")}]) AS cell
           |    FROM $table)
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH ${cellsSql("ca", "orders", "o_custkey")},
         |${cellsSql("cb", "customer", "c_custkey")},
         |nn AS (
         |  SELECT (SELECT count(*)::BIGINT FROM orders) AS n_a,
         |    (SELECT count(*)::BIGINT FROM customer) AS n_b),
         |er AS (
         |  SELECT ca.r,
         |    CAST(sum(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS est_r
         |  FROM ca JOIN cb ON ca.r = cb.r AND ca.b = cb.b
         |  GROUP BY 1),
         |ub AS (
         |  SELECT er.r, er.est_r,
         |    CAST($CmsBuckets * CAST(er.est_r AS HUGEINT)
         |      - CAST(nn.n_a AS HUGEINT) * nn.n_b AS BIGINT) AS corr_num
         |  FROM er CROSS JOIN nn),
         |ue AS (
         |  SELECT r, est_r,
         |    CASE WHEN corr_num >= 0 THEN corr_num // ${CmsBuckets - 1}
         |         ELSE -((-corr_num) // ${CmsBuckets - 1}) END AS unbiased_r
         |  FROM ub),
         |md AS (
         |  SELECT CAST(CASE WHEN sum(unbiased_r) >= 0
         |      THEN sum(unbiased_r) // 2
         |      ELSE -((-sum(unbiased_r)) // 2) END AS BIGINT)
         |    AS unbiased_med
         |  FROM (SELECT unbiased_r,
         |          row_number() OVER (ORDER BY unbiased_r, r) AS rk
         |        FROM ue)
         |  WHERE rk IN (2, 3)),
         |ex AS (
         |  SELECT count(*)::BIGINT AS exact_join
         |  FROM orders JOIN customer ON o_custkey = c_custkey)
         |SELECT ue.r, ue.est_r, ue.unbiased_r,
         |  (SELECT min(est_r) FROM ue) AS upper_bound,
         |  md.unbiased_med, ex.exact_join
         |FROM ue CROSS JOIN md CROSS JOIN ex
         |ORDER BY ue.r""".stripMargin
    },

    // same fixed-point chain: log2micro buckets (dk_*), exp2micro
    // geometric midpoint (de_*), HUGEINT-routed ppm at the edge
    "sk_ddsketch" ->
      s"""WITH RECURSIVE vc AS (
         |  SELECT CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT)
         |      AS cents, count(*) AS cnt
         |  FROM events GROUP BY 1),
         |dk_in AS (SELECT cents, cents AS num, CAST(1 AS BIGINT) AS den
         |          FROM vc WHERE cents >= 1),
         |${OracleSql.log2microCtes("dk", "dk_in", Seq("cents"))},
         |bkt AS (
         |  SELECT v.cents, v.cnt,
         |    CASE WHEN v.cents >= 1 THEN (l.lrm * 8) // 1000000
         |         WHEN v.cents = 0 THEN CAST(-1 AS BIGINT)
         |         ELSE CAST(error('sk_ddsketch: negative cents — add a '
         |           || 'negative store before sketching signed values')
         |           AS BIGINT) END AS bucket
         |  FROM vc v LEFT JOIN dk_lg l USING (cents)),
         |sk AS (
         |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM bkt GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM sk),
         |qs AS (
         |  SELECT qpct, (qpct * n_tot + 99) // 100 AS trank
         |  FROM (SELECT unnest([50, 90, 99]::BIGINT[]) AS qpct), tot),
         |cum AS (SELECT bucket, sum(n) OVER (ORDER BY bucket) AS cum
         |        FROM sk),
         |pick AS (
         |  SELECT q.qpct, q.trank, min(c.bucket) AS bucket
         |  FROM qs q JOIN cum c ON c.cum >= q.trank GROUP BY 1, 2),
         |de_in AS (SELECT qpct, bucket,
         |            (bucket * 2 + 1) * 62500 AS xm FROM pick
         |          WHERE bucket >= 0),
         |${OracleSql.exp2microCtes("de", "de_in", Seq("qpct", "bucket"))},
         |ests AS (
         |  SELECT p.qpct, p.bucket,
         |    CASE WHEN p.bucket >= 0 THEN e.e2m
         |         ELSE CAST(0 AS BIGINT) END AS est_micro
         |  FROM pick p LEFT JOIN de_ex e USING (qpct, bucket)),
         |ccum AS (SELECT cents, sum(cnt) OVER (ORDER BY cents) AS ccum
         |         FROM vc),
         |exq AS (
         |  SELECT q.qpct, min(c.cents) AS exact_cents
         |  FROM qs q JOIN ccum c ON c.ccum >= q.trank GROUP BY 1)
         |SELECT e.qpct, e.bucket, e.est_micro, x.exact_cents,
         |  CASE WHEN x.exact_cents >= 1 THEN
         |    CAST(abs(e.est_micro - CAST(x.exact_cents AS HUGEINT) * 1000000)
         |      * 1000000 // (CAST(x.exact_cents AS HUGEINT) * 1000000)
         |      AS BIGINT)
         |  WHEN e.est_micro = 0 THEN CAST(0 AS BIGINT)
         |  ELSE CAST(NULL AS BIGINT) END AS rel_err_ppm
         |FROM ests e JOIN exq x USING (qpct)
         |ORDER BY qpct""".stripMargin,
    "sk_kmv_distinct" ->
      s"""WITH $wordsSql,
         |hv AS (SELECT DISTINCT ${OracleSql.hexLong("h", 1, 13)} AS hv FROM w),
         |kth AS (
         |  SELECT count(*)::BIGINT AS k, max(hv)::BIGINT AS kth_hash
         |  FROM (SELECT hv FROM hv ORDER BY hv LIMIT $KmvK)),
         |ex AS (SELECT count(DISTINCT key)::BIGINT AS exact_distinct FROM w)
         |SELECT k, kth_hash,
         |  ((k - 1) * ${1L << 52} // kth_hash)::BIGINT AS est_distinct,
         |  exact_distinct
         |FROM kth, ex""".stripMargin
  )
}
