package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Batch event analytics over the `events` table: tumbling time
  * windows, JSON property extraction, gap-based sessionization. These
  * are the batch duals of the Structured Streaming operators in
  * `graft.streaming` — same `window()` semantics, but oracle-checkable
  * in DuckDB (`time_bucket`/`json_extract`).
  *
  * Scale: the tumbling window is a plain groupBy on a derived column —
  * partitions by (window, type) like any hash aggregation. The
  * sessionization window partitions by `user_id`, which is the natural
  * shard key; per-user state is a single lag, so no skew concern unless
  * one user dominates (then: salt by day first).
  */
object EventQueries {

  /** Fixed power-iteration rounds for ev_markov_stationary. */
  val MarkovPowerRounds = 4

  /** Haar pyramid depth for ev_haar_energy (level l pairs
    * 2^(l−1)-hour sums).
    */
  val HaarLevels = 5

  /** EWMA convolution depth for ev_ewma: the α = 1/2 recursion
    * unrolled to K dyadic taps — the dropped tail is < max_y·2⁻⁴⁰,
    * and identical truncation on both engines is the contract.
    */
  val EwmaTaps = 40

  /** ev_sprt model constants in exact micro — FIXED DECIMAL LITERALS
    * shared by both engines (the Similarity rank-discount
    * convention), never a runtime libm call: testing H0 p=0.3 vs
    * H1 p=0.4 at α=β=0.05, the per-observation LLR increments are
    * ln(0.4/0.3)=0.287682… and ln(0.6/0.7)=−0.154151…, thresholds
    * ±ln(19)=±2.944439….
    */
  val SprtConvMicro = 287682L
  val SprtNoConvMicro = -154151L
  val SprtUpperMicro = 2944439L
  val SprtLowerMicro = -2944439L

  /** ev_power_mde: (z_{0.025} + z_{0.2})² = (1.959964 + 0.841621)² =
    * 7.848878… in exact micro — a fixed decimal literal shared by
    * both engines (no quantile function executes anywhere).
    */
  val PowerZSumSqMicro = 7848878L

  /** THE cents convention of every monetary row — delegates to the
    * shared [[Agg.centsOf]] (one definition across modules).
    */
  private def centsCol: org.apache.spark.sql.Column =
    Agg.centsOf(col("value"))

  /** Per-user total spend in cents — the metric frame shared by
    * ev_mann_whitney and ev_power_mde (CUPED/DiD split it pre/post and
    * the bootstrap resamples rows, so they derive their own shapes
    * from [[centsCol]]).
    */
  private def perUserCents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), centsCol.as("cents"))
      .groupBy("user_id").agg(sum(col("cents")).as("v"))

  /** md5-parity experiment arm — THE assignment hash of every
    * experimentation row (ab_experiment/cuped/srm/did/mann_whitney/
    * sprt). One definition per engine: the Spark column here and its
    * DuckDB dual [[hex13Sql]] must stay byte-equivalent, or the two
    * engines put users in different arms and every readout reds.
    */
  private def armCol: org.apache.spark.sql.Column =
    pmod(conv(substring(md5(col("user_id").cast("string")), 1, 13),
      16, 10).cast("long"), lit(2L)).cast("int")

  /** DuckDB mirror of `conv(substring(md5(user_id), 1, 13), 16, 10)`:
    * the 13-nibble positional decode (the SketchQueries idiom).
    */
  private val hex13Sql: String =
    OracleSql.hexLong("md5(CAST(user_id AS VARCHAR))", 1, 13)

  /** Shared first-order transition-matrix derivation of the Markov
    * trilogy (ev_markov / ev_markov_stationary / ev_absorption):
    * per-user successor pairs from a lead() window ((ts, event_id)
    * ordering is total, user_id is the natural shard key), transition
    * counts, and exact integer micro-probabilities n·10⁶ DIV
    * row-total. Extracted in round 9 so the three consumers (and
    * their oracle CTEs — [[transitionMicroSql]]) cannot drift.
    * Checkpointed: the types²-bounded frame is iterated over by two
    * of the consumers.
    *
    * MATERIALIZED once per (session, dir) through
    * [[graft.CacheRegistry]] — round-10 verdict mandate: the ~6
    * Markov-family consumers (ev_markov, ev_markov_stationary,
    * ev_markov_entropy, ev_absorption, ev_attribution_removal — plus
    * stationaryMicro's own re-derivation) each re-ran the full events
    * scan + per-user lead window. The exact
    * [[Dedup.verifiedPairs]] treatment: the first consumer pays the
    * corpus pass once, later consumers scan the types²-bounded
    * checkpoint blocks; lifetime/staleness via the registry
    * (Tables.invalidate drops it with the table handle). The
    * production shape at 100 TB: the transition matrix is computed
    * once per corpus snapshot and every chain solver reads the
    * snapshot.
    */
  private val markovCache = graft.CacheRegistry.newCache()
  private def transitionMicro(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached[DataFrame](markovCache, s, dir, "transitionMicro")(
      transitionMicroFresh(s, dir))

  private def transitionMicroFresh(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
    tr.join(broadcast(tr.groupBy("cur").agg(sum(col("n")).as("row_n"))), "cur")
      .select(col("cur"), col("nxt"), col("n"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000) DIV row_n " +
          "AS BIGINT)").as("pm"))
      .localCheckpoint(false)
  }

  /** Stationary distribution of the behavior chain in micro-units
    * ([[MarkovPowerRounds]] power-iteration rounds from uniform over
    * the cur-states) — the ev_markov_stationary body, shared with the
    * entropy-rate row. Memoized like [[transitionMicro]]: the
    * ev_markov_stationary and ev_markov_entropy rows share the
    * iterated fixed-point instead of each re-running the power loop.
    */
  // A SEPARATE map from markovCache: stationaryMicroFresh calls
  // transitionMicro, and nesting computeIfAbsent on the SAME
  // ConcurrentHashMap is a documented-illegal recursive update (the
  // JDK throws "Recursive update" when the two keys land in one bin —
  // session-UUID-dependent, so it would be an intermittent failure).
  private val stationaryCache = graft.CacheRegistry.newCache()
  private def stationaryMicro(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached[DataFrame](stationaryCache, s, dir,
      "stationaryMicro")(stationaryMicroFresh(s, dir))

  private def stationaryMicroFresh(s: SparkSession, dir: String): DataFrame = {
    val p = transitionMicro(s, dir).select("cur", "nxt", "pm")
    val states = p.select(col("cur").as("state")).distinct()
    val nStates = states.count()
    Rounds.fixed(MarkovPowerRounds, states.select(col("state"),
        lit(1000000L / nStates).as("pim"))) { (pi, _) =>
      pi.join(p, pi("state") === p("cur"))
        .groupBy(col("nxt").as("s2"))
        .agg(expr("sum(pim * pm) DIV 1000000").as("pim"))
        .select(col("s2").as("state"), col("pim"))
    }
  }

  /** The first-passage absorption recurrence into 'purchase', one
    * chain per removal variant `rem`: `pv` is (rem, cur, nxt, pm), `sv`
    * is (rem, state). Each round,
    * am'(s) = Σ_{s→t} pm·am(t) DIV 10⁶, with the absorber clamped to
    * 10⁶ and sink states at 0 — one join + one aggregation keyed by
    * (rem, state). Returns (rem, state, am) after
    * [[MarkovPowerRounds]] rounds.
    */
  private def absorption(pv: DataFrame, sv: DataFrame): DataFrame = {
    def clamped(step: Column) =
      when(col("state") === "purchase", lit(1000000L)).otherwise(step).as("am")
    Rounds.fixed(MarkovPowerRounds,
        sv.select(col("rem"), col("state"), clamped(lit(0L)))) { (ab, _) =>
      val stepped = pv
        .join(ab.select(col("rem"), col("state").as("nxt"), col("am")),
          Seq("rem", "nxt"))
        .groupBy(col("rem"), col("cur").as("state"))
        .agg(expr("sum(pm * am) DIV 1000000").as("step"))
      sv.join(stepped, Seq("rem", "state"), "left")
        .select(col("rem"), col("state"), clamped(coalesce(col("step"), lit(0L))))
    }
  }

  /** Every state of a transition frame (cur, nxt, pm), checkpointed:
    * each absorption round joins it.
    */
  private def markovStates(p: DataFrame): DataFrame =
    p.select(col("cur").as("state"))
      .unionAll(p.select(col("nxt").as("state"))).distinct()
      .localCheckpoint(false)

  /** ev_absorption over a transition frame (cur, nxt, pm): the 'none'
    * (no removal) chain of [[absorption]]. Returns (state, absorb_micro).
    */
  private[graft] def absorptionOf(p: DataFrame): DataFrame = {
    val none = lit("none").as("rem")
    absorption(p.select(none, col("cur"), col("nxt"), col("pm")),
        markovStates(p).select(none, col("state")))
      .select(col("state"), col("am").as("absorb_micro"))
  }

  /** DuckDB mirror of [[transitionMicro]]: CTEs seq/tr/p, where `p`
    * is (cur, nxt, n, pm).
    */
  private val transitionMicroSql: String =
    """seq AS (
      |  SELECT user_id, event_type AS cur,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |tr AS (SELECT cur, nxt, count(*) AS n FROM seq
      |       WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |p AS (SELECT tr.cur, tr.nxt, tr.n,
      |        CAST((CAST(tr.n AS HUGEINT) * 1000000) // t.row_n AS BIGINT) AS pm
      |      FROM tr JOIN (SELECT cur, CAST(sum(n) AS BIGINT) AS row_n
      |                    FROM tr GROUP BY 1) t
      |        ON tr.cur = t.cur)""".stripMargin

  // ---- public attribution API (aliased on graft.Graft) ----

  /** Position-based (U-shaped) multi-touch attribution: every row of
    * `purchases` (p_id, p_user, p_ts) distributes exactly 10,000 basis
    * points over the same user's `touches` (t_user, t_ts, t_id,
    * touch_type) within `lookbackHours` before it — 40% first, 40%
    * last, 20% across middles with the integer remainder on the last
    * middle (1 touch → 10000, 2 → 5000/5000). Unreached purchases
    * report under touch_type 'none' at full credit, so the grand
    * total is always 10,000 × purchases. Returns one row per
    * touch_type: (touch_type, n_purchases, n_touches, credit_bp).
    */
  def attributionUShape(purchases: DataFrame, touches: DataFrame,
                        lookbackHours: Int): DataFrame = {
    val joined = purchases.join(touches,
      col("p_user") === col("t_user") &&
        col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackHours HOURS"))
    val wPos = Window.partitionBy(col("p_id"))
      .orderBy(col("t_ts"), col("t_id"))
    val credited = joined
      .withColumn("rn", row_number().over(wPos).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("p_id"))).cast("long"))
      .withColumn("credit_bp", expr(
        """CASE WHEN n = 1 THEN 10000
          |     WHEN n = 2 THEN 5000
          |     WHEN rn = 1 OR rn = n THEN 4000
          |     WHEN rn = n - 1 THEN 2000 DIV (n - 2) + 2000 % (n - 2)
          |     ELSE 2000 DIV (n - 2) END""".stripMargin))
    val attributed = credited.groupBy("touch_type")
      .agg(countDistinct(col("p_id")).as("n_purchases"),
        count(lit(1)).as("n_touches"),
        sum(col("credit_bp")).as("credit_bp"))
    val none = purchases
      .join(credited.select("p_id"), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_purchases"))
      .select(lit("none").as("touch_type"), col("n_purchases"),
        lit(0L).as("n_touches"), (col("n_purchases") * 10000L).as("credit_bp"))
    attributed.unionByName(none).orderBy("touch_type")
  }

  // ---- public sweep-line API (aliased on graft.Graft) ----

  /** ±1 boundary deltas of the implied [ts, ts + lengthMicros)
    * intervals, pre-aggregated by (t, d) and hour-bucketed — the
    * shared first stage of the three sweep read-outs.
    */
  private def sweepDeltas(events: DataFrame, tsCol: String,
      lengthMicros: Long): DataFrame =
    events.select(col(tsCol).as("t"), lit(1).as("d"), lit(1L).as("dd"))
      .unionByName(events.select(
        timestamp_micros(unix_micros(col(tsCol)) + lit(lengthMicros))
          .as("t"), lit(-1).as("d"), lit(-1L).as("dd")))
      .groupBy("t", "d").agg(sum(col("dd")).as("dd"))
      .withColumn("hour", date_trunc("hour", col("t")))

  /** The three declared sweep rows (ev_peak_concurrency,
    * ev_hour_utilization, ev_conc_histogram) are three read-outs of
    * ONE sweep over the same (events.ts, 15 min) intervals — each was
    * rebuilding the delta substrate (two passes over events + the
    * (t, d) pre-aggregation exchange) per execution. Memoized per
    * (session, dir) through CacheRegistry (round 18 — the
    * postingsSubstrate / round-13 verdict #2 convention: compute once
    * per corpus snapshot, every read-out scans the materialization;
    * the first row priced runs the build, staleness via
    * Tables.invalidate). The PUBLIC API helpers below stay
    * substrate-fresh for arbitrary frames/columns.
    */
  private val sweepCache = graft.CacheRegistry.newCache()
  private def sweepDeltas15m(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached[DataFrame](sweepCache, s, dir, "sweepDeltas15m")(
      sweepDeltas(Tables.events(s, dir), "ts", 15L * 60 * 1000000)
        .localCheckpoint(false))

  /** Carry-in concurrency at each hour boundary: the one unpartitioned
    * window, over the calendar-bounded hour frame only.
    */
  private def hourCarry(deltas: DataFrame): DataFrame =
    deltas.groupBy("hour").agg(sum(col("dd")).as("hd"))
      .withColumn("carry_in", coalesce(
        sum(col("hd")).over(Window.orderBy(col("hour"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("hour", "carry_in")

  /** Peak concurrent intervals per hour — each event opens a
    * [ts, ts+lengthMicros) interval; output (hour, n_opens,
    * peak_conc). See the ev_peak_concurrency query comment for the
    * two-phase decomposition rationale.
    */
  def peakConcurrency(events: DataFrame, tsCol: String,
      lengthMicros: Long): DataFrame =
    peakFromDeltas(sweepDeltas(events, tsCol, lengthMicros))

  private def peakFromDeltas(deltas0: DataFrame): DataFrame = {
    val deltas = deltas0.withColumn("n", abs(col("dd")))
    val wIn = Window.partitionBy(col("hour")).orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    deltas.join(broadcast(hourCarry(deltas)), Seq("hour"))
      .withColumn("conc", col("carry_in") + sum(col("dd")).over(wIn))
      .groupBy("hour")
      .agg(sum(when(col("d") === 1L, col("n")).otherwise(0L)).as("n_opens"),
        max(col("conc")).as("peak_conc"))
      .orderBy("hour")
  }

  /** Interval-union coverage per hour — output (hour, covered_micros,
    * util_ppm). See the ev_hour_utilization query comment.
    */
  def intervalUtilization(events: DataFrame, tsCol: String,
      lengthMicros: Long): DataFrame =
    utilizationFromDeltas(sweepDeltas(events, tsCol, lengthMicros))

  private def utilizationFromDeltas(deltas: DataFrame): DataFrame = {
    val pts = deltas.select("t", "d", "dd").unionByName(
        deltas.select(date_trunc("hour", col("t")).as("t")).distinct()
          .select(col("t"), lit(0).as("d"), lit(0L).as("dd")))
      .withColumn("hour", date_trunc("hour", col("t")))
    val wIn = Window.partitionBy(col("hour")).orderBy(col("t"), col("d"))
    val wCum = wIn.rowsBetween(Window.unboundedPreceding, 0)
    pts.join(broadcast(hourCarry(pts)), Seq("hour"))
      .withColumn("conc", col("carry_in") + sum(col("dd")).over(wCum))
      .withColumn("nt", coalesce(lead(col("t"), 1).over(wIn),
        col("hour") + expr("INTERVAL 1 HOUR")))
      .groupBy("hour")
      .agg(sum(when(col("conc") > 0L,
          unix_micros(col("nt")) - unix_micros(col("t")))
        .otherwise(0L)).as("covered_micros"))
      .withColumn("util_ppm",
        expr("(covered_micros * 1000000L) DIV 3600000000"))
      .orderBy("hour")
  }

  /** Time spent at each concurrency level — the queueing-analysis
    * view (how long were exactly c sessions live): every sweep
    * segment [t, next point) has constant concurrency, so the
    * histogram is one aggregation over the same hour-partitioned
    * segment frame [[intervalUtilization]] builds. conc = 0 rows
    * measure idle time inside the observed hour span. Zero-length
    * segments (coincident boundary points) are filtered so phantom
    * intermediate levels never appear. Output (conc, total_micros),
    * bounded by the peak concurrency.
    */
  def concurrencyHistogram(events: DataFrame, tsCol: String,
      lengthMicros: Long): DataFrame =
    histogramFromDeltas(sweepDeltas(events, tsCol, lengthMicros))

  private def histogramFromDeltas(deltas: DataFrame): DataFrame = {
    val pts = deltas.select("t", "d", "dd").unionByName(
        deltas.select(date_trunc("hour", col("t")).as("t")).distinct()
          .select(col("t"), lit(0).as("d"), lit(0L).as("dd")))
      .withColumn("hour", date_trunc("hour", col("t")))
    val wIn = Window.partitionBy(col("hour")).orderBy(col("t"), col("d"))
    val wCum = wIn.rowsBetween(Window.unboundedPreceding, 0)
    pts.join(broadcast(hourCarry(pts)), Seq("hour"))
      .withColumn("conc", col("carry_in") + sum(col("dd")).over(wCum))
      .withColumn("nt", coalesce(lead(col("t"), 1).over(wIn),
        col("hour") + expr("INTERVAL 1 HOUR")))
      .withColumn("seg", unix_micros(col("nt")) - unix_micros(col("t")))
      .groupBy("conc").agg(sum(col("seg")).as("total_micros"))
      .filter(col("total_micros") > 0L)
      .orderBy("conc")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RFM SEGMENTATION — the classic customer-value operator (recency /
    // frequency / monetary, Hughes 1994): per user, days since last
    // event (vs the corpus max, integer microsecond arithmetic), event
    // count, and lifetime value in cents (floor(value·100) per row —
    // the IEEE multiply and floor produce identical doubles on both
    // engines, then an order-free BIGINT sum). Each dimension scores
    // 1–5 by quintile cutoffs from exact `percentile` (4dp-rounded per
    // the FP-interpolation parity rule) assigned by comparing against
    // the broadcast 1-row cutoff frame — the q_ntile pattern, NO
    // window anywhere (an unpartitioned NTILE would move every user to
    // one task). Recency scores invert (recent = high). The ≤125-cell
    // (r,f,m) report carries the named marketing segment per cell. At
    // 100 TB the per-user frame is one map-side-combined groupBy and
    // the exact percentile swaps for approx_percentile — same plan.
    "ev_rfm" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("freq"),
          sum(floor(col("value") * lit(100.0)).cast("long"))
            .as("monetary_cents"),
          max(col("ts")).as("last_ts"))
      val mx = Tables.events(s, dir).agg(max(col("ts")).as("mts"))
      val ur = u.crossJoin(broadcast(mx))
        .withColumn("recency_days",
          expr("(unix_micros(mts) - unix_micros(last_ts)) DIV 86400000000"))
        .localCheckpoint(false) // per-user frame, reused by cuts + scoring
      val cuts = ur.agg(
          expr("percentile(recency_days, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
          expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
          expr("percentile(monetary_cents, array(0.2, 0.4, 0.6, 0.8))")
            .as("mc"))
        .select((1 to 4).flatMap(i => Seq(
          round(element_at(col("rc"), i), 4).as(s"r$i"),
          round(element_at(col("fc"), i), 4).as(s"f$i"),
          round(element_at(col("mc"), i), 4).as(s"m$i"))): _*)
      def score(v: String, c: String, invert: Boolean) = {
        val cmp = (i: Int) =>
          if (invert) col(v) < col(s"$c$i") else col(v) > col(s"$c$i")
        (lit(1) + (1 to 4).map(i => cmp(i).cast("int")).reduce(_ + _))
          .cast("long")
      }
      ur.crossJoin(broadcast(cuts))
        .withColumn("r_score", score("recency_days", "r", invert = true))
        .withColumn("f_score", score("freq", "f", invert = false))
        .withColumn("m_score", score("monetary_cents", "m", invert = false))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"),
          sum(col("freq")).as("n_events"),
          sum(col("monetary_cents")).as("monetary_cents"))
        .withColumn("segment", expr(
          "CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 " +
            "THEN 'champions' " +
            "WHEN r_score <= 2 AND m_score >= 4 THEN 'at_risk' " +
            "WHEN f_score >= 4 THEN 'loyal' " +
            "WHEN m_score >= 4 THEN 'big_spender' " +
            "WHEN r_score <= 2 THEN 'hibernating' " +
            "ELSE 'casual' END"))
        .select("r_score", "f_score", "m_score", "segment", "n_users",
          "n_events", "monetary_cents")
        .orderBy("r_score", "f_score", "m_score")
    }),

    // NEW-VS-RETURNING DECOMPOSITION — the first split any DAU chart
    // gets: per UTC day, how many actives are first-ever-seen vs
    // returning (acquisition vs retention driving the same topline).
    // Rides ev_dau_wau's (day, user) daily-active frame; each user's
    // first day is one more aggregation of that frame, joined back
    // co-partitioned on user_id. new + returning = dau exactly, and
    // new summed over days = the user base — both conservation laws
    // the spec pins. Integer contract, ISO day strings.
    "ev_new_vs_returning" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        .localCheckpoint(false)
      val first = du.groupBy("user_id").agg(min(col("d")).as("fd"))
      du.join(first, "user_id")
        .groupBy("d")
        .agg(count(lit(1)).as("dau"),
          sum((col("d") === col("fd")).cast("long")).as("new_users"))
        .select(col("d").cast("string").as("day"), col("dau"),
          col("new_users"),
          (col("dau") - col("new_users")).as("returning"),
          expr("(new_users * 1000000) DIV dau").as("new_ppm"))
        .orderBy("day")
    }),

    // PARETO CONCENTRATION CURVE — ev_gini's readable companion: for
    // each demand decile d, the MINIMUM number of users that accounts
    // for ≥ d/10 of all events, with its user-base share in ppm (the
    // "20% of users drive 80% of traffic" table). Computed exactly
    // from the count-of-counts histogram — activity-desc cumulative
    // sums over the value-bounded distinct-count frame (the ev_gini
    // doctrine: never a sorted user list) — and the boundary row's
    // partial take is an integer ceiling, so the answer is the true
    // minimum, not a bucket approximation. Deciles join the cumulative
    // frame by the smallest cum ≥ target (cum is strictly increasing,
    // so the argmin is unique); everything after the one histogram
    // shuffle runs on the ≤distinct-counts×9 model frame.
    "ev_pareto" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cc = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("k"))
      val w = Window.orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = cc
        .withColumn("cum_e", sum(expr("c * k")).over(w))
        .withColumn("cum_u", sum(col("k")).over(w))
        .localCheckpoint(false) // value-bounded frame
      val tot = cum.agg(max(col("cum_e")).as("t"), max(col("cum_u")).as("u"))
      val dec = (1 to 9).map(d => (d * 10L, d.toLong))
        .toList
      val deciles = {
        import s.implicits._
        dec.toDF("decile", "d10")
      }
      val targets = deciles.crossJoin(broadcast(tot))
        .withColumn("target", expr("(t * d10 + 9) DIV 10"))
      val bound = targets.join(cum, col("cum_e") >= col("target"))
        .groupBy("decile", "target", "t", "u")
        .agg(min(col("cum_e")).as("b_cum_e"))
      bound.join(cum, col("cum_e") === col("b_cum_e"))
        .select(col("decile"), col("target").as("target_events"),
          expr("(cum_u - k) + ((target - (cum_e - c * k)) + c - 1) DIV c")
            .as("users_needed"), col("u").as("n_users"))
        .withColumn("users_ppm", expr("(users_needed * 1000000) DIV n_users"))
        .orderBy("decile")
    }),

    // COHORT LTV TRIANGLE — the revenue dual of activity retention:
    // users grouped by first-event week (the cohort), revenue rolled
    // up by week-age since that cohort, giving the (cohort × age)
    // triangle an LTV model integrates along rows. ev_retention
    // answers "did they come back"; this answers "what were they
    // worth when they did" — cents via the per-row IEEE floor rule,
    // order-free sums. The per-user first-week frame joins back
    // co-partitioned on user_id (one shuffle), the triangle is a
    // weeks²-bounded aggregation, and the week-age arithmetic is an
    // integer day diff DIV 7 so no date semantics diverge.
    "ev_cohort_ltv" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"),
          floor(col("value") * lit(100.0)).cast("long").as("cents"))
      val firstWk = ev.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      ev.join(firstWk, "user_id")
        .withColumn("age_w", expr(
          "datediff(CAST(wk AS DATE), CAST(cohort AS DATE)) DIV 7"))
        .groupBy(col("cohort").cast("date").cast("string").as("cohort"),
          col("age_w"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("revenue_cents"))
        .orderBy("cohort", "age_w")
    }),

    // USER-LIFETIME SURVIVAL CURVE — the discrete Kaplan–Meier shape
    // with no censoring (the observation window closes the study):
    // S(k) = fraction of users whose activity span reached ≥ k days,
    // the churn curve a retention review reads right-to-left. Spans
    // are integer day counts from per-user min/max timestamps (one
    // map-side-combined aggregation); the curve evaluates over the
    // value-bounded day spine (≤ observation window) by joining the
    // span HISTOGRAM against the spine and summing the tail — never a
    // per-user scan per k. Monotone non-increasing by construction,
    // S(0) = 1e6 exactly; pure integer contract.
    "ev_survival" -> ((s, dir) => {
      val spans = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(expr("(unix_micros(max(ts)) - unix_micros(min(ts))) " +
          "DIV 86400000000").as("span_d"))
      val hist = spans.groupBy("span_d").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // value-bounded (≤ window days) frame
      val tot = hist.agg(sum(col("c")).as("n_users"))
      val spine = hist.select(col("span_d").as("k")).distinct()
      spine.join(hist, col("span_d") >= col("k"))
        .groupBy("k").agg(sum(col("c")).as("n_surviving"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_surviving"), col("n_users"),
          expr("(n_surviving * 1000000) DIV n_users").as("s_ppm"))
        .orderBy("k")
    }),

    // WEEK-OVER-WEEK GROWTH — the period-over-period report every BI
    // review reads next to the stickiness ratio: weekly event counts
    // per type with the ratio to the previous week in ppm (NULL for
    // each type's first week — a genuine absence, not a zero). The
    // lag window runs over the ALREADY-AGGREGATED (type, week) frame
    // — types × weeks rows, never raw events — and Monday-start
    // date_trunc('week') agrees between Spark and DuckDB, with the
    // week serialized as an ISO date string per the ev_dau_wau type
    // rule. Integer contract; the growth division truncates
    // identically on both engines.
    "ev_wow_growth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wk = Tables.events(s, dir)
        .select(col("event_type"), date_trunc("week", col("ts")).as("wkd"))
        .groupBy("event_type", "wkd").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("wkd"))
      wk.withColumn("prev", lag(col("n"), 1).over(w))
        .select(col("event_type"),
          col("wkd").cast("date").cast("string").as("week"),
          col("n"), col("prev"),
          expr("CASE WHEN prev IS NULL THEN CAST(NULL AS BIGINT) " +
            "ELSE (n * 1000000) DIV prev END").as("ratio_ppm"))
        .orderBy("event_type", "week")
    }),

    // DAU/WAU STICKINESS — the engagement ratio every product review
    // opens with: per UTC calendar day, distinct daily actives over
    // distinct trailing-7-day actives, in ppm (DAU/WAU ≈ how many of
    // the weekly users show up on a given day). The base frame is the
    // (day, user) daily-active table every analytics warehouse
    // materializes — one distinct shuffle — and the trailing window
    // is a ≤7× expansion join of that frame against the tiny day
    // spine, NEVER a distinct-over-window (count distinct does not
    // compose with sliding frames; re-aggregating the expanded rows
    // is the standard exact answer). Integer contract throughout;
    // day serialized as an ISO string so both engines agree on type.
    "ev_dau_wau" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        .localCheckpoint(false) // daily-active frame, reused 3×
      val days = du.select("d").distinct()
      val dau = du.groupBy("d").agg(countDistinct(col("user_id")).as("dau"))
      val wau = broadcast(days.as("sp")).join(du.as("u"),
          col("u.d") >= date_sub(col("sp.d"), 6) && col("u.d") <= col("sp.d"))
        .groupBy(col("sp.d").as("d"))
        .agg(countDistinct(col("u.user_id")).as("wau"))
      dau.join(wau, "d")
        .select(col("d").cast("string").as("day"), col("dau"), col("wau"),
          expr("(dau * 1000000) DIV wau").as("stickiness_ppm"))
        .orderBy("day")
    }),

    // BOT-REGULARITY SCREEN — scripted clients fire on timers, humans
    // don't: the squared coefficient of variation of a user's
    // inter-event gaps separates them (cv² → 0 for clockwork traffic,
    // ~1 for Poisson arrivals). Gaps come from a per-USER lead window
    // (user-bounded, doctrine-compliant), in seconds so squares fit;
    // variance is the exact integer identity n·Σg² − (Σg)² with the
    // quadratic terms in DECIMAL(38)/HUGEINT, and cv²_ppm divides by
    // (Σg)² with the all-same-timestamp degenerate case pinned to 0
    // (also bot-like) rather than NULL — Spark and DuckDB order NULLs
    // on opposite ends, so a NULL here would flap the top-10. Output:
    // the 10 most-regular users with ≥5 events, a bounded heap.
    "ev_bot_regularity" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("nt", lead(col("ts"), 1).over(w))
        .filter(col("nt").isNotNull)
        .select(col("user_id"),
          expr("(unix_micros(nt) - unix_micros(ts)) DIV 1000000").as("g"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("g")).as("sum_g"),
          sum(expr("g * g")).as("sum_g2"))
        .filter(col("n_gaps") >= 4)
        .withColumn("cv2_ppm", expr(
          "CASE WHEN sum_g = 0 THEN 0L ELSE " +
            "CAST(((CAST(n_gaps AS DECIMAL(38,0)) * sum_g2 - " +
            "CAST(sum_g AS DECIMAL(38,0)) * sum_g) * 1000000) DIV " +
            "(CAST(sum_g AS DECIMAL(38,0)) * sum_g) AS BIGINT) END"))
        .withColumn("mean_gap_s", expr("sum_g DIV n_gaps"))
        .orderBy(col("cv2_ppm").asc, col("user_id").asc)
        .limit(10)
        .select("user_id", "n_gaps", "mean_gap_s", "cv2_ppm")
    }),

    // BENFORD FIRST-DIGIT AUDIT — the fraud/data-quality screen
    // (Benford 1938, Nigrini 1996): the leading digit of naturally-
    // occurring amounts follows log10(1+1/d); synthetic, capped, or
    // fabricated figures don't, and the per-digit deviation column is
    // the flag an auditor reads. Digit extraction stays integer-exact:
    // amounts floor to cents per row (IEEE multiply + floor, identical
    // both engines), the leading digit comes off the BIGINT's decimal
    // string — no log10 at runtime. The expected shares ARE log10
    // values, so they enter as integer micro-LITERALS baked into both
    // contracts at plan construction (the ss_ndcg_eval treatment —
    // no transcendental executes in either engine). One scan into a
    // 9-cell aggregation; everything after is model-frame arithmetic.
    "ev_benford" -> ((s, dir) => {
      val benfordPpm = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
        66946L, 57991L, 51152L, 45757L)
      val counts = Tables.events(s, dir)
        .select(expr("CAST(floor(abs(value) * CAST(100.0 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1).cast("long")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("tot"))
      counts.crossJoin(broadcast(tot))
        // n/tot are corpus-event-scale counts: n·10⁶ wraps int64 past
        // ~9.2e12 events per digit cell, so the share rides
        // DECIMAL(38,0) (DIV returns the bounded ≤10⁶ BIGINT quotient)
        .withColumn("obs_ppm",
          expr("CAST(n AS DECIMAL(38,0)) * 1000000 DIV tot"))
        .withColumn("exp_ppm",
          element_at(array(benfordPpm.map(lit): _*), col("digit").cast("int")))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
        .select("digit", "n", "obs_ppm", "exp_ppm", "dev_ppm")
        .orderBy("digit")
    }),

    // Anomaly detection: the top-5 z-score outliers per event type.
    // Mean and population variance derive from EXACT micro-integer
    // sums (floor(v·10⁶) and floor(v²·10⁶) longs — the covariance
    // trick, with the square at 10⁶ so the sum has ~10¹² rows of
    // headroom before Long overflow), so μ and σ are identical
    // doubles on both engines and the
    // 4dp-rounded z-score is engine-exact on a quasi-continuous value.
    // The per-type top-5 goes through the bounded-heap TopKAggregator
    // (|z| desc, event_id asc), NOT a type-partitioned window — an
    // event type can be a fifth of a 100 TB stream, and a window
    // row_number would sort that whole partition in one task; the heap
    // shuffles 5 rows per type. The 5·types winner frame then
    // broadcast-joins back for the presentation columns.
    "ev_anomaly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val st = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1000000.0)).cast("long")).as("s1"),
        sum(floor(col("value") * col("value") * lit(1000000.0))
          .cast("long")).as("s2"))
        .withColumn("mu", col("s1").cast("double") / col("n") / lit(1000000.0))
        // the floored micro-sums can put the variance a hair below 0
        // for a constant-valued type (s2 floors down, mu² doesn't) —
        // clamp before sqrt or DuckDB errors and Spark emits NaN
        .withColumn("sigma",
          sqrt(greatest(lit(0.0),
            col("s2").cast("double") / lit(1000000.0) / col("n")
              - col("mu") * col("mu"))))
      val scored = ev.join(broadcast(st.select("event_type", "mu", "sigma")),
          "event_type")
        .withColumn("z4",
          when(col("sigma") === 0.0, lit(0.0))
            .otherwise(round((col("value") - col("mu")) / col("sigma"), 4)))
        .localCheckpoint(false) // reused by the heap and the join-back
      val topkAgg = udaf(new graft.functions.TopKAggregator(5))
      val winners = scored.groupBy("event_type")
        .agg(topkAgg(col("event_id"), abs(col("z4"))).as("tk"))
        .select(col("event_type"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("event_type"), col("e._1").as("event_id"),
          (col("pos") + 1).cast("int").as("rk"))
      scored.join(broadcast(winners), Seq("event_type", "event_id"))
        .select(col("event_type"), col("event_id"), col("value"), col("z4"),
          col("rk"))
        .orderBy("event_type", "rk")
    }),

    // First-order Markov transition matrix of event types — the
    // behavioral model product analytics fits on clickstreams
    // (P(next event | current event) per user journey). Successor
    // pairs come from a per-user lead() window (user_id is the
    // natural shard key, the sessionize argument; (ts, event_id)
    // ordering is total so the sequence is deterministic), then two
    // types²-bounded aggregations; probabilities are exact integer
    // micro-probs (n·10⁶ DIV row-total). Output is a types×types
    // frame regardless of corpus size.
    "ev_markov" -> ((s, dir) =>
      transitionMicro(s, dir)
        .select(col("cur"), col("nxt"), col("n"), col("pm").as("p_micro"))
        .orderBy("cur", "nxt")),

    // Markov STATIONARY DISTRIBUTION — the long-run state occupancy
    // the transition matrix (ev_markov) implies: 4 fixed power rounds
    // of π ← π·P in micro-integers (π and P both at 10⁶; each product
    // sum is an order-free long ≤ states·10¹², one floor per entry
    // per round — the pageRankMicro recipe on the types²-bounded
    // matrix). Uniform start; states = types with outgoing
    // transitions. At 100 TB only the transition count touches data —
    // the iteration runs on a ≤types² broadcast frame. Oracle unrolls
    // the identical rounds as CTEs.
    "ev_markov_stationary" -> ((s, dir) =>
      stationaryMicro(s, dir).orderBy("state")),

    // MARKOV ENTROPY RATE — the predictability number of the behavior
    // chain (how many bits the next event carries once you know the
    // current one): H = Σ_s π_s · H_s with H_s = Σ_t p_st·log₂(1/p_st),
    // the quantity that separates habitual traffic (low rate — bots,
    // templated sessions) from exploratory behavior. Everything rides
    // the shared transition frame and stationary iteration; the logs
    // are fixed-point log2micro of the exact rational 10⁶/pm, per-row
    // floors in fixed order (Σ⌊pm·lg⌋/10⁶ per state, then ⌊π·H⌋/10⁶
    // per contribution). Output: per-state entropy + contribution and
    // the chain-wide rate.
    "ev_markov_entropy" -> ((s, dir) => {
      val p = transitionMicro(s, dir).select("cur", "nxt", "pm")
        .filter(col("pm") > 0)
      val hs = p
        .withColumn("lg", graft.functions.Log2Micro.log2micro(
          lit(1000000L), col("pm")))
        .groupBy(col("cur").as("state"))
        .agg(expr("sum((pm * lg) DIV 1000000)").as("h_state_micro"))
      val contrib = stationaryMicro(s, dir).join(hs, "state")
        .withColumn("contrib_micro",
          expr("(pim * h_state_micro) DIV 1000000"))
      val rate = contrib.agg(sum(col("contrib_micro")).as("rate_micro"))
      contrib.crossJoin(broadcast(rate))
        .select("state", "pim", "h_state_micro", "contrib_micro",
          "rate_micro")
        .orderBy("state")
    }),

    // ACTIVITY GINI — how concentrated is the workload across users
    // (the bot/whale skew number ev_skew_profile's top-k view can't
    // summarize): the exact Gini coefficient computed from the
    // COUNT-OF-COUNTS histogram, never a sorted user list — for a
    // value block of m users at count v after cumb users, the rank
    // sum closed-form makes 2·Σrank·x = Σ v·m·(2·cumb + m + 1), so
    // G = (that − (n+1)·S) / (n·S) is a ratio of two exact integers.
    // The one unpartitioned window runs over the VALUE-bounded
    // histogram (distinct per-user counts). tsr ~ n_users·S is
    // CORPUS-COUNT × USER-COUNT scale — past int64 at ~10⁹ events ×
    // 10⁹ users, the rand_ppm cliff class — so the rank-sum products
    // and g_num/g_den ride DECIMAL(38,0)/HUGEINT end to end; g_num ≥ 0
    // (equality minimizes 2Σrank·x at (n+1)S), so DIV is sign-safe,
    // and the BIGINT output casts fail loudly on both engines.
    "ev_gini" -> ((s, dir) => {
      val hist = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("m"))
      val w = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist
        .withColumn("cumb", coalesce(sum(col("m")).over(w), lit(0L)))
        .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * m * (2 * cumb + m + 1)"))
            .as("tsr"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * m")).as("s"),
          sum(col("m")).as("n"))
        .select(col("n").as("n_users"),
          expr("CAST(s AS BIGINT)").as("total_events"),
          expr("tsr - (n + 1) * s").as("g_num_dec"),
          expr("CAST(n AS DECIMAL(38,0)) * s").as("g_den_dec"))
        .withColumn("gini_ppm",
          expr("CAST(g_num_dec * 1000000 DIV g_den_dec AS BIGINT)"))
        .select(col("n_users"), col("total_events"),
          expr("CAST(g_num_dec AS BIGINT)").as("g_num"),
          expr("CAST(g_den_dec AS BIGINT)").as("g_den"), col("gini_ppm"))
    }),

    // ASSOCIATION RULES over user behavior — market-basket mining at
    // the user × event-type level: for every ordered type pair A→B,
    // support (users with both / all users), confidence (both / A)
    // and lift ((both·N) / (nA·nB)) in integer ppm — the Apriori
    // readout with the basket = a user's distinct type set. Scale:
    // the incidence frame is distinct (user, type) — co-partitioned
    // self-join on user_id produces ≤ types² rows per user map-side,
    // and every downstream frame is types²-bounded. lift_ppm's
    // nAB·N·10⁶ intermediate would overflow BIGINT at ~3·10⁶ users
    // for a popular pair (nAB ≈ N), so it runs in DECIMAL(38,0) /
    // HUGEINT — exact and types²-bounded, headroom to ~10¹⁵ users.
    "ev_assoc_rules" -> ((s, dir) => {
      val inc = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint(false)
      val nUsers = inc.select("user_id").distinct().count()
      val typeN = inc.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val pairs = inc.as("a")
        .join(inc.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("ante"),
          col("b.event_type").as("cons"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(typeN.select(col("event_type").as("ante"),
          col("n").as("n_ante"))), "ante")
        .join(broadcast(typeN.select(col("event_type").as("cons"),
          col("n").as("n_cons"))), "cons")
        .select(col("ante"), col("cons"), col("n_both"),
          col("n_ante"), col("n_cons"),
          expr(s"n_both * 1000000 DIV $nUsers").as("support_ppm"),
          expr("n_both * 1000000 DIV n_ante").as("confidence_ppm"),
          expr(s"CAST((CAST(n_both AS DECIMAL(38,0)) * $nUsers * 1000000) " +
            "DIV (CAST(n_ante AS DECIMAL(38,0)) * n_cons) AS BIGINT)")
            .as("lift_ppm"))
        .orderBy("ante", "cons")
    }),

    // ID-SEQUENCE GAP CENSUS — the data-quality scan that finds holes
    // in a supposedly-dense key sequence (dropped loads, failed
    // partitions): per 4096-key block, present count vs the block's
    // observed [min, max] span — interior missing keys = span −
    // present. NO window and no sort anywhere: one map-side-combined
    // aggregation on key DIV 4096, so the census costs one scan at
    // any scale (the two-phase alternative every lag()-based gap
    // detector needs is simply unnecessary). Blocks with no interior
    // gaps report 0 rows of loss; the report keeps every block so
    // totals reconcile.
    "q_sequence_gaps" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(expr("o_orderkey DIV 4096").as("block"))
        .agg(count(lit(1)).as("n_present"),
          min(col("o_orderkey")).as("lo"),
          max(col("o_orderkey")).as("hi"))
        .withColumn("n_missing", expr("hi - lo + 1 - n_present"))
        .orderBy("block")
    }),

    // SESSION-DURATION PERCENTILES — the operational readout on top
    // of the session operator: exact p50/p90/p99 of per-session
    // dwell (max ts − min ts within each merged 30-min-gap session,
    // integer seconds), selected by the radix engine over the
    // session frame. Durations come from the REAL session_window
    // operator (not a re-derivation), checkpointed so the radix
    // passes re-filter a materialized frame instead of re-running
    // session merging per pass.
    "ev_session_quantiles" -> ((s, dir) => {
      val durs = Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
        .select(expr(
          "CAST((unix_micros(t1) - unix_micros(t0)) DIV 1000000 AS DOUBLE)")
          .as("v"))
        .localCheckpoint(false)
      QuantileQueries.kthValues(s, durs, "v", Seq(
        "p50" -> ((n: Long) => (n + 1) / 2),
        "p90" -> ((n: Long) => (9 * n + 9) / 10),
        "p99" -> ((n: Long) => (99 * n + 99) / 100)))
    }),

    // HAAR DETAIL SPECTRUM — which TIMESCALE carries the variation:
    // 5 levels of the unnormalized Haar transform over each type's
    // zero-filled hourly series (level l pairs 2^(l-1)-hour sums:
    // s = a+b carries up, d = a−b is the detail), reporting per level
    // the L1 detail mass Σ|d| — a spiky hourly pattern loads level 1,
    // a day-night cycle loads the 8/16-hour levels. All integer adds/
    // subtracts (L1, not L2, so no square can overflow at any corpus
    // size); odd tails pair with zero. Each level is one
    // (type, t DIV 2) aggregation over the calendar-bounded frame,
    // checkpointed so the 5-round loop keeps a flat plan; only the
    // initial hourly count touches data. Oracle unrolls the same
    // pyramid.
    "ev_haar_energy" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly.groupBy("event_type")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      var lvl = spine.join(hourly, Seq("event_type", "hour"), "left")
        .select(col("event_type"),
          (row_number().over(w) - 1).cast("long").as("t"),
          coalesce(col("n"), lit(0L)).as("n"))
        .localCheckpoint(false)
      val energies = (1 to HaarLevels).map { l =>
        val paired = lvl.groupBy(col("event_type"),
            expr("t DIV 2").as("t"))
          .agg(sum(when(expr("t % 2") === 0, col("n")).otherwise(0L)).as("a"),
            sum(when(expr("t % 2") === 1, col("n")).otherwise(0L)).as("b"))
          .localCheckpoint(false)
        val e = paired.groupBy("event_type")
          .agg(sum(abs(col("a") - col("b"))).as("l1_detail"))
          .select(col("event_type"), lit(l).as("level"), col("l1_detail"))
        lvl = paired.select(col("event_type"), col("t"),
          (col("a") + col("b")).as("n"))
        e
      }
      energies.reduce(_ unionAll _).orderBy("event_type", "level")
    }),

    // ABSORPTION PROBABILITY — the Markov trilogy's third leg (matrix
    // → stationary → absorption): for each starting state, the
    // probability of REACHING 'purchase' within AbsorbRounds
    // transitions, computed by the first-passage recurrence with the
    // absorbing state clamped to 1 (a path that converts counts once,
    // whatever it does after). "How likely is a user in state X to
    // convert within k actions" — the funnel readout ev_funnel's
    // fixed view→click→purchase ordering can't express. Same
    // micro-integer fixed-round loop and types²-broadcast frame as
    // ev_markov_stationary; sink states other than the absorber stay
    // at 0. Oracle unrolls the identical rounds.
    "ev_absorption" -> ((s, dir) =>
      absorptionOf(transitionMicro(s, dir).select("cur", "nxt", "pm"))
        .orderBy("state")),

    // MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2016) — the
    // principled multi-touch attribution model: channel c's credit is
    // how much the chain's conversion probability DROPS when c is
    // deleted (every journey through c dies), normalized across
    // channels. Strictly more defensible than last-touch/position
    // heuristics because it prices actual path structure. Built on
    // the shared [[transitionMicro]] chain: one variants dimension
    // ('none' + one per removable state) crossed against the
    // transition frame, then the SAME fixed-round integer absorption
    // iteration as ev_absorption, grouped by variant — K+1 chains
    // solved in one dataflow, each round one join + one aggregation
    // on a (variants × states²)-bounded frame (event-type vocabulary
    // = schema constant; the corpus is touched only by the shared
    // transition counts and the first-touch frame). Conversion reads
    // from each user's FIRST event type (the entry distribution).
    // Monotone by construction — removal only deletes summands and
    // the per-round floor is monotone, so effect ≥ 0 exactly.
    "ev_attribution_removal" -> ((s, dir) => {
      val p = transitionMicro(s, dir).select("cur", "nxt", "pm")
      val states = markovStates(p)
      val variants = states.filter(col("state") =!= "purchase")
        .select(col("state").as("rem"))
        .unionAll(states.sparkSession.range(1).select(lit("none").as("rem")))
        .localCheckpoint(false)
      val ab = absorption(
        p.crossJoin(broadcast(variants))
          .filter(col("cur") =!= col("rem") && col("nxt") =!= col("rem"))
          .localCheckpoint(false),
        states.crossJoin(broadcast(variants))
          .filter(col("state") =!= col("rem"))
          .localCheckpoint(false))
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val first = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("rn", row_number().over(wU))
        .filter(col("rn") === 1)
        .groupBy(col("event_type").as("state"))
        .agg(count(lit(1)).as("sn"))
      val nUsers = first.agg(sum(col("sn")).as("nu"))
      val conv = first.crossJoin(broadcast(variants))
        .join(ab, Seq("rem", "state"), "left")
        .groupBy("rem")
        .agg(sum(col("sn") * coalesce(col("am"), lit(0L))).as("mass"))
        .crossJoin(broadcast(nUsers))
        .select(col("rem"), expr("mass DIV nu").as("conv_micro"))
        .localCheckpoint(false)
      val base = conv.filter(col("rem") === "none")
        .select(col("conv_micro").as("conv_base_micro"))
      val eff = conv.filter(col("rem") =!= "none")
        .crossJoin(broadcast(base))
        .withColumn("effect_micro",
          col("conv_base_micro") - col("conv_micro"))
      val tot = eff.agg(sum(col("effect_micro")).as("teff"))
      eff.crossJoin(broadcast(tot))
        .select(col("rem").as("channel"), col("conv_base_micro"),
          col("conv_micro").as("conv_removed_micro"), col("effect_micro"),
          expr("CASE WHEN teff > 0 THEN (effect_micro * 1000000) DIV teff END")
            .as("attribution_ppm"))
        .orderBy("channel")
    }),

    // SEASONAL PROFILE — the (day-of-week × hour-of-day) occupancy
    // matrix capacity planning reads before any forecast: counts plus
    // each cell's share of its weekday in integer ppm. One scan into
    // a ≤168-cell map-side-combined aggregation; the share join
    // broadcasts the 7-row weekday totals.
    "ev_seasonal_profile" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(dayofweek(col("ts")).as("dow"),
          hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("n_events"))
      cells.join(broadcast(
          cells.groupBy("dow").agg(sum(col("n_events")).as("dow_n"))), "dow")
        .select(col("dow"), col("hod"), col("n_events"),
          expr("n_events * 1000000 DIV dow_n").as("share_ppm"))
        .orderBy("dow", "hod")
    }),

    // Tumbling 1-hour window counts per event type. `window()` is the
    // real Spark windowing operator; its .start equals date_trunc hour.
    "ev_tumbling_hour" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Agg.dsum(col("value")).as("sum_value"))
        .orderBy("hour", "event_type")
    }),

    // Peak concurrency per hour — the sweep-line operator behind "how
    // many sessions were live at once" capacity questions, which no
    // windowed COUNT can answer (an interval spans windows; counting
    // starts per window undercounts, counting overlaps per window
    // double-counts). Each event opens a 15-minute interval; the sweep
    // is ±1 deltas at interval ends, running-summed in (t, d) order —
    // d = −1 sorts before +1 at an equal instant, which IS the
    // half-open [s, e) convention, and coincident deltas pre-aggregate
    // by (t, d) so the sweep order is total and engine-identical. The
    // running sum is NOT a global window: the pipe_weighted_sample
    // two-phase shape keyed by the natural hour bucket — per-hour
    // delta subtotals (the only unpartitioned window runs over this
    // time-bounded ~n_hours-row frame), broadcast carry-ins, per-hour
    // prefix sums. At 100 TB: deltas are a narrow 2-rows-per-event
    // projection; the bucket frame stays calendar-bounded (10⁵ rows
    // for a decade of hours) no matter the event volume.
    "ev_peak_concurrency" -> ((s, dir) =>
      peakFromDeltas(sweepDeltas15m(s, dir))),

    // Hourly utilization — the interval-UNION length per hour
    // (billing/occupancy: "how much of each hour had at least one
    // session live"), the measure ev_peak_concurrency's maximum
    // doesn't capture and naive per-interval duration sums
    // double-count under overlap. Same ±1 sweep, two extensions:
    // a zero-delta SENTINEL at each hour start splits every covered
    // segment at the hour boundary (so pieces never cross buckets),
    // and lead(t) inside the hour partition (default = hour end)
    // bounds each piece — a segment between consecutive sweep points
    // counts iff the running concurrency is positive. All time math
    // in integer µs; utilization reported in ppm of the hour by
    // integer division. Windows stay hour-partitioned; the carry
    // frame is the same calendar-bounded broadcast as the peak query.
    "ev_hour_utilization" -> ((s, dir) =>
      utilizationFromDeltas(sweepDeltas15m(s, dir))),

    // The sweep line's third read-out (after peak and coverage):
    // dwell time per concurrency level — see [[concurrencyHistogram]].
    "ev_conc_histogram" -> ((s, dir) =>
      histogramFromDeltas(sweepDeltas15m(s, dir))),

    // A/B experiment readout — the product-analytics staple on the
    // event stream: users assign to arms by md5 parity (deterministic,
    // sticky, uniform — the hash-bucketing every experimentation
    // platform uses, and the same reproducible-randomness mechanism
    // as pipe_hash_sample), conversion = the user's first 'purchase'
    // lands within 24 hours of their first event (a windowed outcome:
    // "any purchase ever" saturates to 100% on a month of events and
    // degenerates the metric — measured). The VERIFIED contract is
    // integer-only (users, converters,
    // conversion ppm per arm); the two-proportion z statistic derives
    // from these counts and is pinned single-engine in Round10OpsSpec
    // (sqrt is IEEE-exact but the suite keeps even it out of the gate
    // when counts suffice). One distinct-users aggregation, 2-row out.
    "ev_ab_experiment" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min(col("ts")).as("first_ts"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("first_purchase"))
        .withColumn("converted",
          when(col("first_purchase").isNotNull &&
            col("first_purchase") <= col("first_ts") + expr("INTERVAL 24 HOURS"),
            1L).otherwise(0L))
        .withColumn("arm", armCol)
      users.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
        .withColumn("conv_ppm", expr("(n_converted * 1000000L) DIV n_users"))
        .orderBy("arm")
    }),

    // WELCH TWO-SAMPLE MEAN TEST (large-sample z² form) — the
    // parametric CONTINUOUS-metric companion to ev_ab_experiment's
    // two-proportion z and ev_mann_whitney's rank test: does mean
    // per-user spend differ between the md5-parity arms? Exact
    // DECIMAL(19,0) power sums per arm (the q_ols_regression moment
    // discipline), means in micro-cents, Bessel-corrected sample
    // variances in exact cents² (the n·(n−1) denominator is
    // DECIMAL-routed — n² wraps BIGINT past ~3·10⁹ users), se² =
    // v_a/n_a + v_b/n_b in micro-cents², and t² = d²/se² in micro via
    // one DECIMAL cross-multiply. Significance compares t2_micro to
    // the fixed χ²₁(0.95) literal 3.841459 — the ev_power_mde /
    // ta_watermark_score no-quantile-function-executes rule (at
    // experiment scale Welch df ≈ ∞ so the z² form holds; fractional
    // Satterthwaite df matters only for tiny arms and would drag an F
    // inverse into the gate). Spend is strictly positive on this
    // stream, so every quotient here is positive and floor- vs
    // truncating-division cannot diverge; d² is non-negative by
    // construction. One corpus scan → per-user agg → 2-row arm frame
    // → 1-row pivot: map-side-combined all the way.
    "ev_welch_t2" -> ((s, dir) => {
      perUserCents(s, dir).withColumn("arm", armCol)
        .groupBy("arm")
        .agg(count(lit(1)).as("n"),
          expr("sum(CAST(v AS DECIMAL(19,0)))").as("sx"),
          expr("sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))")
            .as("sxx"))
        .withColumn("mean_micro",
          expr("CAST((CAST(sx AS DECIMAL(38,0)) * 1000000) DIV n AS BIGINT)"))
        .withColumn("var_cents2", expr(
          """CASE WHEN n >= 2 THEN CAST((n * sxx - sx * sx)
            |  DIV (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT) END"""
            .stripMargin))
        .agg(
          max(when(col("arm") === 0, col("n"))).as("n_a"),
          max(when(col("arm") === 1, col("n"))).as("n_b"),
          max(when(col("arm") === 0, col("mean_micro"))).as("mean_a_micro"),
          max(when(col("arm") === 1, col("mean_micro"))).as("mean_b_micro"),
          max(when(col("arm") === 0, col("var_cents2"))).as("var_a_cents2"),
          max(when(col("arm") === 1, col("var_cents2"))).as("var_b_cents2"))
        .withColumn("se2_micro", expr(
          """CAST((CAST(var_a_cents2 AS DECIMAL(38,0)) * 1000000)
            |  DIV n_a AS BIGINT)
            |+ CAST((CAST(var_b_cents2 AS DECIMAL(38,0)) * 1000000)
            |  DIV n_b AS BIGINT)""".stripMargin))
        .withColumn("t2_micro", expr(
          """CASE WHEN se2_micro > 0 THEN
            |  CAST((CAST(mean_a_micro - mean_b_micro AS DECIMAL(38,0))
            |    * (mean_a_micro - mean_b_micro)) DIV se2_micro AS BIGINT)
            |END""".stripMargin))
        .withColumn("significant", col("t2_micro") >= lit(3841459L))
        .select(col("n_a"), col("n_b"), col("mean_a_micro"),
          col("mean_b_micro"), col("var_a_cents2"), col("var_b_cents2"),
          col("se2_micro"), col("t2_micro"), col("significant"))
    }),

    // RATE-LIMIT AUDIT — the abuse-detection read a platform runs
    // offline to calibrate its online limiter: for every event, how
    // many of the SAME user's events landed in the trailing 60 s —
    // an exact sliding count via a per-user RANGE frame over
    // microsecond offsets (user-bounded window, doctrine-safe; RANGE
    // semantics include timestamp peers identically on both engines,
    // so ties can't flap the count). The report is the top-10 peak
    // bursts with a full (count desc, user, ts) tie order through a
    // bounded heap — the worst offenders a limiter would have
    // throttled. One shuffle by user; nothing global anywhere.
    "ev_rate_limit_audit" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us")).rangeBetween(-59999999L, 0L)
      Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("in_min", count(lit(1)).over(w))
        .orderBy(col("in_min").desc, col("user_id").asc, col("us").asc)
        .limit(10)
    }),

    // SAMPLE-RATIO MISMATCH — the validity gate every experimentation
    // platform runs BEFORE reading ev_ab_experiment's conversion
    // numbers (Fabijan et al. 2019: a biased split invalidates the
    // readout no matter how significant it looks): the 1-dof χ²
    // goodness-of-fit of the md5-parity arm counts against the
    // designed 50/50, (a−b)²·10⁹ DIV (a+b) in nano-units with the
    // 0.05 critical value (3.841459) baked as an integer literal per
    // the ss_ndcg_eval treatment — no distribution function executes
    // in either engine. A firing flag here means the assignment hash
    // or logging pipeline is broken; with md5-parity arms it stays
    // quiet, which is the point. Model-frame arithmetic on the 2-row
    // arm census.
    // GROWTH ACCOUNTING — the weekly active-user flow decomposition
    // every growth team reports (the "Reforge" identity):
    // active_w = new_w + retained_w + resurrected_w, with churned_w =
    // last week's actives who went dark — the four flows that explain
    // WHY the topline moved, where ev_dau_wau only says THAT it did.
    // Dataflow: one distinct (user, week) frame, each user's first
    // week from one aggregate, and a self-join against the previous
    // week (equi-join on the shifted key — calendar arithmetic, no
    // window over users). All four flows and the identity are exact
    // counts.
    "ev_growth_accounting" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        .distinct()
        .localCheckpoint(false) // four legs read it
      val first = uw.groupBy("user_id").agg(min(col("w")).as("fw"))
      val prev = uw.select(col("user_id"),
        (col("w") + expr("INTERVAL 7 DAYS")).as("w"),
        lit(1).as("was_prev"))
      val cur = uw.join(first, "user_id")
        .join(prev, Seq("user_id", "w"), "left")
        .groupBy("w")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("fw") === col("w"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("was_prev").isNotNull, 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("fw") < col("w") && col("was_prev").isNull, 1L)
            .otherwise(0L)).as("n_resurrected"))
      val churned = uw.select(col("user_id"),
          (col("w") + expr("INTERVAL 7 DAYS")).as("w"))
        .join(uw.withColumn("still", lit(1)), Seq("user_id", "w"), "left")
        .groupBy("w")
        .agg(sum(when(col("still").isNull, 1L).otherwise(0L)).as("n_churned"))
      cur.join(churned, Seq("w"), "left")
        .select(col("w").as("week"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("week")
    }),

    // CUPED VARIANCE REDUCTION (Deng et al. 2013) — the standard
    // experiment-sensitivity trick: regress each user's
    // experiment-period metric y on their PRE-period covariate x
    // (θ = cov(x,y)/var(x)), report per-arm means adjusted by
    // θ·(x̄_arm − x̄); r² = the ppm variance reduction the covariate
    // buys. Pre/post split at the corpus time midpoint (exact integer
    // microseconds); per-user cents aggregates shuffle once by user;
    // the five moments reduce map-side to ONE row. Moment algebra
    // rides DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — n·Σxy-class
    // products leave BIGINT already at ~10⁴ users × 10⁶ cents — and
    // every division is the sign-explicit ⌊|a|/b⌋ form, where
    // truncation (Spark div) and floor (DuckDB //) agree.
    "ev_ab_cuped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts)").as("um"), centsCol.as("cents"))
      val bounds = ev.agg(min(col("um")).as("mn"), max(col("um")).as("mx"))
        .select(expr("mn + (mx - mn) DIV 2").as("mid"))
      val perUser = ev.crossJoin(broadcast(bounds))
        .groupBy("user_id")
        .agg(
          sum(when(col("um") < col("mid"), col("cents")).otherwise(0L))
            .as("x"),
          sum(when(col("um") >= col("mid"), col("cents")).otherwise(0L))
            .as("y"))
        .withColumn("arm", armCol)
        .localCheckpoint(false) // moments + per-arm legs share it
      val mom = perUser.agg(
        count(lit(1)).as("n"),
        expr("sum(CAST(x AS DECIMAL(19,0)))").as("sx"),
        expr("sum(CAST(y AS DECIMAL(19,0)))").as("sy"),
        expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))")
          .as("sxx"),
        expr("sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
          .as("syy"),
        expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))")
          .as("sxy"))
        .withColumn("num", expr("n * sxy - sx * sy"))
        .withColumn("den", expr("n * sxx - sx * sx"))
        .withColumn("deny", expr("n * syy - sy * sy"))
        .withColumn("theta_micro", expr(
          """CASE WHEN den > 0 THEN
            |  CAST(CASE WHEN num >= 0 THEN (num * 1000000) div den
            |       ELSE -((-num * 1000000) div den) END AS BIGINT)
            |END""".stripMargin))
        .withColumn("r2_ppm", expr(
          """CASE WHEN den > 0 AND deny > 0 THEN
            |  least((CAST((theta_micro * theta_micro) div 1000000
            |    AS DECIMAL(38,0)) * den) div deny, 1000000L)
            |END""".stripMargin))
        .withColumn("xbar_all_micro", expr("(sx * 1000000) div n"))
        .select("theta_micro", "r2_ppm", "xbar_all_micro")
      perUser.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("sxa"), sum(col("y")).as("sya"))
        .crossJoin(broadcast(mom))
        // cents-total × 10⁶ through DECIMAL(38,0): the ev_did cliff
        .withColumn("xbar_micro", expr(
          "CAST((CAST(sxa AS DECIMAL(38,0)) * 1000000) DIV n_users AS BIGINT)"))
        .withColumn("ybar_micro", expr(
          "CAST((CAST(sya AS DECIMAL(38,0)) * 1000000) DIV n_users AS BIGINT)"))
        .withColumn("d", expr("xbar_micro - xbar_all_micro"))
        .withColumn("cuped_micro", expr(
          """ybar_micro - CASE WHEN theta_micro IS NULL THEN 0L
            |  WHEN CAST(theta_micro AS DECIMAL(38,0)) * d >= 0
            |    THEN CAST((CAST(theta_micro AS DECIMAL(38,0)) * d)
            |      div 1000000 AS BIGINT)
            |  ELSE -CAST((-(CAST(theta_micro AS DECIMAL(38,0)) * d))
            |      div 1000000 AS BIGINT) END""".stripMargin))
        .select("arm", "n_users", "xbar_micro", "ybar_micro",
          "cuped_micro", "theta_micro", "r2_ppm")
        .orderBy("arm")
    }),

    "ev_ab_srm" -> ((s, dir) => {
      val arms = Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .withColumn("arm", armCol)
        .groupBy("arm").agg(count(lit(1)).as("n"))
      arms.agg(
          sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"))
        .withColumn("chi2_nano", expr(
          // the square runs in DECIMAL(38): a total one-arm failure at
          // 1e10 users would overflow the BIGINT diff²·1e9 product
          "CAST(CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) " +
            "* 1000000000 DIV (n_a + n_b) AS BIGINT)"))
        .select(col("n_a"), col("n_b"), col("chi2_nano"),
          (col("chi2_nano") > lit(3841459000L)).as("srm_detected"))
    }),

    // Sliding 15-minute window on a 5-minute slide: each event lands
    // in exactly 3 overlapping windows (15/5), so `window()` with a
    // slideDuration explodes 3 narrow rows per event before the same
    // hash aggregation as the tumbling form — output volume is
    // (window count) rows regardless of input size, and the 3× row
    // amplification happens map-side, never through a self-join of
    // the event stream against a window spine.
    "ev_sliding_15m" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "15 minutes", "5 minutes")
          .getField("start").as("win_start"))
        .agg(
          count(lit(1)).as("n_events"),
          Agg.dsum(col("value")).as("sum_value"))
        .orderBy("win_start")
    }),

    // JSON property extraction: props is a JSON string {"k": <int>}.
    // Integer sums are exact, so avg = sum/count is bit-deterministic.
    "ev_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // Custom as-of join operator (graft.plans.AsOfJoin — the full
    // LogicalPlan+Strategy+SparkPlan extension path): each event picks
    // up the user's most recent order at-or-before the event time.
    // The right side is pre-aggregated to unique (key, time) pairs so
    // the match is deterministic; DuckDB's native ASOF LEFT JOIN is the
    // oracle.
    "ev_asof_order" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val ord = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("ord_key"))
      graft.plans.AsOfJoin
        .joinAsOf(ev, ord, ev("user_id"), ord("o_custkey"), ev("ts"), ord("o_orderdate"))
        .select(col("event_id"), col("user_id"),
          col("o_orderdate").as("ord_date"), col("ord_key"))
        .orderBy("event_id")
    }),

    // The SAME as-of join through the joinAsOfSalted wrapper (salt = 8):
    // identical rows by construction — every (key, salt) bucket sees
    // the key's full replicated right timeline — which is exactly what
    // this oracle row pins (it shares ev_asof_order's SQL). The wrapper
    // is the hot-key mitigation AQE can't apply to a custom exec;
    // SCALE.md measures it taking the 90%-hot-key probe back to the
    // uniform baseline.
    "ev_asof_order_salted" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val ord = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("ord_key"))
      graft.plans.AsOfJoin
        .joinAsOfSalted(ev, ord, ev("user_id"), ord("o_custkey"),
          ev("ts"), ord("o_orderdate"), salts = 8)
        .select(col("event_id"), col("user_id"),
          col("o_orderdate").as("ord_date"), col("ord_key"))
        .orderBy("event_id")
    }),

    // Cohort retention — the product-analytics staple: of the users
    // active in hour H, what fraction is also active in hour H+1?
    // Computed from per-(user, hour) activity via a self-equi-join on
    // (user, hour+1) — two shuffles on the natural user key, no
    // windows, no cross products; at 100 TB this is the shape retention
    // jobs actually run (activity table joined to itself shifted).
    "ev_retention" -> ((s, dir) => {
      val active = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .distinct()
      val perHour = active.groupBy("h").agg(count(lit(1)).as("n_active"))
      val retained = active.as("a")
        .join(active.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.h") + expr("INTERVAL 1 HOUR") === col("b.h"))
        .groupBy(col("a.h").as("h"))
        .agg(count(lit(1)).as("n_retained"))
      perHour.join(retained, Seq("h"), "left")
        .select(col("h"),
          col("n_active"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"),
          (coalesce(col("n_retained"), lit(0L)).cast("double") / col("n_active"))
            .as("retention"))
        .orderBy("h")
    }),

    // Forward as-of: for every view event, the same user's NEXT
    // purchase at-or-after it — the attribution/conversion-lag shape.
    // Same custom operator, forward direction (smallest right time ≥
    // left time); right (key, time) pairs made unique by the max-id
    // pre-aggregation, per the operator contract.
    "ev_asof_next_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.plans.AsOfJoin
        .joinAsOf(views, purchases,
          views("user_id"), purchases("p_user"),
          views("ts"), purchases("p_ts"), forward = true)
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          // integral micros diff + DIV: `/` on longs is double division
          expr("(unix_micros(p_ts) - unix_micros(ts)) DIV 1000000")
            .as("secs_to_purchase"))
        .orderBy("event_id")
    }),

    // NEAREST as-of: for every click, the same user's purchase closest
    // in time — BEFORE OR AFTER, ties to the earlier one — the
    // record-linkage / sensor-alignment shape (align two streams when
    // neither strictly leads). Third direction of the same custom
    // operator, still one merge pass buffering one row; the oracle
    // composes DuckDB's two native ASOF directions and picks the
    // closer match with the same tie order.
    "ev_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.plans.AsOfJoin
        .joinAsOfNearest(clicks, purchases,
          clicks("user_id"), purchases("p_user"),
          clicks("ts"), purchases("p_ts"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          expr("abs(unix_micros(p_ts) - unix_micros(ts)) DIV 1000000")
            .as("secs_apart"))
        .orderBy("event_id")
    }),

    // Seasonal-naive FORECAST BACKTEST — the capacity-planning baseline
    // every anomaly detector and autoscaler is judged against: predict
    // each hour's event count by the same hour yesterday (daily
    // seasonality, lag 24 on the zero-filled hourly spine) and by the
    // previous hour (persistence, lag 1), and report each baseline's
    // summed absolute error over the common backtest window. The
    // integer contract is (n_hours, total_actual, sae_seasonal,
    // sae_persist) — pure counts and |count−count| sums, engine-exact;
    // MAE is the reader's division. The zero-filled spine (the
    // ev_gapfill shape) makes "no events that hour" a real observation
    // instead of a silently skipped row — lag-24 then means exactly
    // 24 HOURS, not 24 observed rows. Scale: the hourly frame is
    // calendar × type bounded (the sweep-line doctrine), so every
    // window here runs over ~hundreds of rows regardless of corpus
    // size; the one corpus-sized pass is the initial hourly count.
    // TIME-DECAYED COUNTERS — the recency-weighted volume every
    // trending/ranking surface keeps (Reddit-style hotness, decayed
    // item popularity, news-corpus recency weighting): each event
    // contributes 2^(−age/half-life) with a 7-day half-life, computed
    // with ZERO libm through the engine's fixed-point Exp2Micro —
    // and the fixed-point work runs on a MODEL frame, not per event:
    // ages bucket to hours first (calendar-bounded, ≤ types × 720
    // cells), the exponential evaluates once per cell, and the
    // decayed mass is Σ count·w as exact BIGINT micro-units. Output
    // per type: raw count, decayed mass, and the mean per-event decay
    // factor in ppm — the freshness read. One scan + model-frame math.
    "ev_decayed_count" -> ((s, dir) => {
      import graft.functions.Exp2Micro
      val mx = Tables.events(s, dir)
        .agg(max(expr("unix_micros(ts)")).as("mxus"))
      val cells = Tables.events(s, dir)
        .crossJoin(broadcast(mx))
        .select(col("event_type"),
          expr("(mxus - unix_micros(ts)) DIV 3600000000").as("age_h"))
        .groupBy("event_type", "age_h").agg(count(lit(1)).as("cnt"))
        .withColumn("xm", expr("-((age_h * 1000000) DIV 168)"))
        .withColumn("w", Exp2Micro.exp2micro(col("xm")))
      cells.groupBy("event_type")
        .agg(sum(col("cnt")).as("n_events"),
          sum(expr("cnt * w")).as("decayed_micro"))
        .withColumn("decay_ppm", expr("decayed_micro DIV n_events"))
        .orderBy("event_type")
    }),

    // AUTOCORRELATION — the time-series diagnostic the family still
    // lacked (theilsen = trend, changepoint = level break, haar =
    // spectrum; ACF = memory): per event type, the lag-1 and lag-24
    // sample autocorrelations of the zero-filled hourly series, the
    // numbers that confirm persistence and daily seasonality before
    // anyone fits a model. All five moment sums are exact longs over
    // the calendar-bounded spine; r stays RATIONAL by reporting the
    // SQUARED correlation (r² = rnum²/rden², floored to ppm, the
    // ev_anomaly covariance trick without the final sqrt) next to
    // sign(rnum) — the quartic products run in DECIMAL(38)/HUGEINT,
    // headroom to ~3e4 events/hour; past that, pre-scale the counts
    // (the statistic is scale-invariant). Lag windows partition by
    // event type over the spine.
    "ev_acf" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly.groupBy("event_type")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      val filled = spine.join(hourly, Seq("event_type", "hour"), "left")
        .withColumn("x", coalesce(col("n"), lit(0L)))
        .withColumn("x1", lag(col("x"), 1).over(w))
        .withColumn("x24", lag(col("x"), 24).over(w))
        .localCheckpoint(false) // calendar-bounded, reused by both lags
      def acf(lagCol: String, k: Long) =
        filled.filter(col(lagCol).isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("m"),
            sum(col("x")).as("sx"), sum(col(lagCol)).as("sy"),
            sum(expr("x * x")).as("sxx"),
            sum(expr(s"$lagCol * $lagCol")).as("syy"),
            sum(expr(s"x * $lagCol")).as("sxy"))
          .withColumn("rnum", expr(
            "CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
          .withColumn("rden2", expr(
            "(CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)" +
              " * (CAST(m AS DECIMAL(38,0)) * syy" +
              " - CAST(sy AS DECIMAL(38,0)) * sy)"))
          .select(col("event_type"), lit(k).as("lag"), col("m"),
            expr("CASE WHEN rnum < 0 THEN -1L WHEN rnum > 0 THEN 1L " +
              "ELSE 0L END").as("sign"),
            expr("CAST((rnum * rnum * 1000000) DIV nullif(rden2, 0) " +
              "AS BIGINT)").as("r2_ppm"))
      acf("x1", 1L).unionAll(acf("x24", 24L))
        .orderBy("event_type", "lag")
    }),

    "ev_forecast_baseline" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly.groupBy("event_type")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      spine.join(hourly, Seq("event_type", "hour"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("f24", lag(col("n"), 24).over(w))
        .withColumn("f1", lag(col("n"), 1).over(w))
        .filter(col("f24").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          sum(col("n")).as("total_actual"),
          sum(abs(col("n") - col("f24"))).as("sae_seasonal"),
          sum(abs(col("n") - col("f1"))).as("sae_persist"))
        .orderBy("event_type")
    }),

    // CUSUM CHANGEPOINT detection — the "did the stream's level shift,
    // and when" companion to the forecast backtest: over each event
    // type's zero-filled hourly spine (absent hours are real zero
    // observations, the ev_forecast_baseline doctrine), the classic
    // binary-segmentation statistic max_t |S_t − T·t/N| — the boundary
    // where the prefix mean diverges most from the global mean. Like
    // pipe_drift_ks, the float form cross-multiplies to the pure
    // integer d_t = |S_t·N − T·t| (D = d_t / N, in events·hours — the
    // reader's division), so the verified contract is engine-exact
    // with no ratio anywhere. Ties break to the EARLIEST boundary so
    // the reported hour is deterministic. Scale: the one corpus-sized
    // pass is the hourly count; everything after runs on the
    // calendar × type bounded spine (the sweep-line doctrine), and the
    // per-type arg-max rides a row_number over that bounded frame —
    // at 100 TB this query costs one aggregation scan.
    "ev_changepoint" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly.groupBy("event_type")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      val scored = spine.join(hourly, Seq("event_type", "hour"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("n")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("nh", count(lit(1)).over(
          Window.partitionBy(col("event_type"))).cast("long"))
        .withColumn("tot", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("t") < col("nh")) // boundaries only: 1 ≤ t < N
        .withColumn("d", abs(col("cum") * col("nh") - col("tot") * col("t")))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("d").desc, col("hour").asc)))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("hour").as("split_hour"),
          col("d").as("d_num"), col("nh").as("n_hours"),
          col("tot").as("total_events"),
          col("cum").as("events_before"))
        .orderBy("event_type")
    }),

    // TIME-WEIGHTED LINEAR INTERPOLATION — the resample variant
    // ev_gapfill's zero-fill can't express: each click's value is
    // estimated from the user's surrounding VIEW events, weighted by
    // temporal distance (lerp between the as-of-backward and
    // as-of-forward neighbors — the sensor-reading alignment staple).
    // Exercises the custom AsOfJoinExec in BOTH directions on one
    // query. Same-timestamp views collapse by max(value) first so the
    // as-of pick is deterministic on both engines; the lerp is
    // IEEE-exact (integer-micro deltas, one division — the doctrine's
    // carve-out), the exact-hit / one-sided / no-neighbor cases
    // resolve before any division can see a zero denominator. Scale:
    // two co-partitioned merge passes on the user shard key — the
    // ev_asof_order plan shape twice.
    "ev_interpolate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      def views(p: String) = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"))
        .agg(max(col("value")).as(s"${p}_v"))
      val b = views("b")
      val back = graft.plans.AsOfJoin.joinAsOf(clicks, b,
        clicks("user_id"), b("b_user"), clicks("ts"), b("b_ts"))
        .select("event_id", "user_id", "ts", "b_ts", "b_v")
      val f = views("f")
      val both = graft.plans.AsOfJoin.joinAsOf(back, f,
        back("user_id"), f("f_user"), back("ts"), f("f_ts"), forward = true)
      both.select(col("event_id"), col("user_id"), col("ts"),
          when(col("b_ts").isNull && col("f_ts").isNull, lit(null).cast("double"))
            .when(col("b_ts").isNull, round(col("f_v"), 4))
            .when(col("f_ts").isNull, round(col("b_v"), 4))
            .when(col("f_ts") === col("b_ts"), round(col("b_v"), 4))
            .otherwise(round(col("b_v") + (col("f_v") - col("b_v"))
              * (expr("CAST(unix_micros(ts) - unix_micros(b_ts) AS DOUBLE)")
                / expr("CAST(unix_micros(f_ts) - unix_micros(b_ts) AS DOUBLE)")),
              4)).as("vi4"))
        .orderBy("event_id")
    }),

    // THEIL–SEN robust trend — the changepoint family's slope
    // estimate: the median of all pairwise slopes of the zero-filled
    // hourly count series (with a p10/p90 band), insensitive to ~29%
    // outlier hours where a least-squares fit chases every spike.
    // Each slope is ONE IEEE division of two small integer deltas —
    // exactly rounded on every IEEE-754 engine, so unlike libm
    // transcendentals it's cross-engine-exact (the determinism
    // doctrine's division carve-out, same as recall4). The pair frame
    // is CALENDAR-bounded (H·(H−1)/2 for H spine hours — ~260k at a
    // month of hours, independent of corpus size), and the median is
    // selected by the q_exact_quantiles radix engine, not a global
    // sort: at 100 TB the one data-sized pass is the hourly count.
    "ev_trend_theilsen" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val filled = spine.join(hourly, Seq("hour"), "left")
        .select(expr("unix_micros(hour) DIV 3600000000").as("t"),
          coalesce(col("n"), lit(0L)).as("n"))
      // renamed projections, not as("a")/as("b") aliases: self-join
      // alias resolution can collapse both sides to one attribute,
      // turning dt into 0 under ANSI division
      val aSide = filled.select(col("t").as("ta"), col("n").as("na"))
      val bSide = filled.select(col("t").as("tb"), col("n").as("nb"))
      // the checkpoint is load-bearing twice over: (1) kthValues
      // re-filters its input once per radix pass — materializing the
      // bounded pair frame beats re-running the join each pass; and
      // (2) without the lineage barrier, kthValues' value-range
      // filters substitute through this projection and land in the
      // JOIN condition, where ANSI division can evaluate on a
      // dt = 0 pair before tb > ta excludes it → DIVIDE_BY_ZERO
      val slopes = aSide.join(broadcast(bSide), col("tb") > col("ta"))
        .select(((col("nb") - col("na")).cast("double")
          / (col("tb") - col("ta")).cast("double")).as("v"))
        .localCheckpoint(false)
      QuantileQueries.kthValues(s, slopes, "v", Seq(
        "slope_p10" -> ((n: Long) => (n + 9) / 10),
        "slope_p50" -> ((n: Long) => (n + 1) / 2),
        "slope_p90" -> ((n: Long) => (9 * n + 9) / 10)))
    }),

    // Exact conversion-lag percentiles — the latency-SLO readout over
    // a DERIVED measure: each view's seconds-to-next-purchase (the
    // ev_asof_next_purchase forward as-of), then exact p50/p90/p99 by
    // the q_exact_quantiles radix-selection engine. This is the
    // operational percentile question ("how long until converted
    // users convert") answered with NO global sort and NO sketch: ≤4
    // passes of ≤2¹⁶-bucket histograms over the lag column, ranking
    // only the terminal ≤100k-row slice — p99 of a 10¹¹-row lag table
    // costs the same passes as p50. The k-th-VALUE definition makes
    // ties harmless and the result engine-exact (the oracle states
    // the same ranks over a row_number window it can afford at sf
    // scale).
    "ev_lag_quantiles" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      val lags = graft.plans.AsOfJoin
        .joinAsOf(views, purchases,
          views("user_id"), purchases("p_user"),
          views("ts"), purchases("p_ts"), forward = true)
        .filter(col("p_ts").isNotNull)
        .select(expr("CAST((unix_micros(p_ts) - unix_micros(ts)) DIV 1000000" +
          " AS DOUBLE)").as("v"))
      QuantileQueries.kthValues(s, lags, "v", Seq(
        "p50" -> ((n: Long) => (n + 1) / 2),
        "p90" -> ((n: Long) => (9 * n + 9) / 10),
        "p99" -> ((n: Long) => (99 * n + 99) / 100)))
    }),

    // Position-based (U-shaped) MULTI-TOUCH ATTRIBUTION — the
    // marketing-analytics companion to the as-of conversion-lag
    // queries: every purchase distributes 10,000 basis points of
    // credit over the same user's view/click touches in the 24 h
    // before it. The U-shape (40% first touch, 40% last, 20% split
    // across the middle) is computed in INTEGERS with a deterministic
    // remainder rule — middles get 2000 DIV (n−2) bp each and the
    // LAST middle absorbs 2000 % (n−2) — so per-purchase credit sums
    // to exactly 10,000 bp with no float weights (1 touch → 10000;
    // 2 touches → 5000/5000). Purchases with no touch window get a
    // 'none' row at full credit, making the report's grand total
    // exactly 10,000 × n_purchases — the conservation invariant
    // Round11OpsSpec pins. Scale: the touch join co-partitions on
    // user_id (the natural shard key) and its pair volume is bounded
    // by per-user activity inside a 24 h window, not the cross
    // product; the position window partitions by purchase — frames
    // are per-purchase-sized. A bot user with millions of touches is
    // the ev_skew_profile detection case; the salting remedy is the
    // ev_asof_order_salted doctrine, same key.
    "ev_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      attributionUShape(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts")),
        ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
            col("event_id").as("t_id"), col("event_type").as("touch_type")),
        lookbackHours = 24)
    }),

    // EXACT SHAPLEY-VALUE channel attribution (the game-theoretic
    // standard ev_attribution's U-shape and ev_attribution_removal's
    // Markov removal both approximate): channels = the 4 touch types,
    // a converted user's coalition = the SET of channels seen before
    // their first purchase (a 4-bit mask via sum(DISTINCT 2^bit) —
    // distinct powers of two sum to the OR), the value function
    // v(S) = converted users whose coalition ⊆ S (monotone by
    // construction, so every marginal Δ ≥ 0 and so is every φ), and
    // φ_i = Σ_{S∌i} |S|!(3−|S|)!/4! · (v(S∪i) − v(S)) held EXACT over
    // the common denominator 4! = 24 (weights 6/2/2/6 by |S|) — the
    // reader's division, like q_num/q_den everywhere else. Efficiency
    // (Σφ = v(full) − v(∅)) rides in the output as v_full/v_empty and
    // is pinned in Round17OpsSpec. Scale: ONE corpus aggregation
    // builds the per-user mask; everything after runs on ≤16-row
    // coalition frames (the 2^n blow-up is over the CHANNEL
    // vocabulary, never users) — at 100 TB this is a mask groupBy
    // plus driver-free broadcast algebra.
    "ev_shapley_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val firstP = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
      val chanBit = when(col("event_type") === "click", 1L)
        .when(col("event_type") === "error", 2L)
        .when(col("event_type") === "signup", 4L)
        .otherwise(8L)
      val touched = ev
        .filter(col("event_type").isin("click", "error", "signup", "view"))
        .join(firstP, "user_id")
        .filter(col("ts") < col("p_ts"))
        .select(col("user_id"), chanBit.as("b"))
        .groupBy("user_id").agg(sum_distinct(col("b")).as("mask"))
      val maskCnt = firstP.join(touched, Seq("user_id"), "left")
        .select(coalesce(col("mask"), lit(0L)).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // ≤16 rows; two v-legs reuse it
      val subsets = s.range(0, 16).select(col("id").as("coal"))
      val v = broadcast(subsets)
        .join(maskCnt, expr("(mask & coal) = mask"), "left")
        .groupBy("coal").agg(coalesce(sum(col("cnt")), lit(0L)).as("v"))
      val channels = s.range(0, 4)
        .select(element_at(array(lit("click"), lit("error"),
          lit("signup"), lit("view")), col("id").cast("int") + 1)
          .as("channel"), expr("shiftleft(CAST(1 AS BIGINT), " +
            "CAST(id AS INT))").as("bit"))
      val terms = broadcast(channels)
        .join(subsets, expr("(coal & bit) = 0"))
        .withColumn("sz", expr(
          "(coal & 1) + ((coal >> 1) & 1) + ((coal >> 2) & 1) + " +
            "((coal >> 3) & 1)"))
        .withColumn("w", expr(
          "CASE sz WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"))
        .join(v.select(col("coal"), col("v").as("v_s")), "coal")
        .join(v.select(col("coal").as("coal_i"), col("v").as("v_si")),
          expr("coal_i = coal + bit"))
      val vFull = v.filter(col("coal") === 15).select(col("v").as("v_full"))
      val vEmpty = v.filter(col("coal") === 0).select(col("v").as("v_empty"))
      terms.groupBy("channel")
        .agg(sum(col("w") * (col("v_si") - col("v_s"))).as("phi_24"))
        .crossJoin(broadcast(vFull)).crossJoin(broadcast(vEmpty))
        .select("channel", "phi_24", "v_full", "v_empty")
        .orderBy("channel")
    }),

    // Native session windows: Spark's session_window merges events
    // within a 30-minute gap. The oracle derives the same sessions from
    // first principles (lag → new-session flags → cumulative island
    // ids), pinning down the operator's merge semantics.
    "ev_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // Time-series gap filling: purchase counts per 15-minute bucket
    // with EVERY bucket present (missing ones as 0) — the resample
    // operator every monitoring/training-curve pipeline needs. The
    // bucket spine comes from sequence() between the observed bounds
    // (a 1-row broadcast), so no bucket table needs to exist. Bucket
    // math is integer micros on both engines.
    "ev_gapfill" -> ((s, dir) => {
      val binUs = 15L * 60L * 1000000L
      val counts = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(expr(s"timestamp_micros((unix_micros(ts) div $binUs) * $binUs)").as("bucket"))
        .agg(count(lit(1)).as("n_purchases"))
      val spine = counts
        .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 15 minutes)")).as("bucket"))
      spine.join(counts, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy("bucket")
    }),

    // Ordered funnel: how far does each user get through
    // view → click → purchase, where each stage must happen strictly
    // after the previous one? Three chained min-after aggregations —
    // each a hash shuffle keyed by user, the natural shard key; no
    // window over full event history needed.
    "ev_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
      v.join(c.select(col("user_id"), col("c_ts")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), col("p_ts")), Seq("user_id"), "left")
        .withColumn("stage",
          when(col("p_ts").isNotNull, 3)
            .when(col("c_ts").isNotNull, 2).otherwise(1).cast("int"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    }),

    // Gap-based sessionization: a new session starts after a >30 min
    // silence per user. Microsecond-integer arithmetic on both engines.
    "ev_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
               unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Watermark sizing audit — the out-of-orderness histogram that
    // decides `withWatermark`'s delay before any streaming job ships:
    // lateness(e) = (max event-time seen so far in ARRIVAL order) −
    // event-time(e). The table is event-time-ordered, so arrival
    // order is simulated with a deterministic ±40-position hash
    // displacement (the pipe_snapshot_diff discipline: both engines
    // derive the identical scenario from one table). The running max
    // never flows through one task: 256 equal-width arrival buckets
    // (span from a broadcast 1-row agg) → per-bucket max → prefix max
    // over the 256-row frame → within-bucket running max; the
    // composed max is exact. At 100 TB the bucket tier nests (256²
    // cells before any window exceeds ~N/65k rows) — the
    // pipe_token_budget two-phase argument, for max instead of sum.
    "ev_watermark_audit" -> ((s, dir) => {
      val jit =
        expr("instr('0123456789abcdef', substring(md5(cast(event_id AS string)), 1, 1))") - 1
      val d = Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("arrival", col("event_id") + (jit - 8) * 5)
      val span = d.agg(min(col("arrival")).as("a_min"),
        (max(col("arrival")) - min(col("arrival")) + 1).as("a_span"))
      val bucketed = d.crossJoin(broadcast(span))
        .withColumn("b", expr("(arrival - a_min) * 256 DIV a_span"))
      val wPrior = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prior = bucketed.groupBy("b").agg(max(col("us")).as("bmax"))
        .withColumn("prior_max", max(col("bmax")).over(wPrior))
        .select("b", "prior_max") // 256-row frame; bounded window
      val wRun = Window.partitionBy(col("b"))
        .orderBy(col("arrival"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      bucketed.join(broadcast(prior), "b")
        .withColumn("run_max", max(col("us")).over(wRun))
        .withColumn("gmax", greatest(col("run_max"),
          coalesce(col("prior_max"), lit(Long.MinValue))))
        .withColumn("late_us", col("gmax") - col("us"))
        .withColumn("cls",
          when(col("late_us") === 0L, "a_inorder")
            .when(col("late_us") <= 600L * 1000000L, "b_le10min")
            .when(col("late_us") <= 3600L * 1000000L, "c_le1h")
            .otherwise("d_gt1h"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_events"),
          (max(col("late_us")) / lit(1000000L)).cast("long").as("max_late_s"))
        .orderBy("cls")
    }),

    // Join-key skew profile — the pre-flight check before any keyed
    // shuffle at 100 TB: per-key row counts → one summary row with the
    // hottest key, the skew factor (hot/avg), and the salt bucket
    // count that would level it (integer-exact ceiling division, no
    // float ceil). Feeds SkewOps.saltedSumCount's `saltBuckets` and
    // the saltedAsOf wrapper's `salts`. One map-side-combined count
    // plus a keys-sized argmax — the profile costs one shuffle of
    // distinct keys, never of rows.
    "ev_skew_profile" -> ((s, dir) => {
      val perKey = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
      val hot = perKey.agg(max(col("c")).as("max_key_rows"))
      val top = perKey.join(broadcast(hot),
          perKey("c") === hot("max_key_rows"))
        .agg(min(col("user_id")).as("top_key"),
          min(col("max_key_rows")).as("max_key_rows"))
      perKey.agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(top))
        .withColumn("skew4",
          round((col("max_key_rows") * col("n_keys")).cast("double")
            / col("n_rows").cast("double"), 4))
        .withColumn("suggested_salt",
          expr("(max_key_rows * n_keys + n_rows - 1) DIV n_rows"))
        .select("n_rows", "n_keys", "top_key", "max_key_rows", "skew4",
          "suggested_salt")
    }),

    // POISSON BOOTSTRAP CI for the mean event value — the standard
    // uncertainty readout for any pipeline metric, in the form that
    // actually scales: multinomial resampling needs a global draw of
    // size n (impossible to distribute), the Poisson(1) approximation
    // gives every row an INDEPENDENT weight, so all B replicas ride
    // one corpus scan (row × replica, map-side reduced to B partial
    // sums — Chamandy et al.'s "Estimating Uncertainty for Massive
    // Data Streams", the canonical Google large-scale bootstrap).
    // Determinism: the weight is the inverse-CDF bucket of the
    // md5(event_id, b) first byte (P(0)=P(1)=94/256, P(2)=47/256,
    // P(3)=16/256, P(4)=5/256 — the 256-grain quantization of
    // Poisson(1)), so both engines draw THE SAME resamples. Replica
    // means in exact micro-cents (floor), CI = order statistics 2/16/31
    // of the 32 sorted replica means — no interpolation, no float.
    "ev_bootstrap_ci" -> ((s, dir) => {
      import s.implicits._
      val cents = Tables.events(s, dir)
        .select(col("event_id"), centsCol.as("c"))
      val reps = (0 until BootReplicas).map(_.toLong).toDF("b")
      val weighted = cents.crossJoin(broadcast(reps))
        .withColumn("h", conv(substring(
          md5(concat_ws("_", col("event_id").cast("string"),
            col("b").cast("string"))), 1, 2), 16, 10)
          .cast("long"))
        .withColumn("w", when(col("h") < 94, 0L)
          .when(col("h") < 188, 1L)
          .when(col("h") < 235, 2L)
          .when(col("h") < 251, 3L)
          .otherwise(4L))
      // a replica drawing all-zero Poisson weights (den = 0) must
      // yield an explicit NULL mean, and the rank window must pin
      // NULL ordering — Spark orders NULLs first by default, DuckDB
      // last, so an unguarded divergence would silently shift the
      // order-statistic CI instead of failing loudly
      val repMeans = weighted.groupBy("b")
        .agg(sum(col("w") * col("c")).as("num"), sum(col("w")).as("den"))
        .withColumn("mean_micro", expr(
          // weighted cents total × 10⁶ through DECIMAL (ev_did cliff)
          "CASE WHEN den > 0 THEN CAST((CAST(num AS DECIMAL(38,0)) " +
            "* 1000000) DIV den AS BIGINT) END"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("mean_micro").asc_nulls_first)
      val stats = repMeans
        .withColumn("rn", row_number().over(w)) // 32-row frame: the
        // unpartitioned window is replica-bounded, never corpus-sized
        .agg(
          max(when(col("rn") === 2, col("mean_micro"))).as("boot_lo_micro"),
          max(when(col("rn") === 16, col("mean_micro"))).as("boot_med_micro"),
          max(when(col("rn") === 31, col("mean_micro"))).as("boot_hi_micro"),
          count(lit(1)).as("n_replicas"))
      val point = cents.agg(count(lit(1)).as("n_rows"),
        expr("CAST((CAST(sum(c) AS DECIMAL(38,0)) * 1000000) " +
          "DIV count(1) AS BIGINT)").as("point_mean_micro"))
      point.crossJoin(broadcast(stats))
        .select("n_rows", "point_mean_micro", "boot_lo_micro",
          "boot_med_micro", "boot_hi_micro", "n_replicas")
    }),

    // DIFFERENCE-IN-DIFFERENCES — the quasi-experimental readout for
    // staged rollouts (Card & Krueger 1994 form): per-user spend is
    // split pre/post at the corpus time midpoint (the ev_ab_cuped
    // period split) and md5-parity "exposure" arms stand in for the
    // rollout cohorts; DiD = (post_b − pre_b) − (post_a − pre_a)
    // nets out both the time trend (shared by the arms) and the
    // cohort level difference (shared by the periods). Dataflow: one
    // corpus scan into per-user (x, y) cents sums — shuffle by
    // user_id — then a 2-row arm census folded to a single frame;
    // the midpoint rides a broadcast 1-row bound. Means in exact
    // micro (cents sums are non-negative, so plain DIV ≡ // ); the
    // DiD is a difference of already-floored means — both engines
    // floor at the same 4 points, so the contract is engine-exact.
    "ev_did" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("um"),
          centsCol.as("cents"))
      val bounds = ev.agg(min(col("um")).as("mn"), max(col("um")).as("mx"))
        .select(expr("mn + (mx - mn) DIV 2").as("mid"))
      val perUser = ev.crossJoin(broadcast(bounds))
        .groupBy("user_id")
        .agg(
          sum(when(col("um") < col("mid"), col("cents")).otherwise(0L))
            .as("x"),
          sum(when(col("um") >= col("mid"), col("cents")).otherwise(0L))
            .as("y"))
        .withColumn("arm", armCol)
      perUser.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"))
        // cents-total × 10⁶ leaves BIGINT past ~$92B per cohort —
        // the rand_ppm overflow class; DECIMAL(38,0) removes the cliff
        .withColumn("pre_micro", expr(
          "CAST((CAST(sx AS DECIMAL(38,0)) * 1000000) DIV n_users AS BIGINT)"))
        .withColumn("post_micro", expr(
          "CAST((CAST(sy AS DECIMAL(38,0)) * 1000000) DIV n_users AS BIGINT)"))
        .agg(
          sum(when(col("arm") === 0, col("n_users"))).as("n_a"),
          sum(when(col("arm") === 1, col("n_users"))).as("n_b"),
          sum(when(col("arm") === 0, col("pre_micro"))).as("pre_a_micro"),
          sum(when(col("arm") === 0, col("post_micro"))).as("post_a_micro"),
          sum(when(col("arm") === 1, col("pre_micro"))).as("pre_b_micro"),
          sum(when(col("arm") === 1, col("post_micro"))).as("post_b_micro"))
        .withColumn("did_micro",
          (col("post_b_micro") - col("pre_b_micro")) -
            (col("post_a_micro") - col("pre_a_micro")))
        .select("n_a", "n_b", "pre_a_micro", "post_a_micro",
          "pre_b_micro", "post_b_micro", "did_micro")
    }),

    // EVENT STUDY — ev_did's dynamic form, and the honest-causal
    // practice DiD alone skips: instead of ONE pre/post contrast, the
    // timeline splits into 8 equal relative periods (adoption at
    // period 4), and per period p the arm gap is contrasted against
    // the LAST PRE period's gap — coef(p) = gap(p) − gap(3). The pre
    // periods (p < 4) are the PRE-TRENDS CHECK: nonzero pre
    // coefficients mean the arms were already diverging and the DiD
    // identification fails — the readout every credible rollout
    // analysis publishes before the effect estimate. Same exact-micro
    // machinery as ev_did: cents sums per (arm, period), balanced
    // denominators = the arm's FULL user census (a user with no
    // events in p contributes 0 — the balanced-panel convention),
    // DECIMAL-routed mean division. Two corpus passes (the min/max
    // bounds, then ONE per-(user, period) pre-aggregate); the arm
    // hash runs per user-period GROUP, not per event, and the census
    // derives from the same user-bounded frame — everything after is
    // broadcast-scale.
    "ev_event_study" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("um"),
          centsCol.as("cents"))
      val bounds = ev.agg(min(col("um")).as("mn"), max(col("um")).as("mx"))
      val perUp = ev.crossJoin(broadcast(bounds))
        .withColumn("p", expr("((um - mn) * 8) DIV (mx - mn + 1)"))
        .groupBy("user_id", "p").agg(sum(col("cents")).as("sc"))
        .withColumn("arm", armCol)
        .localCheckpoint(false) // users×8 rows; census + sums reuse it
      val census = perUp.select("user_id", "arm").distinct()
        .groupBy("arm").agg(count(lit(1)).as("n_users"))
      // dense (arm × period) frame: a cell with no events is a REAL
      // zero-mean observation, not a missing row
      val cells = census
        .crossJoin(broadcast(s.range(0, 8).select(col("id").as("p"))))
        .join(perUp.groupBy("arm", "p").agg(sum(col("sc")).as("sc")),
          Seq("arm", "p"), "left")
        .na.fill(0L, Seq("sc"))
        .withColumn("mean_micro", expr(
          "CAST((CAST(sc AS DECIMAL(38,0)) * 1000000) DIV n_users AS BIGINT)"))
      val byP = cells.groupBy("p").agg(
        sum(when(col("arm") === 0, col("n_users"))).as("n_a"),
        sum(when(col("arm") === 1, col("n_users"))).as("n_b"),
        sum(when(col("arm") === 0, col("mean_micro"))).as("mean_a_micro"),
        sum(when(col("arm") === 1, col("mean_micro"))).as("mean_b_micro"))
        .withColumn("gap_micro", col("mean_b_micro") - col("mean_a_micro"))
      val base = byP.filter(col("p") === 3)
        .select(col("gap_micro").as("base_gap"))
      byP.crossJoin(broadcast(base))
        .select(col("p"), col("n_a"), col("n_b"),
          col("mean_a_micro"), col("mean_b_micro"), col("gap_micro"),
          (col("gap_micro") - col("base_gap")).as("coef_micro"),
          when(col("p") < 4, lit(1L)).otherwise(lit(0L)).as("is_pre"))
        .orderBy("p")
    }),

    // QUANTILE TREATMENT EFFECTS — the DISTRIBUTIONAL readout the
    // mean tests (t/DiD/CUPED) and the rank test (Mann–Whitney) both
    // compress away: per τ ∈ {25, 50, 75, 90}, the difference of the
    // two arms' exact per-user-spend quantiles (Athey–Imbens
    // distributional-effect practice — an effect concentrated in the
    // p90 tail with a flat median is invisible to a t-test and
    // directionless in U). Quantile = min value whose per-arm
    // cumulative count reaches ⌈τ·n/100⌉ — the q_exact_quantiles walk
    // over the value-bounded per-arm census (the ev_mann_whitney
    // frame): the unpartitioned cumulative runs over the VALUE census
    // (distinct spend totals — the q_exact_quantiles rule: windows
    // over value-bounded frames, never user rows), and the 4-row tau
    // frame broadcasts into it. Everything integer: cents in, cents
    // out, qte = the reader-visible subtraction.
    "ev_qte" -> ((s, dir) => {
      val perUser = perUserCents(s, dir).withColumn("arm", armCol)
      val census = perUser.groupBy("v")
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"))
        .localCheckpoint(false)
      val wCum = org.apache.spark.sql.expressions.Window.orderBy("v")
      val cum = census
        .withColumn("cuma", sum(col("ca")).over(wCum))
        .withColumn("cumb", sum(col("cb")).over(wCum))
      val tot = census.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      val taus = tot.select(explode(array(lit(25L), lit(50L), lit(75L),
          lit(90L))).as("tau"), col("na"), col("nb"))
        // an empty arm would make rank 0 match every census row and
        // report the OTHER arm's minimum as its "quantile" — an
        // engine-agreeing wrong number the gate can't see; fail loudly
        .withColumn("ra", expr("CASE WHEN na >= 1 THEN " +
          "(tau * na + 99) DIV 100 ELSE CAST(raise_error(" +
          "'ev_qte: arm a is empty') AS BIGINT) END"))
        .withColumn("rb", expr("CASE WHEN nb >= 1 THEN " +
          "(tau * nb + 99) DIV 100 ELSE CAST(raise_error(" +
          "'ev_qte: arm b is empty') AS BIGINT) END"))
      val qa = cum.join(broadcast(taus.select("tau", "ra")),
          col("cuma") >= col("ra"))
        .groupBy("tau").agg(min(col("v")).as("q_a_cents"))
      val qb = cum.join(broadcast(taus.select("tau", "rb")),
          col("cumb") >= col("rb"))
        .groupBy("tau").agg(min(col("v")).as("q_b_cents"))
      taus.select("tau", "na", "nb")
        .join(qa, "tau").join(qb, "tau")
        .withColumn("qte_cents", col("q_b_cents") - col("q_a_cents"))
        .orderBy("tau")
    }),

    // MANN-WHITNEY U — the nonparametric two-sample test every
    // experimentation platform keeps beside the t-test for
    // heavy-tailed revenue metrics (Mann & Whitney 1947): ranks of
    // per-user spend across both md5-parity arms, with midrank tie
    // handling kept INTEGRAL by doubling (avg tie rank = (2·below +
    // count + 1)/2, so 2·rank is always whole). U is reported doubled
    // (u2 = 2U) and the common-language effect size — P(spend_a >
    // spend_b) with ½ credit at ties — in exact ppm. Dataflow: one
    // shuffle by user into per-user totals, then the rank machinery
    // runs on the DISTINCT-VALUE census (value, n_a, n_b) — at this
    // corpus 150 rows; at 100 TB the cumulative-below pass over the
    // value census would ride the radix-bucket two-stage discipline
    // (QuantileQueries) instead of one ordered frame, and U is a sum
    // of per-value products either way. No floats, no sqrt — the
    // z-normalization is the reader's step, the engine reports the
    // exact statistic.
    "ev_mann_whitney" -> ((s, dir) => {
      val perUser = perUserCents(s, dir).withColumn("arm", armCol)
      val census = perUser.groupBy("v")
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"))
        .localCheckpoint(false) // bounds + bucket census + ranks share it
      // SCALE SHAPE — the below-count is two-stage (the radix-bucket
      // descent): a 1024-ary value bucketing gives a bounded coarse
      // frame whose cumulative counts replace the global ordered
      // window; the exact per-value cumulative then runs INSIDE each
      // bucket (bucket-partitioned window), and below(v) =
      // coarse_below(bucket) + within_below(v). Row-identical to the
      // naive single-window rank — the oracle IS that naive form.
      val bounds = census.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        .select(expr("greatest(1L, (mx - mn) DIV 1024 + 1)").as("bw"),
          col("mn"))
      val bucketed = census.crossJoin(broadcast(bounds))
        .withColumn("bk", expr("(v - mn) DIV bw"))
      val wBk = Window.orderBy(col("bk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val coarse = bucketed.groupBy("bk") // ≤ 1025-row frame
        .agg(sum(col("ca") + col("cb")).as("nb"))
        .withColumn("coarse_below",
          coalesce(sum(col("nb")).over(wBk), lit(0L)))
        .select("bk", "coarse_below")
      val wIn = Window.partitionBy(col("bk")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = bucketed.join(broadcast(coarse), "bk")
        .withColumn("below", col("coarse_below") +
          coalesce(sum(col("ca") + col("cb")).over(wIn), lit(0L)))
        .withColumn("r2", lit(2L) * col("below") + col("ca") + col("cb")
          + lit(1L)) // doubled midrank, exact for any tie group
      // rank sums grow ~n² (r2 ≤ 2n+1), and u2·10⁶ leaves BIGINT at
      // ~4.3M balanced users — the whole tail runs in DECIMAL(38,0)
      // (HUGEINT on the oracle side) and only the ≤-2n₁n₂ statistics
      // cast back down
      ranked.agg(
          sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
          expr("sum(CAST(ca AS DECIMAL(38,0)) * r2)").as("rr2a"),
          expr("sum(CAST(cb AS DECIMAL(38,0)) * r2)").as("rr2b"))
        .withColumn("u2_a", expr(
          "CAST(rr2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)"))
        .withColumn("u2_b", expr(
          "CAST(rr2b - CAST(n_b AS DECIMAL(38,0)) * (n_b + 1) AS BIGINT)"))
        .withColumn("auc_ppm", // P(a > b) + P(tie)/2, exact ppm
          expr("CAST((CAST(u2_a AS DECIMAL(38,0)) * 1000000) DIV " +
            "(CAST(2 AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)"))
        .select("n_a", "n_b", "u2_a", "u2_b", "auc_ppm")
    }),

    // EWMA SMOOTHING — exponentially-weighted hourly baseline
    // (α = 1/2) with the recursion UNROLLED into a bounded dyadic
    // convolution so it is exact integer arithmetic on both engines:
    // s_t = Σ_{i<t} y_{t−i}·2^{−(i+1)} + y_0·2^{−t}, truncated at
    // K = 40 taps (the dropped tail is < max_y·2⁻⁴⁰ — and identical
    // truncation on both engines is the contract, not an
    // approximation claim). Numerator in DECIMAL(38,0): Σ y·2³⁹ ×
    // 10⁶ leaves BIGINT for any hourly count past ~9k. Dataflow: one
    // corpus scan into the gap-filled (type × hour) spine (the
    // ev_changepoint sweep-line doctrine), then a taps×spine
    // broadcast join — the convolution frame is calendar-bounded,
    // never corpus-sized. The residual y_t·10⁶ − s_{t−1}·10⁶ is the
    // one-step-ahead surprise an anomaly pager thresholds.
    "ev_ewma" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly.groupBy("event_type")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      val y = spine.join(hourly, Seq("event_type", "hour"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("t", (row_number().over(w) - 1).cast("long"))
      val y0 = y.filter(col("t") === 0)
        .select(col("event_type"), col("n").as("y0"))
      // s_t·2^K = Σ_{i=0..t−1} y_{t−i}·2^(K−1−i) + y_0·2^(K−t): taps
      // come only from sources t ≥ 1 (target t2 = t+i then collects
      // exactly i = 0..min(t2−1, K−1)); the closed-form y_0·2^(K−t2)
      // remainder carries ALL of source 0, truncated past K taps.
      val taps = y.filter(col("t") >= 1)
        .select(col("event_type"), col("t"), col("n"))
        .withColumn("i", explode(expr(s"sequence(0, ${EwmaTaps - 1})")))
        .select(col("event_type"), (col("t") + col("i")).as("tt"),
          expr(s"CAST(n AS DECIMAL(38,0)) * CAST(shiftleft(1L, " +
            s"${EwmaTaps - 1} - i) AS DECIMAL(38,0))").as("term"))
        .groupBy(col("event_type"), col("tt"))
        .agg(sum(col("term")).as("num"))
        .withColumnRenamed("tt", "t")
      ewmaAssemble(y, taps, y0)
    }),

    // POWER ANALYSIS / MDE — the sample-size question every
    // experiment DESIGN starts with (the missing classic beside
    // SRM/CUPED/SPRT/MW/DiD/bootstrap): per-arm
    // n = 2(z_{α/2}+z_β)²σ²/δ² for a two-sample means test at
    // α=0.05, power 0.8, against δ = 5% of the current mean.
    // (1.959964 + 0.841621)² = 7.848878… is a FIXED micro literal
    // ([[PowerZSumSqMicro]] — the Similarity rank-discount
    // convention, no distribution function in either engine);
    // variance from exact DECIMAL(38,0) power sums (population form
    // — n·Σv² − (Σv)² over n²); the ceiling division is the
    // non-negative (num + den − 1) DIV den. One shuffle (per-user
    // totals), then a 1-row moment frame.
    "ev_power_mde" -> ((s, dir) => {
      perUserCents(s, dir)
        .agg(count(lit(1)).as("n"),
          expr("sum(CAST(v AS DECIMAL(19,0)))").as("sv"),
          expr("sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))")
            .as("svv"))
        .withColumn("mean_cents", expr("CAST(sv DIV n AS BIGINT)"))
        .withColumn("var_cents2", expr(
          "CAST((n * svv - sv * sv) DIV (CAST(n AS DECIMAL(38,0)) * n) " +
            "AS BIGINT)"))
        .withColumn("delta_cents", expr("mean_cents DIV 20"))
        .withColumn("n_required_per_arm", expr(
          s"""CASE WHEN delta_cents > 0 THEN
             |  CAST((2 * CAST($PowerZSumSqMicro AS DECIMAL(38,0))
             |      * var_cents2
             |      + (CAST(delta_cents AS DECIMAL(38,0)) * delta_cents
             |         * 1000000) - 1)
             |    DIV (CAST(delta_cents AS DECIMAL(38,0)) * delta_cents
             |      * 1000000) AS BIGINT)
             |END""".stripMargin))
        .select(col("n").as("n_users"), col("mean_cents"),
          col("var_cents2"), col("delta_cents"),
          col("n_required_per_arm"))
    }),

    // CUSUM DRIFT MONITOR (Page 1954) — the streaming change
    // detector beside ev_changepoint's single offline split: the
    // one-sided recursion V_t = max(0, V_{t−1} + x_t) is NOT a
    // window function, but its CLOSED FORM IS: V_t = S_t −
    // min(0, min_{j≤t} S_j) with S the plain cumulative sum — two
    // ordered windows over the calendar-bounded (type × hour) spine
    // and zero recursion. x_t = n_t·10⁶ − k in exact micro with the
    // reference k = 1.25× the per-type global hourly mean (the
    // "allowance" that absorbs normal variation); alarm when V ≥ 4k.
    // One corpus pass for the hourly counts; everything after rides
    // the spine (the sweep-line doctrine).
    "ev_cusum" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly.groupBy("event_type")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      // corpus-count-scale products ride DECIMAL(38,0) (the rand_ppm
      // cliff class): tot·10⁶ wraps int64 past ~9.2e12 events per
      // type, and the cumulative sum s drifts at −0.25·tot·10⁶ scale;
      // DIV returns a bounded BIGINT quotient (per-hour-mean micro),
      // and v_micro casts down only at the output edge, where the
      // ANSI cast fails loudly like the oracle's HUGEINT→BIGINT.
      val stats = hourly.groupBy("event_type")
        .agg(sum(expr("CAST(n AS DECIMAL(38,0))")).as("tot"),
          count(lit(1)).as("nh"))
        .select(col("event_type"),
          expr("((tot * 1000000) DIV nh) * 5 DIV 4").as("k_micro"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      val cum = w.rowsBetween(Window.unboundedPreceding, 0)
      spine.join(hourly, Seq("event_type", "hour"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .join(broadcast(stats), "event_type")
        .withColumn("x",
          expr("CAST(n AS DECIMAL(38,0)) * 1000000 - k_micro"))
        .withColumn("s", sum(col("x")).over(cum))
        .withColumn("v_dec",
          col("s") - least(lit(BigDecimal(0)).cast(DecimalType(38, 0)),
            min(col("s")).over(cum)))
        .withColumn("alarm",
          col("v_dec") >= expr("CAST(k_micro AS DECIMAL(38,0)) * 4"))
        .select(col("event_type"), col("hour"), col("n"),
          expr("CAST(v_dec AS BIGINT)").as("v_micro"), col("alarm"))
        .orderBy("event_type", "hour")
    }),

    // SEQUENTIAL PROBABILITY RATIO TEST (Wald 1945) — the
    // always-valid monitor an experimentation platform runs INSTEAD
    // of peeking at fixed-horizon p-values: per arm, walk the
    // conversion stream in arrival order accumulating the exact
    // integer LLR (increments and thresholds are fixed micro
    // literals, [[SprtConvMicro]] — no libm on either engine) and
    // report the FIRST threshold crossing: how many observations the
    // decision needed, which hypothesis won, and the final LLR for
    // arms still in 'continue'. The walk is an arm-partitioned
    // ordered window over the per-user frame ((first_ts, user_id)
    // total order); sequential monitoring is inherently ordered — at
    // 100 TB the platform runs it over per-interval aggregates, and
    // the cumulative frame stays interval-bounded.
    // SCALE SHAPE — bucket-first candidate refinement (the
    // q_approx_quantile descent applied to a sequential walk): stage
    // 1 aggregates the stream into the calendar-bounded (arm, day)
    // census and brackets each bucket's intra-bucket LLR prefix with
    // cum_prev + n_conv·a ≤ … ≥ cum_prev + n_nonconv·b (a > 0 > b, so
    // all-conversions-first / all-nonconversions-first are the
    // extreme orderings); a crossing anywhere inside a bucket forces
    // that bucket's bracket across the threshold, so only CANDIDATE
    // buckets get the exact ordered walk — windows partition by
    // (arm, day), never a corpus-sized arm partition. The readout is
    // row-identical to the naive single-window walk (the DuckDB
    // oracle), which is exactly what the gate proves.
    "ev_sprt" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min(col("ts")).as("first_ts"),
          min(when(col("event_type") === "purchase", col("ts"))).as("fp"))
        .withColumn("x",
          when(col("fp").isNotNull &&
            col("fp") <= col("first_ts") + expr("INTERVAL 24 HOURS"),
            1L).otherwise(0L))
        .withColumn("arm", armCol)
        .withColumn("inc", col("x") * lit(SprtConvMicro) +
          (lit(1L) - col("x")) * lit(SprtNoConvMicro))
        .withColumn("day", date_trunc("day", col("first_ts")))
        .localCheckpoint(false) // census + refine + totals legs share it
      // every census/cumulative sum rides DECIMAL(38,0): an arm's LLR
      // total is user-count × ~2.9e5 micro and would wrap int64 past
      // ~3e13 users — the rand_ppm cliff class; only crossing-bounded
      // outputs cast back down
      val wDay = Window.partitionBy(col("arm")).orderBy(col("day"))
      val days = users.groupBy("arm", "day")
        .agg(count(lit(1)).as("nb"),
          sum(expr("CAST(inc AS DECIMAL(38,0))")).as("sb"),
          sum(col("x")).as("ncb"))
        .withColumn("cum_prev", coalesce(sum(col("sb")).over(
          wDay.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L).cast(DecimalType(38, 0))))
        .withColumn("users_before", coalesce(sum(col("nb")).over(
          wDay.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("hi", col("cum_prev") +
          expr(s"CAST(ncb AS DECIMAL(38,0)) * $SprtConvMicro"))
        .withColumn("lo", col("cum_prev") +
          expr(s"CAST(nb - ncb AS DECIMAL(38,0)) * ($SprtNoConvMicro)"))
      // post-decision tail prune: once cum_prev itself has crossed,
      // some EARLIER bucket's bracket crossed too (the bucket where
      // the prefix first crossed), so min(rn) is already determined —
      // later buckets need no walk. Without this, every day after a
      // decision satisfies hi >= Upper and the refinement walks the
      // whole tail.
      val candDays = days
        .filter((col("hi") >= SprtUpperMicro || col("lo") <= SprtLowerMicro)
          && col("cum_prev") < SprtUpperMicro
          && col("cum_prev") > SprtLowerMicro)
        .select("arm", "day", "cum_prev", "users_before")
      val wIn = Window.partitionBy(col("arm"), col("day"))
        .orderBy(col("first_ts"), col("user_id"))
      val walked = users.join(candDays, Seq("arm", "day"))
        .withColumn("rn",
          col("users_before") + row_number().over(wIn).cast("long"))
        .withColumn("cum", col("cum_prev") +
          sum(expr("CAST(inc AS DECIMAL(38,0))")).over(
            wIn.rowsBetween(Window.unboundedPreceding, 0)))
        .localCheckpoint(false) // min-rn + value-at legs share it
      val dec = walked
        .filter(col("cum") >= SprtUpperMicro || col("cum") <= SprtLowerMicro)
        .groupBy("arm").agg(min(col("rn")).as("n_at_decision"))
      val at = dec.join(walked, Seq("arm"))
        .filter(col("rn") === col("n_at_decision"))
        .select(col("arm"), col("n_at_decision"),
          // crossing-bounded: |cum| ≤ threshold + max|inc| ≈ 3.2e6
          expr("CAST(cum AS BIGINT)").as("llr_at_decision"))
      users.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          // fails loudly (not wraps) past int64 — matches the
          // oracle's HUGEINT→BIGINT cast behavior. This relies on
          // ANSI mode (CAST_OVERFLOW throws); under legacy
          // ansi.enabled=false Spark would return NULL instead, so
          // every graft session builder pins ansi.enabled=true.
          expr("CAST(sum(CAST(inc AS DECIMAL(38,0))) AS BIGINT)")
            .as("llr_final"))
        .join(at, Seq("arm"), "left")
        .withColumn("decision",
          when(col("llr_at_decision") >= SprtUpperMicro, "accept_h1")
            .when(col("llr_at_decision") <= SprtLowerMicro, "accept_h0")
            .otherwise("continue"))
        .select(col("arm"), col("n_users"), col("n_at_decision"),
          col("llr_at_decision"), col("decision"), col("llr_final"))
        .orderBy("arm")
    })
  )

  /** Tail assembly of ev_ewma, split out so the query literal above
    * stays readable.
    */
  private def ewmaAssemble(y: DataFrame, taps: DataFrame,
      y0: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    y.join(taps, Seq("event_type", "t"), "left")
        .join(broadcast(y0), "event_type")
        .withColumn("num", coalesce(col("num"), lit(0L).cast(DecimalType(38, 0)))
          + when(col("t") < EwmaTaps,
              expr(s"CAST(y0 AS DECIMAL(38,0)) * CAST(shiftleft(1L, " +
                s"CAST($EwmaTaps - t AS INT)) AS DECIMAL(38,0))"))
            .otherwise(lit(0L).cast(DecimalType(38, 0))))
        .withColumn("ewma_micro", expr(
          s"CAST((num * 1000000) DIV CAST(shiftleft(1L, $EwmaTaps) " +
            "AS DECIMAL(38,0)) AS BIGINT)"))
        .withColumn("resid_micro",
          col("n") * 1000000L - lag(col("ewma_micro"), 1).over(w))
        .select(col("event_type"), col("hour"), col("n"),
          col("ewma_micro"), col("resid_micro"))
        .orderBy("event_type", "hour")
  }

  /** Bootstrap replica count (ev_bootstrap_ci). */
  val BootReplicas = 32

  val oracleSql: Map[String, String] = Map(
    "ev_new_vs_returning" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |fu AS (SELECT user_id, min(d) AS fd FROM du GROUP BY 1),
        |agg AS (
        |  SELECT du.d, count(*)::BIGINT AS dau,
        |    CAST(sum(CASE WHEN du.d = fu.fd THEN 1 ELSE 0 END) AS BIGINT)
        |      AS new_users
        |  FROM du JOIN fu USING (user_id) GROUP BY 1)
        |SELECT CAST(d AS VARCHAR) AS day, dau, new_users,
        |  dau - new_users AS returning,
        |  (new_users * 1000000) // dau AS new_ppm
        |FROM agg ORDER BY day""".stripMargin,
    "ev_pareto" ->
      """WITH cc AS (
        |  SELECT c, count(*)::BIGINT AS k FROM (
        |    SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY 1)
        |  GROUP BY 1),
        |cum AS (
        |  SELECT c, k,
        |    CAST(sum(c * k) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_e,
        |    CAST(sum(k) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_u
        |  FROM cc),
        |tot AS (SELECT CAST(max(cum_e) AS BIGINT) AS t,
        |               CAST(max(cum_u) AS BIGINT) AS u FROM cum),
        |tg AS (
        |  SELECT CAST(d10 * 10 AS BIGINT) AS decile,
        |    CAST((t.t * d10 + 9) // 10 AS BIGINT) AS target, t.u
        |  FROM (SELECT unnest(range(1, 10)) AS d10), tot t),
        |bd AS (
        |  SELECT tg.decile, tg.target, tg.u,
        |    CAST(min(cum.cum_e) AS BIGINT) AS b_cum_e
        |  FROM tg JOIN cum ON cum.cum_e >= tg.target
        |  GROUP BY 1, 2, 3)
        |SELECT bd.decile, bd.target AS target_events,
        |  CAST((cum.cum_u - cum.k) +
        |    ((bd.target - (cum.cum_e - cum.c * cum.k)) + cum.c - 1) // cum.c
        |    AS BIGINT) AS users_needed,
        |  bd.u AS n_users,
        |  CAST(((cum.cum_u - cum.k) +
        |    ((bd.target - (cum.cum_e - cum.c * cum.k)) + cum.c - 1) // cum.c)
        |    * 1000000 // bd.u AS BIGINT) AS users_ppm
        |FROM bd JOIN cum ON cum.cum_e = bd.b_cum_e
        |ORDER BY bd.decile""".stripMargin,
    "ev_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk,
        |    CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT) AS cents
        |  FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY 1)
        |SELECT CAST(CAST(fw.cohort AS DATE) AS VARCHAR) AS cohort,
        |  date_diff('day', CAST(fw.cohort AS DATE), CAST(ev.wk AS DATE)) // 7
        |    AS age_w,
        |  count(DISTINCT ev.user_id)::BIGINT AS n_users,
        |  CAST(sum(ev.cents) AS BIGINT) AS revenue_cents
        |FROM ev JOIN fw USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, age_w""".stripMargin,
    "ev_survival" ->
      """WITH spans AS (
        |  SELECT user_id,
        |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 86400000000
        |      AS span_d
        |  FROM events GROUP BY 1),
        |hist AS (SELECT span_d, count(*)::BIGINT AS c
        |         FROM spans GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_users FROM hist),
        |spine AS (SELECT DISTINCT span_d AS k FROM hist)
        |SELECT s.k, CAST(sum(h.c) AS BIGINT) AS n_surviving, t.n_users,
        |  (CAST(sum(h.c) AS BIGINT) * 1000000) // t.n_users AS s_ppm
        |FROM spine s JOIN hist h ON h.span_d >= s.k CROSS JOIN tot t
        |GROUP BY s.k, t.n_users ORDER BY s.k""".stripMargin,
    "ev_wow_growth" ->
      """WITH wk AS (
        |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS wkd,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, wkd, n,
        |    CAST(lag(n, 1) OVER (PARTITION BY event_type ORDER BY wkd)
        |      AS BIGINT) AS prev
        |  FROM wk)
        |SELECT event_type, CAST(wkd AS VARCHAR) AS week, n, prev,
        |  CASE WHEN prev IS NULL THEN NULL
        |       ELSE (n * 1000000) // prev END AS ratio_ppm
        |FROM l ORDER BY event_type, week""".stripMargin,
    "ev_dau_wau" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d FROM du),
        |dau AS (
        |  SELECT d, count(DISTINCT user_id)::BIGINT AS dau
        |  FROM du GROUP BY 1),
        |wau AS (
        |  SELECT sp.d, count(DISTINCT u.user_id)::BIGINT AS wau
        |  FROM days sp JOIN du u ON u.d BETWEEN sp.d - 6 AND sp.d
        |  GROUP BY 1)
        |SELECT CAST(a.d AS VARCHAR) AS day, a.dau, w.wau,
        |  (a.dau * 1000000) // w.wau AS stickiness_ppm
        |FROM dau a JOIN wau w USING (d) ORDER BY day""".stripMargin,
    "ev_bot_regularity" ->
      """WITH gaps AS (
        |  SELECT user_id,
        |    (epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
        |       ORDER BY ts, event_id)) - epoch_us(ts)) // 1000000 AS g
        |  FROM events),
        |st AS (
        |  SELECT user_id, count(*)::BIGINT AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS sum_g,
        |    CAST(sum(g * g) AS BIGINT) AS sum_g2
        |  FROM gaps WHERE g IS NOT NULL GROUP BY 1),
        |sc AS (
        |  SELECT user_id, n_gaps, sum_g, sum_g2,
        |    CASE WHEN sum_g = 0 THEN 0
        |      ELSE CAST(((CAST(n_gaps AS HUGEINT) * sum_g2 -
        |        CAST(sum_g AS HUGEINT) * sum_g) * 1000000) //
        |        (CAST(sum_g AS HUGEINT) * sum_g) AS BIGINT) END AS cv2_ppm
        |  FROM st WHERE n_gaps >= 4)
        |SELECT user_id, n_gaps, sum_g // n_gaps AS mean_gap_s, cv2_ppm
        |FROM sc ORDER BY cv2_ppm ASC, user_id ASC LIMIT 10""".stripMargin,
    "ev_benford" -> {
      val vals = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
        66946L, 57991L, 51152L, 45757L)
        .zipWithIndex.map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH d AS (
         |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
         |    AS digit
         |  FROM (SELECT CAST(floor(abs(value) * CAST(100.0 AS DOUBLE))
         |          AS BIGINT) AS cents FROM events)
         |  WHERE cents > 0),
         |c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
         |e AS (SELECT CAST(digit AS BIGINT) AS digit,
         |        CAST(exp_ppm AS BIGINT) AS exp_ppm
         |      FROM (VALUES $vals) AS v(digit, exp_ppm))
         |SELECT c.digit, c.n,
         |  CAST(CAST(c.n AS HUGEINT) * 1000000 // t.tot AS BIGINT)
         |    AS obs_ppm,
         |  e.exp_ppm,
         |  abs(CAST(CAST(c.n AS HUGEINT) * 1000000 // t.tot AS BIGINT)
         |    - e.exp_ppm) AS dev_ppm
         |FROM c CROSS JOIN t JOIN e ON e.digit = c.digit
         |ORDER BY c.digit""".stripMargin
    },
    "ev_rfm" -> {
      def sc(v: String, c: String, op: String) =
        s"1 + " + (1 to 4).map(i => s"CAST($v $op $c$i AS INT)").mkString(" + ")
      s"""WITH u AS (
         |  SELECT user_id, count(*)::BIGINT AS freq,
         |    CAST(sum(CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT))
         |      AS BIGINT) AS monetary_cents,
         |    max(ts) AS last_ts
         |  FROM events GROUP BY 1),
         |mx AS (SELECT max(ts) AS mts FROM events),
         |ur AS (
         |  SELECT user_id, freq, monetary_cents,
         |    (epoch_us(mts) - epoch_us(last_ts)) // 86400000000
         |      AS recency_days
         |  FROM u, mx),
         |cuts AS (
         |  SELECT
         |    ${(1 to 4).map(i => Seq(
                s"round(quantile_cont(recency_days, 0.${2 * i}), 4) AS r$i",
                s"round(quantile_cont(freq, 0.${2 * i}), 4) AS f$i",
                s"round(quantile_cont(monetary_cents, 0.${2 * i}), 4) AS m$i")
                .mkString(", ")).mkString(",\n    ")}
         |  FROM ur),
         |scored AS (
         |  SELECT CAST(${sc("recency_days", "r", "<")} AS BIGINT) AS r_score,
         |    CAST(${sc("freq", "f", ">")} AS BIGINT) AS f_score,
         |    CAST(${sc("monetary_cents", "m", ">")} AS BIGINT) AS m_score,
         |    freq, monetary_cents
         |  FROM ur, cuts)
         |SELECT r_score, f_score, m_score,
         |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
         |    THEN 'champions'
         |    WHEN r_score <= 2 AND m_score >= 4 THEN 'at_risk'
         |    WHEN f_score >= 4 THEN 'loyal'
         |    WHEN m_score >= 4 THEN 'big_spender'
         |    WHEN r_score <= 2 THEN 'hibernating'
         |    ELSE 'casual' END AS segment,
         |  count(*)::BIGINT AS n_users,
         |  CAST(sum(freq) AS BIGINT) AS n_events,
         |  CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents
         |FROM scored GROUP BY 1, 2, 3
         |ORDER BY r_score, f_score, m_score""".stripMargin
    },
    "ev_markov" ->
      s"""WITH $transitionMicroSql
         |SELECT cur, nxt, n, pm AS p_micro
         |FROM p ORDER BY cur, nxt""".stripMargin,
    // μ/σ from the same exact micro-integer sums; the heap-aggregated
    // top-5 must equal the window form (|z| desc, event_id asc).
    "ev_anomaly" ->
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value * CAST(1000000.0 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS s1,
        |    CAST(sum(CAST(floor(value * value * CAST(1000000.0 AS DOUBLE))
        |      AS BIGINT)) AS BIGINT) AS s2
        |  FROM events GROUP BY 1),
        |ms AS (
        |  SELECT event_type,
        |    CAST(s1 AS DOUBLE) / n / CAST(1000000.0 AS DOUBLE) AS mu,
        |    sqrt(greatest(CAST(0 AS DOUBLE),
        |      CAST(s2 AS DOUBLE) / CAST(1000000.0 AS DOUBLE) / n
        |      - (CAST(s1 AS DOUBLE) / n / CAST(1000000.0 AS DOUBLE))
        |      * (CAST(s1 AS DOUBLE) / n / CAST(1000000.0 AS DOUBLE)))) AS sigma
        |  FROM st),
        |sc AS (
        |  SELECT e.event_type, e.event_id, e.value,
        |    CASE WHEN sigma = 0 THEN 0.0
        |         ELSE round((e.value - mu) / sigma, 4) END AS z4
        |  FROM events e JOIN ms USING (event_type))
        |SELECT event_type, event_id, value, z4, CAST(rk AS INT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(z4) DESC, event_id ASC) AS rk
        |  FROM sc)
        |WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin,
    "ev_tumbling_hour" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // Oracle states the sweep as ONE global running sum (affordable at
    // oracle scale); the two-phase bucket decomposition is
    // row-identical because the hour bucket is a prefix of (t, d)
    // order.
    "ev_peak_concurrency" ->
      """WITH deltas AS (
        |  SELECT t, d, count(*)::BIGINT AS n FROM (
        |    SELECT ts AS t, 1 AS d FROM events
        |    UNION ALL
        |    SELECT ts + INTERVAL 15 MINUTE AS t, -1 AS d FROM events)
        |  GROUP BY t, d),
        |sweep AS (
        |  SELECT date_trunc('hour', t) AS hour, d, n,
        |    sum(d * n) OVER (ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM deltas)
        |SELECT hour,
        |  CAST(sum(CASE WHEN d = 1 THEN n ELSE 0 END) AS BIGINT) AS n_opens,
        |  CAST(max(conc) AS BIGINT) AS peak_conc
        |FROM sweep GROUP BY hour ORDER BY hour""".stripMargin,
    // Same global-sweep statement with the hour-start sentinels and
    // the hour-partitioned lead — identical construction to the Spark
    // side, so segment splitting and [s, e) boundary order coincide.
    "ev_hour_utilization" ->
      """WITH deltas AS (
        |  SELECT t, d, CAST(sum(dd) AS BIGINT) AS dd FROM (
        |    SELECT ts AS t, 1 AS d, 1 AS dd FROM events
        |    UNION ALL
        |    SELECT ts + INTERVAL 15 MINUTE, -1, -1 FROM events)
        |  GROUP BY t, d),
        |pts AS (
        |  SELECT t, d, dd FROM deltas
        |  UNION ALL
        |  SELECT DISTINCT date_trunc('hour', t), 0, 0 FROM deltas),
        |sw AS (
        |  SELECT date_trunc('hour', t) AS hour, t, d,
        |    sum(dd) OVER (ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
        |    lead(t) OVER (PARTITION BY date_trunc('hour', t)
        |      ORDER BY t, d) AS nt
        |  FROM pts),
        |cov AS (
        |  SELECT hour,
        |    CAST(sum(CASE WHEN conc > 0 THEN
        |      epoch_us(COALESCE(nt, hour + INTERVAL 1 HOUR)) - epoch_us(t)
        |      ELSE 0 END) AS BIGINT) AS covered_micros
        |  FROM sw GROUP BY hour)
        |SELECT hour, covered_micros,
        |  CAST((covered_micros * 1000000) // 3600000000 AS BIGINT) AS util_ppm
        |FROM cov ORDER BY hour""".stripMargin,
    "ev_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
        |fw AS (SELECT user_id, min(w) AS fw FROM uw GROUP BY 1),
        |cur AS (
        |  SELECT u.w,
        |    CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN f.fw = u.w THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN f.fw < u.w AND p.user_id IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM uw u
        |  JOIN fw f USING (user_id)
        |  LEFT JOIN uw p ON p.user_id = u.user_id
        |    AND p.w + INTERVAL 7 DAY = u.w
        |  GROUP BY 1),
        |ch AS (
        |  SELECT u.w + INTERVAL 7 DAY AS w,
        |    CAST(sum(CASE WHEN n.user_id IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_churned
        |  FROM uw u LEFT JOIN uw n ON n.user_id = u.user_id
        |    AND n.w = u.w + INTERVAL 7 DAY
        |  GROUP BY 1)
        |SELECT c.w AS week, c.n_active, c.n_new, c.n_retained,
        |  c.n_resurrected, COALESCE(ch.n_churned, 0) AS n_churned
        |FROM cur c LEFT JOIN ch ON ch.w = c.w
        |ORDER BY week""".stripMargin,

    // Same arm hash as ev_ab_experiment; all moment algebra HUGEINT,
    // all divisions in the sign-explicit floor-of-abs form that
    // matches Spark's truncating div.
    "ev_ab_cuped" -> {
      val hex13 = hex13Sql
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS um,
         |    CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT) AS cents
         |  FROM events),
         |b AS (SELECT min(um) + (max(um) - min(um)) // 2 AS mid FROM ev),
         |pu AS MATERIALIZED (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN um < (SELECT mid FROM b) THEN cents
         |      ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN um >= (SELECT mid FROM b) THEN cents
         |      ELSE 0 END) AS BIGINT) AS y,
         |    CAST($hex13 % 2 AS INT) AS arm
         |  FROM ev GROUP BY user_id),
         |mom AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM pu),
         |th AS (
         |  SELECT *,
         |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
         |    n * syy - sy * sy AS deny
         |  FROM mom),
         |gl AS MATERIALIZED (
         |  SELECT
         |    CASE WHEN den > 0 THEN
         |      CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
         |           ELSE -((-num * 1000000) // den) END AS BIGINT)
         |    END AS theta_micro,
         |    den, deny, CAST((sx * 1000000) // n AS BIGINT) AS xbar_all_micro
         |  FROM th),
         |gl2 AS (
         |  SELECT theta_micro,
         |    CASE WHEN den > 0 AND deny > 0 THEN
         |      least((CAST((CAST(theta_micro AS HUGEINT) * theta_micro)
         |        // 1000000 AS HUGEINT) * den) // deny, 1000000)
         |    END AS r2_ppm,
         |    xbar_all_micro
         |  FROM gl),
         |arms AS (
         |  -- cents-total × 10⁶ through HUGEINT (the ev_did cliff);
         |  -- the means compute ONCE here instead of inline 4×
         |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST((CAST(sum(x) AS HUGEINT) * 1000000) // count(*)
         |      AS BIGINT) AS xbar_micro,
         |    CAST((CAST(sum(y) AS HUGEINT) * 1000000) // count(*)
         |      AS BIGINT) AS ybar_micro
         |  FROM pu GROUP BY arm)
         |SELECT a.arm, a.n_users, a.xbar_micro, a.ybar_micro,
         |  a.ybar_micro
         |    - CASE WHEN g.theta_micro IS NULL THEN 0
         |        WHEN CAST(g.theta_micro AS HUGEINT) *
         |          (a.xbar_micro - g.xbar_all_micro) >= 0
         |        THEN CAST((CAST(g.theta_micro AS HUGEINT) *
         |          (a.xbar_micro - g.xbar_all_micro))
         |          // 1000000 AS BIGINT)
         |        ELSE -CAST((-(CAST(g.theta_micro AS HUGEINT) *
         |          (a.xbar_micro - g.xbar_all_micro)))
         |          // 1000000 AS BIGINT) END AS cuped_micro,
         |  g.theta_micro,
         |  CAST(g.r2_ppm AS BIGINT) AS r2_ppm
         |FROM arms a CROSS JOIN gl2 g ORDER BY a.arm""".stripMargin
    },

    "ev_ab_experiment" -> {
      // DuckDB mirror of conv(substring(md5, 1, 13), 16, 10): the
      // 13-nibble positional decode (the SketchQueries idiom).
      val hex13 = hex13Sql
      s"""WITH u AS (
         |  SELECT user_id,
         |    CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
         |           <= min(ts) + INTERVAL 24 HOURS
         |         THEN 1 ELSE 0 END AS converted,
         |    CAST($hex13 % 2 AS INT) AS arm
         |  FROM events GROUP BY user_id)
         |SELECT arm, count(*)::BIGINT AS n_users,
         |  CAST(sum(converted) AS BIGINT) AS n_converted,
         |  ((CAST(sum(converted) AS BIGINT) * 1000000) // count(*))::BIGINT
         |    AS conv_ppm
         |FROM u GROUP BY arm ORDER BY arm""".stripMargin
    },
    // HUGEINT mirrors the Spark DECIMAL routing; spend is strictly
    // positive so // (floor) equals Spark's truncating DIV throughout.
    "ev_welch_t2" -> {
      val hex13 = hex13Sql
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT))
         |      AS BIGINT) AS v,
         |    CAST($hex13 % 2 AS INT) AS arm
         |  FROM events GROUP BY user_id),
         |arms AS (
         |  SELECT arm, count(*)::BIGINT AS n,
         |    sum(CAST(v AS HUGEINT)) AS sx,
         |    sum(CAST(v AS HUGEINT) * v) AS sxx
         |  FROM pu GROUP BY arm),
         |der AS (
         |  SELECT arm, n,
         |    CAST((CAST(sx AS HUGEINT) * 1000000) // n AS BIGINT) AS mean_micro,
         |    CASE WHEN n >= 2 THEN CAST((n * sxx - sx * sx)
         |      // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) END AS var_cents2
         |  FROM arms),
         |p AS (
         |  SELECT
         |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
         |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
         |    max(CASE WHEN arm = 0 THEN mean_micro END) AS mean_a_micro,
         |    max(CASE WHEN arm = 1 THEN mean_micro END) AS mean_b_micro,
         |    max(CASE WHEN arm = 0 THEN var_cents2 END) AS var_a_cents2,
         |    max(CASE WHEN arm = 1 THEN var_cents2 END) AS var_b_cents2
         |  FROM der),
         |se AS (
         |  SELECT *,
         |    CAST((CAST(var_a_cents2 AS HUGEINT) * 1000000) // n_a AS BIGINT)
         |    + CAST((CAST(var_b_cents2 AS HUGEINT) * 1000000) // n_b AS BIGINT)
         |      AS se2_micro
         |  FROM p)
         |SELECT n_a, n_b, mean_a_micro, mean_b_micro, var_a_cents2,
         |  var_b_cents2, se2_micro,
         |  CASE WHEN se2_micro > 0 THEN
         |    CAST((CAST(mean_a_micro - mean_b_micro AS HUGEINT)
         |      * (mean_a_micro - mean_b_micro)) // se2_micro AS BIGINT)
         |  END AS t2_micro,
         |  CASE WHEN se2_micro > 0 THEN
         |    CAST((CAST(mean_a_micro - mean_b_micro AS HUGEINT)
         |      * (mean_a_micro - mean_b_micro)) // se2_micro AS BIGINT)
         |      >= 3841459
         |  END AS significant
         |FROM se""".stripMargin
    },
    // Same sentinel-split sweep, read out per concurrency level.
    "ev_conc_histogram" ->
      """WITH deltas AS (
        |  SELECT t, d, CAST(sum(dd) AS BIGINT) AS dd FROM (
        |    SELECT ts AS t, 1 AS d, 1 AS dd FROM events
        |    UNION ALL
        |    SELECT ts + INTERVAL 15 MINUTE, -1, -1 FROM events)
        |  GROUP BY t, d),
        |pts AS (
        |  SELECT t, d, dd FROM deltas
        |  UNION ALL
        |  SELECT DISTINCT date_trunc('hour', t), 0, 0 FROM deltas),
        |sw AS (
        |  SELECT date_trunc('hour', t) AS hour, t, d,
        |    sum(dd) OVER (ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
        |    lead(t) OVER (PARTITION BY date_trunc('hour', t)
        |      ORDER BY t, d) AS nt
        |  FROM pts),
        |seg AS (
        |  SELECT CAST(conc AS BIGINT) AS conc,
        |    epoch_us(COALESCE(nt, hour + INTERVAL 1 HOUR)) - epoch_us(t) AS s
        |  FROM sw)
        |SELECT conc, CAST(sum(s) AS BIGINT) AS total_micros
        |FROM seg GROUP BY conc HAVING sum(s) > 0 ORDER BY conc""".stripMargin,
    // An event at t belongs to the 3 slide-aligned windows starting at
    // time_bucket(t) − k·5min, k ∈ {0,1,2}: k=2 still satisfies
    // t < start + 15min because start = bucket(t) − 10min and
    // bucket(t) + 5min > t. Spark's window() aligns slides to the
    // epoch and DuckDB's time_bucket to 2000-01-01 — both divisible
    // by 300 s, so the grids coincide.
    "ev_sliding_15m" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts)
        |         - k * INTERVAL '5 minutes' AS win_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events, UNNEST([0, 1, 2]) AS u(k)
        |GROUP BY 1 ORDER BY win_start""".stripMargin,
    "ev_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        |    / count(*) AS avg_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ev_asof_order" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS ord_key
        |           FROM orders GROUP BY 1, 2)
        |SELECT event_id, user_id, r.o_orderdate AS ord_date, r.ord_key
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY event_id""".stripMargin,
    // Salting is results-invariant, so the salted row pins against the
    // UNSALTED oracle — that identity is the point of the row.
    "ev_asof_order_salted" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS ord_key
        |           FROM orders GROUP BY 1, 2)
        |SELECT event_id, user_id, r.o_orderdate AS ord_date, r.ord_key
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY event_id""".stripMargin,
    "ev_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events),
        |per_hour AS (SELECT h, count(*) AS n_active FROM active GROUP BY 1),
        |retained AS (
        |  SELECT a.h, count(*) AS n_retained
        |  FROM active a JOIN active b
        |    ON a.user_id = b.user_id AND a.h + INTERVAL 1 HOUR = b.h
        |  GROUP BY 1)
        |SELECT h, n_active,
        |  coalesce(n_retained, 0) AS n_retained,
        |  CAST(coalesce(n_retained, 0) AS DOUBLE) / n_active AS retention
        |FROM per_hour LEFT JOIN retained USING (h)
        |ORDER BY h""".stripMargin,
    "ev_asof_next_purchase" ->
      """WITH p AS (SELECT user_id AS p_user, ts AS p_ts, max(event_id) AS purchase_id
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, p.purchase_id,
        |  (epoch_us(p.p_ts) - epoch_us(e.ts)) // 1000000 AS secs_to_purchase
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') e
        |ASOF LEFT JOIN p ON e.user_id = p.p_user AND e.ts <= p.p_ts
        |ORDER BY event_id""".stripMargin,
    // NEAREST composed from DuckDB's two native ASOF directions; the
    // CASE tie order (backward wins at equal distance) mirrors the
    // operator's.
    "ev_asof_nearest" ->
      """WITH p AS (SELECT user_id AS p_user, ts AS p_ts, max(event_id) AS purchase_id
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |b AS (SELECT c.event_id, c.user_id, c.ts, p.p_ts AS b_ts,
        |             p.purchase_id AS b_id
        |      FROM c ASOF LEFT JOIN p
        |        ON c.user_id = p.p_user AND c.ts >= p.p_ts),
        |f AS (SELECT c.event_id, p.p_ts AS f_ts, p.purchase_id AS f_id
        |      FROM c ASOF LEFT JOIN p
        |        ON c.user_id = p.p_user AND c.ts <= p.p_ts)
        |SELECT b.event_id, b.user_id,
        |  CASE WHEN f_id IS NULL THEN b_id
        |       WHEN b_id IS NULL THEN f_id
        |       WHEN epoch_us(b.ts) - epoch_us(b_ts)
        |            <= epoch_us(f_ts) - epoch_us(b.ts) THEN b_id
        |       ELSE f_id END AS purchase_id,
        |  CASE WHEN f_id IS NULL THEN (epoch_us(b.ts) - epoch_us(b_ts)) // 1000000
        |       WHEN b_id IS NULL THEN (epoch_us(f_ts) - epoch_us(b.ts)) // 1000000
        |       WHEN epoch_us(b.ts) - epoch_us(b_ts)
        |            <= epoch_us(f_ts) - epoch_us(b.ts)
        |         THEN (epoch_us(b.ts) - epoch_us(b_ts)) // 1000000
        |       ELSE (epoch_us(f_ts) - epoch_us(b.ts)) // 1000000 END AS secs_apart
        |FROM b JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin,
    "ev_rate_limit_audit" ->
      """SELECT user_id, us, in_min FROM (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |      RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW)
        |      AS in_min
        |  FROM events)
        |ORDER BY in_min DESC, user_id ASC, us ASC LIMIT 10""".stripMargin,
    "ev_ab_srm" -> {
      // same 13-nibble positional md5 decode as ev_ab_experiment
      val hex13 = hex13Sql
      s"""WITH arms AS (
         |  SELECT CAST($hex13 % 2 AS INT) AS arm
         |  FROM (SELECT DISTINCT user_id FROM events)),
         |census AS (
         |  SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |  FROM arms)
         |SELECT n_a, n_b,
         |  CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000000
         |    // (n_a + n_b) AS BIGINT) AS chi2_nano,
         |  CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000000
         |    // (n_a + n_b) AS BIGINT) > 3841459000 AS srm_detected
         |FROM census""".stripMargin
    },
    "ev_decayed_count" ->
      s"""WITH RECURSIVE mx AS (SELECT max(epoch_us(ts)) AS mxus FROM events),
         |cells AS (
         |  SELECT event_type, age_h, count(*)::BIGINT AS cnt,
         |    CAST(-((age_h * 1000000) // 168) AS BIGINT) AS xm
         |  FROM (SELECT event_type,
         |          (mxus - epoch_us(ts)) // 3600000000 AS age_h
         |        FROM events, mx)
         |  GROUP BY 1, 2),
         |${OracleSql.exp2microCtes("dc", "cells", Seq("event_type", "age_h"))},
         |wc AS (
         |  SELECT cells.event_type, cells.cnt, e2m AS w
         |  FROM cells JOIN dc_ex USING (event_type, age_h))
         |SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
         |  CAST(sum(cnt * w) AS BIGINT) AS decayed_micro,
         |  CAST(sum(cnt * w) AS BIGINT) // CAST(sum(cnt) AS BIGINT)
         |    AS decay_ppm
         |FROM wc GROUP BY 1 ORDER BY event_type""".stripMargin,
    "ev_acf" -> {
      def leg(lagCol: String, k: Int) =
        s"""SELECT event_type, CAST($k AS BIGINT) AS lag,
           |  count(*)::BIGINT AS m,
           |  CAST(CASE WHEN rn < 0 THEN -1 WHEN rn > 0 THEN 1 ELSE 0 END
           |    AS BIGINT) AS sign,
           |  CAST((rn * rn * 1000000) // nullif(rd2, 0) AS BIGINT) AS r2_ppm
           |FROM (
           |  SELECT event_type,
           |    CAST(count(*) AS HUGEINT) * sum(x * $lagCol)
           |      - CAST(sum(x) AS HUGEINT) * sum($lagCol) AS rn,
           |    (CAST(count(*) AS HUGEINT) * sum(x * x)
           |      - CAST(sum(x) AS HUGEINT) * sum(x))
           |    * (CAST(count(*) AS HUGEINT) * sum($lagCol * $lagCol)
           |      - CAST(sum($lagCol) AS HUGEINT) * sum($lagCol)) AS rd2
           |  FROM lagged WHERE $lagCol IS NOT NULL GROUP BY 1) q
           |JOIN lagged USING (event_type)
           |WHERE $lagCol IS NOT NULL
           |GROUP BY event_type, rn, rd2""".stripMargin
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS hour,
         |    count(*)::BIGINT AS n
         |  FROM events GROUP BY 1, 2),
         |spine AS (
         |  SELECT event_type,
         |    unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR))
         |      AS hour
         |  FROM hourly GROUP BY event_type),
         |filled AS (
         |  SELECT s.event_type, s.hour, COALESCE(h.n, 0)::BIGINT AS x
         |  FROM spine s LEFT JOIN hourly h
         |    ON s.event_type = h.event_type AND s.hour = h.hour),
         |lagged AS (
         |  SELECT event_type, x,
         |    lag(x, 1)  OVER (PARTITION BY event_type ORDER BY hour) AS x1,
         |    lag(x, 24) OVER (PARTITION BY event_type ORDER BY hour) AS x24
         |  FROM filled)
         |SELECT * FROM (
         |${leg("x1", 1)}
         |UNION ALL
         |${leg("x24", 24)}
         |) ORDER BY event_type, lag""".stripMargin
    },
    "ev_forecast_baseline" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
        |  FROM hourly GROUP BY event_type),
        |filled AS (
        |  SELECT s.event_type, s.hour, COALESCE(h.n, 0)::BIGINT AS n
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.hour = h.hour),
        |lagged AS (
        |  SELECT event_type, n,
        |    lag(n, 24) OVER (PARTITION BY event_type ORDER BY hour) AS f24,
        |    lag(n, 1)  OVER (PARTITION BY event_type ORDER BY hour) AS f1
        |  FROM filled)
        |SELECT event_type, count(*)::BIGINT AS n_hours,
        |  CAST(sum(n) AS BIGINT) AS total_actual,
        |  CAST(sum(abs(n - f24)) AS BIGINT) AS sae_seasonal,
        |  CAST(sum(abs(n - f1)) AS BIGINT) AS sae_persist
        |FROM lagged WHERE f24 IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same zero-filled spine; d cross-multiplied, ties to the
    // earliest hour. All BIGINT casts (HUGEINT-dtype doctrine).
    "ev_changepoint" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
        |  FROM hourly GROUP BY event_type),
        |filled AS (
        |  SELECT s.event_type, s.hour, COALESCE(h.n, 0)::BIGINT AS n
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.hour = h.hour),
        |scored AS (
        |  SELECT event_type, hour,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hour) AS BIGINT) AS t,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nh,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM filled)
        |SELECT event_type, hour AS split_hour,
        |  CAST(abs(cum * nh - tot * t) AS BIGINT) AS d_num,
        |  nh AS n_hours, tot AS total_events, cum AS events_before
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cum * nh - tot * t) DESC, hour ASC) AS rk
        |  FROM scored WHERE t < nh)
        |WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // The identical power rounds unrolled; sink states (no outgoing
    // row) drop out of the next round's join on both engines alike.
    "ev_markov_stationary" -> {
      val rounds = (1 to MarkovPowerRounds).map { r =>
        s"""pi$r AS (
           |  SELECT p.nxt AS state,
           |    CAST(sum(pim * pm) // 1000000 AS BIGINT) AS pim
           |  FROM pi${r - 1} JOIN p ON pi${r - 1}.state = p.cur
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $transitionMicroSql,
         |s0 AS (SELECT DISTINCT cur AS state FROM p),
         |pi0 AS (SELECT state,
         |          CAST(1000000 // (SELECT count(*) FROM s0) AS BIGINT) AS pim
         |        FROM s0),
         |$rounds
         |SELECT state, pim FROM pi$MarkovPowerRounds ORDER BY state""".stripMargin
    },
    "ev_markov_entropy" -> {
      val rounds = (1 to MarkovPowerRounds).map { r =>
        s"""pi$r AS (
           |  SELECT p.nxt AS state,
           |    CAST(sum(pim * pm) // 1000000 AS BIGINT) AS pim
           |  FROM pi${r - 1} JOIN p ON pi${r - 1}.state = p.cur
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE $transitionMicroSql,
         |s0 AS (SELECT DISTINCT cur AS state FROM p),
         |pi0 AS (SELECT state,
         |          CAST(1000000 // (SELECT count(*) FROM s0) AS BIGINT) AS pim
         |        FROM s0),
         |$rounds,
         |prel AS (
         |  SELECT cur, nxt, pm, CAST(1000000 AS BIGINT) AS num,
         |    pm AS den
         |  FROM p WHERE pm > 0),
         |${OracleSql.log2microCtes("me", "prel", Seq("cur", "nxt"))},
         |hs AS (
         |  SELECT pr.cur AS state,
         |    CAST(sum((pr.pm * lg.lrm) // 1000000) AS BIGINT)
         |      AS h_state_micro
         |  FROM prel pr
         |  JOIN me_lg lg ON lg.cur = pr.cur AND lg.nxt = pr.nxt
         |  GROUP BY 1),
         |ctr AS (
         |  SELECT pi.state, pi.pim, hs.h_state_micro,
         |    (pi.pim * hs.h_state_micro) // 1000000 AS contrib_micro
         |  FROM pi$MarkovPowerRounds pi JOIN hs ON hs.state = pi.state),
         |rt AS (SELECT CAST(sum(contrib_micro) AS BIGINT) AS rate_micro
         |  FROM ctr)
         |SELECT c.state, c.pim, c.h_state_micro,
         |  CAST(c.contrib_micro AS BIGINT) AS contrib_micro, rt.rate_micro
         |FROM ctr c CROSS JOIN rt ORDER BY c.state""".stripMargin
    },
    "ev_gini" ->
      """WITH counts AS (
        |  SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY 1),
        |hist AS (SELECT c, count(*)::BIGINT AS m FROM counts GROUP BY 1),
        |cum AS (
        |  SELECT c, m,
        |    CAST(COALESCE(sum(m) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cumb
        |  FROM hist),
        |agg AS (
        |  SELECT sum(CAST(c AS HUGEINT) * m * (2 * cumb + m + 1)) AS tsr,
        |    sum(CAST(c AS HUGEINT) * m) AS s,
        |    CAST(sum(m) AS BIGINT) AS n
        |  FROM cum)
        |SELECT n AS n_users, CAST(s AS BIGINT) AS total_events,
        |  CAST(tsr - (n + 1) * s AS BIGINT) AS g_num,
        |  CAST(CAST(n AS HUGEINT) * s AS BIGINT) AS g_den,
        |  CAST((tsr - (n + 1) * s) * 1000000 // (CAST(n AS HUGEINT) * s)
        |    AS BIGINT) AS gini_ppm
        |FROM agg""".stripMargin,
    "ev_assoc_rules" ->
      """WITH inc AS (SELECT DISTINCT user_id, event_type FROM events),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM inc),
        |tn AS (SELECT event_type, count(*)::BIGINT AS n FROM inc GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS ante, b.event_type AS cons,
        |    count(*)::BIGINT AS n_both
        |  FROM inc a JOIN inc b
        |    ON a.user_id = b.user_id AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.ante, p.cons, p.n_both,
        |  ta.n AS n_ante, tc.n AS n_cons,
        |  CAST(p.n_both * 1000000 // nu.n_users AS BIGINT) AS support_ppm,
        |  CAST(p.n_both * 1000000 // ta.n AS BIGINT) AS confidence_ppm,
        |  CAST((p.n_both::HUGEINT * nu.n_users * 1000000)
        |    // (ta.n::HUGEINT * tc.n) AS BIGINT) AS lift_ppm
        |FROM pairs p
        |JOIN tn ta ON p.ante = ta.event_type
        |JOIN tn tc ON p.cons = tc.event_type
        |CROSS JOIN nu
        |ORDER BY ante, cons""".stripMargin,
    "q_sequence_gaps" ->
      """SELECT o_orderkey // 4096 AS block,
        |  count(*)::BIGINT AS n_present,
        |  CAST(min(o_orderkey) AS BIGINT) AS lo,
        |  CAST(max(o_orderkey) AS BIGINT) AS hi,
        |  CAST(max(o_orderkey) - min(o_orderkey) + 1 - count(*) AS BIGINT)
        |    AS n_missing
        |FROM orders GROUP BY 1 ORDER BY block""".stripMargin,
    // The ev_session_window island derivation, read out as duration
    // ranks (k-th VALUE over an explicit row_number at oracle scale).
    "ev_session_quantiles" ->
      """WITH islands AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS island
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN prev_us IS NULL
        |                OR epoch_us(ts) - prev_us >= 1800 * 1000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM (SELECT user_id, ts, event_id,
        |                 lag(epoch_us(ts), 1) OVER
        |                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |          FROM events))),
        |durs AS (
        |  SELECT CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
        |    AS DOUBLE) AS v
        |  FROM islands GROUP BY user_id, island),
        |o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |             count(*) OVER () AS n
        |      FROM durs)
        |SELECT stat, value FROM (
        |  SELECT 'p50' AS stat, v AS value FROM o WHERE rn = (n + 1) // 2
        |  UNION ALL
        |  SELECT 'p90', v FROM o WHERE rn = (9 * n + 9) // 10
        |  UNION ALL
        |  SELECT 'p99', v FROM o WHERE rn = (99 * n + 99) // 100)
        |ORDER BY stat""".stripMargin,
    // The same pyramid unrolled: p_l pairs level l−1, e_l reads the
    // detail mass, lvl_l carries the sums up.
    "ev_haar_energy" -> {
      val rounds = (1 to HaarLevels).map { l =>
        s"""p$l AS (
           |  SELECT event_type, t // 2 AS tp,
           |    CAST(sum(CASE WHEN t % 2 = 0 THEN n ELSE 0 END) AS BIGINT) AS a,
           |    CAST(sum(CASE WHEN t % 2 = 1 THEN n ELSE 0 END) AS BIGINT) AS b
           |  FROM lvl${l - 1} GROUP BY 1, 2),
           |e$l AS (SELECT event_type, $l AS level,
           |          CAST(sum(abs(a - b)) AS BIGINT) AS l1_detail
           |        FROM p$l GROUP BY 1),
           |lvl$l AS (SELECT event_type, tp AS t, a + b AS n FROM p$l)""".stripMargin
      }.mkString(",\n")
      val union = (1 to HaarLevels).map(l => s"SELECT * FROM e$l")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS hour,
         |    count(*)::BIGINT AS n
         |  FROM events GROUP BY 1, 2),
         |spine AS (
         |  SELECT event_type,
         |    unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
         |  FROM hourly GROUP BY event_type),
         |lvl0 AS (
         |  SELECT s.event_type,
         |    CAST(row_number() OVER (PARTITION BY s.event_type
         |      ORDER BY s.hour) - 1 AS BIGINT) AS t,
         |    COALESCE(h.n, 0)::BIGINT AS n
         |  FROM spine s LEFT JOIN hourly h
         |    ON s.event_type = h.event_type AND s.hour = h.hour),
         |$rounds
         |SELECT event_type, CAST(level AS INT) AS level, l1_detail FROM (
         |  $union)
         |ORDER BY event_type, level""".stripMargin
    },
    // First-passage recurrence unrolled, absorber clamped each round.
    // The removal variants share one unrolled absorption recursion,
    // keyed by `rem`; MATERIALIZED keeps each round's reference to
    // the previous one linear.
    "ev_attribution_removal" -> {
      def round(r: Int) = {
        val p = r - 1
        s"""stp$r AS MATERIALIZED (
           |  SELECT pv.rem, pv.cur AS state,
           |    CAST(sum(pv.pm * ab.am) // 1000000 AS BIGINT) AS step
           |  FROM pv JOIN ab$p ab ON ab.rem = pv.rem AND ab.state = pv.nxt
           |  GROUP BY 1, 2),
           |ab$r AS MATERIALIZED (
           |  SELECT sv.rem, sv.state,
           |    CASE WHEN sv.state = 'purchase' THEN 1000000
           |         ELSE COALESCE(st.step, 0) END AS am
           |  FROM sv LEFT JOIN stp$r st
           |    ON st.rem = sv.rem AND st.state = sv.state)""".stripMargin
      }
      s"""WITH $transitionMicroSql,
         |states AS MATERIALIZED (
         |  SELECT DISTINCT state FROM (
         |    SELECT cur AS state FROM p UNION ALL SELECT nxt FROM p)),
         |vars AS MATERIALIZED (
         |  SELECT state AS rem FROM states WHERE state <> 'purchase'
         |  UNION ALL SELECT 'none'),
         |pv AS MATERIALIZED (
         |  SELECT v.rem, p.cur, p.nxt, p.pm FROM p, vars v
         |  WHERE p.cur <> v.rem AND p.nxt <> v.rem),
         |sv AS MATERIALIZED (
         |  SELECT v.rem, s.state FROM states s, vars v
         |  WHERE s.state <> v.rem),
         |ab0 AS (
         |  SELECT rem, state,
         |    CASE WHEN state = 'purchase' THEN 1000000 ELSE 0 END AS am
         |  FROM sv),
         |${(1 to MarkovPowerRounds).map(round).mkString(",\n")},
         |fs AS MATERIALIZED (
         |  SELECT event_type AS state, CAST(count(*) AS BIGINT) AS sn
         |  FROM (
         |    SELECT user_id, event_type,
         |      row_number() OVER (PARTITION BY user_id
         |        ORDER BY ts, event_id) AS rn
         |    FROM events) WHERE rn = 1 GROUP BY 1),
         |nu AS (SELECT CAST(sum(sn) AS BIGINT) AS nu FROM fs),
         |conv AS MATERIALIZED (
         |  SELECT v.rem,
         |    CAST(sum(fs.sn * COALESCE(ab.am, 0))
         |      // (SELECT nu FROM nu) AS BIGINT) AS conv_micro
         |  FROM fs CROSS JOIN vars v
         |  LEFT JOIN ab$MarkovPowerRounds ab
         |    ON ab.rem = v.rem AND ab.state = fs.state
         |  GROUP BY 1),
         |base AS (
         |  SELECT conv_micro AS conv_base_micro FROM conv
         |  WHERE rem = 'none'),
         |eff AS MATERIALIZED (
         |  SELECT c.rem AS channel, b.conv_base_micro,
         |    c.conv_micro AS conv_removed_micro,
         |    b.conv_base_micro - c.conv_micro AS effect_micro
         |  FROM conv c CROSS JOIN base b WHERE c.rem <> 'none'),
         |te AS (SELECT CAST(sum(effect_micro) AS BIGINT) AS teff FROM eff)
         |SELECT e.channel, e.conv_base_micro, e.conv_removed_micro,
         |  e.effect_micro,
         |  CASE WHEN t.teff > 0
         |    THEN CAST((e.effect_micro * 1000000) // t.teff AS BIGINT)
         |    END AS attribution_ppm
         |FROM eff e CROSS JOIN te t ORDER BY channel""".stripMargin
    },

    "ev_absorption" -> {
      val rounds = (1 to MarkovPowerRounds).map { r =>
        s"""a$r AS (
           |  SELECT s.state,
           |    CASE WHEN s.state = 'purchase' THEN 1000000
           |         ELSE COALESCE(st.step, 0) END AS am
           |  FROM states s LEFT JOIN (
           |    SELECT p.cur AS state,
           |      CAST(sum(p.pm * a.am) // 1000000 AS BIGINT) AS step
           |    FROM p JOIN a${r - 1} a ON p.nxt = a.state
           |    GROUP BY 1) st ON s.state = st.state)""".stripMargin
      }.mkString(",\n")
      s"""WITH $transitionMicroSql,
         |states AS (SELECT cur AS state FROM p UNION SELECT nxt FROM p),
         |a0 AS (SELECT state,
         |         CASE WHEN state = 'purchase' THEN 1000000 ELSE 0 END AS am
         |       FROM states),
         |$rounds
         |SELECT state, CAST(am AS BIGINT) AS absorb_micro
         |FROM a$MarkovPowerRounds ORDER BY state""".stripMargin
    },
    "ev_seasonal_profile" ->
      """WITH cells AS (
        |  SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |    CAST(hour(ts) AS INT) AS hod, count(*)::BIGINT AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT c.dow, c.hod, c.n_events,
        |  CAST(c.n_events * 1000000 // t.dow_n AS BIGINT) AS share_ppm
        |FROM cells c JOIN (SELECT dow, sum(n_events) AS dow_n
        |                   FROM cells GROUP BY 1) t ON c.dow = t.dow
        |ORDER BY c.dow, c.hod""".stripMargin,
    // DuckDB ASOF both directions over the same deduped view frame;
    // identical guard ladder before the lerp division.
    "ev_interpolate" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts, max(value) AS v
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |b AS (SELECT c.event_id, c.user_id, c.ts, v.ts AS b_ts, v.v AS b_v
        |      FROM c ASOF LEFT JOIN v
        |        ON c.user_id = v.user_id AND c.ts >= v.ts),
        |f AS (SELECT c.event_id, v.ts AS f_ts, v.v AS f_v
        |      FROM c ASOF LEFT JOIN v
        |        ON c.user_id = v.user_id AND c.ts <= v.ts)
        |SELECT b.event_id, b.user_id, b.ts,
        |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
        |       WHEN b_ts IS NULL THEN round(f_v, 4)
        |       WHEN f_ts IS NULL THEN round(b_v, 4)
        |       WHEN f_ts = b_ts THEN round(b_v, 4)
        |       ELSE round(b_v + (f_v - b_v)
        |         * (CAST(epoch_us(b.ts) - epoch_us(b_ts) AS DOUBLE)
        |            / CAST(epoch_us(f_ts) - epoch_us(b_ts) AS DOUBLE)), 4)
        |  END AS vi4
        |FROM b JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin,
    // Pairwise slopes over the bounded spine; the k-th VALUE ranks the
    // radix engine answers, stated as an explicit row_number here.
    "ev_trend_theilsen" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series(min(hour), max(hour),
        |                                INTERVAL 1 HOUR)) AS hour
        |  FROM hourly),
        |filled AS (
        |  SELECT epoch_us(s.hour) // 3600000000 AS t,
        |    COALESCE(h.n, 0)::BIGINT AS n
        |  FROM spine s LEFT JOIN hourly h ON s.hour = h.hour),
        |slopes AS (
        |  SELECT CAST(b.n - a.n AS DOUBLE) / (b.t - a.t) AS v
        |  FROM filled a JOIN filled b ON b.t > a.t),
        |o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |             count(*) OVER () AS n
        |      FROM slopes)
        |SELECT stat, value FROM (
        |  SELECT 'slope_p10' AS stat, v AS value FROM o WHERE rn = (n + 9) // 10
        |  UNION ALL
        |  SELECT 'slope_p50', v FROM o WHERE rn = (n + 1) // 2
        |  UNION ALL
        |  SELECT 'slope_p90', v FROM o WHERE rn = (9 * n + 9) // 10)
        |ORDER BY stat""".stripMargin,
    // The same (n+1)/2-style ranks stated over an explicit
    // row_number — affordable at oracle scale, exactly what the radix
    // selection avoids at 100 TB.
    "ev_lag_quantiles" ->
      """WITH p AS (SELECT user_id AS p_user, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |lags AS (
        |  SELECT CAST((epoch_us(p.p_ts) - epoch_us(e.ts)) // 1000000 AS DOUBLE) AS v
        |  FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') e
        |  ASOF LEFT JOIN p ON e.user_id = p.p_user AND e.ts <= p.p_ts
        |  WHERE p.p_ts IS NOT NULL),
        |o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |             count(*) OVER () AS n
        |      FROM lags)
        |SELECT stat, value FROM (
        |  SELECT 'p50' AS stat, v AS value FROM o WHERE rn = (n + 1) // 2
        |  UNION ALL
        |  SELECT 'p90', v FROM o WHERE rn = (9 * n + 9) // 10
        |  UNION ALL
        |  SELECT 'p99', v FROM o WHERE rn = (99 * n + 99) // 100)
        |ORDER BY stat""".stripMargin,
    // Same U-shape integer credit rule; DuckDB's % matches Spark's on
    // positive operands. BIGINT casts for the HUGEINT-dtype reason.
    // identical coalition algebra: 16-coalition subset-sum value
    // function, 6/2/2/6 weights over the 4!-denominator
    "ev_shapley_attribution" ->
      """WITH fp AS (
        |  SELECT user_id, min(ts) AS p_ts FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |tm AS (
        |  SELECT e.user_id, CAST(sum(DISTINCT CASE e.event_type
        |      WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |      WHEN 'signup' THEN 4 ELSE 8 END) AS BIGINT) AS mask
        |  FROM events e JOIN fp USING (user_id)
        |  WHERE e.event_type IN ('click', 'error', 'signup', 'view')
        |    AND e.ts < fp.p_ts
        |  GROUP BY 1),
        |mc AS (SELECT COALESCE(t.mask, 0) AS mask, count(*)::BIGINT AS cnt
        |       FROM fp LEFT JOIN tm t USING (user_id) GROUP BY 1),
        |coals AS (SELECT i AS coal FROM range(0, 16) r(i)),
        |v AS (
        |  SELECT c.coal, COALESCE(CAST(sum(m.cnt) AS BIGINT), 0) AS v
        |  FROM coals c LEFT JOIN mc m ON (m.mask & c.coal) = m.mask
        |  GROUP BY 1),
        |ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
        |       ('signup', 4), ('view', 8)) AS t(channel, bit)),
        |terms AS (
        |  SELECT ch.channel,
        |    CASE ((s.coal & 1) + ((s.coal >> 1) & 1) +
        |          ((s.coal >> 2) & 1) + ((s.coal >> 3) & 1))
        |      WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END
        |      * (vi.v - vs.v) AS term
        |  FROM ch JOIN coals s ON (s.coal & ch.bit) = 0
        |  JOIN v vs ON vs.coal = s.coal
        |  JOIN v vi ON vi.coal = s.coal + ch.bit)
        |SELECT t.channel, CAST(sum(t.term) AS BIGINT) AS phi_24,
        |  (SELECT v FROM v WHERE coal = 15) AS v_full,
        |  (SELECT v FROM v WHERE coal = 0) AS v_empty
        |FROM terms t GROUP BY 1 ORDER BY channel""".stripMargin,
    "ev_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id AS t_user, ts AS t_ts, event_id AS t_id,
        |    event_type AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT p.p_id, t.t_ts, t.t_id, t.touch_type
        |  FROM p JOIN t ON p.p_user = t.t_user
        |    AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 24 HOURS),
        |c AS (
        |  SELECT p_id, touch_type,
        |    CASE WHEN n = 1 THEN 10000
        |         WHEN n = 2 THEN 5000
        |         WHEN rn = 1 OR rn = n THEN 4000
        |         WHEN rn = n - 1 THEN 2000 // (n - 2) + 2000 % (n - 2)
        |         ELSE 2000 // (n - 2) END AS credit_bp
        |  FROM (
        |    SELECT p_id, touch_type,
        |      row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn,
        |      count(*) OVER (PARTITION BY p_id) AS n
        |    FROM j)),
        |a AS (
        |  SELECT touch_type, CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
        |    CAST(count(*) AS BIGINT) AS n_touches,
        |    CAST(sum(credit_bp) AS BIGINT) AS credit_bp
        |  FROM c GROUP BY touch_type),
        |nn AS (
        |  SELECT 'none' AS touch_type, CAST(count(*) AS BIGINT) AS n_purchases,
        |    CAST(0 AS BIGINT) AS n_touches,
        |    CAST(count(*) * 10000 AS BIGINT) AS credit_bp
        |  FROM p WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.p_id = p.p_id))
        |SELECT * FROM a UNION ALL SELECT * FROM nn
        |ORDER BY touch_type""".stripMargin,
    "ev_session_window" ->
      """SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS island
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN prev_us IS NULL
        |                OR epoch_us(ts) - prev_us >= 1800 * 1000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM (SELECT user_id, ts, event_id,
        |                 lag(epoch_us(ts), 1) OVER
        |                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |          FROM events)))
        |GROUP BY user_id, island ORDER BY user_id, session_start""".stripMargin,
    "ev_gapfill" ->
      """WITH counts AS (
        |  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS bucket,
        |         count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series(min(bucket), max(bucket),
        |                                INTERVAL 15 MINUTE)) AS bucket
        |  FROM counts)
        |SELECT spine.bucket AS bucket,
        |  CAST(coalesce(n_purchases, 0) AS BIGINT) AS n_purchases
        |FROM spine LEFT JOIN counts ON spine.bucket = counts.bucket
        |ORDER BY 1""".stripMargin,
    "ev_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
        |SELECT stage, count(*) AS n_users FROM (
        |  SELECT v.user_id,
        |    CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
        |              WHEN c.user_id IS NOT NULL THEN 2 ELSE 1 END AS INT) AS stage
        |  FROM v LEFT JOIN c ON v.user_id = c.user_id
        |         LEFT JOIN p ON v.user_id = p.user_id)
        |GROUP BY stage ORDER BY stage""".stripMargin,
    "ev_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_us IS NULL
        |              OR epoch_us(ts) - prev_us > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts, event_id,
        |               lag(epoch_us(ts), 1) OVER
        |                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |        FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_watermark_audit" ->
      """WITH d AS (
        |  SELECT event_id, epoch_us(ts) AS us,
        |    event_id + (instr('0123456789abcdef',
        |      substring(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1 - 8) * 5
        |      AS arrival
        |  FROM events),
        |span AS (
        |  SELECT min(arrival) AS a_min,
        |    max(arrival) - min(arrival) + 1 AS a_span FROM d),
        |bk AS (
        |  SELECT d.*, (arrival - a_min) * 256 // a_span AS b
        |  FROM d CROSS JOIN span),
        |pr AS (
        |  SELECT b, max(bmax) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
        |  FROM (SELECT b, max(us) AS bmax FROM bk GROUP BY b)),
        |lt AS (
        |  SELECT bk.us,
        |    greatest(
        |      max(us) OVER (PARTITION BY bk.b ORDER BY arrival, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      COALESCE(pr.prior_max, -9223372036854775807 - 1)) - bk.us
        |      AS late_us
        |  FROM bk JOIN pr ON bk.b = pr.b)
        |SELECT CASE WHEN late_us = 0 THEN 'a_inorder'
        |    WHEN late_us <= CAST(600 AS BIGINT) * 1000000 THEN 'b_le10min'
        |    WHEN late_us <= CAST(3600 AS BIGINT) * 1000000 THEN 'c_le1h'
        |    ELSE 'd_gt1h' END AS cls,
        |  count(*) AS n_events,
        |  CAST(max(late_us) // 1000000 AS BIGINT) AS max_late_s
        |FROM lt GROUP BY 1 ORDER BY cls""".stripMargin,
    "ev_skew_profile" ->
      """WITH pk AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
        |hot AS (SELECT max(c) AS max_key_rows FROM pk),
        |top AS (
        |  SELECT min(user_id) AS top_key, min(max_key_rows) AS max_key_rows
        |  FROM pk JOIN hot ON pk.c = hot.max_key_rows),
        |tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys FROM pk)
        |SELECT n_rows, n_keys, top_key, max_key_rows,
        |  round(CAST(max_key_rows * n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE), 4) AS skew4,
        |  (max_key_rows * n_keys + n_rows - 1) // n_rows AS suggested_salt
        |FROM tot CROSS JOIN top""".stripMargin,

    // Same md5-first-byte nibble trick as pipe_dsir; the Poisson
    // inverse-CDF thresholds are shared byte cutoffs.
    "ev_bootstrap_ci" -> {
      val hx = "strpos('0123456789abcdef', substring(md5(" +
        "CAST(c.event_id AS VARCHAR) || '_' || CAST(r.b AS VARCHAR)), %d, 1)) - 1"
      s"""WITH cents AS (
         |  SELECT event_id,
         |    CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT) AS c
         |  FROM events),
         |reps AS (
         |  SELECT CAST(i AS BIGINT) AS b
         |  FROM UNNEST(range(0, $BootReplicas)) AS u(i)),
         |wtd AS (
         |  SELECT b, c,
         |    CASE WHEN h < 94 THEN 0 WHEN h < 188 THEN 1 WHEN h < 235 THEN 2
         |         WHEN h < 251 THEN 3 ELSE 4 END AS w
         |  FROM (
         |    SELECT r.b, c.c,
         |      (${hx.format(1)}) * 16 + (${hx.format(2)}) AS h
         |    FROM cents c CROSS JOIN reps r)),
         |rm AS (
         |  SELECT b, CAST(sum(w * c) AS BIGINT) AS num,
         |    CAST(sum(w) AS BIGINT) AS den
         |  FROM wtd GROUP BY 1),
         |ranked AS (
         |  SELECT mean_micro,
         |    row_number() OVER (ORDER BY mean_micro ASC NULLS FIRST) AS rn
         |  FROM (SELECT CASE WHEN den > 0 THEN
         |            CAST((CAST(num AS HUGEINT) * 1000000) // den AS BIGINT)
         |          END AS mean_micro FROM rm)),
         |st AS (
         |  SELECT
         |    CAST(max(CASE WHEN rn = 2 THEN mean_micro END) AS BIGINT)
         |      AS boot_lo_micro,
         |    CAST(max(CASE WHEN rn = 16 THEN mean_micro END) AS BIGINT)
         |      AS boot_med_micro,
         |    CAST(max(CASE WHEN rn = 31 THEN mean_micro END) AS BIGINT)
         |      AS boot_hi_micro,
         |    CAST(count(*) AS BIGINT) AS n_replicas
         |  FROM ranked),
         |pt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST((CAST(sum(c) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
         |      AS point_mean_micro
         |  FROM cents)
         |SELECT pt.n_rows, pt.point_mean_micro, st.boot_lo_micro,
         |  st.boot_med_micro, st.boot_hi_micro, st.n_replicas
         |FROM pt CROSS JOIN st""".stripMargin
    },

    // same binning / census / DECIMAL-mean machinery as ev_did, per
    // relative period with the p=3 baseline contrast
    "ev_event_study" -> {
      val hex13 = hex13Sql
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS um,
         |    CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT) AS cents,
         |    CAST($hex13 % 2 AS INT) AS arm
         |  FROM events),
         |b AS (SELECT min(um) AS mn, max(um) AS mx FROM ev),
         |binned AS (
         |  SELECT arm, ((um - (SELECT mn FROM b)) * 8)
         |      // ((SELECT mx FROM b) - (SELECT mn FROM b) + 1) AS p,
         |    cents
         |  FROM ev),
         |census AS (
         |  SELECT arm, count(*)::BIGINT AS n_users
         |  FROM (SELECT DISTINCT user_id, arm FROM ev) GROUP BY 1),
         |sums AS (
         |  SELECT arm, p, CAST(sum(cents) AS BIGINT) AS sc
         |  FROM binned GROUP BY 1, 2),
         |cells AS (
         |  SELECT c.arm, pp.p, c.n_users, COALESCE(s.sc, 0) AS sc,
         |    CAST((CAST(COALESCE(s.sc, 0) AS HUGEINT) * 1000000)
         |      // c.n_users AS BIGINT) AS mean_micro
         |  FROM census c
         |  CROSS JOIN (SELECT i AS p FROM range(0, 8) r(i)) pp
         |  LEFT JOIN sums s ON s.arm = c.arm AND s.p = pp.p),
         |byp AS (
         |  SELECT p,
         |    CAST(sum(CASE WHEN arm = 0 THEN n_users END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN n_users END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 0 THEN mean_micro END) AS BIGINT)
         |      AS mean_a_micro,
         |    CAST(sum(CASE WHEN arm = 1 THEN mean_micro END) AS BIGINT)
         |      AS mean_b_micro
         |  FROM cells GROUP BY 1),
         |g AS (SELECT *, mean_b_micro - mean_a_micro AS gap_micro FROM byp)
         |SELECT p, n_a, n_b, mean_a_micro, mean_b_micro, gap_micro,
         |  gap_micro - (SELECT gap_micro FROM g WHERE p = 3) AS coef_micro,
         |  CASE WHEN p < 4 THEN CAST(1 AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS is_pre
         |FROM g ORDER BY p""".stripMargin
    },

    "ev_did" -> {
      val hex13 = hex13Sql
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS um,
         |    CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT) AS cents
         |  FROM events),
         |b AS (SELECT min(um) + (max(um) - min(um)) // 2 AS mid FROM ev),
         |pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN um < (SELECT mid FROM b) THEN cents
         |      ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN um >= (SELECT mid FROM b) THEN cents
         |      ELSE 0 END) AS BIGINT) AS y,
         |    CAST($hex13 % 2 AS INT) AS arm
         |  FROM ev GROUP BY user_id),
         |arms AS (
         |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST((CAST(sum(x) AS HUGEINT) * 1000000) // count(*)
         |      AS BIGINT) AS pre_micro,
         |    CAST((CAST(sum(y) AS HUGEINT) * 1000000) // count(*)
         |      AS BIGINT) AS post_micro
         |  FROM pu GROUP BY arm)
         |SELECT
         |  CAST(sum(CASE WHEN arm = 0 THEN n_users END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN arm = 1 THEN n_users END) AS BIGINT) AS n_b,
         |  CAST(sum(CASE WHEN arm = 0 THEN pre_micro END) AS BIGINT)
         |    AS pre_a_micro,
         |  CAST(sum(CASE WHEN arm = 0 THEN post_micro END) AS BIGINT)
         |    AS post_a_micro,
         |  CAST(sum(CASE WHEN arm = 1 THEN pre_micro END) AS BIGINT)
         |    AS pre_b_micro,
         |  CAST(sum(CASE WHEN arm = 1 THEN post_micro END) AS BIGINT)
         |    AS post_b_micro,
         |  CAST((sum(CASE WHEN arm = 1 THEN post_micro END)
         |      - sum(CASE WHEN arm = 1 THEN pre_micro END))
         |    - (sum(CASE WHEN arm = 0 THEN post_micro END)
         |      - sum(CASE WHEN arm = 0 THEN pre_micro END)) AS BIGINT)
         |    AS did_micro
         |FROM arms""".stripMargin
    },

    // same per-user census; per-arm cumulative walk to the ceil rank
    "ev_qte" -> {
      val hex13 = hex13Sql
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT))
         |      AS BIGINT) AS v,
         |    CAST($hex13 % 2 AS INT) AS arm
         |  FROM events GROUP BY user_id),
         |census AS (
         |  SELECT v,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM pu GROUP BY v),
         |cum AS (
         |  SELECT v,
         |    sum(ca) OVER (ORDER BY v) AS cuma,
         |    sum(cb) OVER (ORDER BY v) AS cumb
         |  FROM census),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |        CAST(sum(cb) AS BIGINT) AS nb FROM census),
         |taus AS (
         |  SELECT tau, na, nb,
         |    CASE WHEN na >= 1 THEN (tau * na + 99) // 100
         |      ELSE CAST(error('ev_qte: arm a is empty') AS BIGINT)
         |    END AS ra,
         |    CASE WHEN nb >= 1 THEN (tau * nb + 99) // 100
         |      ELSE CAST(error('ev_qte: arm b is empty') AS BIGINT)
         |    END AS rb
         |  FROM (SELECT unnest([25, 50, 75, 90]::BIGINT[]) AS tau), tot),
         |qa AS (SELECT t.tau, min(c.v) AS q_a_cents
         |       FROM taus t JOIN cum c ON c.cuma >= t.ra GROUP BY 1),
         |qb AS (SELECT t.tau, min(c.v) AS q_b_cents
         |       FROM taus t JOIN cum c ON c.cumb >= t.rb GROUP BY 1)
         |SELECT t.tau, t.na, t.nb, qa.q_a_cents, qb.q_b_cents,
         |  qb.q_b_cents - qa.q_a_cents AS qte_cents
         |FROM taus t JOIN qa USING (tau) JOIN qb USING (tau)
         |ORDER BY tau""".stripMargin
    },

    "ev_mann_whitney" -> {
      val hex13 = hex13Sql
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT))
         |      AS BIGINT) AS v,
         |    CAST($hex13 % 2 AS INT) AS arm
         |  FROM events GROUP BY user_id),
         |census AS (
         |  SELECT v,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM pu GROUP BY v),
         |ranked AS (
         |  SELECT ca, cb,
         |    2 * (CAST(sum(ca + cb) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) - (ca + cb)) + ca + cb + 1 AS r2
         |  FROM census),
         |agg AS (
         |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         |    CAST(sum(cb) AS BIGINT) AS n_b,
         |    CAST(sum(CAST(ca AS HUGEINT) * r2) AS HUGEINT) AS rr2a,
         |    CAST(sum(CAST(cb AS HUGEINT) * r2) AS HUGEINT) AS rr2b
         |  FROM ranked)
         |SELECT n_a, n_b,
         |  CAST(rr2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a,
         |  CAST(rr2b - CAST(n_b AS HUGEINT) * (n_b + 1) AS BIGINT) AS u2_b,
         |  CAST(((rr2a - CAST(n_a AS HUGEINT) * (n_a + 1)) * 1000000)
         |    // (CAST(2 AS HUGEINT) * n_a * n_b) AS BIGINT) AS auc_ppm
         |FROM agg""".stripMargin
    },

    "ev_ewma" -> {
      // 40 dyadic tap weights 2^(K−1−i) and remainder weights 2^(K−t)
      // as integer literal VALUES rows — no pow() in either engine
      val tapW = (0 until EwmaTaps)
        .map(i => s"($i, ${1L << (EwmaTaps - 1 - i)})").mkString(", ")
      val remW = (0 until EwmaTaps)
        .map(t => s"($t, ${1L << (EwmaTaps - t)})").mkString(", ")
      s"""WITH hourly AS (
         |  SELECT date_trunc('hour', ts) AS hour, event_type,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |spine AS (
         |  SELECT event_type,
         |    unnest(generate_series(min(hour), max(hour),
         |      INTERVAL 1 HOUR)) AS hour
         |  FROM hourly GROUP BY event_type),
         |y AS MATERIALIZED (
         |  SELECT s.event_type, s.hour, CAST(COALESCE(h.n, 0) AS BIGINT) AS n,
         |    CAST(row_number() OVER (PARTITION BY s.event_type
         |      ORDER BY s.hour) - 1 AS BIGINT) AS t
         |  FROM spine s LEFT JOIN hourly h
         |    ON h.event_type = s.event_type AND h.hour = s.hour),
         |y0 AS (SELECT event_type, n AS y0 FROM y WHERE t = 0),
         |tapsum AS (
         |  SELECT y.event_type, y.t + w.i AS t,
         |    sum(CAST(y.n AS HUGEINT) * w.wt) AS num
         |  FROM y CROSS JOIN (VALUES $tapW) w(i, wt)
         |  WHERE y.t >= 1
         |  GROUP BY 1, 2),
         |fin AS (
         |  SELECT y.event_type, y.hour, y.n,
         |    CAST(((COALESCE(ts.num, 0)
         |        + CASE WHEN y.t < $EwmaTaps
         |            THEN CAST(y0.y0 AS HUGEINT) * rw.wt ELSE 0 END)
         |      * 1000000) // ${1L << EwmaTaps} AS BIGINT) AS ewma_micro
         |  FROM y
         |  LEFT JOIN tapsum ts
         |    ON ts.event_type = y.event_type AND ts.t = y.t
         |  JOIN y0 ON y0.event_type = y.event_type
         |  LEFT JOIN (VALUES $remW) rw(t, wt) ON rw.t = y.t)
         |SELECT event_type, hour, n, ewma_micro,
         |  n * 1000000 - lag(ewma_micro) OVER (PARTITION BY event_type
         |    ORDER BY hour) AS resid_micro
         |FROM fin ORDER BY event_type, hour""".stripMargin
    },

    "ev_power_mde" ->
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT))
         |      AS BIGINT) AS v
         |  FROM events GROUP BY user_id),
         |mom AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(v) AS HUGEINT) AS sv,
         |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv
         |  FROM pu),
         |st AS (
         |  SELECT CAST(n AS BIGINT) AS n_users,
         |    CAST(sv // n AS BIGINT) AS mean_cents,
         |    CAST((n * svv - sv * sv) // (n * n) AS BIGINT) AS var_cents2
         |  FROM mom)
         |SELECT n_users, mean_cents, var_cents2,
         |  mean_cents // 20 AS delta_cents,
         |  CASE WHEN mean_cents // 20 > 0 THEN
         |    CAST((2 * CAST($PowerZSumSqMicro AS HUGEINT) * var_cents2
         |        + (CAST(mean_cents // 20 AS HUGEINT) * (mean_cents // 20)
         |           * 1000000) - 1)
         |      // (CAST(mean_cents // 20 AS HUGEINT) * (mean_cents // 20)
         |        * 1000000) AS BIGINT)
         |  END AS n_required_per_arm
         |FROM st""".stripMargin,

    "ev_cusum" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(min(hour), max(hour),
        |      INTERVAL 1 HOUR)) AS hour
        |  FROM hourly GROUP BY event_type),
        |stats AS (
        |  SELECT event_type,
        |    CAST(((CAST(sum(n) AS HUGEINT) * 1000000) // count(*))
        |      * 5 // 4 AS BIGINT) AS k_micro
        |  FROM hourly GROUP BY 1),
        |y AS (
        |  SELECT s.event_type, s.hour,
        |    CAST(COALESCE(h.n, 0) AS BIGINT) AS n
        |  FROM spine s LEFT JOIN hourly h
        |    ON h.event_type = s.event_type AND h.hour = s.hour),
        |c AS (
        |  SELECT y.event_type, y.hour, y.n, st.k_micro,
        |    sum(CAST(y.n AS HUGEINT) * 1000000 - st.k_micro) OVER (
        |      PARTITION BY y.event_type ORDER BY y.hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM y JOIN stats st USING (event_type)),
        |v AS (
        |  SELECT event_type, hour, n, k_micro,
        |    s - least(CAST(0 AS HUGEINT), min(s) OVER (
        |      PARTITION BY event_type ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS v_dec
        |  FROM c)
        |SELECT event_type, hour, n, CAST(v_dec AS BIGINT) AS v_micro,
        |  v_dec >= CAST(k_micro AS HUGEINT) * 4 AS alarm
        |FROM v ORDER BY event_type, hour""".stripMargin,

    "ev_sprt" -> {
      val hex13 = hex13Sql
      s"""WITH u AS (
         |  SELECT user_id, min(ts) AS first_ts,
         |    CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
         |           <= min(ts) + INTERVAL 24 HOURS
         |         THEN 1 ELSE 0 END AS x,
         |    CAST($hex13 % 2 AS INT) AS arm
         |  FROM events GROUP BY user_id),
         |walked AS MATERIALIZED (
         |  SELECT arm, user_id,
         |    CAST(x * $SprtConvMicro + (1 - x) * ($SprtNoConvMicro)
         |      AS BIGINT) AS inc,
         |    CAST(row_number() OVER (PARTITION BY arm
         |      ORDER BY first_ts, user_id) AS BIGINT) AS rn,
         |    CAST(sum(x * $SprtConvMicro + (1 - x) * ($SprtNoConvMicro))
         |      OVER (PARTITION BY arm ORDER BY first_ts, user_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM u),
         |dec AS (
         |  SELECT arm, CAST(min(rn) AS BIGINT) AS n_at_decision FROM walked
         |  WHERE cum >= $SprtUpperMicro OR cum <= $SprtLowerMicro
         |  GROUP BY arm),
         |at AS (
         |  SELECT w.arm, d.n_at_decision, w.cum AS llr_at_decision
         |  FROM dec d JOIN walked w
         |    ON w.arm = d.arm AND w.rn = d.n_at_decision),
         |tot AS (
         |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(inc) AS BIGINT) AS llr_final
         |  FROM walked GROUP BY arm)
         |SELECT t.arm, t.n_users, a.n_at_decision, a.llr_at_decision,
         |  CASE WHEN a.llr_at_decision >= $SprtUpperMicro THEN 'accept_h1'
         |       WHEN a.llr_at_decision <= $SprtLowerMicro THEN 'accept_h0'
         |       ELSE 'continue' END AS decision,
         |  t.llr_final
         |FROM tot t LEFT JOIN at a ON a.arm = t.arm
         |ORDER BY t.arm""".stripMargin
    }
  )
}
