package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Second relational batch: TPC-H-shaped multi-join analytics, explicit
  * grouping sets, exact percentiles, null-handling and string-function
  * surfaces, and the SQL-string entry point (`spark.sql`) with a
  * correlated subquery — the analyst-facing API shape.
  *
  * Same determinism rules as [[StarQueries]] (DECIMAL sums, total sort
  * keys); same scale posture (broadcast dims, one shuffle per agg).
  */
object StarQueries2 {

  import Agg.dsum

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Data-quality constraint battery — the Deequ-shaped validation
    // pass a pipeline runs before promoting a batch: named checks
    // with violation counts, ZERO meaning the constraint holds.
    // Per-table checks (null keys, uniqueness as rows−distinct,
    // value-range rules) compute in ONE aggregation per table and
    // unpivot via stack — never one scan per check, the Deequ
    // operator-fusion insight; referential integrity runs as
    // LEFT ANTI joins (at 100 TB: FK checks broadcast the dim's key
    // set or ride a bloom filter — the q5 dim-broadcast shape).
    // Output (check, n_violations), integer-exact.
    "q_dq_checks" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val lineitem = Tables.lineitem(s, dir)
      val customer = Tables.customer(s, dir)
      val ordersChecks = orders.agg(
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("orders_custkey_nonnull"),
          (count(lit(1)) - count_distinct(col("o_orderkey")))
            .as("orders_orderkey_unique"),
          sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L))
            .as("orders_totalprice_positive"))
        .select(expr("stack(3, " +
          "'orders_custkey_nonnull', orders_custkey_nonnull, " +
          "'orders_orderkey_unique', orders_orderkey_unique, " +
          "'orders_totalprice_positive', orders_totalprice_positive) " +
          "AS (check_name, n_violations)"))
      val lineitemChecks = lineitem.agg(
          sum(when(!col("l_quantity").between(1.0, 50.0), 1L).otherwise(0L))
            .as("lineitem_quantity_range"),
          sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L)).as("lineitem_discount_range"))
        .select(expr("stack(2, " +
          "'lineitem_quantity_range', lineitem_quantity_range, " +
          "'lineitem_discount_range', lineitem_discount_range) " +
          "AS (check_name, n_violations)"))
      val fkOrders = orders
        .join(broadcast(customer.select("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_fk_customer").as("check_name"), col("n_violations"))
      val fkLineitem = lineitem
        .join(orders.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("lineitem_fk_orders").as("check_name"), col("n_violations"))
      val custChecks = customer.agg(
          sum(when(col("c_acctbal") < 0.0, 1L).otherwise(0L))
            .as("customer_acctbal_nonneg"))
        .select(lit("customer_acctbal_nonneg").as("check_name"),
          col("customer_acctbal_nonneg").as("n_violations"))
      // customer_acctbal_nonneg FAILS on this data (TPC-H allows
      // negative balances) — deliberate: the battery must be seen
      // reporting real violations, not only zeros.
      ordersChecks.unionByName(lineitemChecks)
        .unionByName(fkOrders).unionByName(fkLineitem)
        .unionByName(custChecks)
        .orderBy("check_name")
    }),

    // TPC-H Q3 shape: 3-way join, filtered both sides, revenue top-10.
    "q3_shipping" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > to_timestamp(lit("1996-01-01")))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("orderdate"),
          col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5 shape: 5-way join through the full dimension chain.
    "q5_region_volume" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // Explicit GROUPING SETS (beyond rollup/cube) via the SQL API.
    // SKYLINE (Pareto frontier) — the classic multi-criteria operator
    // (Börzsönyi et al., ICDE 2001) no built-in relational op
    // expresses: lineitem cells (l_quantity, l_extendedprice) not
    // dominated by any cell ≥ in both dimensions and > in one
    // (maximization). Scale shape — NOT the quadratic NOT-EXISTS the
    // oracle states: one map-side-combined aggregation to per-cell
    // counts, per-x max-y over the VALUE-bounded x frame (l_quantity
    // has ≤50 distinct values; the one unpartitioned window runs over
    // THAT, the pipe_ppl_buckets doctrine), then survivor = y strictly
    // above the running max of all larger x. Equal cells don't
    // dominate each other, so the surviving cell keeps its full
    // multiplicity — hence cells + counts, not sampled row ids.
    "q_skyline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pts = Tables.lineitem(s, dir)
        .groupBy(col("l_quantity").cast("long").as("x"),
          col("l_extendedprice").as("y"))
        .agg(count(lit(1)).as("n_rows"))
      val bestY = pts.groupBy("x").agg(max(col("y")).as("ymax"))
      val wGt = Window.orderBy(col("x").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = bestY
        .withColumn("ymax_gt", max(col("ymax")).over(wGt))
        .filter(col("ymax_gt").isNull || col("ymax") > col("ymax_gt"))
        .select(col("x").as("sx"), col("ymax")) // renamed: sky derives
        // from pts, and same-name join columns trip the self-join
        // ambiguity check
      pts.join(broadcast(sky),
          col("x") === col("sx") && col("y") === col("ymax"))
        .select(col("x"), col("y"), col("n_rows"))
        .orderBy("x")
    }),

    // LISTAGG / STRING_AGG — the denormalization surface every
    // warehouse migration hits: nations per region as one ordered
    // comma-joined string. Determinism comes from sorting INSIDE the
    // aggregate result (array_sort before the join): collect_list's
    // arrival order is partition-timing-dependent, so an unsorted
    // string_agg is a flaky hash — the same fixed-order doctrine as
    // every fold in the suite. Dim-sized groups; one aggregation.
    "q_listagg" -> ((s, dir) => {
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy("r_name")
    }),

    // Deterministic MODE aggregate — the statistical mode with a total
    // tie order (most frequent l_quantity per return flag, ties to the
    // smallest value), built from counts + one ranking window instead
    // of the built-in mode() whose tie choice is engine-arbitrary —
    // the same determinism move as the suite's rounded-before-compare
    // doctrine, applied to an aggregate. The window runs over the
    // value-bounded (flag × ≤50 quantity) count frame.
    "q_mode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cnt").desc, col("qty").asc)
      counts.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("l_returnflag"), col("qty").as("mode_qty"),
          col("cnt").as("n_rows"))
        .orderBy("l_returnflag")
    }),

    "q_grouping_sets" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    }),

    // Exact percentiles (Spark `percentile` = exact with linear
    // interpolation, matching DuckDB `quantile_cont`).
    "q_percentiles" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy("l_returnflag")
    }),

    // Null-handling surface: coalesce / nullif / nvl2-style CASE.
    "q_null_funcs" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_x"),
          when(col("o_totalprice") > 200000, col("o_totalprice")).as("big_price"),
          coalesce(when(col("o_totalprice") > 200000, col("o_totalprice")), lit(0.0))
            .as("big_price_or_zero"))
        .orderBy("o_orderkey")
    }),

    // Extended string functions: regexp, pad, trim, split_part, repeat.
    "q_string_funcs" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          regexp_replace(col("p_name"), lit("[aeiou]"), lit("_")).as("name_novowel"),
          regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_first_word"),
          lpad(col("p_brand"), 12, "*").as("brand_pad"),
          trim(lit(" x "), " ").as("trimmed"),
          element_at(split(col("p_type"), " ", -1), 1).as("type_part1"),
          repeat(lit("ab"), 3).as("rep"),
          expr("replace(p_brand, '#', 'No')").as("brand_tr"),
          expr("left(p_name, 5)").as("name_l5"),
          expr("right(p_name, 5)").as("name_r5"))
        .orderBy("p_partkey")
    }),

    // Correlated EXISTS through the SQL-string entry point.
    "q_exists_sql" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("ex_customer")
      Tables.orders(s, dir).createOrReplaceTempView("ex_orders")
      s.sql(
        """SELECT c_custkey, c_mktsegment
          |FROM ex_customer
          |WHERE EXISTS (SELECT 1 FROM ex_orders
          |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // NOT IN vs NOT EXISTS under NULLs — the three-valued-logic
    // correctness surface every migration trips over: a NOT IN whose
    // subquery contains one NULL can never be TRUE (x <> NULL is
    // UNKNOWN), so the NOT IN leg counts ZERO rows while the
    // NOT EXISTS leg counts the genuinely unmatched orders. Both
    // engines must agree on all three counts — the anti-join
    // rewrite (NullAwareAntiJoin in Spark) has to preserve 3VL, and
    // this row pins that it does.
    "q_not_in_null" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("ni_customer")
      Tables.orders(s, dir).createOrReplaceTempView("ni_orders")
      s.sql(
        """WITH keys AS (
          |  SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
          |              ELSE c_custkey END AS k
          |  FROM ni_customer),
          |a AS (SELECT count(*) AS n_not_in FROM ni_orders
          |      WHERE o_custkey NOT IN (SELECT k FROM keys)),
          |b AS (SELECT count(*) AS n_not_exists FROM ni_orders o
          |      WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o.o_custkey)),
          |c AS (SELECT count(*) AS n_null_keys FROM keys WHERE k IS NULL)
          |SELECT a.n_not_in, b.n_not_exists, c.n_null_keys
          |FROM a, b, c""".stripMargin)
    }),

    // RELATIONAL DIVISION (Codd's ÷): "users who performed EVERY
    // event type" — the universal-quantification operator no single
    // join expresses. Computed the scale-right way: per-user distinct
    // type counts against the broadcast global type count (divide by
    // counting, not by set subtraction — one aggregation + one
    // broadcast compare instead of the textbook double NOT EXISTS).
    "q_rel_division" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val total = ev.agg(count_distinct(col("event_type")).as("n_types"))
      ev.groupBy("user_id")
        .agg(count_distinct(col("event_type")).as("u_types"))
        .crossJoin(broadcast(total))
        .filter(col("u_types") === col("n_types"))
        .select(col("user_id"))
        .orderBy("user_id")
    }),

    // Semi-structured ingestion through Spark 4's VARIANT type: build a
    // nested JSON envelope around each event's raw `props` payload,
    // `parse_json` it ONCE into a variant, and extract typed fields by
    // path — the open-schema event-log pattern (ingest first, type at
    // read) that at 100 TB replaces per-field string re-parsing:
    // VARIANT stores a parsed binary form, so the three `variant_get`s
    // below decode the envelope once instead of running three JSON
    // scans, and shredded parquet storage prunes paths like columns.
    // A `variant_get` on an absent path is NULL, not an error —
    // n_missing pins that contract (count of non-null = 0).
    "q_variant" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("v", parse_json(concat(
          lit("{\"meta\":{\"t\":\""), col("event_type"),
          lit("\"},\"payload\":"), col("props"), lit("}"))))
        .select(
          expr("variant_get(v, '$.meta.t', 'string')").as("t"),
          expr("variant_get(v, '$.payload.k', 'long')").as("k"),
          expr("variant_get(v, '$.payload.missing', 'long')").as("miss"))
        .groupBy("t")
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          count(col("miss")).as("n_missing"))
        .orderBy("t")
    }),

    // Sketch aggregation, oracle-GATED (round 9 — previously exempt):
    // the engine's own fixed-point HLL (the sk_hll_* machinery —
    // integer registers, capped rho, integer-rational estimate)
    // grouped by return flag over l_partkey, with the exact distinct
    // as the audit column. The sketch value is identical on both
    // engines by construction, so the row carries a full hash gate;
    // Spark's built-in approx_count_distinct stays covered by its
    // error-bound pin in ScaleSpec (sketch internals are
    // engine-specific — that part is a ScalaTest contract, not an
    // oracle one). Scale shape: per-(flag, register) max is map-side
    // combined to ≤ flags·256 rows; everything downstream is
    // flag-bounded.
    "q_approx_distinct" -> ((s, dir) => {
      import SketchQueries.{HllNumer, HllRegisters, HllRhoCap}
      val keyed = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          md5(col("l_partkey").cast("string")).as("h"))
        .withColumn("reg", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
        .withColumn("v", conv(substring(col("h"), 3, 13), 16, 10).cast("long"))
        .withColumn("rho",
          when(col("v") === 0L, lit(53))
            .otherwise(lit(53) - length(bin(col("v")))).cast("int"))
      val regs = keyed.groupBy("l_returnflag", "reg")
        .agg(max(col("rho")).as("rho"))
      val est = regs.groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_set"),
          sum(expr(s"shiftleft(1L, $HllRhoCap - least(rho, $HllRhoCap))"))
            .as("z_set"))
        .withColumn("zcap", col("z_set") +
          (lit(HllRegisters.toLong) - col("n_set")) * lit(1L << HllRhoCap))
        .withColumn("raw_est", expr(s"$HllNumer DIV (1000000 * zcap)"))
        // small-range (linear counting) correction, Flajolet §4:
        // for raw ≤ 2.5m with empty registers, est = m·ln(m/(m−V)) —
        // the ln is the deterministic Log2Micro (×ln2 micro-constant),
        // so the correction is engine-exact integer arithmetic too
        .withColumn("lrm", graft.functions.Log2Micro.log2micro(
          lit(HllRegisters.toLong),
          greatest(lit(HllRegisters.toLong) - col("n_set"), lit(1L))))
        .withColumn("est_parts", expr(
          s"CASE WHEN n_set < $HllRegisters AND raw_est <= ${5 * HllRegisters / 2} " +
            s"THEN ($HllRegisters * lrm * 693147) DIV 1000000000000 " +
            "ELSE raw_est END"))
      val exact = Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      est.join(exact, "l_returnflag")
        .select("l_returnflag", "n_set", "zcap", "est_parts", "exact_parts")
        .orderBy("l_returnflag")
    }),

    // Sketch quantiles, oracle-GATED (round 9 — previously exempt): a
    // mergeable equi-width histogram sketch over integer cents
    // (bucket = cents DIV 1024, counts add across partitions and
    // batches — the mergeability that is a quantile sketch's reason
    // to exist), read at p50/p95 as the bucket ceiling of the
    // rank-⌈p·n⌉ element — |est − exact| ≤ 1023 cents BY
    // CONSTRUCTION (pinned in SketchSpec). The exact audit columns
    // come from the same histogram via the two-phase radix descent:
    // the bucket cumsum (≤10k-row value-bounded frame) locates the
    // rank's bucket, then the ≤1024-distinct-cents frame INSIDE that
    // bucket resolves the exact element — no corpus-sized window
    // anywhere. Spark's built-in approx_percentile keeps its
    // error-bound pin in ScaleSpec.
    "q_approx_quantile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("CAST(floor(l_extendedprice * 100.0D + 0.5D) AS BIGINT)").as("c"))
      // prices are near-unique, so a per-cents histogram would be
      // ~corpus-sized (594k distinct keys — 0.9 s of hash aggregation
      // per pass; the round-9 shape built it once per leg, 2.9 s
      // total). This shape never builds it: pass 1 aggregates the
      // corpus STRAIGHT into the ≤10k-row bucket frame (the sketch —
      // 0.4 s), both legs pick their buckets there, and pass 2
      // re-scans the corpus through a broadcast semi-filter that
      // keeps only the ~2 selected buckets per flag (≈0.3% of rows)
      // before any per-cents work — the in-bucket cumsum then runs
      // over ≤1024-distinct-cents (flag, tag) partitions, the radix
      // class. Two corpus scans, zero corpus-sized aggregations.
      val wB = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
      val bh = cents
        .select(col("l_returnflag"), expr("c DIV 1024").as("bucket"))
        .groupBy("l_returnflag", "bucket")
        .agg(count(lit(1)).as("bcnt"))
        .withColumn("cum", sum(col("bcnt")).over(
          wB.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", sum(col("bcnt")).over(
          Window.partitionBy(col("l_returnflag"))))
        .localCheckpoint(false) // ≤10k-row bucket frame: legs + cum_before
      import s.implicits._
      val tags = Seq(("median", 1L, 2L), ("p95", 19L, 20L))
        .toDF("tag", "num", "den")
      val sel = bh.crossJoin(broadcast(tags))
        .withColumn("rank", expr("(n * num + den - 1) DIV den")) // ⌈p·n⌉
        .filter(col("cum") >= col("rank"))
        .groupBy("l_returnflag", "tag")
        .agg(min(col("bucket")).as("b"),
          max(col("rank")).as("rank"), max(col("n")).as("n"))
      val before = sel.join(bh.select(col("l_returnflag"),
          col("bucket"), (col("cum") - col("bcnt")).as("cum_before")),
        Seq("l_returnflag"))
        .filter(col("bucket") === col("b"))
        .select(col("l_returnflag").as("bf"), col("tag"), col("b"),
          col("rank"), col("n"), col("cum_before"))
      val wIn = Window.partitionBy(col("bf"), col("tag")).orderBy(col("c"))
      val legs = cents.join(broadcast(before),
          col("l_returnflag") === col("bf") &&
            expr("c DIV 1024") === col("b"))
        .groupBy("bf", "tag", "c", "b", "rank", "n", "cum_before")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum_in", sum(col("cnt")).over(
          wIn.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum_before") + col("cum_in") >= col("rank"))
        .groupBy(col("bf").as("l_returnflag"), col("tag"))
        .agg(min(col("c")).as("exact_cents"),
          max((col("b") + 1) * 1024 - 1).as("est_cents"),
          max(col("n")).as("n_rows"))
      legs.groupBy("l_returnflag")
        .agg(max(col("n_rows")).as("n_rows"),
          max(when(col("tag") === "median", col("est_cents")))
            .as("est_median_cents"),
          max(when(col("tag") === "median", col("exact_cents")))
            .as("exact_median_cents"),
          max(when(col("tag") === "p95", col("est_cents")))
            .as("est_p95_cents"),
          max(when(col("tag") === "p95", col("exact_cents")))
            .as("exact_p95_cents"))
        .select("l_returnflag", "n_rows",
          "est_median_cents", "exact_median_cents",
          "est_p95_cents", "exact_p95_cents")
        .orderBy("l_returnflag")
    }),

    // PIVOT: order-status columns per market segment. The oracle is the
    // equivalent conditional aggregation — identical column names are
    // what make the hash compare line up.
    "q_pivot" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .orderBy("c_mktsegment")
    }),

    // UNPIVOT (pivot's inverse): the wide per-segment status counts
    // fold back to (segment, status, n) rows. Cells with no orders are
    // normalized to 0 on both sides (Spark pivot yields NULL there,
    // DuckDB's filtered count yields 0).
    "q_unpivot" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val wide = c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
      wide.unpivot(Array(col("c_mktsegment")),
          Array(col("F"), col("O"), col("P")), "status", "n_raw")
        .select(col("c_mktsegment"), col("status"),
          coalesce(col("n_raw"), lit(0L)).as("n_orders"))
        .orderBy("c_mktsegment", "status")
    }),

    // Value-range window frame (RANGE BETWEEN, not ROWS BETWEEN):
    // the frame is defined by the ORDER BY value's distance, so peers
    // (ties) are always included — deterministic without a unique sort
    // key inside the frame. Decimal-cast window sum per the playbook.
    "q_window_range" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("wr_lineitem")
      s.sql(
        """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
          |  count(*) OVER w AS n_within5,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE)
          |    AS qty_within5
          |FROM wr_lineitem WHERE l_partkey < 50
          |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity
          |             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
          |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin)
    }),

    // LATERAL join: a correlated top-2-orders subquery per customer —
    // the "for each row, run this query" shape (Catalyst decorrelates
    // it into a window-ranked join under the hood).
    "q_lateral" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("lx_customer")
      Tables.orders(s, dir).createOrReplaceTempView("lx_orders")
      s.sql(
        """SELECT c_custkey, t.o_orderkey, t.o_totalprice
          |FROM lx_customer c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM lx_orders o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c_custkey < 200
          |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    }),

    // Complex-type surface: array aggregation (collect_set), sorted for
    // determinism, higher-order transform, and struct construction —
    // serialized to strings so the result stays hash-comparable across
    // engines (the driver hashes scalar columns).
    "q_complex_types" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          concat_ws("|", array_sort(collect_set(col("o_orderpriority"))))
            .as("priorities"),
          concat_ws("|",
            transform(array_sort(collect_set(col("o_orderpriority"))),
              p => substring(p, 1, 1))).as("priority_codes"),
          count(lit(1)).as("n_orders"))
        .withColumn("summary",
          concat(lit("{status:"), col("o_orderstatus"),
            lit(",n:"), col("n_orders").cast("string"), lit("}")))
        .orderBy("o_orderstatus")
    }),

    // Quartile bucketing at scale: percentile cutoffs + broadcast
    // assignment. An unpartitioned NTILE window would move ALL rows to
    // one partition (WindowExec has no range-partitioned mode; measured
    // 7 s at 3M rows), so the registered form computes the three
    // cutoffs with exact `percentile` and assigns each row by comparing
    // against the broadcast 1-row cutoff frame — fully parallel, no
    // window anywhere in the plan (asserted in ScaleSpec). Ties at a
    // cutoff go to the lower bucket on both engines; cutoffs are
    // rounded to 4 dp per the FP-interpolation parity rule. Exact-NTILE
    // tile semantics (precise n/4 counts under ties) remain covered as
    // a ScalaTest variant (NtileSpec). At 100 TB the exact percentile
    // swaps for approx_percentile — same plan shape, bounded memory.
    "q_ntile" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      // one percentile buffer for all three cutoffs (the array form),
      // not three independent value-buffering aggregates
      val cuts = o.agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("cs"))
        .select(
          round(element_at(col("cs"), 1), 4).as("c1"),
          round(element_at(col("cs"), 2), 4).as("c2"),
          round(element_at(col("cs"), 3), 4).as("c3"))
      o.crossJoin(broadcast(cuts))
        .withColumn("quartile",
          (lit(1) + (col("o_totalprice") > col("c1")).cast("int")
            + (col("o_totalprice") > col("c2")).cast("int")
            + (col("o_totalprice") > col("c3")).cast("int")).cast("int"))
        .groupBy("quartile")
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("quartile")
    }),

    // Distribution window functions over a PARTITIONED window — the
    // scale-safe home for NTILE (each priority's rows stay on their
    // partition, unlike the global form q_ntile replaced): quartile,
    // percent_rank and cume_dist per order priority, over the unique
    // (totalprice, orderkey) order. percent_rank/cume_dist are exact
    // integer-derived rationals — identical doubles in both engines.
    "q_window_dist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_orderkey") < 4000)
        .select(
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          ntile(4).over(w).cast("int").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"))
        .orderBy("o_orderkey")
    }),

    // Window navigation functions: lag/lead and the two frame-extreme
    // value pickers over a unique per-partition order — pure value
    // movement, no arithmetic, so cross-engine equality is exact.
    "q_window_nav" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .filter(col("o_orderkey") < 3000)
        .select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(wFull).as("last_price"))
        .orderBy("o_orderkey")
    }),

    // IGNORE NULLS window navigation — the LOCF/NOCB pair (last/next
    // observation carried forward/backward), THE warehouse gap-fill
    // idiom plain lag/lead can't express (they step a fixed offset,
    // nulls included): every event is annotated with the user's
    // purchase amount AT-OR-BEFORE it (a purchase row carries its own
    // amount) and the one STRICTLY AFTER it. Amounts in integer cents
    // (Agg.centsOf — the one monetary convention); (ts, event_id) is
    // a total order so the carried values are engine-exact. NULL
    // before a user's first / after their last purchase is the honest
    // output. Scale note with teeth: Spark evaluates a
    // (k FOLLOWING, UNBOUNDED FOLLOWING) frame NON-incrementally —
    // O(m²) per m-event partition — so the NOCB leg runs as a
    // DESCENDING-order growing frame ending at −1 (value-identical:
    // "last non-null strictly before me in reverse order" IS "first
    // non-null strictly after me"), which Spark streams in one
    // incremental pass; the oracle keeps the declarative
    // strictly-following form.
    "q_window_ignore_nulls" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "purchase", Agg.centsOf(col("value")))
            .as("p_cents"))
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wNextRev = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      base.select(col("event_id"), col("user_id"),
          last(col("p_cents"), ignoreNulls = true).over(wPrev)
            .as("locf_cents"),
          last(col("p_cents"), ignoreNulls = true).over(wNextRev)
            .as("nocb_cents"))
        .orderBy("event_id")
    }),

    // Column profiling — the other data-profiling staple: one summary
    // row per column (rows, non-nulls, distincts, min/max). Numeric
    // extremes go through DECIMAL(18,2) before stringifying so both
    // engines render identically (raw double→string formatting
    // diverges at scientific-notation thresholds).
    // CHI-SQUARE INDEPENDENCE TEST — the categorical-association
    // check (Pearson 1900) profilers run between column pairs (and
    // drift monitors run between snapshot and feature): are lang and
    // source independent in the documents table? χ² = Σ (o−e)²/e
    // with e = r·c/N is pure rational, so each cell's contribution
    // floors to nano-units independently — (o·N − r·c)²·10⁹ DIV
    // (r·c·N), identical on both engines — and the statistic is their
    // exact sum (per-cell flooring; the quartic numerator runs in
    // DECIMAL(38)/HUGEINT, leaving headroom to N ≈ 3e9 — beyond that
    // the test is moot anyway: at that N every tiny dependence is
    // "significant" and effect size is what matters). Cramér's V² in
    // ppm rides along as that effect size — v² = χ²/(N·min(R−1,C−1))
    // needs no sqrt in the squared domain. One scan into the R×C
    // contingency aggregation; everything after is model-frame math.
    "q_chi2_independence" -> ((s, dir) => {
      val cells = Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        .localCheckpoint(false) // R×C model frame
      val rm = cells.groupBy("lang").agg(sum(col("o")).as("r"))
      val cm = cells.groupBy("source").agg(sum(col("o")).as("c"))
      val nn = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("lang")).as("nr"),
        countDistinct(col("source")).as("nc"))
      val contrib = cells.join(rm, "lang").join(cm, "source")
        .crossJoin(broadcast(nn))
        .withColumn("cell_nano", expr(
          "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) " +
            "* (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) " +
            "* 1000000000 DIV (CAST(r AS DECIMAL(38,0)) * c * n) AS BIGINT)"))
      contrib.groupBy("n", "nr", "nc")
        .agg(count(lit(1)).as("n_cells"), sum(col("cell_nano")).as("chi2_nano"))
        .select(col("n").as("n_rows"), col("n_cells"),
          expr("(nr - 1) * (nc - 1)").as("dof"), col("chi2_nano"),
          expr("chi2_nano DIV (n * least(nr - 1, nc - 1) * 1000)")
            .as("cramers_v2_ppm"))
    }),

    // FUNCTIONAL-DEPENDENCY DISCOVERY — the data-profiling check
    // behind schema inference, key detection, and normalization
    // advice (the Metanome/HyFD shape, restricted to a declared
    // candidate list the way a production profiler scopes its
    // search): A→B holds iff |distinct(A)| = |distinct(A,B)| — two
    // count-distincts per candidate, no join, no pairwise value
    // comparison. The candidate list mixes true keys (o_orderkey;
    // the (l_orderkey, l_linenumber) composite PK) with plausible
    // non-FDs so both verdicts are exercised. Pure counts; each pair
    // is one aggregation over a 2-3 column projection — at 100 TB
    // the candidates share one scan per table via the union.
    "q_fd_discovery" -> ((s, dir) => {
      def fd(df: DataFrame, tbl: String, lhs: Seq[String], rhs: String) =
        df.agg(
            countDistinct(struct(lhs.map(col): _*)).as("n_lhs"),
            countDistinct(struct((lhs :+ rhs).map(col): _*)).as("n_pairs"))
          .select(lit(tbl).as("tbl"), lit(lhs.mkString("+")).as("lhs"),
            lit(rhs).as("rhs"), col("n_lhs"), col("n_pairs"),
            (col("n_lhs") === col("n_pairs")).as("holds"))
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      fd(o, "orders", Seq("o_orderkey"), "o_custkey")
        .unionAll(fd(o, "orders", Seq("o_custkey"), "o_orderpriority"))
        .unionAll(fd(o, "orders", Seq("o_orderpriority"), "o_orderstatus"))
        .unionAll(fd(l, "lineitem", Seq("l_orderkey", "l_linenumber"),
          "l_partkey"))
        .unionAll(fd(l, "lineitem", Seq("l_partkey"), "l_suppkey"))
        .orderBy("tbl", "lhs", "rhs")
    }),

    "q_profile" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      def prof(c: String, dec: Boolean) = {
        val mn = if (dec) min(col(c)).cast(DecimalType(18, 2)).cast("string")
                 else min(col(c)).cast("string")
        val mx = if (dec) max(col(c)).cast(DecimalType(18, 2)).cast("string")
                 else max(col(c)).cast("string")
        o.agg(
          count(lit(1)).as("n_rows"),
          count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("n_distinct"),
          mn.as("min_val"), mx.as("max_val"))
          .select(lit(c).as("column"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_val"), col("max_val"))
      }
      prof("o_totalprice", dec = true)
        .union(prof("o_orderstatus", dec = false))
        .union(prof("o_custkey", dec = false))
        .orderBy("column")
    }),

    // Map-type surface: build a status→count map per segment
    // (map_from_entries over grouped counts — key order in the map is
    // irrelevant because only keyed lookups leave the query), then
    // extract by key. The oracle states the same values as conditional
    // counts; what's under test is that Spark's map construction and
    // element_at produce them.
    "q_map_funcs" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val counts = c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("c_mktsegment"))
        .agg(map_from_entries(
          collect_list(struct(col("o_orderstatus"), col("n")))).as("m"))
        .select(col("c_mktsegment"),
          coalesce(element_at(col("m"), "F"), lit(0L)).as("n_f"),
          coalesce(element_at(col("m"), "O"), lit(0L)).as("n_o"),
          coalesce(element_at(col("m"), "P"), lit(0L)).as("n_p"),
          size(col("m")).cast("int").as("n_statuses"))
        .orderBy("c_mktsegment")
    }),

    // Fixed-width numeric histogram — the data-profiling staple. Bin
    // boundaries via floor of an exact double division (both engines
    // compute the identical double, so bin assignment agrees bit-wise).
    "q_histogram" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("bin", floor(col("o_totalprice") / 50000.0).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("bin")
    }),

    // HAVING: aggregate-level filtering (post-group predicate).
    "q_having" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("n_items") >= 35)
        .orderBy("l_partkey")
    }),

    // Correlated scalar subquery through the SQL entry point: orders
    // beating their own customer's average order value.
    "q_corr_scalar" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("cs_orders")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM cs_orders o
          |WHERE o_totalprice > 2 * (
          |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
          |           / count(*)
          |  FROM cs_orders i WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // Statistical moments — variance, stddev, correlation — computed
    // EXACTLY from decimal power sums instead of the built-in
    // stddev/corr aggregates: the built-ins accumulate doubles, so
    // their result depends on partial-aggregation order (different
    // every run, never matching another engine bit-for-bit). Decimal
    // Σx, Σx², Σxy are order-free and exact; the closed-form moment
    // arithmetic is then ONE deterministic double expression per
    // output, identical in both engines. Same one-shuffle plan as any
    // grouped aggregate.
    "q_stats_moments" -> ((s, dir) => {
      val dec = DecimalType(18, 4)
      val q = col("l_quantity").cast(dec)
      val p = col("l_extendedprice").cast(dec)
      val nD = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("sx"), sum(q * q).as("sxx"),
          sum(p).as("sy"), sum(p * p).as("syy"),
          sum(q * p).as("sxy"))
        .select(
          col("l_returnflag"),
          col("n").as("n_items"),
          (d("sx") / nD).as("mean_qty"),
          // var/std/corr are rounded to 6 dp: DuckDB's int128-decimal →
          // double cast double-rounds once the power sums pass 2^53, so
          // the raw doubles differ in the last ulps. Quasi-continuous
          // many-term statistics never sit on a 6-dp midpoint (unlike
          // the small-denominator rationals kept unrounded elsewhere).
          round((d("sxx") - d("sx") * d("sx") / nD) / (nD - 1), 6).as("var_qty"),
          round(sqrt((d("sxx") - d("sx") * d("sx") / nD) / (nD - 1)), 6).as("std_qty"),
          round((nD * d("sxy") - d("sx") * d("sy")) /
            (sqrt(nD * d("sxx") - d("sx") * d("sx")) *
              sqrt(nD * d("syy") - d("sy") * d("sy"))), 6).as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    // Date arithmetic surface.
    "q_date_arith" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"),
          date_add(to_date(col("o_orderdate")), 30).as("d_plus30"),
          add_months(to_date(col("o_orderdate")), 2).as("d_plus2m"),
          last_day(col("o_orderdate")).as("d_eom"),
          datediff(lit("2002-01-01").cast("date"), to_date(col("o_orderdate")))
            .as("days_to_2002"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("qtr"))
        .orderBy("o_orderkey")
    }),

    // CLOSED-FORM OLS — slope/intercept/R² of extendedprice (cents)
    // on quantity (whole units) per returnflag, from exact
    // DECIMAL(38,0) power sums instead of the built-in regr_*
    // aggregates (double accumulation → partial-order-dependent, the
    // q_stats_moments argument). The ev_ab_cuped moment algebra
    // verbatim: num = nΣxy − ΣxΣy, den = nΣxx − (Σx)², slope in
    // exact micro with the sign-explicit ⌊|a|/b⌋ division,
    // intercept = (Σy·10⁶ − slope_micro·Σx) over n with products in
    // DECIMAL(38,0), r² through the squared-slope cross-multiply
    // (Cauchy–Schwarz caps it at 10⁶ so least() is a guard, not a
    // fudge). One shuffle — the grouped moment aggregation; all six
    // sums reduce map-side.
    "q_ols_regression" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("CAST(l_quantity AS BIGINT)").as("x"),
          expr("CAST(floor(l_extendedprice * CAST(100.0 AS DOUBLE)) " +
            "AS BIGINT)").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
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
        .withColumn("slope_micro", expr(
          """CASE WHEN den > 0 THEN
            |  CAST(CASE WHEN num >= 0 THEN (num * 1000000) div den
            |       ELSE -((-num * 1000000) div den) END AS BIGINT)
            |END""".stripMargin))
        .withColumn("intercept_micro", expr(
          """CASE WHEN slope_micro IS NULL THEN NULL
            |  WHEN sy * 1000000 - CAST(slope_micro AS DECIMAL(38,0)) * sx >= 0
            |    THEN CAST((sy * 1000000
            |      - CAST(slope_micro AS DECIMAL(38,0)) * sx) div n AS BIGINT)
            |  ELSE -CAST((-(sy * 1000000
            |      - CAST(slope_micro AS DECIMAL(38,0)) * sx)) div n AS BIGINT)
            |END""".stripMargin))
        .withColumn("r2_ppm", expr(
          """CASE WHEN den > 0 AND deny > 0 THEN
            |  least((CAST((CAST(slope_micro AS DECIMAL(38,0)) * slope_micro)
            |    div 1000000 AS DECIMAL(38,0)) * den) div deny, 1000000L)
            |END""".stripMargin))
        .select(col("l_returnflag"), col("n"), col("slope_micro"),
          col("intercept_micro"), col("r2_ppm"))
        .orderBy("l_returnflag")
    }),

    // EXACT DISTINCT VIA BITMAPS — the two-level bitmap pattern every
    // warehouse uses to make COUNT(DISTINCT) scale (Spark 4 ships the
    // primitives: bitmap_bucket_number / bitmap_bit_position /
    // bitmap_construct_agg / bitmap_count): stage 1 groups by (key,
    // bucket-of-32768) and ORs each value's bit into a ≤4 KB bitmap —
    // map-side combinable with BOUNDED per-group state, unlike
    // count(distinct)'s expand-and-reshuffle of every raw value —
    // stage 2 sums the per-bucket popcounts, a frame of
    // |keys|·⌈domain/32768⌉ rows regardless of row count. Same exact
    // answer as COUNT(DISTINCT) (the oracle), shuffle bytes smaller
    // by ~the duplication factor; n_rows rides along for contrast.
    "q_bitmap_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_partkey"))
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
          .as("bm"), count(lit(1)).as("n"))
        .groupBy("l_returnflag")
        .agg(expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").as("n_distinct"),
          sum(col("n")).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // RECURSIVE CTE — the bill-of-materials explosion, the canonical
    // hierarchical query no join chain of fixed length can express
    // (Spark 4 finally ships WITH RECURSIVE; before it this took a
    // driver-side loop like dd_clusters). The hierarchy is an 8-ary
    // forest DERIVED from the part keys (parent(c) = c DIV 8, roots =
    // keys < 8 — parent < child always, so the recursion provably
    // terminates), quantities from the key residue, leaf costs from
    // the real p_retailprice in house cents. Each level multiplies
    // path quantity (≤ 3^depth — depth is log₈ n, so ~3⁰¹⁰ at 2·10⁹
    // parts) and the rollup product is DECIMAL(38,0)-routed with a
    // loud BIGINT output edge on both engines. Scale: Spark executes
    // the recursion as log₈(n) joins of the frontier against the
    // part scan — each a keyed equi-join (broadcastable frontier at
    // the top, shuffle join below), no quadratic term anywhere;
    // Σ n_parts over roots = |part| exactly (every part has one
    // root-ward chain), pinned in Round18OpsSpec.
    "q_recursive_bom" -> ((s, dir) => {
      // register only the table the recursion reads (Graft.sql's
      // open-everything convenience would drag 9 unused scans into
      // every execution and break under partial-table stress dirs)
      Tables.part(s, dir).createOrReplaceTempView("part")
      s.sql(
        """WITH RECURSIVE bom AS (
          |  SELECT p_partkey AS root, p_partkey AS part,
          |         CAST(1 AS BIGINT) AS qty,
          |         CAST(floor(p_retailprice * CAST(100.0 AS DOUBLE))
          |              AS BIGINT) AS cents,
          |         0 AS depth
          |  FROM part WHERE p_partkey < 8
          |  UNION ALL
          |  SELECT b.root, c.p_partkey,
          |         b.qty * (c.p_partkey % 3 + 1),
          |         CAST(floor(c.p_retailprice * CAST(100.0 AS DOUBLE))
          |              AS BIGINT),
          |         b.depth + 1
          |  FROM bom b JOIN part c
          |    ON c.p_partkey DIV 8 = b.part AND c.p_partkey >= 8
          |)
          |SELECT root, count(*) AS n_parts,
          |       CAST(max(depth) AS INT) AS max_depth,
          |       CAST(sum(qty) AS BIGINT) AS total_units,
          |       CAST(sum(CAST(qty AS DECIMAL(38,0)) * cents) AS BIGINT)
          |         AS rollup_cents
          |FROM bom GROUP BY root ORDER BY root""".stripMargin)
    })
  )

  private val dsumSql = OracleSql.dsum _

  val oracleSql: Map[String, String] = Map(
    // The grouped fixed-point HLL (sk_hll machinery) — engine-exact,
    // so the previously exempt sketch row now carries a full gate.
    "q_approx_distinct" -> {
      import SketchQueries.{HllNumer, HllRegisters, HllRhoCap}
      val zc = s"(z_set + ($HllRegisters - n_set) * ${1L << HllRhoCap})"
      s"""WITH RECURSIVE keyed AS (
         |  SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS h
         |  FROM lineitem),
         |rr AS (
         |  SELECT l_returnflag, ${OracleSql.hexLong("h", 1, 2)}::INT AS reg,
         |    CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END::INT AS rho
         |  FROM (SELECT l_returnflag, h, ${OracleSql.hexLong("h", 3, 13)} AS v FROM keyed)),
         |regs AS (SELECT l_returnflag, reg, max(rho) AS rho
         |         FROM rr GROUP BY 1, 2),
         |z AS (
         |  SELECT l_returnflag, count(*)::BIGINT AS n_set,
         |    sum((1::BIGINT << ($HllRhoCap - least(rho, $HllRhoCap))))::BIGINT AS z_set
         |  FROM regs GROUP BY 1),
         |zn AS (
         |  SELECT l_returnflag, n_set, z_set,
         |    CAST($HllRegisters AS BIGINT) AS num,
         |    greatest($HllRegisters - n_set, 1)::BIGINT AS den
         |  FROM z),
         |${OracleSql.log2microCtes("lc", "zn", Seq("l_returnflag"))},
         |ze AS (
         |  SELECT zn.l_returnflag, n_set, z_set, lc_lg.lrm,
         |    ($HllNumer // (1000000::BIGINT * $zc))::BIGINT AS raw_est
         |  FROM zn JOIN lc_lg USING (l_returnflag)),
         |ex AS (SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS exact_parts
         |       FROM lineitem GROUP BY 1)
         |SELECT ze.l_returnflag, n_set, $zc::BIGINT AS zcap,
         |  CASE WHEN n_set < $HllRegisters AND raw_est <= ${5 * HllRegisters / 2}
         |    THEN ($HllRegisters * lrm * 693147) // 1000000000000
         |    ELSE raw_est END::BIGINT AS est_parts,
         |  exact_parts
         |FROM ze JOIN ex USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    },
    // The mergeable cents-histogram quantile sketch + two-phase exact
    // descent — every column a BIGINT, engine-exact.
    "q_approx_quantile" -> {
      def legSql(tag: String, num: Int, den: Int) =
        s"""${tag}_b AS (
           |  SELECT l_returnflag, min(bucket) AS b,
           |    max((n * $num + ${den - 1}) // $den)::BIGINT AS rank
           |  FROM bc WHERE cum >= (n * $num + ${den - 1}) // $den GROUP BY 1),
           |${tag}_in AS (
           |  SELECT h.l_returnflag, h.c, b.rank, b.b,
           |    bb.cum - bb.bcnt AS cum_before,
           |    sum(h.cnt) OVER (PARTITION BY h.l_returnflag ORDER BY h.c
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in
           |  FROM hist h
           |  JOIN ${tag}_b b ON h.l_returnflag = b.l_returnflag AND h.bucket = b.b
           |  JOIN bc bb ON bb.l_returnflag = b.l_returnflag AND bb.bucket = b.b),
           |${tag}_r AS (
           |  SELECT l_returnflag, min(c)::BIGINT AS exact_${tag}_cents,
           |    max((b + 1) * 1024 - 1)::BIGINT AS est_${tag}_cents
           |  FROM ${tag}_in WHERE cum_before + cum_in >= rank GROUP BY 1)""".stripMargin
      s"""WITH cents AS (
         |  SELECT l_returnflag,
         |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
         |  FROM lineitem),
         |hist AS (
         |  SELECT l_returnflag, c, count(*)::BIGINT AS cnt, c // 1024 AS bucket
         |  FROM cents GROUP BY 1, 2),
         |bh AS (
         |  SELECT l_returnflag, bucket, sum(cnt)::BIGINT AS bcnt
         |  FROM hist GROUP BY 1, 2),
         |bc AS (
         |  SELECT l_returnflag, bucket, bcnt,
         |    sum(bcnt) OVER (PARTITION BY l_returnflag ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
         |    sum(bcnt) OVER (PARTITION BY l_returnflag)::BIGINT AS n
         |  FROM bh),
         |nn AS (SELECT l_returnflag, max(n)::BIGINT AS n_rows FROM bc GROUP BY 1),
         |${legSql("median", 1, 2)},
         |${legSql("p95", 19, 20)}
         |SELECT nn.l_returnflag, nn.n_rows,
         |  m.est_median_cents, m.exact_median_cents,
         |  p.est_p95_cents, p.exact_p95_cents
         |FROM nn JOIN median_r m USING (l_returnflag)
         |JOIN p95_r p USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    },
    "q_not_in_null" ->
      """WITH keys AS (
        |  SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
        |              ELSE c_custkey END AS k
        |  FROM customer),
        |a AS (SELECT count(*)::BIGINT AS n_not_in FROM orders
        |      WHERE o_custkey NOT IN (SELECT k FROM keys)),
        |b AS (SELECT count(*)::BIGINT AS n_not_exists FROM orders o
        |      WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o.o_custkey)),
        |c AS (SELECT count(*)::BIGINT AS n_null_keys FROM keys WHERE k IS NULL)
        |SELECT a.n_not_in, b.n_not_exists, c.n_null_keys
        |FROM a, b, c""".stripMargin,
    "q_rel_division" ->
      """SELECT user_id FROM events
        |GROUP BY user_id
        |HAVING count(DISTINCT event_type) =
        |  (SELECT count(DISTINCT event_type) FROM events)
        |ORDER BY user_id""".stripMargin,
    "q_listagg" ->
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*)::BIGINT AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_mode" ->
      """SELECT l_returnflag, mode_qty, n_rows FROM (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS mode_qty,
        |    count(*)::BIGINT AS n_rows,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, CAST(l_quantity AS BIGINT) ASC) AS rk
        |  FROM lineitem GROUP BY 1, 2)
        |WHERE rk = 1 ORDER BY l_returnflag""".stripMargin,
    // The textbook quadratic dominance test — affordable at oracle
    // scale, exactly what the per-x running max avoids at 100 TB.
    "q_skyline" ->
      """WITH pts AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x, l_extendedprice AS y,
        |    count(*)::BIGINT AS n_rows
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT x, y, n_rows FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
        |ORDER BY x""".stripMargin,
    "q_dq_checks" ->
      """SELECT check_name, n_violations FROM (
        |  SELECT 'orders_custkey_nonnull' AS check_name,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations FROM orders
        |  UNION ALL
        |  SELECT 'orders_orderkey_unique',
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders_totalprice_positive',
        |    CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_quantity_range',
        |    CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1.0 AND 50.0
        |                  THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_discount_range',
        |    CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
        |                  THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'orders_fk_customer', CAST(count(*) AS BIGINT) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL
        |  SELECT 'lineitem_fk_orders', CAST(count(*) AS BIGINT) FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL
        |  SELECT 'customer_acctbal_nonneg',
        |    CAST(sum(CASE WHEN c_acctbal < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM customer)
        |ORDER BY check_name""".stripMargin,
    "q_complex_types" ->
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|')
        |    AS priorities,
        |  array_to_string(
        |    list_transform(list_sort(list(DISTINCT o_orderpriority)),
        |                   p -> substring(p, 1, 1)), '|') AS priority_codes,
        |  count(*) AS n_orders,
        |  '{status:' || o_orderstatus || ',n:' || CAST(count(*) AS VARCHAR) || '}'
        |    AS summary
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_window_dist" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist
        |FROM orders WHERE o_orderkey < 4000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_window_nav" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER
        |    (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS last_price
        |FROM orders WHERE o_orderkey < 3000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_window_ignore_nulls" ->
      """SELECT event_id, user_id,
        |  last_value(p_cents IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS locf_cents,
        |  first_value(p_cents IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |    AS nocb_cents
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT)
        |    END AS p_cents
        |  FROM events)
        |ORDER BY event_id""".stripMargin,
    "q_ntile" ->
      """WITH cuts AS (
        |  SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS c1,
        |         round(quantile_cont(o_totalprice, 0.50), 4) AS c2,
        |         round(quantile_cont(o_totalprice, 0.75), 4) AS c3
        |  FROM orders)
        |SELECT quartile, count(*) AS n_orders,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM (SELECT o_totalprice,
        |        CAST(1 + CAST(o_totalprice > c1 AS INT)
        |               + CAST(o_totalprice > c2 AS INT)
        |               + CAST(o_totalprice > c3 AS INT) AS INT) AS quartile
        |      FROM orders, cuts)
        |GROUP BY quartile ORDER BY quartile""".stripMargin,
    "q_chi2_independence" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*)::BIGINT AS o
        |  FROM documents GROUP BY 1, 2),
        |rm AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r
        |       FROM cells GROUP BY 1),
        |cm AS (SELECT source, CAST(sum(o) AS BIGINT) AS c
        |       FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |              count(DISTINCT lang)::BIGINT AS nr,
        |              count(DISTINCT source)::BIGINT AS nc FROM cells),
        |contrib AS (
        |  SELECT nn.n, nn.nr, nn.nc,
        |    CAST((CAST(cells.o AS HUGEINT) * nn.n
        |            - CAST(rm.r AS HUGEINT) * cm.c)
        |         * (CAST(cells.o AS HUGEINT) * nn.n
        |            - CAST(rm.r AS HUGEINT) * cm.c)
        |         * 1000000000
        |         // (CAST(rm.r AS HUGEINT) * cm.c * nn.n) AS BIGINT)
        |      AS cell_nano
        |  FROM cells JOIN rm USING (lang) JOIN cm USING (source)
        |  CROSS JOIN nn)
        |SELECT n AS n_rows, count(*)::BIGINT AS n_cells,
        |  (nr - 1) * (nc - 1) AS dof,
        |  CAST(sum(cell_nano) AS BIGINT) AS chi2_nano,
        |  CAST(sum(cell_nano) AS BIGINT)
        |    // (n * least(nr - 1, nc - 1) * 1000) AS cramers_v2_ppm
        |FROM contrib GROUP BY n, nr, nc""".stripMargin,
    "q_fd_discovery" -> {
      def fd(tbl: String, lhs: Seq[String], rhs: String) = {
        val l = lhs.mkString(", ")
        val lr = (lhs :+ rhs).mkString(", ")
        s"""SELECT '$tbl' AS tbl, '${lhs.mkString("+")}' AS lhs,
           |  '$rhs' AS rhs,
           |  count(DISTINCT ($l))::BIGINT AS n_lhs,
           |  count(DISTINCT ($lr))::BIGINT AS n_pairs,
           |  count(DISTINCT ($l)) = count(DISTINCT ($lr)) AS holds
           |FROM $tbl""".stripMargin
      }
      Seq(
        fd("orders", Seq("o_orderkey"), "o_custkey"),
        fd("orders", Seq("o_custkey"), "o_orderpriority"),
        fd("orders", Seq("o_orderpriority"), "o_orderstatus"),
        fd("lineitem", Seq("l_orderkey", "l_linenumber"), "l_partkey"),
        fd("lineitem", Seq("l_partkey"), "l_suppkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY tbl, lhs, rhs")
    },
    "q_profile" ->
      """SELECT 'o_totalprice' AS "column", count(*) AS n_rows,
        |  count(o_totalprice) AS n_nonnull,
        |  count(DISTINCT o_totalprice) AS n_distinct,
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS min_val,
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |  count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(o_custkey),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |FROM orders
        |ORDER BY "column"""".stripMargin,
    "q_map_funcs" ->
      """SELECT c_mktsegment,
        |  count(*) FILTER (o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (o_orderstatus = 'P') AS n_p,
        |  CAST(count(DISTINCT o_orderstatus) AS INT) AS n_statuses
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  count(*) AS n_orders,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,
    "q_unpivot" ->
      """SELECT c_mktsegment, status, n_orders FROM (
        |  SELECT c_mktsegment, 'F' AS status,
        |    count(*) FILTER (o_orderstatus = 'F') AS n_orders
        |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1
        |  UNION ALL
        |  SELECT c_mktsegment, 'O',
        |    count(*) FILTER (o_orderstatus = 'O')
        |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1
        |  UNION ALL
        |  SELECT c_mktsegment, 'P',
        |    count(*) FILTER (o_orderstatus = 'P')
        |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1)
        |ORDER BY c_mktsegment, status""".stripMargin,
    "q_window_range" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  count(*) OVER w AS n_within5,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    AS qty_within5
        |FROM lineitem WHERE l_partkey < 50
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity
        |             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin,
    "q_lateral" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_custkey < 200
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "q3_shipping" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1996-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q5_region_volume" ->
      s"""SELECT r_name, n_name,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |  count(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_null_funcs" ->
      """SELECT o_orderkey,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_x,
        |  CASE WHEN o_totalprice > 200000 THEN o_totalprice END AS big_price,
        |  coalesce(CASE WHEN o_totalprice > 200000 THEN o_totalprice END, 0.0)
        |    AS big_price_or_zero
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowel,
        |  coalesce(regexp_extract(p_type, '^([A-Z]+)', 1), '') AS type_first_word,
        |  lpad(p_brand, 12, '*') AS brand_pad,
        |  trim(' x ', ' ') AS trimmed,
        |  string_split(p_type, ' ')[1] AS type_part1,
        |  repeat('ab', 3) AS rep,
        |  replace(p_brand, '#', 'No') AS brand_tr,
        |  left(p_name, 5) AS name_l5,
        |  right(p_name, 5) AS name_r5
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_exists_sql" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    // DuckDB has no VARIANT; json_extract_string over the identical
    // envelope is the semantic mirror (values, not storage, compared).
    "q_variant" ->
      """WITH env AS (
        |  SELECT '{"meta":{"t":"' || event_type || '"},"payload":' || props || '}' AS vj
        |  FROM events),
        |x AS (
        |  SELECT json_extract_string(vj, '$.meta.t') AS t,
        |    CAST(json_extract_string(vj, '$.payload.k') AS BIGINT) AS k,
        |    CAST(json_extract_string(vj, '$.payload.missing') AS BIGINT) AS miss
        |  FROM env)
        |SELECT t, count(*) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
        |  count(miss) AS n_missing
        |FROM x GROUP BY t ORDER BY t""".stripMargin,
    "q_pivot" ->
      """SELECT c_mktsegment,
        |  count(*) FILTER (o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (o_orderstatus = 'P') AS "P"
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_having" ->
      s"""SELECT l_partkey, count(*) AS n_items, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_partkey
         |HAVING count(*) >= 35
         |ORDER BY l_partkey""".stripMargin,
    "q_corr_scalar" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 2 * (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |           / count(*)
        |  FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    // Product terms use asymmetric decimal widths (22,4)×(16,4): DuckDB
    // executes an (18,4)×(18,4) multiply in int64 and overflows; a
    // combined width ≤ 38 with one side widened runs in int128. The
    // values are identical exact rationals either way.
    "q_stats_moments" ->
      """WITH sums AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
        |    sum(CAST(l_quantity AS DECIMAL(22,4)) * CAST(l_quantity AS DECIMAL(16,4))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
        |    sum(CAST(l_extendedprice AS DECIMAL(22,4)) * CAST(l_extendedprice AS DECIMAL(16,4))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(22,4)) * CAST(l_extendedprice AS DECIMAL(16,4))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n AS n_items,
        |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
        |  round((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1), 6) AS var_qty,
        |  round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1)), 6) AS std_qty,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS corr_qty_price
        |FROM sums ORDER BY l_returnflag""".stripMargin,
    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS d,
        |  CAST(o_orderdate AS DATE) + 30 AS d_plus30,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS d_plus2m,
        |  CAST(last_day(o_orderdate) AS DATE) AS d_eom,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
        |    AS days_to_2002,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // The ev_ab_cuped HUGEINT mirror of the DECIMAL(38,0) moment
    // algebra; every division is the sign-explicit floor-of-|a| form.
    "q_ols_regression" ->
      """WITH pts AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice * CAST(100.0 AS DOUBLE)) AS BIGINT)
        |      AS y
        |  FROM lineitem),
        |mom AS (
        |  SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM pts GROUP BY l_returnflag),
        |th AS (
        |  SELECT l_returnflag, n,
        |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
        |    n * syy - sy * sy AS deny, sx, sy
        |  FROM mom),
        |sl AS (
        |  SELECT *,
        |    CASE WHEN den > 0 THEN
        |      CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
        |           ELSE -((-num * 1000000) // den) END AS BIGINT)
        |    END AS slope_micro
        |  FROM th)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n, slope_micro,
        |  CASE WHEN slope_micro IS NULL THEN NULL
        |    WHEN sy * 1000000 - CAST(slope_micro AS HUGEINT) * sx >= 0
        |      THEN CAST((sy * 1000000
        |        - CAST(slope_micro AS HUGEINT) * sx) // n AS BIGINT)
        |    ELSE -CAST((-(sy * 1000000
        |        - CAST(slope_micro AS HUGEINT) * sx)) // n AS BIGINT)
        |  END AS intercept_micro,
        |  CASE WHEN den > 0 AND deny > 0 THEN
        |    CAST(least((CAST((CAST(slope_micro AS HUGEINT) * slope_micro)
        |      // 1000000 AS HUGEINT) * den) // deny, 1000000) AS BIGINT)
        |  END AS r2_ppm
        |FROM sl ORDER BY l_returnflag""".stripMargin,

    // The bitmap plan is Spark-physical; the SEMANTICS are plain
    // exact distinct — which is the point of the row.
    "q_bitmap_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey)::BIGINT AS n_distinct,
        |  count(*)::BIGINT AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // Same recursion, DuckDB spelling (// for integer division,
    // HUGEINT for the rollup product).
    "q_recursive_bom" ->
      """WITH RECURSIVE bom AS (
        |  SELECT p_partkey AS root, p_partkey AS part,
        |         CAST(1 AS BIGINT) AS qty,
        |         CAST(floor(p_retailprice * CAST(100.0 AS DOUBLE))
        |              AS BIGINT) AS cents,
        |         0 AS depth
        |  FROM part WHERE p_partkey < 8
        |  UNION ALL
        |  SELECT b.root, c.p_partkey,
        |         b.qty * (c.p_partkey % 3 + 1),
        |         CAST(floor(c.p_retailprice * CAST(100.0 AS DOUBLE))
        |              AS BIGINT),
        |         b.depth + 1
        |  FROM bom b JOIN part c
        |    ON c.p_partkey // 8 = b.part AND c.p_partkey >= 8
        |)
        |SELECT root, count(*)::BIGINT AS n_parts,
        |       CAST(max(depth) AS INT) AS max_depth,
        |       CAST(sum(qty) AS BIGINT) AS total_units,
        |       CAST(sum(CAST(qty AS HUGEINT) * cents) AS BIGINT)
        |         AS rollup_cents
        |FROM bom GROUP BY root ORDER BY root""".stripMargin
  )
}
