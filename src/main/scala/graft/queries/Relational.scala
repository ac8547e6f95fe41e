package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** The declared relational surface of SURVEY.md §2.7: scans,
  * projection/filter, every join shape, aggregation (incl. rollup /
  * cube / grouping sets / deterministic mode), window functions,
  * sort/limit/top-k, set ops, and scalar functions — all stock Spark
  * primitives over the driver's TPC-H-ish tables, each paired with a
  * DuckDB oracle.
  *
  * Determinism rules applied throughout:
  *  - every query ends in a total ORDER BY with a unique-key tiebreak;
  *  - computed doubles are rounded (2dp money, 6dp math) on BOTH sides;
  *  - ROLLUP/CUBE null keys are coalesced to 'ALL' so null-ordering
  *    differences between engines can't reorder rows.
  */
object Relational extends QModule {

  override def queries: Seq[Q] = Seq(
    q01Agg, q02Project, q03JoinAgg, q04LeftJoinNull, q05SemiJoin,
    q06AntiJoin, q07FullJoin, q08RightJoin, q09CrossJoin, q10RangeJoin,
    q11BroadcastJoin, q12AggDistinct, q13ApproxDistinct, q14Rollup,
    q15Cube, q16GroupingSets, q17Having, q18Mode,
    q19WindowRank, q20WindowLagLead, q21WindowRunning, q22WindowRange,
    q23SortLimit, q24TopKPerGroup, q25Union, q26Intersect, q27Except,
    q28StringFns, q29DateFns, q30MathFns, q31ArrayFns, q32Json,
    q37CsvScan, q38JsonScan, q41Histogram, q42PercentileDisc,
    q43QuantityStats, q44Pivot, q45GapFill, q46KmvDistinct, q47ZOrder,
    q48ApproxPercentile, q49ZOrder3, q51MergeUpsert, q55ParquetBloom,
    q56KAnonymity, q58RegionalRevenue, q59MarketShare, q61ExistsSubquery,
    q62LateralJoin, q63SetOpsAll, q64WindowDistribution, q67PartitionedScan,
    q68DynamicOverwrite, q69ScalarSubquery, q70BucketedJoin, q71GroupingId,
    q72NullSafeJoin, q73Unpivot, q74HigherOrderFns, q75PercentileCont,
    q76RecursiveCte, q77IntervalRangeFrame, q78AggFilterClause,
    q79SchemaEvolution, q80LimitOffset, q81HllSketchUnion, q82Listagg,
    q83RegrAgg, q85ChiSquared)

  /** TPC-H Q1-shaped pricing summary: the flagship scan+agg.
    *
    * Money math runs in exact integer cents (inputs are 2dp / pct
    * decimals), so the aggregates are bit-identical across engines
    * regardless of summation order — a double `sum` can land exactly
    * on a rounding boundary where Spark (binary-expansion HALF_UP)
    * and DuckDB (shortest-decimal) disagree. Averages use integer
    * floor-division for the same reason.
    */
  val q01Agg = Q(
    "q01_agg_pricing",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1999-09-02").cast("timestamp"))
        .selectExpr("l_returnflag", "l_linestatus",
          "CAST(round(l_quantity) AS BIGINT) AS qty",
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c",
          "CAST(round(l_discount * 100) AS BIGINT) AS disc_pct",
          "CAST(round(l_tax * 100) AS BIGINT) AS tax_pct")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("qty")).as("sum_qty"),
          expr("CAST(sum(price_c) AS DOUBLE) / 100").as("sum_base_price"),
          expr("CAST(sum(price_c * (100 - disc_pct)) AS DOUBLE) / 10000").as("sum_disc_price"),
          expr("CAST(sum(price_c * (100 - disc_pct) * (100 + tax_pct)) AS DOUBLE) / 1000000").as("sum_charge"),
          expr("(sum(qty) * 1000) div count(*)").as("avg_qty_milli"),
          expr("(sum(disc_pct) * 100) div count(*)").as("avg_disc_bp"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
            CAST(sum(qty) AS BIGINT) AS sum_qty,
            CAST(sum(price_c) AS DOUBLE) / 100 AS sum_base_price,
            CAST(sum(price_c * (100 - disc_pct)) AS DOUBLE) / 10000 AS sum_disc_price,
            CAST(sum(price_c * (100 - disc_pct) * (100 + tax_pct)) AS DOUBLE) / 1000000 AS sum_charge,
            CAST((sum(qty) * 1000) // count(*) AS BIGINT) AS avg_qty_milli,
            CAST((sum(disc_pct) * 100) // count(*) AS BIGINT) AS avg_disc_bp,
            count(*) AS count_order
            FROM (SELECT l_returnflag, l_linestatus,
                    CAST(round(l_quantity) AS BIGINT) AS qty,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                    CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
                    CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
                  FROM lineitem
                  WHERE l_shipdate <= TIMESTAMP '1999-09-02') x
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""),
    headline = true)

  /** Projection with computed columns, CASE, BETWEEN, IN, LIKE. */
  val q02Project = Q(
    "q02_filter_project",
    (s, dir) => {
      Tables.load(s, dir, "part")
        .filter(col("p_size").between(5, 30) &&
          col("p_type").isin("ECONOMY", "PROMO") &&
          col("p_name").like("%widget%"))
        .select(
          col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"),
          when(col("p_size") < 10, "small")
            .when(col("p_size") < 25, "medium")
            .otherwise("large").as("size_class"),
          round(col("p_retailprice") * lit(1.1), 2).as("bumped_price"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, p_name, p_brand, p_size,
            CASE WHEN p_size < 10 THEN 'small'
                 WHEN p_size < 25 THEN 'medium'
                 ELSE 'large' END AS size_class,
            round(p_retailprice * 1.1, 2) AS bumped_price
            FROM part
            WHERE p_size BETWEEN 5 AND 30
              AND p_type IN ('ECONOMY', 'PROMO')
              AND p_name LIKE '%widget%'
            ORDER BY p_partkey"""))

  /** TPC-H Q3-shaped 3-way join + agg + top-k. */
  val q03JoinAgg = Q(
    "q03_join_topk_revenue",
    (s, dir) => {
      val t = Tables.t(s, dir)
      t("customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t("orders"), col("c_custkey") === col("o_custkey"))
        .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        .agg(expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000")
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10"""),
    headline = true)

  /** Left outer join + IS NULL: customers with no orders. */
  val q04LeftJoinNull = Q(
    "q04_left_join_null",
    (s, dir) => {
      val t = Tables.t(s, dir)
      t("customer")
        .join(t("orders"), col("c_custkey") === col("o_custkey"), "left")
        .filter(col("o_orderkey").isNull)
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            WHERE o_orderkey IS NULL
            ORDER BY c_custkey"""))

  /** Left-semi join (EXISTS): customers having a big order. */
  val q05SemiJoin = Q(
    "q05_semi_join",
    (s, dir) => {
      val t = Tables.t(s, dir)
      val big = t("orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"))
      t("customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 300000)
            ORDER BY c_custkey"""))

  /** Left-anti join (NOT EXISTS): parts never shipped. */
  val q06AntiJoin = Q(
    "q06_anti_join",
    (s, dir) => {
      val t = Tables.t(s, dir)
      t("part")
        .join(t("lineitem"), col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, p_name FROM part
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
            ORDER BY p_partkey"""))

  /** Full outer join of two per-nation aggregates. */
  val q07FullJoin = Q(
    "q07_full_join",
    (s, dir) => {
      val t = Tables.t(s, dir)
      val cust = t("customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val supp = t("supplier").groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_supp"))
      cust.join(supp, col("nk") === col("nk2"), "full")
        .select(
          coalesce(col("nk"), col("nk2")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT COALESCE(c.nk, s.nk2) AS nationkey,
            COALESCE(c.n_cust, 0) AS n_cust,
            COALESCE(s.n_supp, 0) AS n_supp
            FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
                  FROM customer GROUP BY c_nationkey) c
            FULL OUTER JOIN (SELECT s_nationkey AS nk2, count(*) AS n_supp
                             FROM supplier GROUP BY s_nationkey) s
              ON c.nk = s.nk2
            ORDER BY nationkey"""))

  /** Right outer join: every nation keeps a row even with no customers. */
  val q08RightJoin = Q(
    "q08_right_join",
    (s, dir) => {
      val t = Tables.t(s, dir)
      t("customer")
        .join(t("nation"), col("c_nationkey") === col("n_nationkey"), "right")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("c_custkey")).as("n_cust"))
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey, n_name, count(c_custkey) AS n_cust
            FROM customer RIGHT JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_nationkey, n_name
            ORDER BY n_nationkey"""))

  /** Cross join of two small dimensions. */
  val q09CrossJoin = Q(
    "q09_cross_join",
    (s, dir) => {
      val t = Tables.t(s, dir)
      val statuses = t("orders").select(col("o_orderstatus")).distinct()
      t("region").crossJoin(statuses)
        .select(col("r_name"), col("o_orderstatus"))
        .orderBy(col("r_name"), col("o_orderstatus"))
    },
    Some("""SELECT r_name, o_orderstatus
            FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
            ORDER BY r_name, o_orderstatus"""))

  /** Theta join: equi key + non-equi range residual.
    *
    * Semantically `part >< part ON same brand AND price1 < price2`,
    * but NOT executed as a pair join: within-brand pair counts grow
    * quadratically with scale (the brand key has only 25 values), so
    * enumeration is a 100 TB scale-killer. Instead the pair count and
    * the sum of gaps are computed in closed form from prefix sums over
    * the *distinct* prices of each brand:
    *   n_pairs    = Σ_v m(v)·lt(v)
    *   Σ gaps     = Σ_v m(v)·c(v)·(lt(v) − gt(v))
    * where m(v) is the multiplicity of price v, c(v) its cents value,
    * and lt/gt the row counts strictly below/above v — one map-side
    * combinable groupBy plus a window over distinct prices per brand.
    * The oracle SQL keeps the literal pair-join formulation.
    */
  val q10RangeJoin = Q(
    "q10_range_join",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
      // Prices are exact 2-decimal values: (p2-p1)*100 rounds to the
      // integer cents difference, so Σ round((p2-p1)*100) = Σ (c2-c1).
      val byPrice = p
        .select(col("p_brand").as("brand"),
          expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("brand"), col("cents"))
        .agg(count(lit(1)).as("m"))
      val w = Window.partitionBy(col("brand")).orderBy(col("cents"))
      val lt = coalesce(
        sum(col("m")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      val brandTotal = Window.partitionBy(col("brand"))
      val gt = sum(col("m")).over(brandTotal) - col("m") - col("lt")
      byPrice
        .withColumn("lt", lt)
        .withColumn("gt", gt)
        .groupBy(col("brand"))
        .agg(sum(col("m") * col("lt")).as("n_pairs"),
          sum(col("m") * col("cents") * (col("lt") - col("gt"))).as("gap_sum"))
        .where(col("n_pairs") > 0)
        .select(col("brand"), col("n_pairs"),
          expr("gap_sum div n_pairs").as("avg_gap_cents"))
        .orderBy(col("brand"))
    },
    Some("""SELECT p1.p_brand AS brand, count(*) AS n_pairs,
            CAST(sum(CAST(round((p2.p_retailprice - p1.p_retailprice) * 100) AS BIGINT)) // count(*) AS BIGINT) AS avg_gap_cents
            FROM part p1 JOIN part p2
              ON p1.p_brand = p2.p_brand AND p1.p_retailprice < p2.p_retailprice
            GROUP BY p1.p_brand
            ORDER BY brand"""))

  /** TPC-H Q5-shaped star join with explicit broadcast of the small
    * dimensions — at 100 TB the fact table shuffles once on o_orderkey
    * while region/nation/customer broadcast.
    */
  val q11BroadcastJoin = Q(
    "q11_broadcast_star_join",
    (s, dir) => {
      val t = Tables.t(s, dir)
      t("lineitem")
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t("customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000")
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
            count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name"""),
    headline = true)

  /** count(DISTINCT) + plain aggregates. */
  val q12AggDistinct = Q(
    "q12_count_distinct",
    (s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
            count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** approx_count_distinct (HLL++) with an oracle-checkable
    * bounded-error verdict. The raw HLL estimate has no cross-engine
    * oracle (DuckDB's sketch differs), so the gate row asserts what
    * the estimate GUARANTEES instead: each engine computes its own
    * approx vs its own exact distinct count and reports whether the
    * estimate lands within 5% — true on both sides for any sane
    * sketch (Spark runs rsd 0.01 ≈ 1% error; DuckDB's HLL is ~0.4%),
    * so the booleans hash-match while still failing loudly if either
    * sketch ever degrades past its contract.
    */
  val q13ApproxDistinct = Q(
    "q13_approx_count_distinct",
    (s, dir) => {
      // the approx and exact sides aggregate SEPARATELY and join on
      // the 3-row group key: a combined agg(approx, countDistinct)
      // plans an Expand (2× input rows) whose final distinct count
      // lands on one task per group — measured 24 s vs ~2 s for the
      // join form at sf0.1. Standalone countDistinct two-phases over
      // (flag, orderkey) across all partitions instead.
      val li = Tables.load(s, dir, "lineitem")
      val approx = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          (abs(col("approx_orders") - col("exact_orders"))
            <= col("exact_orders") * 0.05).as("within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
            abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
              <= count(DISTINCT l_orderkey) * 0.05 AS within_5pct
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** ROLLUP with null keys coalesced to 'ALL'. */
  val q14Rollup = Q(
    "q14_rollup",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("rflag"), col("lstatus"))
    },
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
            COALESCE(l_linestatus, 'ALL') AS lstatus,
            round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY rflag, lstatus"""))

  /** CUBE with null keys coalesced. */
  val q15Cube = Q(
    "q15_cube",
    (s, dir) => {
      Tables.load(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    },
    Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
            COALESCE(o_orderpriority, 'ALL') AS priority,
            count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY status, priority"""))

  /** GROUPING SETS via SQL. */
  val q16GroupingSets = Q(
    "q16_grouping_sets",
    (s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               round(sum(l_extendedprice), 2) AS sum_price
               FROM lineitem
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
               ORDER BY rflag, lstatus""")
    },
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
            COALESCE(l_linestatus, 'ALL') AS lstatus,
            round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            ORDER BY rflag, lstatus"""))

  /** HAVING: suppliers moving serious quantity. */
  val q17Having = Q(
    "q17_having",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 1000)
        .orderBy(col("l_suppkey"))
    },
    Some("""SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY l_suppkey
            HAVING round(sum(l_quantity), 2) > 1000
            ORDER BY l_suppkey"""))

  /** Deterministic mode (most frequent value, ties → smallest value) —
    * the label-mode downsample aggregate of SURVEY A7 expressed
    * relationally. Built-in `mode()` is tie-nondeterministic, so the
    * window formulation keeps the oracle honest.
    */
  val q18Mode = Q(
    "q18_mode",
    (s, dir) => {
      val counts = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cnt").desc, col("l_quantity").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt").as("mode_count"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_count FROM (
              SELECT l_returnflag, l_quantity, count(*) AS cnt,
                     row_number() OVER (PARTITION BY l_returnflag
                                        ORDER BY count(*) DESC, l_quantity ASC) AS rn
              FROM lineitem GROUP BY l_returnflag, l_quantity) x
            WHERE rn = 1 ORDER BY l_returnflag"""))

  /** row_number / rank / dense_rank, top-3 per segment. */
  val q19WindowRank = Q(
    "q19_window_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.load(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .filter(col("rn") <= 3)
        .orderBy(col("c_mktsegment"), col("rn"))
    },
    Some("""SELECT * FROM (
              SELECT c_mktsegment, c_custkey, c_acctbal,
                     row_number() OVER w AS rn, rank() OVER w AS rk,
                     dense_rank() OVER w AS drk
              FROM customer
              WINDOW w AS (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey ASC)) x
            WHERE rn <= 3 ORDER BY c_mktsegment, rn"""),
    headline = true)

  /** lag/lead over per-customer order history. */
  val q20WindowLagLead = Q(
    "q20_window_lag_lead",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
          round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"))
        .filter(col("o_custkey") < 20)
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
            round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
            round(lead(o_totalprice, 1) OVER w, 2) AS next_price
            FROM orders
            WHERE o_custkey < 20
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate ASC, o_orderkey ASC)
            ORDER BY o_custkey, o_orderkey"""))

  /** Running sum with an explicit ROWS frame. */
  val q21WindowRunning = Q(
    "q21_window_running_sum",
    (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 3)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum(col("l_quantity")).over(w), 2).as("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
            round(sum(l_quantity) OVER (
              PARTITION BY l_suppkey
              ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
            FROM lineitem WHERE l_suppkey <= 3
            ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  /** RANGE frame over a numeric ordering (value-based window). */
  val q22WindowRange = Q(
    "q22_window_range_frame",
    (s, dir) => {
      val w = Window.orderBy(col("p_size"))
        .rangeBetween(-2, 0)
      Tables.load(s, dir, "part")
        .groupBy(col("p_size"))
        .agg(round(sum(col("p_retailprice")), 2).as("size_price"))
        .select(col("p_size"),
          round(sum(col("size_price")).over(w), 2).as("rolling_price"))
        .orderBy(col("p_size"))
    },
    Some("""SELECT p_size, round(sum(size_price) OVER (
              ORDER BY p_size RANGE BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
              AS rolling_price
            FROM (SELECT p_size, round(sum(p_retailprice), 2) AS size_price
                  FROM part GROUP BY p_size) x
            ORDER BY p_size"""))

  /** Multi-key sort with DESC + explicit NULLS LAST, then LIMIT. */
  val q23SortLimit = Q(
    "q23_sort_nulls_limit",
    (s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("P")).as("status_np"),
          col("o_totalprice"))
        .orderBy(col("status_np").desc_nulls_last, col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)
    },
    Some("""SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_np, o_totalprice
            FROM orders
            ORDER BY status_np DESC NULLS LAST, o_totalprice DESC, o_orderkey
            LIMIT 50"""))

  /** Top-k per group via window + filter. */
  val q24TopKPerGroup = Q(
    "q24_topk_per_group",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_orderstatus"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderstatus"), col("rn"))
    },
    Some("""SELECT o_orderstatus, rn, o_orderkey, o_totalprice FROM (
              SELECT o_orderstatus, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderstatus
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) x
            WHERE rn <= 2 ORDER BY o_orderstatus, rn"""))

  /** UNION ALL vs UNION DISTINCT. */
  val q25Union = Q(
    "q25_union",
    (s, dir) => {
      val t = Tables.t(s, dir)
      val c = t("customer").select(col("c_nationkey").as("nationkey"))
      val sup = t("supplier").select(col("s_nationkey").as("nationkey"))
      val all = c.union(sup).groupBy(col("nationkey")).agg(count(lit(1)).as("n_all"))
      val dist = c.union(sup).distinct().groupBy(col("nationkey")).agg(count(lit(1)).as("n_dist"))
      all.join(dist, Seq("nationkey"))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT a.nationkey, a.n_all, d.n_dist
            FROM (SELECT nationkey, count(*) AS n_all FROM (
                    SELECT c_nationkey AS nationkey FROM customer
                    UNION ALL SELECT s_nationkey FROM supplier) u
                  GROUP BY nationkey) a
            JOIN (SELECT nationkey, count(*) AS n_dist FROM (
                    SELECT c_nationkey AS nationkey FROM customer
                    UNION SELECT s_nationkey FROM supplier) u
                  GROUP BY nationkey) d
              ON a.nationkey = d.nationkey
            ORDER BY a.nationkey"""))

  /** INTERSECT: nations having both customers and suppliers. */
  val q26Intersect = Q(
    "q26_intersect",
    (s, dir) => {
      val t = Tables.t(s, dir)
      t("customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t("supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
            INTERSECT SELECT s_nationkey FROM supplier
            ORDER BY nationkey"""))

  /** EXCEPT: nations with customers but no suppliers. */
  val q27Except = Q(
    "q27_except",
    (s, dir) => {
      val t = Tables.t(s, dir)
      t("customer").select(col("c_nationkey").as("nationkey"))
        .except(t("supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
            EXCEPT SELECT s_nationkey FROM supplier
            ORDER BY nationkey"""))

  /** String functions: substr/concat/upper/lower/trim/regexp. */
  val q28StringFns = Q(
    "q28_string_fns",
    (s, dir) => {
      Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 40)
        .select(
          col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_upper"),
          lower(col("c_name")).as("name_lower"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          concat_ws("-", col("c_mktsegment"), col("c_custkey").cast("string")).as("seg_key"),
          trim(lit("  x  ")).as("trimmed"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          length(col("c_name")).as("name_len"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
            upper(c_mktsegment) AS seg_upper,
            lower(c_name) AS name_lower,
            substring(c_name, 1, 8) AS name_prefix,
            concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
            trim('  x  ') AS trimmed,
            regexp_extract(c_name, '([0-9]+)', 1) AS digits,
            regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
            length(c_name) AS name_len
            FROM customer WHERE c_custkey < 40
            ORDER BY c_custkey"""))

  /** Date/time functions: year/month/date_trunc/datediff. */
  val q29DateFns = Q(
    "q29_date_fns",
    (s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))).as("max_age_days"))
        .orderBy(col("order_year"), col("order_month"))
    },
    Some("""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
            CAST(month(o_orderdate) AS INT) AS order_month,
            count(*) AS n_orders, round(sum(o_totalprice), 2) AS total,
            CAST(max(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')) AS INT) AS max_age_days
            FROM orders
            GROUP BY 1, 2 ORDER BY order_year, order_month"""))

  /** Math functions, rounded to 6dp to absorb libm ulp differences. */
  val q30MathFns = Q(
    "q30_math_fns",
    (s, dir) => {
      Tables.load(s, dir, "part")
        .filter(col("p_partkey") < 50)
        .select(
          col("p_partkey"),
          round(abs(col("p_retailprice") - 1000), 6).as("abs_diff"),
          round(pow(col("p_size"), 2), 6).as("size_sq"),
          round(log(col("p_retailprice")), 6).as("ln_price"),
          round(sqrt(col("p_retailprice")), 6).as("sqrt_price"),
          ceil(col("p_retailprice")).as("ceil_price"),
          floor(col("p_retailprice")).as("floor_price"),
          pmod(col("p_partkey"), lit(7)).as("key_mod"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey,
            round(abs(p_retailprice - 1000), 6) AS abs_diff,
            round(pow(p_size, 2), 6) AS size_sq,
            round(ln(p_retailprice), 6) AS ln_price,
            round(sqrt(p_retailprice), 6) AS sqrt_price,
            CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
            CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
            p_partkey % 7 AS key_mod
            FROM part WHERE p_partkey < 50
            ORDER BY p_partkey"""))

  /** Array functions: split + size + contains + explode word count. */
  val q31ArrayFns = Q(
    "q31_array_fns",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    },
    Some("""SELECT word, count(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
            WHERE length(word) > 0
            GROUP BY word
            ORDER BY n DESC, word
            LIMIT 20"""))

  /** JSON extraction from the events.props payload — `from_json` with
    * an explicit schema (one parse per row; `get_json_object` re-walks
    * the document per path and measured ~3× slower). Oracle uses a
    * regexp so it doesn't depend on DuckDB's json extension.
    */
  val q32Json = Q(
    "q32_json_extract",
    (s, dir) => {
      // events must load through the nanos-normalizing helper — query
      // execution order is a map iteration, so no other query can be
      // relied on to have set the conf first
      Events.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
            CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
            max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** CSV source (§2.7 scans row): round the region table through a
    * CSV file with an explicit schema and aggregate — the oracle runs
    * on the original table, proving the format hop is lossless.
    */
  val q37CsvScan = Q(
    "q37_csv_scan",
    (s, dir) => {
      // per-application scratch path: concurrent gate/bench runs on
      // one host must not race on overwrite
      val tmp = QTables.appTmp(s, "csv", dir)
      Tables.load(s, dir, "nation")
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(tmp)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          min(col("n_name")).as("first_nation"))
        .orderBy(col("n_regionkey"))
    },
    Some("""SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_nation
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** JSON-lines source (§2.7 scans row): same round-trip through
    * spark.read.json.
    */
  val q38JsonScan = Q(
    "q38_json_scan",
    (s, dir) => {
      val tmp = QTables.appTmp(s, "json", dir)
      Tables.load(s, dir, "supplier")
        .write.mode("overwrite").json(tmp)
      s.read.schema("s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .json(tmp)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal")), 2).as("total_bal"))
        .orderBy(col("s_nationkey"))
    },
    Some("""SELECT s_nationkey, count(*) AS n_suppliers,
            round(sum(s_acctbal), 2) AS total_bal
            FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** Width-bucket histogram of extended price ($5000 buckets) — the
    * binned-aggregation shape of dashboarding/profiling workloads.
    * Buckets come from exact integer-cent division, counts and sums
    * are map-side combinable: one shuffle of (bucket → partial) rows
    * at any scale.
    */
  val q41Histogram = Q(
    "q41_histogram",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .selectExpr("CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c")
        .selectExpr("price_c div 500000 AS bucket", "price_c")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(price_c) AS DOUBLE) / 100").as("sum_price"),
          expr("CAST(min(price_c) AS DOUBLE) / 100").as("min_price"),
          expr("CAST(max(price_c) AS DOUBLE) / 100").as("max_price"))
        .orderBy(col("bucket"))
    },
    Some("""WITH x AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
                       FROM lineitem)
            SELECT price_c // 500000 AS bucket, count(*) AS n,
                   CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) / 100 AS sum_price,
                   CAST(min(price_c) AS DOUBLE) / 100 AS min_price,
                   CAST(max(price_c) AS DOUBLE) / 100 AS max_price
            FROM x GROUP BY 1 ORDER BY bucket"""))

  /** Discrete percentiles (p50/p90/p99) of extended price per return
    * flag: the value AT position ceil(q·n) in sort order — an actual
    * data value, no interpolation, so parity is exact by
    * construction. TWO-PHASE exact algorithm: (1) a map-side-
    * combinable aggregation into coarse 4096-cent buckets (~1.1k
    * rows/flag through the shuffle, never a row or value-frequency
    * table) + a tiny window locates the bucket holding each target
    * rank; (2) a second scan keeps only rows inside located buckets
    * (broadcast semi-filter) and runs the fine cumulative pick over
    * ≤ 4096 values per (flag, q). No serial structure ever exceeds
    * the bucket count — at 100 TB both phases stay fully parallel
    * where a per-flag sort window would drag the whole domain
    * through one task. The approximate path is q48's sketch.
    */
  val q42PercentileDisc = Q(
    "q42_percentile_disc",
    (s, dir) => {
      // graft.ops.Percentiles.twoPhaseDiscrete: bucket location +
      // fine scan, fuzz-verified against the single-window form in
      // PercentilesSpec (boundary ranks, heavy duplicates included)
      graft.ops.Percentiles.twoPhaseDiscrete(
          Tables.load(s, dir, "lineitem")
            .selectExpr("l_returnflag",
              "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c"),
          groupCol = "l_returnflag", valueCol = "price_c",
          qs = Seq(0.50, 0.90, 0.99))
        .groupBy(col("l_returnflag"))
        .agg(
          expr("CAST(min(CASE WHEN q = 0.50 THEN value END) AS DOUBLE) / 100").as("p50"),
          expr("CAST(min(CASE WHEN q = 0.90 THEN value END) AS DOUBLE) / 100").as("p90"),
          expr("CAST(min(CASE WHEN q = 0.99 THEN value END) AS DOUBLE) / 100").as("p99"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH f AS (SELECT l_returnflag,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                  count(*) AS c
                FROM lineitem GROUP BY 1, 2),
            x AS (SELECT l_returnflag, price_c,
                  sum(c) OVER (PARTITION BY l_returnflag
                    ORDER BY price_c) AS cum,
                  sum(c) OVER (PARTITION BY l_returnflag) AS cnt
                FROM f)
            SELECT l_returnflag,
                   CAST(min(CASE WHEN cum >= CAST(ceil(0.50 * cnt) AS BIGINT) THEN price_c END) AS DOUBLE) / 100 AS p50,
                   CAST(min(CASE WHEN cum >= CAST(ceil(0.90 * cnt) AS BIGINT) THEN price_c END) AS DOUBLE) / 100 AS p90,
                   CAST(min(CASE WHEN cum >= CAST(ceil(0.99 * cnt) AS BIGINT) THEN price_c END) AS DOUBLE) / 100 AS p99
            FROM x GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Sample variance / stddev of quantity per (flag, status), derived
    * from exact wide-integer power sums: Spark carries them in
    * DECIMAL(38,0), DuckDB in HUGEINT (its native sum(BIGINT)
    * result) — n·Σq² stays exact to ~10¹² rows per group for
    * quantities ≤ 50, far past a 100 TB lineitem. The numerator and
    * the n·(n−1) denominator convert to double only once at the end
    * (at gate scale both are < 2^53, so the conversions are exact),
    * making the single division + sqrt bit-identical across engines —
    * no dependence on partial-aggregation merge order, unlike a
    * naive stddev_samp over doubles.
    */
  val q43QuantityStats = Q(
    "q43_quantity_stats",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .selectExpr("l_returnflag", "l_linestatus",
          "CAST(round(l_quantity) AS BIGINT) AS q")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
          sum(expr("CAST(q * q AS DECIMAL(38,0))")).as("sumsq_q"))
        .selectExpr("l_returnflag", "l_linestatus", "n", "sum_q",
          """CAST(CAST(n AS DECIMAL(38,0)) * sumsq_q
             - CAST(sum_q AS DECIMAL(38,0)) * CAST(sum_q AS DECIMAL(38,0)) AS DOUBLE)
             / (CAST(n AS DOUBLE) * (n - 1)) AS var_q""")
        .withColumn("stddev_q", sqrt(col("var_q")))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""WITH x AS (SELECT l_returnflag, l_linestatus,
                  count(*) AS n,
                  sum(CAST(round(l_quantity) AS BIGINT)) AS sum_q,
                  sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS sumsq_q
                FROM lineitem GROUP BY l_returnflag, l_linestatus)
            SELECT l_returnflag, l_linestatus, n, CAST(sum_q AS BIGINT) AS sum_q,
                   CAST(n * sumsq_q - sum_q * sum_q AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (n - 1)) AS var_q,
                   sqrt(CAST(n * sumsq_q - sum_q * sum_q AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (n - 1))) AS stddev_q
            FROM x ORDER BY l_returnflag, l_linestatus"""))

  /** Pivot (long→wide): quantity and count per return flag, one
    * column pair per line status. Spark's `pivot` with explicit
    * values compiles to the same conditional aggregation the oracle
    * writes out — one two-phase hash agg, no extra shuffle over the
    * plain groupBy.
    */
  val q44Pivot = Q(
    "q44_pivot",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .selectExpr("l_returnflag", "l_linestatus",
          "CAST(round(l_quantity) AS BIGINT) AS q")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("q")).as("qty"), count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("F_qty").as("qty_f"), col("F_n").as("n_f"),
          col("O_qty").as("qty_o"), col("O_n").as("n_o"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
            CAST(sum(CASE WHEN l_linestatus = 'F'
                 THEN CAST(round(l_quantity) AS BIGINT) END) AS BIGINT) AS qty_f,
            count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
            CAST(sum(CASE WHEN l_linestatus = 'O'
                 THEN CAST(round(l_quantity) AS BIGINT) END) AS BIGINT) AS qty_o,
            count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Time-series gap fill: a generated hourly calendar spine crossed
    * with the event-type dimension, left-joined against hourly
    * counts — missing (hour, type) cells surface as explicit zeros.
    * The spine is generated, not scanned (sequence/range over the
    * min-max bounds), so the only data shuffle is the hourly
    * aggregation; the spine-side join broadcasts.
    */
  val q45GapFill = Q(
    "q45_gap_fill",
    (s, dir) => {
      val e = Events.events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000 AS hr"), col("event_type"))
      val bounds = e.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("hr"))
        .crossJoin(e.select(col("event_type")).distinct())
      val counts = e.groupBy(col("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      spine.join(counts, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("hr"), col("event_type"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hr, event_type
                       FROM events),
            b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM e),
            spine AS (SELECT unnest(range(lo, hi + 1)) AS hr FROM b),
            ty AS (SELECT DISTINCT event_type FROM e),
            c AS (SELECT hr, event_type, count(*) AS n FROM e GROUP BY 1, 2)
            SELECT s.hr, t.event_type, COALESCE(n, 0) AS n
            FROM spine s CROSS JOIN ty t
            LEFT JOIN c ON c.hr = s.hr AND c.event_type = t.event_type
            ORDER BY s.hr, t.event_type"""))

  /** KMV (k-minimum-values) distinct estimator — the
    * oracle-checkable cousin of q13's HLL sketch: with hashes drawn
    * from a 2^56 space, est = (k−1)·2^56 / h_(k), where h_(k) is the
    * k-th smallest DISTINCT md5-derived hash. The k minima are a
    * data-deterministic set (no engine-private sketch state), so any
    * engine reproduces the estimate bit-for-bit. Spark plans the
    * k-smallest as TakeOrderedAndProject over the distinct hashes —
    * no full sort; the sketch state is k values per partition, then
    * k merged, exactly how a sketch union would behave at scale.
    */
  val q46KmvDistinct = Q(
    "q46_kmv_distinct",
    (s, dir) => {
      val k = 256
      val li = Tables.load(s, dir, "lineitem")
      val kth = li
        .selectExpr("conv(substring(md5(CAST(l_partkey AS STRING)), 1, 14), 16, 10) AS hx")
        .select(col("hx").cast("long").as("h"))
        .distinct()
        .orderBy(col("h"))
        .limit(k)
        .agg(max(col("h")).as("kth_min"), count(lit(1)).as("k"))
      val truth = li.agg(countDistinct(col("l_partkey")).as("true_distinct"))
      kth.crossJoin(truth)
        .selectExpr("k", "kth_min", "true_distinct",
          "CAST(k - 1 AS DOUBLE) * CAST(72057594037927936 AS DOUBLE) / kth_min AS est_distinct")
    },
    Some("""WITH h AS (SELECT DISTINCT
                  CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 14) AS BIGINT) AS h
                FROM lineitem),
            kmin AS (SELECT max(h) AS kth_min, count(*) AS k
                     FROM (SELECT h FROM h ORDER BY h LIMIT 256) t),
            truth AS (SELECT count(DISTINCT l_partkey) AS true_distinct FROM lineitem)
            SELECT CAST(k AS BIGINT) AS k, kth_min,
                   CAST(true_distinct AS BIGINT) AS true_distinct,
                   CAST(k - 1 AS DOUBLE) * CAST(72057594037927936 AS DOUBLE)
                     / kth_min AS est_distinct
            FROM kmin CROSS JOIN truth"""))

  /** Approximate-quantile sketch (Spark: Greenwald-Khanna via
    * `percentile_approx`; DuckDB: t-digest) with a q13-style
    * bounded-RANK-error verdict: sketches differ per engine, so each
    * engine checks that the rank of ITS OWN p50 estimate sits within
    * ±2% of the true median rank — the guarantee any sane quantile
    * sketch provides at these accuracies (GK error ≤ 1/10000 here).
    * Completes the sketch-family coverage: HLL (q13), KMV (q46),
    * quantiles (q48).
    */
  val q48ApproxPercentile = Q(
    "q48_approx_percentile",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ap = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50"))
      li.join(broadcast(ap), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_extendedprice") <= col("p50"), 1L).otherwise(0L)).as("le"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          (abs(col("le").cast("double") / col("n") - 0.5) <= 0.02).as("rank_ok"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH ap AS (SELECT l_returnflag,
                   approx_quantile(l_extendedprice, 0.5) AS p50
                 FROM lineitem GROUP BY l_returnflag),
            r AS (SELECT l.l_returnflag,
                    sum(CASE WHEN l.l_extendedprice <= ap.p50 THEN 1 ELSE 0 END) AS le,
                    count(*) AS n
                  FROM lineitem l JOIN ap USING (l_returnflag)
                  GROUP BY l.l_returnflag)
            SELECT l_returnflag,
                   abs(CAST(le AS DOUBLE) / n - 0.5) <= 0.02 AS rank_ok
            FROM r ORDER BY l_returnflag"""))

  /** Z-order (Morton) clustering key for multi-dimensional data
    * skipping — rows near in BOTH part and supplier key sort near in
    * one dimension, so a z-clustered layout prunes row groups for
    * filters on either column. The interleave is a pure shift/mask
    * fold, whole-stage-codegen'd, replayed bit-for-bit by the oracle.
    */
  val q47ZOrder = Q(
    "q47_zorder",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          graft.ops.ZOrder.zValue(col("l_partkey"), col("l_suppkey")).as("z"))
        .distinct()
        .orderBy(col("z"), col("l_partkey"), col("l_suppkey"))
        .limit(200)
    },
    Some("""WITH x AS (SELECT DISTINCT l_partkey, l_suppkey,
                  CAST(list_sum(list_transform(range(21), i ->
                    ((l_partkey // CAST(pow(2, i) AS BIGINT)) % 2)
                      * CAST(pow(2, 2 * i) AS BIGINT)
                    + ((l_suppkey // CAST(pow(2, i) AS BIGINT)) % 2)
                      * CAST(pow(2, 2 * i + 1) AS BIGINT))) AS BIGINT) AS z
                FROM lineitem)
            SELECT l_partkey, l_suppkey, z FROM x
            ORDER BY z, l_partkey, l_suppkey LIMIT 200"""))

  /** Three-dimensional z-order (N-ary Morton interleave): bit i of
    * dimension k at position 3i+k, 21 bits each = 63 bits — the
    * full-width OPTIMIZE ZORDER(col1, col2, col3) form.
    */
  val q49ZOrder3 = Q(
    "q49_zorder3",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
        .distinct()
        .withColumn("z", graft.ops.ZOrder.zValueN(
          Seq(col("l_partkey"), col("l_suppkey"), col("qty"))))
        .orderBy(col("z"), col("l_partkey"), col("l_suppkey"), col("qty"))
        .limit(200)
    },
    Some("""WITH x AS (SELECT DISTINCT l_partkey, l_suppkey,
                  CAST(round(l_quantity) AS BIGINT) AS qty
                FROM lineitem),
            z AS (SELECT l_partkey, l_suppkey, qty,
                  CAST(list_sum(list_transform(range(21), i ->
                    ((l_partkey // CAST(pow(2, i) AS BIGINT)) % 2)
                      * CAST(pow(2, 3 * i) AS BIGINT)
                    + ((l_suppkey // CAST(pow(2, i) AS BIGINT)) % 2)
                      * CAST(pow(2, 3 * i + 1) AS BIGINT)
                    + ((qty // CAST(pow(2, i) AS BIGINT)) % 2)
                      * CAST(pow(2, 3 * i + 2) AS BIGINT))) AS BIGINT) AS z
                FROM x)
            SELECT l_partkey, l_suppkey, qty, z FROM z
            ORDER BY z, l_partkey, l_suppkey, qty LIMIT 200"""))

  /** MERGE INTO (CDC apply / upsert) semantics as one relational
    * transform: a deterministic change feed (deletes, balance
    * updates, inserts derived from the key) full-outer-joins the
    * snapshot on the key; deletes drop, updates override, inserts
    * append — the Delta/Iceberg MERGE expressed as join + CASE, which
    * is exactly how those engines execute it (one shuffle on the
    * key; the change feed is broadcast when small). Money stays in
    * integer cents.
    */
  val q51MergeUpsert = Q(
    "q51_merge_upsert",
    (s, dir) => {
      val base = Tables.load(s, dir, "customer")
        .selectExpr("c_custkey",
          "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c")
      val deletes = base.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit("delete").as("op"), lit(null).cast("long").as("new_bal"))
      val updates = base.filter(col("c_custkey") % 7 === 1)
        .select(col("c_custkey"), lit("update").as("op"),
          (col("bal_c") + 10000L).as("new_bal"))
      val inserts = base.filter(col("c_custkey") % 7 === 2)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit("insert").as("op"), (col("bal_c") * 2).as("new_bal"))
      val changes = deletes.union(updates).union(inserts)
      base.as("b")
        .join(changes.as("c"), Seq("c_custkey"), "full_outer")
        .filter(coalesce(col("op") =!= "delete", lit(true)))
        .select(col("c_custkey"),
          coalesce(col("new_bal"), col("bal_c")).as("bal_c"),
          coalesce(col("op"), lit("keep")).as("op"))
        .orderBy(col("c_custkey"))
    },
    Some("""WITH base AS (SELECT c_custkey,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                FROM customer),
            changes AS (
              SELECT c_custkey, 'delete' AS op, CAST(NULL AS BIGINT) AS new_bal
              FROM base WHERE c_custkey % 7 = 0
              UNION ALL
              SELECT c_custkey, 'update' AS op, bal_c + 10000 AS new_bal
              FROM base WHERE c_custkey % 7 = 1
              UNION ALL
              SELECT c_custkey + 1000000 AS c_custkey, 'insert' AS op,
                     bal_c * 2 AS new_bal
              FROM base WHERE c_custkey % 7 = 2)
            SELECT COALESCE(b.c_custkey, c.c_custkey) AS c_custkey,
                   COALESCE(c.new_bal, b.bal_c) AS bal_c,
                   COALESCE(c.op, 'keep') AS op
            FROM base b FULL OUTER JOIN changes c ON b.c_custkey = c.c_custkey
            WHERE COALESCE(c.op <> 'delete', true)
            ORDER BY c_custkey"""))

  /** Parquet bloom-filter round-trip: lineitem written with a bloom
    * filter on `l_partkey` (the data-skipping index for point/IN
    * probes on non-sorted, non-partitioned columns — at 100 TB the
    * difference between touching every row group and only the ones
    * that might match), read back through an IN probe, aggregated.
    * The oracle runs the same probe on the original table, so a
    * filter-evaluation drift on the bloom-indexed path
    * hash-mismatches; `ParquetBloomSpec` asserts the footer actually
    * carries bloom offsets and the probe reaches PushedFilters.
    */
  val q55ParquetBloom = Q(
    "q55_parquet_bloom",
    (s, dir) => {
      val tmp = QTables.appTmp(s, "bloom", dir)
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
        // parquet-mr drops blooms on fully dictionary-encoded chunks;
        // at 100 TB partkey cardinality overflows the dictionary
        // anyway — pin that regime so the bloom is present at any sf
        .option("parquet.enable.dictionary#l_partkey", "false")
        .parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("l_partkey").isin(3L, 17L, 42L, 97L, 123L, 555L, 1024L, 1776L))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          expr("CAST(round(sum(l_quantity)) AS BIGINT)").as("sum_qty"),
          min(col("l_orderkey")).as("min_order"),
          max(col("l_orderkey")).as("max_order"))
        .orderBy(col("l_partkey"))
    },
    Some("""SELECT l_partkey, count(*) AS n_lines,
                   CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
                   min(l_orderkey) AS min_order, max(l_orderkey) AS max_order
            FROM lineitem
            WHERE l_partkey IN (3, 17, 42, 97, 123, 555, 1024, 1776)
            GROUP BY l_partkey ORDER BY l_partkey"""))

  /** k-anonymity release screen ([[graft.ops.Privacy.kAnonymize]]):
    * customers whose (nation, segment) quasi-identifier combination
    * is shared by fewer than 8 rows get both quasi-ids generalized to
    * '*' before release — the column-combination privacy guarantee
    * the in-text PII scrub (t52) cannot provide. The oracle replays
    * the size join and generalization; a row suppressed on one side
    * but released on the other hash-mismatches.
    */
  val q56KAnonymity = Q(
    "q56_k_anonymity",
    (s, dir) => {
      val anon = graft.ops.Privacy.kAnonymize(
        Tables.load(s, dir, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal")),
        Seq("c_nationkey", "c_mktsegment"), k = 8L)
      anon.groupBy(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)")
            .as("sum_cents"))
        .orderBy(col("nation"), col("segment"))
    },
    Some("""WITH sizes AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
                           FROM customer GROUP BY 1, 2),
            anon AS (SELECT CASE WHEN s.n >= 8 THEN CAST(c.c_nationkey AS VARCHAR)
                                 ELSE '*' END AS nation,
                            CASE WHEN s.n >= 8 THEN c.c_mktsegment
                                 ELSE '*' END AS segment,
                            c.c_acctbal
                     FROM customer c JOIN sizes s
                       ON c.c_nationkey = s.c_nationkey
                      AND c.c_mktsegment = s.c_mktsegment)
            SELECT nation, segment, count(*) AS n_rows,
                   CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM anon GROUP BY nation, segment ORDER BY nation, segment"""))

  /** Correlated EXISTS / NOT EXISTS subqueries — the Catalyst
    * decorrelation surface (RewritePredicateSubquery turns both into
    * semi/anti joins; the gate proves the rewritten plan keeps exact
    * subquery semantics, including the NOT EXISTS null-safety that a
    * naive anti-join gets wrong).
    */
  val q61ExistsSubquery = Q(
    "q61_exists_subquery",
    (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("q61_customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("q61_orders")
      s.sql("""SELECT c_nationkey, count(*) AS n_customers,
                      min(c_custkey) AS first_cust
               FROM q61_customer c
               WHERE EXISTS (SELECT 1 FROM q61_orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_totalprice > 350000)
                 AND NOT EXISTS (SELECT 1 FROM q61_orders o
                                 WHERE o.o_custkey = c.c_custkey
                                   AND o.o_orderpriority = '1-URGENT')
               GROUP BY c_nationkey ORDER BY c_nationkey""")
    },
    Some("""SELECT c_nationkey, count(*) AS n_customers,
                   min(c_custkey) AS first_cust
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 350000)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey ORDER BY c_nationkey"""))

  /** LATERAL correlated subquery with per-row ORDER BY + LIMIT — the
    * top-k-per-group shape as the planner-level join (Spark rewrites
    * it through DomainJoin decorrelation), vs q24's window
    * formulation of the same semantics.
    */
  val q62LateralJoin = Q(
    "q62_lateral_join",
    (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("q62_customer")
      Tables.load(s, dir, "nation").createOrReplaceTempView("q62_nation")
      s.sql("""SELECT n.n_nationkey, t.c_custkey, t.cents
               FROM q62_nation n,
               LATERAL (SELECT c_custkey,
                               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                        FROM q62_customer c
                        WHERE c.c_nationkey = n.n_nationkey
                        ORDER BY cents DESC, c_custkey LIMIT 2) t
               ORDER BY n_nationkey, cents DESC, c_custkey""")
    },
    Some("""SELECT n.n_nationkey, t.c_custkey, t.cents
            FROM nation n,
            LATERAL (SELECT c_custkey,
                            CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                     FROM customer c
                     WHERE c.c_nationkey = n.n_nationkey
                     ORDER BY cents DESC, c_custkey LIMIT 2) t
            ORDER BY n_nationkey, cents DESC, c_custkey"""))

  /** EXCEPT ALL / INTERSECT ALL — bag semantics (per-key multiplicity
    * max(0, mₐ−m_b) / min(mₐ, m_b)), which the DISTINCT set ops
    * (q25–q27) cannot express and a wrong dedup silently flattens.
    */
  val q63SetOpsAll = Q(
    "q63_set_ops_all",
    (s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("q63_lineitem")
      s.sql("""WITH hi AS (SELECT l_suppkey AS k FROM q63_lineitem WHERE l_quantity >= 25),
                    lo AS (SELECT l_suppkey AS k FROM q63_lineitem WHERE l_quantity < 10),
                    ea AS (SELECT k FROM hi EXCEPT ALL SELECT k FROM lo),
                    ia AS (SELECT k FROM hi INTERSECT ALL SELECT k FROM lo)
               SELECT 'except_all' AS op, k, count(*) AS n FROM ea GROUP BY k
               UNION ALL
               SELECT 'intersect_all', k, count(*) FROM ia GROUP BY k
               ORDER BY op, k""")
    },
    Some("""WITH hi AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity >= 25),
                 lo AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 10),
                 ea AS (SELECT k FROM hi EXCEPT ALL SELECT k FROM lo),
                 ia AS (SELECT k FROM hi INTERSECT ALL SELECT k FROM lo)
            SELECT 'except_all' AS op, k, count(*) AS n FROM ea GROUP BY k
            UNION ALL
            SELECT 'intersect_all', k, count(*) FROM ia GROUP BY k
            ORDER BY op, k"""))

  /** Window distribution functions — ntile plus integer-milli
    * percent-rank/cume-dist under an imposed total order (custkey
    * tie-break makes rank ≡ row_number, so the milli ratios are exact
    * floor divisions, no float ratio to drift).
    */
  val q64WindowDistribution = Q(
    "q64_window_distribution",
    (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("q64_customer")
      s.sql("""WITH w AS (
                 SELECT c_custkey, c_mktsegment,
                        CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                        ntile(4) OVER sw AS quartile,
                        rank() OVER sw AS rk,
                        count(*) OVER (PARTITION BY c_mktsegment) AS n_seg
                 FROM q64_customer
                 WINDOW sw AS (PARTITION BY c_mktsegment
                               ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC,
                                        c_custkey))
               SELECT c_custkey, c_mktsegment, cents, quartile,
                      (rk - 1) * 1000 div (n_seg - 1) AS pct_rank_milli,
                      rk * 1000 div n_seg AS cume_milli
               FROM w WHERE c_custkey % 10 = 0
               ORDER BY c_mktsegment, cents DESC, c_custkey""")
    },
    Some("""WITH w AS (
              SELECT c_custkey, c_mktsegment,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                     ntile(4) OVER sw AS quartile,
                     rank() OVER sw AS rk,
                     count(*) OVER (PARTITION BY c_mktsegment) AS n_seg
              FROM customer
              WINDOW sw AS (PARTITION BY c_mktsegment
                            ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC,
                                     c_custkey))
            SELECT c_custkey, c_mktsegment, cents, quartile,
                   (rk - 1) * 1000 // (n_seg - 1) AS pct_rank_milli,
                   rk * 1000 // n_seg AS cume_milli
            FROM w WHERE c_custkey % 10 = 0
            ORDER BY c_mktsegment, cents DESC, c_custkey"""))

  /** Hive-style partitioned parquet sink + partition-pruned scan —
    * THE layout tool for 100 TB tables (a predicate on the partition
    * column prunes directories before any I/O; `PartitionedWriteSpec`
    * asserts the filter lands in PartitionFilters and only the
    * matching directory's files are read). The oracle computes the
    * same aggregate over the unpartitioned original, so any
    * write-path row loss or partition misrouting hash-mismatches.
    */
  val q67PartitionedScan = Q(
    "q67_partitioned_scan",
    (s, dir) => {
      val tmp = QTables.appTmp(s, "part", dir)
      Tables.load(s, dir, "orders")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("sum_cents"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
                   min(o_orderkey) AS min_key
            FROM orders WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Dynamic partition overwrite — the idempotent-backfill write mode
    * (re-running a day's job replaces ONLY that day's directory). The
    * gate overwrites the 1-URGENT partition with doubled prices under
    * `partitionOverwriteMode=dynamic` and re-aggregates everything:
    * untouched partitions must survive byte-for-byte, the replaced
    * one must show exactly the new arithmetic. A static-overwrite
    * regression (whole-table wipe) zeroes four partitions and
    * hash-mismatches immediately.
    */
  val q68DynamicOverwrite = Q(
    "q68_dynamic_overwrite",
    (s, dir) => {
      val tmp = QTables.appTmp(s, "dynpart", dir)
      val orders = Tables.load(s, dir, "orders")
      orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        orders.filter(col("o_orderpriority") === "1-URGENT")
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
      } finally {
        prev match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      s.read.parquet(tmp)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("sum_cents"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice *
                     CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END
                     * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Correlated SCALAR subqueries — the other decorrelation path
    * (q61 covers predicate subqueries): a per-row correlated
    * aggregate in SELECT becomes a left-outer aggregate join under
    * Catalyst, preserving NULL for customers with no orders (here
    * surfaced as -1 so both engines agree on a concrete value).
    */
  val q69ScalarSubquery = Q(
    "q69_scalar_subquery",
    (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("q69_customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("q69_orders")
      s.sql("""SELECT c_custkey,
                      COALESCE((SELECT CAST(round(max(o_totalprice) * 100) AS BIGINT)
                                FROM q69_orders o
                                WHERE o.o_custkey = c.c_custkey), -1) AS max_cents,
                      COALESCE((SELECT count(*) FROM q69_orders o
                                WHERE o.o_custkey = c.c_custkey), 0) AS n_orders
               FROM q69_customer c
               WHERE c_custkey % 7 = 0
               ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey,
                   COALESCE((SELECT CAST(round(max(o_totalprice) * 100) AS BIGINT)
                             FROM orders o
                             WHERE o.o_custkey = c.c_custkey), -1) AS max_cents,
                   COALESCE((SELECT count(*) FROM orders o
                             WHERE o.o_custkey = c.c_custkey), 0) AS n_orders
            FROM customer c
            WHERE c_custkey % 7 = 0
            ORDER BY c_custkey"""))

  /** Bucketed catalog tables (`bucketBy` + `sortBy` + saveAsTable):
    * the pre-shuffled layout for REPEATED fact-fact joins — both
    * sides bucket on the join key at write time, so every future join
    * on that key skips its exchange (the no-shuffle plan itself is
    * asserted in `BucketingSpec`; this gate pins the bucket-routing
    * correctness of the write path — a misrouted or dropped row
    * hash-mismatches the join result).
    */
  val q70BucketedJoin = Q(
    "q70_bucketed_join",
    (s, dir) => {
      val sfx = s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")}"
      val t1 = s"q70_orders_$sfx"
      val t2 = s"q70_line_$sfx"
      Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(t1)
      Tables.load(s, dir, "lineitem")
        .selectExpr("l_orderkey", "CAST(round(l_quantity) AS BIGINT) AS qty")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(t2)
      QTables.tablesAtExit(s, t1, t2)
      s.table(t1).join(s.table(t2), col("o_orderkey") === col("l_orderkey"))
        .groupBy(expr("o_custkey % 100").as("cust_bucket"))
        .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("cust_bucket"))
    },
    Some("""SELECT o_custkey % 100 AS cust_bucket, count(*) AS n_lines,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY 1 ORDER BY cust_bucket"""))

  /** GROUPING() disambiguation in rollups — the semantics trap q14's
    * 'ALL'-coalesce papers over: a NULL data key and a subtotal row
    * both print NULL, and only the grouping bit tells them apart.
    * The gate nulls out one real key value first, so a wrong
    * grouping-bit implementation merges rows the oracle keeps apart.
    */
  val q71GroupingId = Q(
    "q71_grouping_id",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .withColumn("flag",
          when(col("l_returnflag") === "N", lit(null: String))
            .otherwise(col("l_returnflag")))
        .rollup(col("flag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(grouping(flag) AS INT)").as("g_flag"),
          expr("CAST(grouping(l_linestatus) AS INT)").as("g_status"),
          expr("CAST(grouping_id(flag, l_linestatus) AS INT)").as("gid"))
        .select(coalesce(col("flag"), lit("<null>")).as("flag"),
          coalesce(col("l_linestatus"), lit("<null>")).as("status"),
          col("n"), col("g_flag"), col("g_status"), col("gid"))
        .orderBy(col("gid"), col("flag"), col("status"))
    },
    Some("""SELECT coalesce(CASE WHEN l_returnflag = 'N' THEN NULL
                                 ELSE l_returnflag END, '<null>') AS flag,
                   coalesce(l_linestatus, '<null>') AS status,
                   count(*) AS n,
                   CAST(grouping(CASE WHEN l_returnflag = 'N' THEN NULL
                                      ELSE l_returnflag END) AS INT) AS g_flag,
                   CAST(grouping(l_linestatus) AS INT) AS g_status,
                   CAST(grouping_id(CASE WHEN l_returnflag = 'N' THEN NULL
                                         ELSE l_returnflag END,
                                    l_linestatus) AS INT) AS gid
            FROM lineitem
            GROUP BY ROLLUP(CASE WHEN l_returnflag = 'N' THEN NULL
                                 ELSE l_returnflag END, l_linestatus)
            ORDER BY gid, flag, status"""))

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    * keys MATCH each other instead of silently dropping — the
    * dimension-with-unknown-bucket join where plain equality loses
    * whole partitions of data. Both sides plant NULLs (every 6th
    * nation key), so a plain-equality regression loses the NULL✕NULL
    * row block and hash-mismatches.
    */
  val q72NullSafeJoin = Q(
    "q72_null_safe_join",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(when(col("c_nationkey") % 6 === 0, lit(null: Integer))
          .otherwise(col("c_nationkey")).as("nk"), col("c_acctbal"))
      val sup = Tables.load(s, dir, "supplier")
        .select(when(col("s_nationkey") % 6 === 0, lit(null: Integer))
          .otherwise(col("s_nationkey")).as("nk2"), col("s_suppkey"))
      c.join(sup, col("nk") <=> col("nk2"))
        .groupBy(coalesce(col("nk").cast("string"), lit("<null>")).as("nation"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("s_suppkey")).as("n_suppliers"))
        .orderBy(col("nation"))
    },
    Some("""WITH c AS (SELECT CASE WHEN c_nationkey % 6 = 0 THEN NULL
                              ELSE c_nationkey END AS nk, c_acctbal
                       FROM customer),
                 sup AS (SELECT CASE WHEN s_nationkey % 6 = 0 THEN NULL
                                ELSE s_nationkey END AS nk2, s_suppkey
                         FROM supplier)
            SELECT coalesce(CAST(nk AS VARCHAR), '<null>') AS nation,
                   count(*) AS n_pairs,
                   CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers
            FROM c JOIN sup ON nk IS NOT DISTINCT FROM nk2
            GROUP BY 1 ORDER BY nation"""))

  /** UNPIVOT / melt (`Dataset.unpivot`): three lineitem measures fold
    * into (measure, value) rows — Catalyst plans it as a zero-shuffle
    * `Expand`, so wide→long restructuring costs one projection, not a
    * join or a union of N scans. The downstream per-measure aggregate
    * is the long-format summary a metrics pipeline reads. Values are
    * exact integers (qty, cents, basis points) so the per-measure
    * sums are engine-independent; the oracle runs DuckDB's native
    * UNPIVOT over the same derived columns.
    */
  val q73Unpivot = Q(
    "q73_unpivot",
    (s, dir) => {
      val base = Tables.load(s, dir, "lineitem")
        .selectExpr("l_returnflag",
          "CAST(round(l_quantity) AS BIGINT) AS quantity",
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c",
          "CAST(round(l_discount * 10000) AS BIGINT) AS disc_bp")
      base.unpivot(
          Array(col("l_returnflag")),
          Array(col("quantity"), col("price_c"), col("disc_bp")),
          "measure", "value")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg(sum(col("value")).as("sum_v"), count(lit(1)).as("n"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
        .orderBy(col("l_returnflag"), col("measure"))
    },
    Some("""WITH base AS (SELECT l_returnflag,
                    CAST(round(l_quantity) AS BIGINT) AS quantity,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                    CAST(round(l_discount * 10000) AS BIGINT) AS disc_bp
                  FROM lineitem),
            u AS (SELECT l_returnflag, measure, value FROM base
                  UNPIVOT (value FOR measure IN (quantity, price_c, disc_bp)))
            SELECT l_returnflag, measure,
                   CAST(sum(value) AS BIGINT) AS sum_v,
                   count(*) AS n,
                   CAST(min(value) AS BIGINT) AS min_v,
                   CAST(max(value) AS BIGINT) AS max_v
            FROM u GROUP BY 1, 2
            ORDER BY l_returnflag, measure"""))

  /** Higher-order array functions (`transform`/`filter`/`aggregate`/
    * `array_max` lambdas): per-order quantity sequences built with an
    * ORDER-DETERMINISTIC aggregation (`array_sort(collect_list(
    * struct(linenumber, qty)))` — never a bare collect_list, whose
    * partition order is a run-to-run hash landmine), then folded
    * entirely inside codegen'd lambda expressions — no UDF, no
    * explode-regroup round trip. The oracle replays each lambda with
    * DuckDB's list_transform / list_filter / list_sum over
    * `list(qty ORDER BY linenumber)`.
    */
  val q74HigherOrderFns = Q(
    "q74_higher_order_fns",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .selectExpr("l_orderkey", "l_linenumber",
          "CAST(round(l_quantity) AS BIGINT) AS qty")
        .groupBy(col("l_orderkey"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(l_linenumber, qty))), p -> p.qty)")
          .as("qs"))
        .select(col("l_orderkey"),
          expr("CAST(size(qs) AS INT)").as("n"),
          expr("aggregate(qs, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)").as("sumsq"),
          expr("CAST(size(filter(qs, x -> x % 2 = 0)) AS INT)").as("evens"),
          expr("array_max(qs)").as("maxq"))
        .orderBy(col("l_orderkey"))
    },
    Some("""WITH a AS (SELECT l_orderkey,
                    list(CAST(round(l_quantity) AS BIGINT)
                         ORDER BY l_linenumber) AS qs
                  FROM lineitem GROUP BY 1)
            SELECT l_orderkey,
                   CAST(len(qs) AS INT) AS n,
                   CAST(list_sum(list_transform(qs, x -> x * x)) AS BIGINT) AS sumsq,
                   CAST(len(list_filter(qs, x -> x % 2 = 0)) AS INT) AS evens,
                   CAST(list_max(qs) AS BIGINT) AS maxq
            FROM a ORDER BY l_orderkey"""))

  /** Exact interpolated percentiles (`percentile(col, array(...))` ↔
    * DuckDB `quantile_cont`): completes the percentile family next to
    * the discrete two-phase path (q42) and the sketch path (q48).
    * Quartile fractions make the interpolation EXACT in binary
    * ((n−1)·p has fractional part ∈ {0,¼,½,¾}, operands are integer
    * cents), so both engines produce bit-identical doubles — no
    * rounding slop hiding an off-by-one rank. Scale posture: exact
    * interpolated percentiles materialize per-group sorted values —
    * right for bounded group cardinality like this 6-group summary;
    * corpus-wide percentile cuts use the value-domain histogram walk
    * (q42 / i77) instead.
    */
  val q75PercentileCont = Q(
    "q75_percentile_cont",
    (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .selectExpr("l_returnflag", "l_linestatus",
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(expr("percentile(price_c, array(0.25D, 0.5D, 0.75D))").as("ps"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          expr("ps[0] / 100").as("p25"),
          expr("ps[1] / 100").as("p50"),
          expr("ps[2] / 100").as("p75"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""WITH f AS (SELECT l_returnflag, l_linestatus,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
                  FROM lineitem),
            q AS (SELECT l_returnflag, l_linestatus, count(*) AS n,
                    quantile_cont(price_c, [0.25, 0.5, 0.75]) AS qs
                  FROM f GROUP BY 1, 2)
            SELECT l_returnflag, l_linestatus, n,
                   qs[1] / 100 AS p25, qs[2] / 100 AS p50, qs[3] / 100 AS p75
            FROM q ORDER BY l_returnflag, l_linestatus"""))

  /** Recursive CTE (`WITH RECURSIVE`, Spark 4's UnionLoop): every
    * customer key walks its div-10 ancestor chain to the root — the
    * hierarchy/reachability shape (org charts, BOM explosions,
    * referral chains) that pre-4.x Spark needed driver-side loops
    * for. Each iteration is a narrow projection + filter (no join, no
    * shuffle inside the loop) and the frontier shrinks monotonically;
    * depth grows with log₁₀(maxkey), so the loop count is scale-safe
    * at any corpus size. One aggregate over all visited states pins
    * every level's population and both checksums.
    */
  val q76RecursiveCte = Q(
    "q76_recursive_cte",
    (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("q76_customer")
      s.sql("""WITH RECURSIVE walk(start, cur, depth) AS (
            SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT),
                   CAST(0 AS BIGINT)
            FROM q76_customer
            UNION ALL
            SELECT start, cur div 10, depth + 1 FROM walk WHERE cur >= 10)
          SELECT depth, count(*) AS n,
                 sum(start) AS sum_start, sum(cur) AS sum_cur
          FROM walk GROUP BY depth ORDER BY depth""")
    },
    Some("""WITH RECURSIVE walk(start, cur, depth) AS (
            SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT),
                   CAST(0 AS BIGINT)
            FROM customer
            UNION ALL
            SELECT start, cur // 10, depth + 1 FROM walk WHERE cur >= 10)
            SELECT depth, count(*) AS n,
                   CAST(sum(start) AS BIGINT) AS sum_start,
                   CAST(sum(cur) AS BIGINT) AS sum_cur
            FROM walk GROUP BY depth ORDER BY depth"""))

  /** TPC-H Q5 shape — the 6-way snowflake join (lineitem ⋈ orders ⋈
    * customer ⋈ supplier ⋈ nation ⋈ region) with the local-supplier
    * constraint (customer and supplier in the SAME nation) and a
    * selective date+region filter. The plan audit this gate exists
    * for: both dims broadcast, the date filter reaches the orders
    * scan, and Catalyst orders the fact joins so the selective orders
    * side prunes lineitem early. Revenue is exact integer
    * cents×(100−disc) — no float summation order to drift.
    */
  val q58RegionalRevenue = Q(
    "q58_regional_revenue",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .selectExpr("l_orderkey", "l_suppkey",
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c",
          "CAST(round(l_discount * 100) AS BIGINT) AS disc_pct")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = Tables.load(s, dir, "region")
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(expr("sum(price_c * (100 - disc_pct))").as("revenue_c2"),
          count(lit(1)).as("n_lines"))
        .orderBy(desc("revenue_c2"), col("n_name"))
    },
    Some("""SELECT n_name,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue_c2 DESC, n_name"""))

  /** TPC-H Q8 shape — market share: of one region's yearly order
    * revenue, the milli-fraction supplied by one nation. Two
    * aggregates over the same joined stream (conditional sum inside
    * the group) and an exact integer division — the
    * numerator/denominator never see floats, so the share is
    * bit-stable under any partitioning.
    */
  val q59MarketShare = Q(
    "q59_market_share",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .selectExpr("l_orderkey", "l_suppkey",
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c",
          "CAST(round(l_discount * 100) AS BIGINT) AS disc_pct")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      val c = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n1 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val r = Tables.load(s, dir, "region")
        .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n2 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
        .groupBy(col("o_year"))
        .agg(
          expr("sum(CASE WHEN supp_nation = 'GERMANY' THEN price_c * (100 - disc_pct) ELSE 0 END)")
            .as("germany_c2"),
          expr("sum(price_c * (100 - disc_pct))").as("total_c2"))
        .select(col("o_year"), col("germany_c2"), col("total_c2"),
          expr("(germany_c2 * 1000) div total_c2").as("share_milli"))
        .orderBy(col("o_year"))
    },
    Some("""WITH j AS (
              SELECT year(o_orderdate) AS o_year,
                     CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c2,
                     n2.n_name AS supp_nation
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region ON n1.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
              WHERE r_name = 'EUROPE')
            SELECT o_year,
                   CAST(sum(CASE WHEN supp_nation = 'GERMANY' THEN rev_c2 ELSE 0 END) AS BIGINT) AS germany_c2,
                   CAST(sum(rev_c2) AS BIGINT) AS total_c2,
                   CAST(sum(CASE WHEN supp_nation = 'GERMANY' THEN rev_c2 ELSE 0 END) * 1000
                     // sum(rev_c2) AS BIGINT) AS share_milli
            FROM j GROUP BY o_year ORDER BY o_year"""))

  /** Interval-typed RANGE window frame: trailing 7-day order volume
    * per order date — the time-windowed twin of q22's numeric RANGE
    * frame, exercising date + CalendarInterval frame bounds (peers
    * and gaps in the calendar handled by frame semantics, not row
    * counting). Two exchanges: the per-date agg and the single-ordered
    * window (which the ORDER BY then reuses).
    */
  val q77IntervalRangeFrame = Q(
    "q77_interval_range_frame",
    (s, dir) => Tables.load(s, dir, "orders")
      .groupBy(col("o_orderdate"))
      .agg(count(lit(1)).cast("long").as("n_day"))
      .selectExpr("o_orderdate",
        "n_day",
        "CAST(sum(n_day) OVER (ORDER BY o_orderdate " +
          "RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) " +
          "AS BIGINT) AS n_7d")
      .orderBy(col("o_orderdate")),
    Some("""WITH d AS (SELECT o_orderdate, CAST(count(*) AS BIGINT) AS n_day
                FROM orders GROUP BY o_orderdate)
            SELECT o_orderdate, n_day,
                   CAST(sum(n_day) OVER (ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS n_7d
            FROM d ORDER BY o_orderdate"""))

  /** FILTER-clause aggregates: one scan producing differently-
    * predicated sums/counts side by side (the SQL:2003 form of the
    * CASE-WHEN pivot idiom — Catalyst plans it as conditional
    * aggregation, still one exchange). Exact cents via round-to-int.
    */
  val q78AggFilterClause = Q(
    "q78_agg_filter_clause",
    (s, dir) => Tables.load(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .agg(
        expr("count(*) FILTER (WHERE l_returnflag = 'R')").as("n_returned"),
        expr("count(*) FILTER (WHERE l_returnflag <> 'R')").as("n_kept"),
        expr("CAST(round(sum(l_quantity) FILTER (WHERE l_discount > 0.05)) AS BIGINT)")
          .as("qty_discounted"),
        expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) " +
          "FILTER (WHERE l_tax = 0.0) AS BIGINT)").as("untaxed_cents"))
      .orderBy(col("l_linestatus")),
    Some("""SELECT l_linestatus,
                   CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n_returned,
                   CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT) AS n_kept,
                   CAST(round(sum(l_quantity) FILTER (WHERE l_discount > 0.05)) AS BIGINT)
                     AS qty_discounted,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                     FILTER (WHERE l_tax = 0.0) AS BIGINT) AS untaxed_cents
            FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** Parquet schema evolution: two batches written with DIFFERENT
    * schemas (the second adds a column — the append-only data-lake
    * reality at 100 TB, where re-writing history for a new field is
    * not a plan), read back in one scan with `mergeSchema`; rows from
    * the old batch surface the new column as NULL. The oracle replays
    * the same union-by-name logically over the source table.
    */
  val q79SchemaEvolution = Q(
    "q79_schema_evolution",
    (s, dir) => {
      val tmp = QTables.appTmp(s, "q79", dir)
      val d = QTables.docs(s, dir)
      d.filter(col("doc_id") < 250)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/b1")
      d.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/b2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/b1", s"$tmp/b2")
        .groupBy(coalesce(col("lang"), lit("_pre_evolution")).as("lang_g"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("doc_id")).cast("long").as("min_doc"))
        .orderBy(col("lang_g"))
    },
    Some("""WITH b1 AS (SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang
                FROM documents WHERE doc_id < 250),
            b2 AS (SELECT doc_id, n_chars, lang
                FROM documents WHERE doc_id >= 250),
            u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
            SELECT coalesce(lang, '_pre_evolution') AS lang_g,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(min(doc_id) AS BIGINT) AS min_doc
            FROM u GROUP BY 1 ORDER BY lang_g"""))

  /** LIMIT/OFFSET pagination under a total order — the API-page
    * slice. Note the 100 TB posture: a deep OFFSET still sorts and
    * skips (there is no index); production pagination keys on the
    * last-seen sort key instead, which is exactly why the gate pins
    * a SHALLOW page.
    */
  val q80LimitOffset = Q(
    "q80_limit_offset",
    (s, dir) => Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
      .offset(100).limit(50),
    Some("""SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders
            ORDER BY price_cents DESC, o_orderkey
            LIMIT 50 OFFSET 100"""))

  /** DataSketches HLL as a PERSISTABLE, MERGEABLE column (Spark 4
    * `hll_sketch_agg` / `hll_union_agg`): partial sketches built per
    * fine group merge to a coarser group WITHOUT rescanning rows —
    * the incremental distinct-accounting shape at 100 TB (yesterday's
    * per-partition sketches + today's = updated totals, no re-read).
    * Like q13/q48, accuracy is a bounded-error VERDICT both engines
    * compute against their own exact counts, since sketch registers
    * aren't portable across implementations.
    */
  val q81HllSketchUnion = Q(
    "q81_hll_sketch_union",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // fine partials: (returnflag, linestatus) sketches
      val partials = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(expr("hll_sketch_agg(l_orderkey, 14)").as("sk"))
      // coarse rollup: merge partials per returnflag — no row rescan
      val merged = partials.groupBy(col("l_returnflag"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      merged.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          (abs(col("est") - col("exact_orders")) <=
            col("exact_orders") * 0.05).as("within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
                   abs(approx_count_distinct(l_orderkey)
                       - count(DISTINCT l_orderkey))
                     <= count(DISTINCT l_orderkey) * 0.05 AS within_5pct
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** SQL:2016 `LISTAGG ... WITHIN GROUP` (Spark 4's `listagg`):
    * per-region DISTINCT market segments as one ordered delimited
    * string. The ordered-set aggregate is a real reporting surface —
    * and the WITHIN GROUP order makes the string deterministic, so it
    * hash-compares exactly (DuckDB spells it `string_agg(DISTINCT
    * ... ORDER BY)`). Dimensions broadcast; one shuffle for the agg.
    */
  val q82Listagg = Q(
    "q82_listagg",
    (s, dir) => {
      val t = Tables.t(s, dir)
      t("customer")
        .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          expr("listagg(DISTINCT c_mktsegment, ',') WITHIN GROUP (ORDER BY c_mktsegment)")
            .as("segments"),
          count(lit(1)).as("n_customers"))
        .orderBy(col("r_name"))
    },
    Some("""SELECT r_name,
                   string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
                   count(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name"""))

  /** Linear-regression aggregates (`regr_slope/intercept/r2`,
    * SQL:2003): price-on-quantity fit per returnflag. Exact integer
    * moment sums (BIGINT / DECIMAL(38)) hash-compare directly; the
    * builtin regression aggregates are DOUBLE streaming forms whose
    * bits differ across engines, so — q13/q81-style — each engine
    * emits a VERDICT comparing its own builtin to the closed form
    * computed from its own exact moments (1e-6 relative tolerance).
    * One map-side-combinable aggregate; no second scan.
    */
  /** Chi-squared contingency analysis of returnflag × linestatus —
    * the categorical-independence test behind feature selection and
    * drift detection. Everything stays EXACT: observed counts, row /
    * column totals, expected counts in milli (floor), and each cell's
    * χ² contribution in micro units via the integer identity
    * contrib = (O·N − R·C)²·10⁶ div (N·R·C) — the per-cell terms are
    * DECIMAL(38) products (O·N squared can pass 2⁶³), floor-divided,
    * so both engines hash-match bit-for-bit with no float summation
    * order in sight. One map-side-combinable count aggregation; the
    * marginals are window sums over the tiny cell table.
    */
  val q85ChiSquared = Q(
    "q85_chi_squared",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("o"))
        .withColumn("r", sum(col("o")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))))
        .withColumn("c", sum(col("o")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_linestatus"))))
        .withColumn("n", sum(col("o")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .selectExpr("l_returnflag", "l_linestatus", "o AS observed",
          "CAST(CAST(r AS DECIMAL(38,0)) * c * 1000 div n AS BIGINT) AS expected_milli",
          "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) * 1000000 div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT) AS chi2_contrib_micro")
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""WITH cell AS (SELECT l_returnflag, l_linestatus,
                   CAST(count(*) AS BIGINT) AS o
                 FROM lineitem GROUP BY l_returnflag, l_linestatus),
            m AS (SELECT *,
                   CAST(sum(o) OVER (PARTITION BY l_returnflag) AS BIGINT) AS r,
                   CAST(sum(o) OVER (PARTITION BY l_linestatus) AS BIGINT) AS c,
                   CAST(sum(o) OVER () AS BIGINT) AS n
                  FROM cell)
            SELECT l_returnflag, l_linestatus, o AS observed,
                   CAST(CAST(r AS HUGEINT) * c * 1000 // n AS BIGINT) AS expected_milli,
                   CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                     * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                     * 1000000 // (CAST(n AS HUGEINT) * r * c) AS BIGINT)
                     AS chi2_contrib_micro
            FROM m ORDER BY l_returnflag, l_linestatus"""))

  val q83RegrAgg = Q(
    "q83_regr_aggregates",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.selectExpr("l_returnflag",
          "CAST(round(l_quantity) AS BIGINT) AS x",
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS y")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          expr("sum(x * x)").as("sxx"), expr("sum(x * y)").as("sxy"),
          // y² sums overflow BIGINT at scale — exact DECIMAL(38)
          expr("sum(CAST(y AS DECIMAL(19,0)) * y)").as("syy"),
          expr("regr_slope(CAST(y AS DOUBLE), CAST(x AS DOUBLE))").as("rs"),
          expr("regr_intercept(CAST(y AS DOUBLE), CAST(x AS DOUBLE))").as("ri"),
          expr("regr_r2(CAST(y AS DOUBLE), CAST(x AS DOUBLE))").as("rr"))
        .selectExpr("l_returnflag", "n", "sx", "sy", "rs", "ri", "rr",
          "(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) AS slope_e",
          "(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) AS vx",
          "(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy) AS vy",
          "(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) AS cv")
        .selectExpr("l_returnflag", "n AS n_rows", "sx AS sum_x", "sy AS sum_y",
          "abs(rs - slope_e) <= abs(slope_e) * 1e-6 AS slope_ok",
          "abs(ri - (CAST(sy AS DOUBLE) - slope_e * sx) / n) <= abs((CAST(sy AS DOUBLE) - slope_e * sx) / n) * 1e-6 + 1e-6 AS intercept_ok",
          "abs(rr - cv * cv / (vx * vy)) <= 1e-6 AS r2_ok")
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH b AS (SELECT l_returnflag,
                   CAST(round(l_quantity) AS BIGINT) AS x,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                 FROM lineitem),
            a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x*x) AS BIGINT) AS sxx,
                   CAST(sum(x*y) AS BIGINT) AS sxy,
                   sum(CAST(y AS HUGEINT) * y) AS syy,
                   regr_slope(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rs,
                   regr_intercept(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS ri,
                   regr_r2(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rr
                 FROM b GROUP BY l_returnflag),
            e AS (SELECT *,
                   (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                     / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) AS slope_e,
                   (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) AS vx,
                   (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy) AS vy,
                   (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) AS cv
                  FROM a)
            SELECT l_returnflag, n AS n_rows, sx AS sum_x, sy AS sum_y,
                   abs(rs - slope_e) <= abs(slope_e) * 1e-6 AS slope_ok,
                   abs(ri - (CAST(sy AS DOUBLE) - slope_e * sx) / n)
                     <= abs((CAST(sy AS DOUBLE) - slope_e * sx) / n) * 1e-6 + 1e-6 AS intercept_ok,
                   abs(rr - cv * cv / (vx * vy)) <= 1e-6 AS r2_ok
            FROM e ORDER BY l_returnflag"""))
}
