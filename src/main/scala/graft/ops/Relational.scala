package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Qx._

/** Core relational operator surface (SURVEY.md §2.2-§2.8) expressed as
  * declarative DataFrame plans: Catalyst handles pushdown, pruning,
  * join strategy (dims broadcast under AQE thresholds), and AQE handles
  * skew/coalescing at scale. Every query has a DuckDB oracle in
  * [[oracle]] with identical column names and deterministic ordering.
  */
object Relational extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  // ---- scans + filters + point lookup (S1, P1, P2) ----

  /** P1: point lookup by key — pushed to parquet as `PushedFilters: [EqualTo(c_custkey,42)]`. */
  private val pointLookup: Q = (s, dir) =>
    Tables(s, dir).customer.filter(col("c_custkey") === 42L)

  /** P2/S1: selective scan with projection — only 3 columns reach the scan. */
  private val selectiveScan: Q = (s, dir) =>
    Tables(s, dir).orders
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  // ---- aggregation (A1-A3) ----

  /** A3-style grouped aggregation: the TPC-H Q1 pricing summary shape. */
  private val pricingSummary: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("sum_disc_price"),
        dsum(
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))) *
            (lit(1.0) + col("l_tax")),
          6
        ).as("sum_charge"),
        dmean(col("l_quantity")).as("avg_qty"),
        dmean(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A6-adjacent single-group aggregate: selective revenue sum (TPC-H Q6 shape). */
  private val selectiveRevenue: Q = (s, dir) =>
    Tables(s, dir).lineitem
      .filter(
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24.0
      )
      .agg(
        dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_rows")
      )

  /** A1: per-table counts + distincts (the reference's `count()` surface). */
  private val distinctCounts: Q = (s, dir) =>
    Tables(s, dir).orders.agg(
      count(lit(1)).as("n_orders"),
      countDistinct(col("o_custkey")).as("n_custs"),
      countDistinct(col("o_orderstatus")).as("n_statuses"),
      countDistinct(col("o_orderpriority")).as("n_priorities")
    )

  // ---- joins (broadcast dims; shuffle-hash/SMJ facts) ----

  /** Star join through two broadcastable dims: customers per region. */
  private val customersPerRegion: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal")
      )
      .orderBy("r_name")
  }

  /** Flagship: revenue by nation — fact⋈fact shuffle join + broadcast dims
    * (TPC-H Q5 shape). AQE picks broadcast for nation/region; the
    * orders⋈lineitem join shuffles on orderkey, which is the correct
    * plan at 100 TB (both sides huge, co-partitioned on the join key).
    */
  private val revenueByNation: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-k: top-10 orders by lineitem revenue, deterministic tiebreak. */
  private val topOrders: Q = (s, dir) =>
    Tables(s, dir).lineitem
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)

  /** Semi join (EXISTS): customers with at least one order, per nation. */
  private val semiJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  /** Anti join (NOT EXISTS): customers with no finished order, per segment. */
  private val antiJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer
      .join(
        t.orders.filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"),
        "left_anti"
      )
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal")
      )
      .orderBy("c_mktsegment")
  }

  // ---- set operations (§2.7) ----

  private val setIntersect: Q = (s, dir) => {
    val o = Tables(s, dir).orders
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy("o_custkey")
  }

  private val setExcept: Q = (s, dir) => {
    val o = Tables(s, dir).orders
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy("o_custkey")
  }

  // ---- grouping sets ----

  /** Rollup over (status, priority); NULL grouping cells coalesced to 'ALL'
    * so the oracle compare is null-free. */
  private val rollupAgg: Q = (s, dir) =>
    Tables(s, dir).orders
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price")
      )
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"),
        col("sum_price")
      )
      .orderBy("o_orderstatus", "o_orderpriority")

  // ---- window functions (§2.5) ----

  /** Latest order per customer (row_number, deterministic tiebreak). */
  private val latestOrderPerCustomer: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables(s, dir).orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  /** Running (cumulative) total per customer — exact decimal frame sum. */
  private val runningTotal: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir).orders
      .withColumn(
        "running_total",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType)
      )
      .select("o_custkey", "o_orderkey", "running_total")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** argmin/argmax (A4): cheapest + priciest order with deterministic
    * tiebreak. orderBy().limit(1) compiles to distributed TakeOrdered
    * (per-partition top-1, tiny final merge) — a global row_number
    * window would drag the whole table through one partition.
    */
  private val argMinMax: Q = (s, dir) => {
    val o = Tables(s, dir).orders
    val top = o
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(1)
      .select(lit("max").as("which"), col("o_orderkey"), col("o_totalprice"))
    val bot = o
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      .limit(1)
      .select(lit("min").as("which"), col("o_orderkey"), col("o_totalprice"))
    top.unionAll(bot).orderBy("which")
  }

  // ---- scalar functions (§2.8) ----

  /** F7/F10-style string functions over `part`. */
  private val stringFuncs: Q = (s, dir) =>
    Tables(s, dir).part
      .select(
        col("p_partkey"),
        translate(col("p_name"), " ", "-").as("dashed_name"),
        upper(col("p_brand")).as("brand_uc"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_name")).as("name_len")
      )
      .orderBy("p_partkey")

  /** F8: JSON field extraction with default (events.props is JSON). */
  private val jsonExtract: Q = (s, dir) =>
    Tables(s, dir).events
      .select(
        col("event_id"),
        coalesce(get_json_object(col("props"), "$.k"), lit("N/A")).as("k_raw"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_num")
      )
      .orderBy("event_id")

  /** F5-adjacent date parts: orders per year/month. */
  private val dateParts: Q = (s, dir) =>
    Tables(s, dir).orders
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo")
      )
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("yr", "mo")

  /** P4/P5: when/otherwise classification + coalesce null-guard. */
  private val caseClassify: Q = (s, dir) =>
    Tables(s, dir).orders
      .withColumn(
        "size_class",
        when(col("o_totalprice") > 300000.0, lit("large"))
          .when(col("o_totalprice") > 100000.0, lit("medium"))
          .otherwise(lit("small"))
      )
      .groupBy(col("size_class"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("size_class")

  val queries: Map[String, Q] = named(
    "q01_pricing_summary" -> pricingSummary,
    "q02_point_lookup" -> pointLookup,
    "q03_selective_scan" -> selectiveScan,
    "q04_selective_revenue" -> selectiveRevenue,
    "q05_distinct_counts" -> distinctCounts,
    "q06_customers_per_region" -> customersPerRegion,
    "q07_revenue_by_nation" -> revenueByNation,
    "q08_top_orders" -> topOrders,
    "q09_semi_join" -> semiJoin,
    "q10_anti_join" -> antiJoin,
    "q11_set_intersect" -> setIntersect,
    "q12_set_except" -> setExcept,
    "q13_rollup" -> rollupAgg,
    "q14_latest_order_per_customer" -> latestOrderPerCustomer,
    "q15_running_total" -> runningTotal,
    "q16_argminmax" -> argMinMax,
    "q17_string_funcs" -> stringFuncs,
    "q18_json_extract" -> jsonExtract,
    "q19_date_parts" -> dateParts,
    "q20_case_classify" -> caseClassify
  )

  val oracle: Map[String, String] = named(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity")} AS sum_qty,
         |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
         |  ${sqlDsum("(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)", 6)} AS sum_charge,
         |  ${sqlDmean("l_quantity")} AS avg_qty,
         |  ${sqlDmean("l_extendedprice")} AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_point_lookup" ->
      "SELECT * FROM customer WHERE c_custkey = 42",
    "q03_selective_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 100000.0
        |ORDER BY o_orderkey""".stripMargin,
    "q04_selective_revenue" ->
      s"""SELECT ${sqlDsum("l_extendedprice * l_discount", 4)} AS revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24.0""".stripMargin,
    "q05_distinct_counts" ->
      """SELECT COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_custs,
        |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
        |  COUNT(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders""".stripMargin,
    "q06_customers_per_region" ->
      s"""SELECT r_name, COUNT(*) AS n_customers,
         |  ${sqlDsum("c_acctbal")} AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q07_revenue_by_nation" ->
      s"""SELECT n_name,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q08_top_orders" ->
      s"""SELECT l_orderkey,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
         |FROM lineitem GROUP BY l_orderkey
         |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q09_semi_join" ->
      """SELECT n_name, COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q10_anti_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
         |  ${sqlDsum("c_acctbal")} AS sum_acctbal
         |FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q11_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q12_set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q13_rollup" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
         |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
         |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q14_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q15_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q16_argminmax" ->
      """SELECT * FROM (
        |  SELECT 'max' AS which, o_orderkey, o_totalprice FROM (
        |    SELECT *, ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) rn
        |    FROM orders) WHERE rn = 1
        |  UNION ALL
        |  SELECT 'min' AS which, o_orderkey, o_totalprice FROM (
        |    SELECT *, ROW_NUMBER() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) rn
        |    FROM orders) WHERE rn = 1
        |) ORDER BY which""".stripMargin,
    "q17_string_funcs" ->
      """SELECT p_partkey,
        |  translate(p_name, ' ', '-') AS dashed_name,
        |  upper(p_brand) AS brand_uc,
        |  substring(p_type, 1, 5) AS type_prefix,
        |  length(p_name) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q18_json_extract" ->
      """SELECT event_id,
        |  COALESCE(json_extract_string(props, '$.k'), 'N/A') AS k_raw,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
        |FROM events ORDER BY event_id""".stripMargin,
    "q19_date_parts" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS yr,
         |  CAST(month(o_orderdate) AS INT) AS mo,
         |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "q20_case_classify" ->
      s"""SELECT CASE WHEN o_totalprice > 300000.0 THEN 'large'
         |       WHEN o_totalprice > 100000.0 THEN 'medium'
         |       ELSE 'small' END AS size_class,
         |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1 ORDER BY size_class""".stripMargin
  )
}
