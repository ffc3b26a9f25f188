package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Qx._

/** Fifth batch: grouping sets, window offsets (lag/lead), ntile
  * bucketing, correlated scalar subquery, frame-bounded moving
  * aggregates, and FILTER-style conditional aggregation.
  *
  * Determinism posture (same as the earlier batches): money sums go
  * through exact decimals (Qx.dsum) so results are independent of
  * partition order; every window order and final ORDER BY carries a
  * unique-key tiebreak.
  */
object Relational5 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Explicit GROUPING SETS — finer than cube/rollup (q31/q13): the
    * two single-dimension marginals plus the grand total, no cross
    * product. Same shuffle shape as cube: one expanded aggregate.
    */
  private val groupingSets: Q = (s, dir) =>
    Tables(s, dir).orders
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"),
        col("o_orderpriority")
      )
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"),
        col("sum_price")
      )
      .orderBy("o_orderstatus", "o_orderpriority")

  /** lag/lead offsets over each customer's order history. Per-key
    * windows: the sort is local to each customer partition — no global
    * sort at scale.
    */
  private val lagLead: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(s, dir).orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price")
      )
      .orderBy("o_custkey", "o_orderkey")
  }

  /** ntile quartiles over customer balance. The unpartitioned window
    * is a deliberate single-reducer op at any scale — the 100 TB form
    * is [[ApproxNtile.bucketed]] (sketch cut-points + broadcast
    * bucketing, no global sort), and ApproxNtileSpec pins its bounded
    * disagreement against THIS query: q37 is the exact-tile spec
    * anchor, not the shape to run at scale.
    */
  private val ntileBuckets: Q = (s, dir) => {
    val w = Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables(s, dir).customer
      .select(col("c_custkey"), col("c_acctbal"), ntile(4).over(w).as("tile"))
      .groupBy(col("tile"))
      .agg(
        count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        dsum(col("c_acctbal")).as("sum_bal")
      )
      .orderBy("tile")
  }

  /** Correlated scalar subquery (per-part lineitem count) — Catalyst
    * decorrelates it into a left outer aggregate join; the point is
    * the subquery surface, not a new physical shape.
    */
  private val scalarSubquery: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.part.createOrReplaceTempView("graft_part")
    t.lineitem.createOrReplaceTempView("graft_lineitem")
    s.sql("""SELECT p_partkey, p_brand,
            |  (SELECT COUNT(*) FROM graft_lineitem l
            |   WHERE l.l_partkey = p.p_partkey) AS n_li
            |FROM graft_part p ORDER BY p_partkey""".stripMargin)
  }

  /** Frame-bounded moving mean (last 3 orders per customer): the sum
    * runs through an exact decimal so the sliding accumulation order
    * (incremental in Spark, segment-tree in DuckDB) cannot change the
    * value.
    */
  private val movingAvg: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    Tables(s, dir).orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(w)
          .cast(DoubleType) / count(lit(1)).over(w)).as("moving_avg")
      )
      .orderBy("o_custkey", "o_orderkey")
  }

  /** FILTER-style conditional aggregation: per-status counts/sums of
    * the urgent-priority subset, single scan, map-side partials.
    */
  private val filterAgg: Q = (s, dir) => {
    val urgent = col("o_orderpriority") === "1-URGENT"
    val dec = col("o_totalprice").cast(DecimalType(18, 2))
    Tables(s, dir).orders
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(urgent, 1L).otherwise(0L)).as("n_urgent"),
        sum(when(urgent, dec).otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast(DoubleType)
          .as("urgent_revenue")
      )
      .orderBy("o_orderstatus")
  }

  val queries: Map[String, Q] = named(
    "q35_grouping_sets" -> groupingSets,
    "q36_lag_lead" -> lagLead,
    "q37_ntile" -> ntileBuckets,
    "q38_scalar_subquery" -> scalarSubquery,
    "q39_moving_avg" -> movingAvg,
    "q40_filter_agg" -> filterAgg
  )

  val oracle: Map[String, String] = named(
    "q35_grouping_sets" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
         |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
         |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q36_lag_lead" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  LAG(o_totalprice) OVER w AS prev_price,
        |  LEAD(o_totalprice) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q37_ntile" ->
      s"""WITH t AS (
         |  SELECT c_custkey, c_acctbal,
         |    NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS tile
         |  FROM customer)
         |SELECT tile, COUNT(*) AS n, MIN(c_acctbal) AS min_bal,
         |  MAX(c_acctbal) AS max_bal, ${sqlDsum("c_acctbal")} AS sum_bal
         |FROM t GROUP BY tile ORDER BY tile""".stripMargin,
    "q38_scalar_subquery" ->
      """SELECT p_partkey, p_brand,
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE l.l_partkey = p.p_partkey) AS n_li
        |FROM part p ORDER BY p_partkey""".stripMargin,
    "q39_moving_avg" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS moving_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q40_filter_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_urgent,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_revenue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
