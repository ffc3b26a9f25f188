package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Qx._

/** Fourth batch: cube grouping sets, order-pinned string aggregation,
  * percentiles, and moment statistics via exact decimal sums (the
  * order-independent formulation — built-in stddev/corr accumulate
  * doubles in partition order and are not reproducible across
  * partitionings; these are).
  */
object Relational4 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  private val cubeAgg: Q = (s, dir) =>
    Tables(s, dir).orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"),
        col("sum_price")
      )
      .orderBy("o_orderstatus", "o_orderpriority")

  /** String aggregation with a pinned order: collect_list is
    * partition-order-nondeterministic, so sort before joining.
    */
  private val stringAgg: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.nation
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        array_join(sort_array(collect_list(col("n_name"))), ",")
          .as("nations"),
        count(lit(1)).as("n")
      )
      .orderBy("r_name")
  }

  /** Exact percentiles (Spark `percentile` = classic linear
    * interpolation over the sorted multiset, same definition as
    * DuckDB's quantile_cont).
    */
  private val percentiles: Q = (s, dir) =>
    Tables(s, dir).orders
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.95)").as("p95"),
        count(lit(1)).as("n")
      )
      .orderBy("o_orderstatus")

  /** Moment statistics from exact decimal sums: variance, stddev, and
    * Pearson correlation derived from Σx, Σx², Σxy (decimal-exact,
    * order-independent), combined in double with a fixed expression
    * tree — bit-reproducible on any partitioning, unlike the
    * accumulator-based built-ins.
    */
  private val momentStats: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
    // tight precisions: qty ≤ 99999.99 (9,2), price ≤ 1e10 (12,2);
    // products stay exact and under both engines' 38-digit cap
    val dq = col("l_quantity").cast(DecimalType(9, 2))
    val dp = col("l_extendedprice").cast(DecimalType(12, 2))
    val agged = li
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(dq).cast(DoubleType).as("sx"),
        sum(dq * dq).cast(DoubleType).as("sxx"),
        sum(dp).cast(DoubleType).as("sy"),
        sum(dp * dp).cast(DoubleType).as("syy"),
        sum(dq * dp).cast(DoubleType).as("sxy")
      )
    // 10-decimal grid (Qx.floorScale): the decimal→double casts of
    // the big squared sums double-round differently across engines
    // once the unscaled value exceeds 2^53 (int128→double→/10^s vs
    // one correctly-rounded BigDecimal conversion), leaving ±1 ulp in
    // the derived stats — the shared grid absorbs it.
    def r10(c: org.apache.spark.sql.Column) = floorScale(c, 10)
    agged
      .select(
        col("l_returnflag"),
        col("n"),
        r10(
          (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)
        ).as("var_qty"),
        r10(
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
        ).as("stddev_qty"),
        r10(
          (col("sxy") - col("sx") * col("sy") / col("n")) /
            (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
              sqrt(col("syy") - col("sy") * col("sy") / col("n")))
        ).as("corr_qty_price")
      )
      .orderBy("l_returnflag")
  }

  val queries: Map[String, Q] = named(
    "q31_cube" -> cubeAgg,
    "q32_string_agg" -> stringAgg,
    "q33_percentiles" -> percentiles,
    "q34_moment_stats" -> momentStats
  )

  val oracle: Map[String, String] = named(
    "q31_cube" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
         |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
         |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q32_string_agg" ->
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  COUNT(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q33_percentiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.95) AS p95,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q34_moment_stats" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  floor((sxx - sx * sx / n) / (n - 1) * 1e10 + 0.5) / 1e10
        |    AS var_qty,
        |  floor(sqrt((sxx - sx * sx / n) / (n - 1)) * 1e10 + 0.5) / 1e10
        |    AS stddev_qty,
        |  floor((sxy - sx * sy / n) /
        |    (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))
        |    * 1e10 + 0.5) / 1e10
        |    AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin
  )
}
