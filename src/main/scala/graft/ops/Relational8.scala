package graft.ops

import graft.Tables
import graft.ops.Qx._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Eighth batch: relative-rank window functions and the
  * bucket-expansion interval-lookup join — the non-equi→equi rewrite
  * that keeps dimension-band joins off nested-loop plans at scale.
  */
object Relational8 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** q72: relative-rank window family — dense_rank, percent_rank,
    * cume_dist over customer balance within nation. The ORDER BY
    * carries a c_custkey tiebreak so every rank is total-order
    * deterministic (acctbal has 2 fractional digits — ties exist);
    * percent_rank/cume_dist are then small-integer ratios computed
    * identically by both engines, so the double compare is exact.
    * One shuffle on the nation key; the per-partition sort is the
    * whole cost — the same shape at any scale.
    */
  private val rankDist: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables(s, dir).customer
      .select(
        col("c_custkey"),
        col("c_nationkey"),
        col("c_acctbal"),
        dense_rank().over(w).as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist")
      )
      .orderBy("c_custkey")
  }

  /** q73: interval-lookup join — classify each order into a
    * NON-uniform price band from a bands dimension. The naive form is
    * a non-equi join (`lo <= price < hi`), which Spark can only run
    * as a nested-loop — harmless at 5 bands, quadratic death once the
    * dimension grows (IP-geo ranges, tax brackets, SLA tiers run to
    * millions of intervals). The scale-safe rewrite: pick a coarse
    * bucket width W, expand each band to the W-buckets it overlaps
    * (`sequence`), and equi-join facts on `floor(price / W)` with a
    * residual range filter. The expansion factor is
    * span/W per band — bounded and chosen at build time — and the
    * join is a plain broadcast HASH join (plan-asserted in
    * IntervalLookupSpec: zero BroadcastNestedLoopJoin), probe-side
    * map-only at any fact count.
    *
    * Orders at or beyond the domain cap (none in the fixtures'
    * [850, 550k] totalprice range) fall outside every band on both
    * engines — excluded identically, nothing silently misclassified.
    */
  private val bucketW = 1000L
  private[ops] val bands: Seq[(String, Long, Long)] = Seq(
    ("micro", 0L, 1000L),
    ("small", 1000L, 5000L),
    ("mid", 5000L, 20000L),
    ("large", 20000L, 100000L),
    ("jumbo", 100000L, 600000L)
  )

  private val intervalLookup: Q = (s, dir) => {
    import s.implicits._
    val expanded = bands
      .toDF("band", "lo", "hi")
      .withColumn(
        "bucket",
        explode(
          sequence(
            expr(s"lo div $bucketW"),
            expr(s"(hi - 1) div $bucketW")
          )
        )
      )
    Tables(s, dir).orders
      .select(
        col("o_totalprice"),
        floor(col("o_totalprice") / bucketW).cast("long").as("bucket")
      )
      .join(broadcast(expanded), Seq("bucket"))
      .filter(
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi")
      )
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total")
      )
      .orderBy("band")
  }

  /** q74: exact interpolated median (`percentile_cont(0.5)`
    * semantics) per event type — the companion to q69/q71's
    * selection (lower) median: odd n takes the middle value, even n
    * the mean of the two middles. Implemented by SELECTION, not an
    * interpolating aggregate: one ranked window pass keeps only the
    * (n+1)/2-th and (n+2)/2-th values per group (identical for odd
    * n) and a tiny aggregate averages them, so the division is the
    * only floating-point op and both engines compute it on identical
    * operands. One window shuffle + one agg that reuses the group
    * partitioning — q37/q69's scale posture; the approx companion at
    * 100 TB is ApproxNtile's sketch cut-points.
    */
  private val medianCont: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val wn = Window.partitionBy(col("event_type"))
    Tables(s, dir).events
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("vr", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(
        col("vr") === expr("(n + 1) div 2") ||
          col("vr") === expr("(n + 2) div 2")
      )
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        ((min(col("value")) + max(col("value"))) / 2).as("median_cont")
      )
      .orderBy("event_type")
  }

  /** q75: population stddev + 3σ outlier flags per event type — the
    * parametric sibling of q71's robust median/MAD rule. Moments go
    * through exact decimals (q63's discipline: cast to DECIMAL(9,2)
    * FIRST so v·v is exact decimal arithmetic, order-independent
    * BIGINT-backed sums), the variance is one fixed double
    * expression, and sqrt is IEEE-754 correctly-rounded on every
    * engine — so even the σ compare is exact. The (μ, σ) row set is
    * K event types — broadcast back for a map-side flag pass, one
    * aggregation each side, the q71 shape.
    */
  private val stddevOutliers: Q = (s, dir) => {
    val ev = Tables(s, dir).events.select(col("event_type"), col("value"))
    val x = col("value").cast(DecimalType(9, 2))
    val mom = ev
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sx"),
        sum(x * x).cast(DoubleType).as("sxx")
      )
      .select(
        col("event_type"),
        col("n"),
        (col("sx") / col("n")).as("mean"),
        sqrt(
          col("sxx") / col("n") -
            (col("sx") / col("n")) * (col("sx") / col("n"))
        ).as("sd")
      )
    ev.join(broadcast(mom), Seq("event_type"))
      .groupBy(col("event_type"), col("n"), col("mean"), col("sd"))
      .agg(
        sum(
          when(abs(col("value") - col("mean")) > lit(3.0) * col("sd"), 1L)
            .otherwise(0L)
        ).as("n_outliers")
      )
      .select(col("event_type"), col("n"), col("mean"), col("sd"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = named(
    "q72_rank_dist" -> rankDist,
    "q73_interval_lookup" -> intervalLookup,
    "q74_median_cont" -> medianCont,
    "q75_stddev_outliers" -> stddevOutliers
  )

  private val bandsSql: String = bands
    .map { case (b, lo, hi) => s"('$b', $lo, $hi)" }
    .mkString(", ")

  val oracle: Map[String, String] = named(
    "q72_rank_dist" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  dense_rank() OVER w AS drank,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,
    // the oracle states the SPEC (the plain non-equi interval join);
    // the Spark side's bucket-expansion equi-join must land on
    // identical band totals
    "q73_interval_lookup" ->
      s"""WITH bands(band, lo, hi) AS (VALUES $bandsSql)
         |SELECT band, COUNT(*) AS n,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders JOIN bands
         |  ON o_totalprice >= lo AND o_totalprice < hi
         |GROUP BY band ORDER BY band""".stripMargin,
    "q74_median_cont" ->
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC, event_id ASC) AS vr,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  (MIN(value) + MAX(value)) / 2 AS median_cont
        |FROM r WHERE vr = (n + 1) // 2 OR vr = (n + 2) // 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q75_stddev_outliers" ->
      """WITH m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(9,2))
        |           * CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type),
        |s AS (SELECT event_type, n, sx / n AS mean,
        |        sqrt(sxx / n - (sx / n) * (sx / n)) AS sd
        |      FROM m)
        |SELECT e.event_type, s.n, s.mean, s.sd,
        |  CAST(SUM(CASE WHEN abs(e.value - s.mean) > 3.0 * s.sd
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN s USING (event_type)
        |GROUP BY e.event_type, s.n, s.mean, s.sd
        |ORDER BY e.event_type""".stripMargin
  )
}
