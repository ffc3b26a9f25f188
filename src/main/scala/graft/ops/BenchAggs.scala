package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Qx._

/** The reference's benchmark *aggregation* semantics (SURVEY.md §2.4
  * A2-A6), generalized over the `events` fixture: skip-first mean,
  * all-or-nothing failure guard, grouped means with percent-difference
  * comparison. Reference sites: unified_performance_test.sh:179-208,
  * 470-593; test_warm_performance.sh:64-88; compare_services.sh:115-148.
  */
object BenchAggs extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** A2: per-key mean excluding the first sample (cold-start exclusion).
    * Window rank then filter — one shuffle on the key.
    */
  private val skipFirstMean: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables(s, dir).events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .groupBy(col("user_id"))
      .agg(
        dmean(col("value")).as("warm_mean"),
        count(lit(1)).as("n_warm")
      )
      .orderBy("user_id")
  }

  /** A6: all-or-nothing guard — any `error` event voids the key's mean
    * (NULL, no partial aggregate), mirroring the reference's failed-
    * request policy.
    */
  private val allOrNothingMean: Q = (s, dir) =>
    Tables(s, dir).events
      .groupBy(col("user_id"))
      .agg(
        when(
          max(when(col("event_type") === "error", 1).otherwise(0)) === 1,
          lit(null).cast("double")
        ).otherwise(dmean(col("value"))).as("mean_value"),
        count(lit(1)).as("n")
      )
      .orderBy("user_id")

  /** A3+A5: grouped means by event_type compared to the global mean:
    * ratio and percent-difference, the reference's JVM-vs-Native shape.
    */
  private val groupCompare: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val byType = ev
      .groupBy(col("event_type"))
      .agg(dmean(col("value")).as("grp_mean"), count(lit(1)).as("n"))
    val overall = ev.agg(dmean(col("value")).as("overall_mean"))
    byType
      .crossJoin(overall)
      .select(
        col("event_type"),
        col("grp_mean"),
        col("n"),
        col("overall_mean"),
        (col("grp_mean") / col("overall_mean")).as("ratio"),
        ((lit(1.0) - col("grp_mean") / col("overall_mean")) * 100.0)
          .as("pct_diff")
      )
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = named(
    "bench01_skip_first_mean" -> skipFirstMean,
    "bench02_all_or_nothing" -> allOrNothingMean,
    "bench03_group_compare" -> groupCompare
  )

  val oracle: Map[String, String] = named(
    "bench01_skip_first_mean" ->
      s"""SELECT user_id, ${sqlDmean("value")} AS warm_mean, COUNT(*) AS n_warm
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |        ORDER BY ts ASC, event_id ASC) AS rn FROM events)
         |WHERE rn > 1 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "bench02_all_or_nothing" ->
      s"""SELECT user_id,
         |  CASE WHEN MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1
         |       THEN NULL ELSE ${sqlDmean("value")} END AS mean_value,
         |  COUNT(*) AS n
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "bench03_group_compare" ->
      s"""WITH g AS (
         |  SELECT event_type, ${sqlDmean("value")} AS grp_mean, COUNT(*) AS n
         |  FROM events GROUP BY event_type),
         |o AS (SELECT ${sqlDmean("value")} AS overall_mean FROM events)
         |SELECT event_type, grp_mean, n, overall_mean,
         |  grp_mean / overall_mean AS ratio,
         |  (1.0 - grp_mean / overall_mean) * 100.0 AS pct_diff
         |FROM g CROSS JOIN o ORDER BY event_type""".stripMargin
  )
}
