package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Qx._

/** Second relational batch: durations, regex validation, sketches,
  * pivot, correlated subqueries, and an as-of join composed from
  * window functions (Spark has no native as-of operator — SURVEY.md
  * §2.3/§7.3 "compose built-ins first").
  */
object Relational2 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** F1 semantics (now − start): µs elapsed since the user's first
    * event; exact integer arithmetic via epoch µs.
    */
  private val userDuration: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
    Tables(s, dir).events
      .withColumn("first_us", min(unix_micros(col("ts"))).over(w))
      .select(
        col("event_id"),
        col("user_id"),
        (unix_micros(col("ts")) - col("first_us")).as("elapsed_us"),
        // truncate to whole ms before formatting: %.3f of a raw µs/1e6
        // division can land on a rounding tie where Java (HALF_UP) and
        // C-family (half-even) formatters disagree
        format_string(
          "%.3f",
          expr("(unix_micros(ts) - first_us) div 1000").cast("double") / 1000.0
        ).as("elapsed_s")
      )
      .orderBy("event_id")
  }

  /** F10: regex validation + extraction over documents. */
  private val regexValidate: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        col("text").rlike("^[a-z ]+$").as("is_clean_ascii"),
        regexp_extract(col("source"), "([0-9]+)", 1).as("source_num"),
        col("source").rlike("^src[0-9]+$").as("source_valid")
      )
      .orderBy("doc_id")

  /** HLL sketch vs exact: the approx result is engine-specific, so the
    * oracle checks the exact count and the (deterministic) bounded-
    * error assertion rather than the sketch value.
    */
  private val approxDistinct: Q = (s, dir) => {
    val o = Tables(s, dir).orders
    o.agg(
      countDistinct(col("o_custkey")).as("n_exact"),
      approx_count_distinct(col("o_custkey"), 0.02).as("n_approx")
    ).select(
      col("n_exact"),
      (abs(col("n_approx") - col("n_exact")).cast("double") /
        col("n_exact") < 0.05).as("approx_within_5pct")
    )
  }

  /** Pivot: per-user event-type value sums as fixed columns. */
  private val pivotByType: Q = (s, dir) =>
    Tables(s, dir).events
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(dsum(col("value")))
      .na.fill(0.0)
      .orderBy("user_id")

  /** Correlated scalar subquery shape: customers above their nation's
    * mean balance (Catalyst rewrites to an aggregate + join).
    */
  private val aboveNationMean: Q = (s, dir) => {
    val c = Tables(s, dir).customer
    val nationAvg = c
      .groupBy(col("c_nationkey").as("nk"))
      .agg(dmean(col("c_acctbal")).as("nation_avg"))
    c.join(nationAvg, col("c_nationkey") === col("nk"))
      .filter(col("c_acctbal") > col("nation_avg"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_above"))
      .orderBy("c_nationkey")
  }

  /** As-of join, composed: for each purchase event, the user's most
    * recent signup at-or-before it. Union the two streams, one window
    * pass with a last_value-carry-forward — a single shuffle on the
    * key, no range join; this is the scale-correct composition when
    * the engine lacks a native as-of operator.
    */
  private val asofSignup: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val tagged = ev
      .filter(col("event_type").isin("purchase", "signup"))
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        col("event_type"),
        when(col("event_type") === "signup", unix_micros(col("ts")))
          .as("signup_us")
      )
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_signup_us", max(col("signup_us")).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("last_signup_us")
      )
      .orderBy("event_id")
  }

  /** Two-phase salted aggregation over the 5-key (maximally skewed)
    * event_type — bit-identical to the direct group-by thanks to
    * decimal-exact sums; the oracle is the direct form.
    */
  private val saltedAgg: Q = (s, dir) =>
    Salting
      .saltedSumCount(
        Tables(s, dir).events,
        "event_type",
        col("event_id"),
        16,
        Seq(col("value") -> "sum_value"),
        "n"
      )
      .orderBy("event_type")

  val queries: Map[String, Q] = named(
    "q27_salted_agg" -> saltedAgg,
    "q21_user_duration" -> userDuration,
    "q22_regex_validate" -> regexValidate,
    "q23_approx_distinct" -> approxDistinct,
    "q24_pivot" -> pivotByType,
    "q25_above_nation_mean" -> aboveNationMean,
    "q26_asof_signup" -> asofSignup
  )

  val oracle: Map[String, String] = named(
    "q27_salted_agg" ->
      s"""SELECT event_type, ${sqlDsum("value")} AS sum_value, COUNT(*) AS n
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q21_user_duration" ->
      """SELECT event_id, user_id,
        |  epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id)
        |    AS elapsed_us,
        |  printf('%.3f',
        |    CAST((epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
        |         // 1000 AS DOUBLE) / 1000.0) AS elapsed_s
        |FROM events ORDER BY event_id""".stripMargin,
    "q22_regex_validate" ->
      """SELECT doc_id,
        |  regexp_full_match(text, '[a-z ]+') AS is_clean_ascii,
        |  regexp_extract(source, '([0-9]+)', 1) AS source_num,
        |  regexp_full_match(source, 'src[0-9]+') AS source_valid
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q23_approx_distinct" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_exact,
        |  true AS approx_within_5pct
        |FROM orders""".stripMargin,
    "q24_pivot" ->
      s"""SELECT user_id,
         |  COALESCE(${sqlDsum("CASE WHEN event_type='click' THEN value END")}, 0.0) AS click,
         |  COALESCE(${sqlDsum("CASE WHEN event_type='error' THEN value END")}, 0.0) AS error,
         |  COALESCE(${sqlDsum("CASE WHEN event_type='purchase' THEN value END")}, 0.0) AS purchase,
         |  COALESCE(${sqlDsum("CASE WHEN event_type='signup' THEN value END")}, 0.0) AS signup,
         |  COALESCE(${sqlDsum("CASE WHEN event_type='view' THEN value END")}, 0.0) AS view
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q25_above_nation_mean" ->
      s"""WITH na AS (SELECT c_nationkey AS nk,
         |              ${sqlDmean("c_acctbal")} AS nation_avg
         |            FROM customer GROUP BY c_nationkey)
         |SELECT c_nationkey, COUNT(*) AS n_above
         |FROM customer JOIN na ON c_nationkey = nk
         |WHERE c_acctbal > nation_avg
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q26_asof_signup" ->
      """SELECT event_id, user_id, epoch_us(ts) AS purchase_us,
        |  max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
        |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_signup_us
        |FROM events
        |WHERE event_type IN ('purchase', 'signup')
        |QUALIFY event_type = 'purchase'
        |ORDER BY event_id""".stripMargin
  )
}
