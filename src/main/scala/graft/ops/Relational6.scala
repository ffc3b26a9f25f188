package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Qx._

/** Sixth batch: the rank-function family, multiset (ALL) set
  * operations, unpivot/melt, regexp_extract_all, and date arithmetic.
  */
object Relational6 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** rank / dense_rank / percent_rank / cume_dist in one per-nation
    * window — the doubles are exact ratios of the same integers on
    * both engines, so they hash identically.
    */
  private val rankFamily: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables(s, dir).customer
      .select(
        col("c_nationkey"),
        col("c_custkey"),
        col("c_acctbal"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist")
      )
      .orderBy("c_nationkey", "rnk", "c_custkey")
  }

  /** Multiset EXCEPT ALL: order custkeys minus one occurrence per
    * existing customer — i.e. each customer's (order_count − 1)
    * surplus. Folded to counts for a compact deterministic result.
    */
  private val exceptAll: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.orders
      .select(col("o_custkey").as("custkey"))
      .exceptAll(t.customer.select(col("c_custkey").as("custkey")))
      .groupBy(col("custkey"))
      .agg(count(lit(1)).as("n_surplus"))
      .orderBy("custkey")
  }

  /** Multiset INTERSECT ALL of high-value and recent order keys —
    * each key keeps min(multiplicity) occurrences. */
  private val intersectAll: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
    li.filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"))
      .intersectAll(
        li.filter(col("l_discount") >= 0.05).select(col("l_orderkey"))
      )
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy("l_orderkey")
  }

  /** Unpivot (wide → long): per-returnflag measure matrix melted to
    * (flag, measure, value) rows. The oracle mirrors with UNION ALL —
    * the portable definition of unpivot.
    */
  private val unpivotMeasures: Q = (s, dir) => {
    val wide = Tables(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_discount")).as("sum_disc")
      )
    wide
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure",
        "value"
      )
      .orderBy("l_returnflag", "measure")
  }

  /** regexp_extract_all over document text (all ≥6-letter words),
    * joined to a string so the array compares portably. */
  private val regexAll: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        array_join(
          regexp_extract_all(col("text"), lit("[A-Za-z]{6,}"), lit(0)),
          ","
        ).as("long_words"),
        when(col("text").isNotNull,
          size(regexp_extract_all(col("text"), lit("[A-Za-z]{6,}"), lit(0)))
        ).as("n_long")
      )
      .orderBy("doc_id")

  /** Date arithmetic: +90 days, day-difference from an anchor, month
    * truncation — DATE-typed on both engines. */
  private val dateArith: Q = (s, dir) =>
    Tables(s, dir).orders
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"),
        date_add(col("o_orderdate").cast("date"), 90).as("deadline"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .as("days_since_anchor"),
        date_trunc("month", col("o_orderdate")).as("order_month")
      )
      .orderBy("o_orderkey")

  /** The same point-in-time semantics as q26, but through the native
    * [[graft.plans.AsOfJoin]] operator (logical node → strategy →
    * sorted-merge exec) instead of the union+window composition —
    * checked against the identical oracle.
    */
  private val asofCustom: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    graft.plans.AsOfJoin
      .joinAsOf(purchases, signups, Seq("user_id"), Seq("s_user"), "ts", "s_ts")
      .select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        unix_micros(col("s_ts")).as("last_signup_us")
      )
      .orderBy("event_id")
  }

  /** Calendar-spine gap fill: a generated day sequence cross-joined
    * with the event-type dimension, left-joined to daily counts with
    * zero fill — the canonical time-series densification. The spine is
    * generated, not scanned: O(days × types) rows from literals.
    */
  private val dateSpine: Q = (s, dir) => {
    val ev = Tables(s, dir).events
      .select(
        col("event_type"),
        col("ts").cast("date").as("day"),
        col("value")
      )
    val bounds = ev.agg(
      min(col("day")).as("d0"),
      max(col("day")).as("d1")
    )
    val days = bounds
      .select(
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day")
      )
    val types = ev.select(col("event_type")).distinct()
    val daily = ev
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
    days
      .crossJoin(broadcast(types))
      .join(daily, Seq("event_type", "day"), "left")
      .select(
        col("day"),
        col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value")
      )
      .orderBy("day", "event_type")
  }

  /** first_value / last_value with explicit frames over each
    * customer's order history (full-partition frame for last_value —
    * the default growing frame is the classic silent wrong answer).
    */
  private val firstLast: Q = (s, dir) => {
    val base = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full =
      base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir).orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        first_value(col("o_totalprice")).over(full).as("first_price"),
        last_value(col("o_totalprice")).over(full).as("last_price"),
        count(lit(1)).over(full).as("n_orders")
      )
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Forward as-of through the native operator: for each signup, the
    * user's first purchase at-or-after it (conversion lag lookup).
    */
  private val asofForward: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val signups = ev
      .filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    graft.plans.AsOfJoin
      .joinAsOf(
        signups,
        purchases,
        Seq("user_id"),
        Seq("p_user"),
        "ts",
        "p_ts",
        forward = true
      )
      .select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("signup_us"),
        unix_micros(col("p_ts")).as("next_purchase_us")
      )
      .orderBy("event_id")
  }

  /** Nearest as-of through the native operator (pandas
    * `merge_asof(direction='nearest')`): each signup matched to the
    * user's closest purchase in EITHER direction by |Δt|, ties to the
    * backward side — "which transaction is this signup really about".
    * Same single merge pass and O(1) state as backward/forward (the
    * two candidates are the buffered row and the stream head the
    * directional modes already hold); long-µs time columns per the
    * integral-distance contract.
    */
  private val asofNearest: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val signups = ev
      .filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("s_us"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"))
    graft.plans.AsOfJoin
      .joinAsOf(
        signups,
        purchases,
        Seq("user_id"),
        Seq("p_user"),
        "s_us",
        "p_us",
        nearest = true
      )
      .select(
        col("event_id"),
        col("user_id"),
        col("s_us").as("signup_us"),
        col("p_us").as("nearest_purchase_us"),
        abs(col("p_us") - col("s_us")).as("gap_us")
      )
      .orderBy("event_id")
  }

  /** percentile_approx sanity-checked against the exact percentile —
    * the sketch that replaces q33's per-group sort at 100 TB; the
    * oracle pins the exact values and the within-tolerance flags.
    */
  private val approxPercentile: Q = (s, dir) =>
    Tables(s, dir).orders
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50_exact"),
        expr("percentile_approx(o_totalprice, 0.5, 10000)").as("p50_approx"),
        count(lit(1)).as("n")
      )
      .select(
        col("o_orderstatus"),
        col("p50_exact"),
        (abs(col("p50_approx") - col("p50_exact")) <=
          col("p50_exact") * 0.05).as("approx_within_5pct"),
        col("n")
      )
      .orderBy("o_orderstatus")

  /** As-of with tolerance + inner semantics (the pandas/Polars
    * `merge_asof(tolerance=..., direction='backward')` shape): each
    * purchase matched to the user's last signup no more than 30 min
    * before it; purchases with no signup in-window are DROPPED
    * (inner), not null-padded. Long µs time columns exercise the
    * operator's integral-tolerance path.
    */
  private val asofTolerance: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("p_us"),
        col("value")
      )
    val signups = ev
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), unix_micros(col("ts")).as("s_us"))
    graft.plans.AsOfJoin
      .joinAsOf(
        purchases,
        signups,
        Seq("user_id"),
        Seq("s_user"),
        "p_us",
        "s_us",
        tolerance = Some(1800L * 1000000L),
        inner = true
      )
      .select(
        col("event_id"),
        col("user_id"),
        col("p_us").as("purchase_us"),
        col("s_us").as("signup_us"),
        col("value")
      )
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = named(
    "q52_asof_tolerance" -> asofTolerance,
    "q50_asof_forward" -> asofForward,
    "q81_asof_nearest" -> asofNearest,
    "q51_percentile_approx" -> approxPercentile,
    "q48_date_spine" -> dateSpine,
    "q49_first_last" -> firstLast,
    "q47_asof_custom" -> asofCustom,
    "q41_rank_family" -> rankFamily,
    "q42_except_all" -> exceptAll,
    "q43_intersect_all" -> intersectAll,
    "q44_unpivot" -> unpivotMeasures,
    "q45_regexp_extract_all" -> regexAll,
    "q46_date_arith" -> dateArith
  )

  val oracle: Map[String, String] = named(
    // inner as-of within tolerance: max signup in [p-30min, p] per
    // purchase; no-candidate purchases drop out of the inner join
    "q52_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
        |  max(epoch_us(s.ts)) AS signup_us, p.value
        |FROM events p JOIN events s ON s.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND s.event_type = 'signup'
        |  AND epoch_us(s.ts) <= epoch_us(p.ts)
        |  AND epoch_us(p.ts) - epoch_us(s.ts) <= 1800 * 1000000
        |GROUP BY p.event_id, p.user_id, epoch_us(p.ts), p.value
        |ORDER BY 1""".stripMargin,
    // nearest = pick the closer of the backward max and forward min,
    // ties backward; a dist-0 purchase sorting after its signup is
    // attributed forward here and backward natively — same time VALUE
    // either way, and only times are output (see operator docstring)
    "q81_asof_nearest" ->
      """WITH w AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |    max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS back_us,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS fwd_us
        |  FROM events
        |  WHERE event_type IN ('purchase', 'signup'))
        |SELECT event_id, user_id, us AS signup_us,
        |  CASE WHEN back_us IS NULL THEN fwd_us
        |       WHEN fwd_us IS NULL THEN back_us
        |       WHEN us - back_us <= fwd_us - us THEN back_us
        |       ELSE fwd_us END AS nearest_purchase_us,
        |  abs(CASE WHEN back_us IS NULL THEN fwd_us
        |           WHEN fwd_us IS NULL THEN back_us
        |           WHEN us - back_us <= fwd_us - us THEN back_us
        |           ELSE fwd_us END - us) AS gap_us
        |FROM w
        |WHERE event_type = 'signup'
        |ORDER BY event_id""".stripMargin,
    "q50_asof_forward" ->
      """SELECT event_id, user_id, epoch_us(ts) AS signup_us,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS next_purchase_us
        |FROM events
        |WHERE event_type IN ('purchase', 'signup')
        |QUALIFY event_type = 'signup'
        |ORDER BY event_id""".stripMargin,
    "q51_percentile_approx" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50_exact,
        |  true AS approx_within_5pct,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q48_date_spine" ->
      s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, value
         |            FROM events),
         |spine AS (
         |  SELECT unnest(generate_series(
         |    (SELECT min(day) FROM ev), (SELECT max(day) FROM ev),
         |    INTERVAL 1 DAY)) AS day),
         |daily AS (SELECT event_type, day, COUNT(*) AS cnt,
         |            ${sqlDsum("value")} AS sum_value
         |          FROM ev GROUP BY 1, 2)
         |SELECT CAST(s.day AS DATE) AS day, t.event_type AS event_type,
         |  COALESCE(d.cnt, 0) AS n,
         |  COALESCE(d.sum_value, 0.0) AS sum_value
         |FROM spine s
         |CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
         |LEFT JOIN daily d
         |  ON d.event_type = t.event_type AND d.day = CAST(s.day AS DATE)
         |ORDER BY 1, 2""".stripMargin,
    "q49_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  COUNT(*) OVER w AS n_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // same point-in-time truth as q26, per-user last signup ≤ purchase
    "q47_asof_custom" ->
      """SELECT event_id, user_id, epoch_us(ts) AS purchase_us,
        |  max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
        |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_signup_us
        |FROM events
        |WHERE event_type IN ('purchase', 'signup')
        |QUALIFY event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q41_rank_family" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |  CAST(RANK() OVER w AS INT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        |  PERCENT_RANK() OVER w AS prnk,
        |  CUME_DIST() OVER w AS cdist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_nationkey, rnk, c_custkey""".stripMargin,
    "q42_except_all" ->
      """WITH d AS (
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT ALL
        |  SELECT c_custkey AS custkey FROM customer)
        |SELECT custkey, COUNT(*) AS n_surplus
        |FROM d GROUP BY custkey ORDER BY custkey""".stripMargin,
    "q43_intersect_all" ->
      """WITH d AS (
        |  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45
        |  INTERSECT ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_discount >= 0.05)
        |SELECT l_orderkey, COUNT(*) AS n
        |FROM d GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q44_unpivot" ->
      s"""WITH w AS (
         |  SELECT l_returnflag,
         |    ${sqlDsum("l_quantity")} AS sum_qty,
         |    ${sqlDsum("l_extendedprice")} AS sum_price,
         |    ${sqlDsum("l_discount")} AS sum_disc
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, measure, value FROM (
         |  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
         |  UNION ALL
         |  SELECT l_returnflag, 'sum_price', sum_price FROM w
         |  UNION ALL
         |  SELECT l_returnflag, 'sum_disc', sum_disc FROM w)
         |ORDER BY l_returnflag, measure""".stripMargin,
    "q45_regexp_extract_all" ->
      """SELECT doc_id,
        |  COALESCE(array_to_string(regexp_extract_all(text, '[A-Za-z]{6,}'), ','), '')
        |    AS long_words,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]{6,}')) AS INT) AS n_long
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q46_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(o_orderdate AS DATE) + 90 AS deadline,
        |  CAST(date_diff('day', DATE '1995-01-01',
        |    CAST(o_orderdate AS DATE)) AS INT) AS days_since_anchor,
        |  date_trunc('month', o_orderdate) AS order_month
        |FROM orders ORDER BY o_orderkey""".stripMargin
  )
}
