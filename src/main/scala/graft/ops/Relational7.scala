package graft.ops

import graft.Tables
import graft.ops.Qx._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distribution-shape operators: fixed-bin histograms and least-squares
  * trend fits — the profiling step before choosing partition widths,
  * salting factors, or curriculum bands over a new corpus.
  */
object Relational7 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** q62: fixed-bin histogram of order totals via `width_bucket`.
    *
    * Bin bounds are compile-time constants, NOT a data-dependent
    * min/max probe: at 100 TB a min/max pre-scan is a full extra pass
    * (column stats make it cheap, but the bounds then shift with the
    * data and two runs aren't comparable). Fixed bounds make the
    * histogram mergeable across corpus slices — each slice's counts
    * add. Out-of-range rows land in the standard under/overflow
    * buckets (0 and nb+1), so nothing is silently dropped.
    * One hash aggregation on an integer key; counts are integer-exact.
    */
  private val lo = 0.0
  private val hi = 600000.0
  private val nb = 12
  private val histogram: Q = (s, dir) => {
    val width = (hi - lo) / nb
    Tables(s, dir).orders
      .select(
        width_bucket(col("o_totalprice"), lit(lo), lit(hi), lit(nb))
          .as("bucket")
      )
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      // bucket 1 spans [lo, lo+width); publish the edges so the result
      // is self-describing (underflow/overflow rows get null edges)
      .withColumn(
        "bin_lo",
        when(col("bucket").between(1, nb),
          floorScale(lit(lo) + (col("bucket") - 1) * lit(width), 2))
      )
      .withColumn(
        "bin_hi",
        when(col("bucket").between(1, nb),
          floorScale(lit(lo) + col("bucket") * lit(width), 2))
      )
      .orderBy("bucket")
  }

  /** q63: per-group least-squares fit (slope, intercept, R²) of
    * extendedprice on quantity — `regr_slope`-family semantics
    * computed from DECIMAL-exact sufficient statistics (n, Σx, Σy,
    * Σxx, Σyy, Σxy) so the result is order-independent and engine-
    * reproducible (the fp builtins aggregate doubles in partition
    * order — see Qx). One aggregation shuffle on the group key; the
    * six moments ride one pass, the fit is per-group scalar
    * arithmetic. The same shape fits scaling-law curves over corpus
    * stats at 100 TB: moments are mergeable, so slices combine.
    */
  private val regression: Q = (s, dir) => {
    val x = col("l_quantity").cast(DecimalType(9, 2))
    val y = col("l_extendedprice").cast(DecimalType(12, 2))
    Tables(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sx"),
        sum(y).cast(DoubleType).as("sy"),
        sum(x * x).cast(DoubleType).as("sxx"),
        sum(y * y).cast(DoubleType).as("syy"),
        sum(x * y).cast(DoubleType).as("sxy")
      )
      .select(
        col("l_returnflag") +: col("n") +: {
          def r10(c: org.apache.spark.sql.Column) = floorScale(c, 10)
          Seq(
            r10(
              (col("sxy") - col("sx") * col("sy") / col("n")) /
                (col("sxx") - col("sx") * col("sx") / col("n"))
            ).as("slope"),
            r10(
              (col("sy") - ((col("sxy") - col("sx") * col("sy") / col("n")) /
                (col("sxx") - col("sx") * col("sx") / col("n"))) * col("sx")) /
                col("n")
            ).as("intercept"),
            r10(
              ((col("sxy") - col("sx") * col("sy") / col("n")) *
                (col("sxy") - col("sx") * col("sy") / col("n"))) /
                ((col("sxx") - col("sx") * col("sx") / col("n")) *
                  (col("syy") - col("sy") * col("sy") / col("n")))
            ).as("r2")
          )
        }: _*
      )
      .orderBy("l_returnflag")
  }

  /** q64: ordered conversion funnel view → click → purchase. A user
    * advances a stage only with a LATER event of the next type (strict
    * event-time order), the standard product-analytics funnel.
    *
    * Three stage aggregates, each a filter → groupBy(user_id) min —
    * the event-type filters push to the scan, every join key is the
    * dense user_id, and each stage's frame only shrinks (click joins
    * view's survivors, purchase joins click's). The three one-row
    * counts meet in broadcast crossJoins — no stage ever re-scans
    * events, so the whole funnel is three pushed-filter passes over
    * the fact table at any scale.
    */
  private val funnel: Q = (s, dir) => {
    val e = Tables(s, dir).events
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("view_ts"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("view_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("click_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("click_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("purchase_ts"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase"))))
      .select(
        col("n_view"),
        col("n_click"),
        col("n_purchase"),
        floorScale(col("n_click").cast("double") / col("n_view"), 10)
          .as("click_rate"),
        floorScale(col("n_purchase").cast("double") / col("n_click"), 10)
          .as("purchase_rate")
      )
  }

  /** q65: weekly cohort retention — users grouped by the week of
    * their first event; each cell counts how many of a cohort's users
    * were active `week_offset` weeks later. The classic triangular
    * retention matrix.
    *
    * Two passes over the fact table: first-event per user (groupBy on
    * the dense user_id), then a join back and a distinct on (cohort,
    * offset, user) before the cell count — the distinct and the count
    * share one shuffle (partial aggregation dedups map-side). Week
    * arithmetic is integer throughout: both endpoints are truncated
    * to week starts, so the day difference is an exact multiple of 7
    * and `div 7` is engine-stable.
    */
  private val retention: Q = (s, dir) => {
    val e = Tables(s, dir).events
    val first = e
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
    e.join(first, "user_id")
      .select(
        col("user_id"),
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"),
        expr(
          "datediff(CAST(date_trunc('week', ts) AS DATE), " +
            "CAST(date_trunc('week', first_ts) AS DATE)) div 7"
        ).cast("long").as("week_offset")
      )
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q66: local-supplier volume (the TPC-H Q5 shape) — the deepest
    * star join on the surface: customer ⋈ orders ⋈ lineitem ⋈
    * supplier with the LOCAL constraint `s_nationkey = c_nationkey`
    * riding the supplier join, nation/region broadcast, a one-year
    * date slice pushed to the orders scan. The optimizer workout:
    * join order, broadcast choice, and filter placement are all
    * Catalyst's — the declared plan has no hints beyond the two dim
    * broadcasts, and at scale the fact joins hash on their dense keys
    * while the region cut prunes via the broadcast.
    */
  private val localSupplierVolume: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")
      )
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(
        t.supplier,
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey")
      )
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q67: 2-D skyline (Pareto front) of orders — keep an order iff no
    * other order is strictly better on BOTH dimensions (earlier
    * `o_orderdate` AND higher `o_totalprice`). The textbook form is a
    * quadratic NOT EXISTS self-join; this is the sort-based linear
    * form: collapse to one max-price row per distinct date (dense-key
    * agg), running max over the date order on that tiny frame, join
    * back — a row survives iff its price exceeds every earlier date's
    * best. Skyline is DISTRIBUTIVE (skyline(A ∪ B) ⊆ skyline(A) ∪
    * skyline(B)), so at 100 TB each partition computes its local front
    * first and only fronts merge — the same shape as this plan with a
    * pre-aggregation, never the cross join.
    */
  private val skyline: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val daily = o
      .groupBy(col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("__dmax"))
    val prior = Window
      .orderBy(col("o_orderdate"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bestBefore = daily
      .withColumn("__best_before", max(col("__dmax")).over(prior))
      .select(col("o_orderdate"), col("__best_before"))
    o.join(broadcast(bestBefore), "o_orderdate")
      .filter(
        col("__best_before").isNull ||
          col("o_totalprice") > col("__best_before")
      )
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy("o_orderdate", "o_orderkey")
  }

  /** q68: event-type transition matrix (first-order Markov counts) —
    * for each user's event sequence in (ts, event_id) order, count
    * every adjacent (from → to) pair and its row-normalized
    * probability. The sequence-mining primitive behind path analysis
    * and next-action models.
    *
    * One window pass partitioned by the dense user_id (lead(1) is
    * O(1) state per row), one hash agg on the tiny (from, to) key
    * space, and the normalizing sum is a window over ≤ |types| rows
    * per partition. The probability is one division of exact counts,
    * rounded — engine-stable.
    */
  private val transitions: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val seq = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = Tables(s, dir).events
      .select(
        col("user_id"),
        col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(seq).as("to_type")
      )
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy(col("from_type"))
    counts
      .withColumn(
        "prob",
        floorScale(col("n").cast("double") / sum(col("n")).over(byFrom), 10)
      )
      .orderBy("from_type", "to_type")
  }

  /** q69: mergeable hash-sample median — the engine-exact form of an
    * approximate quantile sketch. The sample is each group's SAMPLE_K
    * rows with the SMALLEST portable hash of their id (bottom-k
    * priority sampling): a pure function of the data, so it is
    * order/partitioning-independent AND mergeable — the bottom-k of a
    * union is the bottom-k of the per-slice bottom-k's, which is what
    * lets every executor keep an O(k) heap and a single reduce
    * produce the corpus sample (same mergeability argument as q57's
    * HLL, here for quantiles). The estimate is the sample's LOWER
    * median by selection (rank (n+1)÷2 in (value, id) order) — never
    * interpolation, whose (a+b)/2 vs 0.5a+0.5b float forms differ
    * across engines in the last ulp.
    *
    * The exact median (same selection rule over the full group) rides
    * along as the spec anchor, exactly like q37's exact ntile next to
    * ApproxNtile: its per-group global sort is the thing the sketch
    * replaces at 100 TB.
    */
  private val SAMPLE_K = 101
  private val hashMedian: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, dir).events
      .select(col("event_type"), col("event_id"), col("value"))
    val wH = Window
      .partitionBy(col("event_type"))
      .orderBy(
        graft.functions.PortableHash.h32(col("event_id").cast("string")).asc,
        col("event_id").asc
      )
    val wV = Window
      .partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val wN = Window.partitionBy(col("event_type"))
    def lowerMedian(in: DataFrame, nCol: String, vCol: String): DataFrame =
      in.withColumn("vr", row_number().over(wV))
        .withColumn(nCol, count(lit(1)).over(wN))
        .filter(col("vr") === expr(s"($nCol + 1) div 2"))
        .select(col("event_type"), col(nCol), col("value").as(vCol))
    val smp = ev
      .withColumn("hr", row_number().over(wH))
      .filter(col("hr") <= SAMPLE_K)
      .drop("hr")
    lowerMedian(smp, "n_sample", "approx_median")
      .join(lowerMedian(ev, "n", "exact_median"), "event_type")
      .select(
        col("event_type"),
        col("n"),
        col("n_sample"),
        col("approx_median"),
        col("exact_median")
      )
      .orderBy("event_type")
  }

  /** q70: z-order (Morton) layout key over (nation, balance-bucket) —
    * the multi-dimensional sort key a corpus store writes by so that
    * row-group min/max stats prune on EITHER dimension (see
    * [[graft.functions.ZOrder]] and ZOrderLayoutSpec, which measures
    * the pruning). This query pins the key arithmetic engine-exactly:
    * bucketing is integer/double ops shared with the oracle, the
    * interleave is pure bit arithmetic. Map-side only — the key adds
    * zero shuffles to a write pipeline (it becomes the sort column of
    * sortWithinPartitions).
    */
  private val zorderKeyQ: Q = (s, dir) => {
    import graft.functions.ZOrder
    val yb = least(
      greatest(floor((col("c_acctbal") + lit(1000.0)) / lit(43.0)), lit(0.0)),
      lit(255.0)
    ).cast("long")
    Tables(s, dir).customer
      .select(
        col("c_custkey"),
        col("c_nationkey").cast("long").as("xb"),
        yb.as("yb")
      )
      .withColumn("zkey", ZOrder.zorderKey(col("xb"), col("yb"), 8))
      .orderBy("c_custkey")
  }

  /** q71: robust outlier detection per event type — median/MAD
    * (median absolute deviation), the heavy-tail-safe alternative to
    * mean±kσ (one wild value drags a mean/stddev band, not a median
    * band). Both medians are lower medians BY SELECTION (q69's rule) —
    * engine-exact, no interpolation — and the flag is a pure
    * comparison, so outlier counts are bit-stable across engines and
    * partitionings.
    *
    * Scale: two selection medians per group = two per-group sorts
    * here; the production swap is q69's mergeable hash-sample median
    * for both m and MAD (the anchor/sketch pairing this file pins
    * via the shared rule). The flag pass is map-side after a small
    * broadcast of per-type (m, MAD).
    */
  private val madOutliers: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, dir).events
      .select(col("event_type"), col("event_id"), col("value"))
    def lowerMedianBy(in: DataFrame, v: String, out: String): DataFrame = {
      val wV = Window
        .partitionBy(col("event_type"))
        .orderBy(col(v).asc, col("event_id").asc)
      val wN = Window.partitionBy(col("event_type"))
      in.withColumn("vr", row_number().over(wV))
        .withColumn("__n", count(lit(1)).over(wN))
        .filter(col("vr") === expr("(__n + 1) div 2"))
        .select(col("event_type"), col(v).as(out))
    }
    val med = lowerMedianBy(ev, "value", "med")
    val withDev = ev
      .join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = lowerMedianBy(withDev, "dev", "mad")
    withDev
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers")
      )
      .select(col("event_type"), col("n"), col("med"), col("mad"), col("n_outliers"))
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = named(
    "q71_mad_outliers" -> madOutliers,
    "q70_zorder_key" -> zorderKeyQ,
    "q69_hash_median" -> hashMedian,
    "q68_transitions" -> transitions,
    "q67_skyline" -> skyline,
    "q66_local_supplier" -> localSupplierVolume,
    "q62_histogram" -> histogram,
    "q63_regression" -> regression,
    "q64_funnel" -> funnel,
    "q65_retention" -> retention
  )

  val oracle: Map[String, String] = named(
    "q71_mad_outliers" ->
      s"""WITH ev AS (SELECT event_type, event_id, value FROM events),
         |m AS (SELECT event_type, value AS med FROM
         |  (SELECT event_type, value,
         |     row_number() OVER (PARTITION BY event_type
         |       ORDER BY value ASC, event_id ASC) AS vr,
         |     COUNT(*) OVER (PARTITION BY event_type) AS n
         |   FROM ev) WHERE vr = (n + 1) // 2),
         |dv AS (SELECT ev.event_type, ev.event_id, m.med,
         |         abs(ev.value - m.med) AS dev
         |       FROM ev JOIN m USING (event_type)),
         |md AS (SELECT event_type, dev AS mad FROM
         |  (SELECT event_type, dev,
         |     row_number() OVER (PARTITION BY event_type
         |       ORDER BY dev ASC, event_id ASC) AS vr,
         |     COUNT(*) OVER (PARTITION BY event_type) AS n
         |   FROM dv) WHERE vr = (n + 1) // 2)
         |SELECT dv.event_type, COUNT(*) AS n, dv.med, md.mad,
         |  CAST(SUM(CASE WHEN dv.dev > 3.0 * md.mad THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers
         |FROM dv JOIN md USING (event_type)
         |GROUP BY dv.event_type, dv.med, md.mad
         |ORDER BY dv.event_type""".stripMargin,
    "q70_zorder_key" -> {
      val yb =
        "CAST(least(greatest(floor((c_acctbal + 1000.0) / 43.0), 0.0), 255.0) AS BIGINT)"
      s"""WITH b AS (SELECT c_custkey,
         |  CAST(c_nationkey AS BIGINT) AS xb, $yb AS yb FROM customer)
         |SELECT c_custkey, xb, yb,
         |  ${graft.functions.ZOrder.zorderSql("xb", "yb", 8)} AS zkey
         |FROM b ORDER BY c_custkey""".stripMargin
    },
    "q69_hash_median" -> {
      val h = graft.functions.PortableHash.sqlH32("CAST(event_id AS VARCHAR)")
      s"""WITH ev AS (SELECT event_type, event_id, value FROM events),
         |smp AS (SELECT event_type, event_id, value FROM
         |  (SELECT event_type, event_id, value,
         |     row_number() OVER (PARTITION BY event_type
         |       ORDER BY ($h) ASC, event_id ASC) AS hr
         |   FROM ev) WHERE hr <= $SAMPLE_K),
         |a AS (SELECT event_type, n_sample, value AS approx_median FROM
         |  (SELECT event_type, value,
         |     row_number() OVER (PARTITION BY event_type
         |       ORDER BY value ASC, event_id ASC) AS vr,
         |     COUNT(*) OVER (PARTITION BY event_type) AS n_sample
         |   FROM smp) WHERE vr = (n_sample + 1) // 2),
         |e AS (SELECT event_type, n, value AS exact_median FROM
         |  (SELECT event_type, value,
         |     row_number() OVER (PARTITION BY event_type
         |       ORDER BY value ASC, event_id ASC) AS vr,
         |     COUNT(*) OVER (PARTITION BY event_type) AS n
         |   FROM ev) WHERE vr = (n + 1) // 2)
         |SELECT a.event_type, e.n, a.n_sample, a.approx_median,
         |  e.exact_median
         |FROM a JOIN e ON a.event_type = e.event_type
         |ORDER BY a.event_type""".stripMargin
    },
    // windowed SUM(BIGINT) is HUGEINT in DuckDB — cast before dividing
    "q68_transitions" ->
      """WITH seq AS (SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |t AS (SELECT from_type, to_type, COUNT(*) AS n FROM seq
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(floor(CAST(n AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
        |    * 10000000000.0 + 0.5) AS BIGINT) / 10000000000.0 AS prob
        |FROM t ORDER BY from_type, to_type""".stripMargin,
    // the same sort-based linear form (the quadratic NOT EXISTS mirror
    // is pinned separately in SkylineSpec against in-test brute force)
    "q67_skyline" ->
      """WITH daily AS (SELECT o_orderdate, MAX(o_totalprice) AS dmax
        |               FROM orders GROUP BY 1),
        |bb AS (SELECT o_orderdate,
        |         MAX(dmax) OVER (ORDER BY o_orderdate
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS best_before
        |       FROM daily)
        |SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
        |FROM orders o JOIN bb USING (o_orderdate)
        |WHERE bb.best_before IS NULL OR o.o_totalprice > bb.best_before
        |ORDER BY o_orderdate, o_orderkey""".stripMargin,
    "q66_local_supplier" ->
      s"""SELECT n_name,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
         |  COUNT(*) AS n_items
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q65_retention" ->
      """WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events
        |           GROUP BY user_id),
        |cells AS (SELECT DISTINCT e.user_id,
        |            CAST(date_trunc('week', f.first_ts) AS DATE)
        |              AS cohort_week,
        |            CAST(date_diff('day',
        |              CAST(date_trunc('week', f.first_ts) AS DATE),
        |              CAST(date_trunc('week', e.ts) AS DATE)) // 7
        |              AS BIGINT) AS week_offset
        |          FROM events e JOIN f USING (user_id))
        |SELECT cohort_week, week_offset, COUNT(*) AS n_active
        |FROM cells GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // width_bucket replicated in portable arithmetic (DuckDB has no
    // width_bucket): bucket 0 = underflow, nb+1 = overflow.
    "q62_histogram" ->
      s"""WITH b AS (
         |  SELECT CAST(
         |    LEAST(GREATEST(FLOOR((o_totalprice - $lo) / ((${hi} - $lo) / $nb)), -1), $nb)
         |    AS BIGINT) + 1 AS bucket
         |  FROM orders)
         |SELECT bucket, COUNT(*) AS n,
         |  CASE WHEN bucket BETWEEN 1 AND $nb
         |    THEN floor(($lo + (bucket - 1) * ((${hi} - $lo) / $nb)) * 1e2
         |      + 0.5) / 1e2 END AS bin_lo,
         |  CASE WHEN bucket BETWEEN 1 AND $nb
         |    THEN floor(($lo + bucket * ((${hi} - $lo) / $nb)) * 1e2
         |      + 0.5) / 1e2 END AS bin_hi
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q64_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS view_ts FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS click_ts
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.view_ts
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts
        |      FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        |      GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |  (SELECT COUNT(*) FROM c) AS n_click,
        |  (SELECT COUNT(*) FROM p) AS n_purchase,
        |  CAST(floor(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM v) * 10000000000.0 + 0.5) AS BIGINT)
        |    / 10000000000.0 AS click_rate,
        |  CAST(floor(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM c) * 10000000000.0 + 0.5) AS BIGINT)
        |    / 10000000000.0 AS purchase_rate""".stripMargin,
    "q63_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  floor((sxy - sx * sy / n) / (sxx - sx * sx / n) * 1e10 + 0.5)
        |    / 1e10 AS slope,
        |  floor((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n
        |    * 1e10 + 0.5) / 1e10 AS intercept,
        |  floor(((sxy - sx * sy / n) * (sxy - sx * sy / n)) /
        |    ((sxx - sx * sx / n) * (syy - sy * sy / n)) * 1e10 + 0.5)
        |    / 1e10 AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin
  )
}
