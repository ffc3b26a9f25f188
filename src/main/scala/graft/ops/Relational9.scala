package graft.ops

import graft.Tables
import graft.functions.PortableHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ninth batch: the skew-salted repartition join and batch
  * sessionization — two shapes every large-scale pipeline hits (a
  * hot join key melting one reducer; gap-based session assignment
  * over an event stream replayed as a table).
  */
object Relational9 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Salt fan-out for q76. At real scale this is sized from the skew
    * ratio (hot-key rows / target-partition rows); 8 here exercises
    * the full replicate-and-route machinery.
    */
  private[ops] val SALT = 8

  /** q76: skew-salted repartition join — the manual remedy when ONE
    * join key holds a disproportionate share of the probe side and
    * AQE's skew split can't help (e.g. the skew is in the map output
    * of an upstream stage, or the join must avoid broadcast because
    * the build side is wide). Probe rows take a deterministic salt in
    * [0, SALT) from a hash of their OWN row identity (orderkey +
    * linenumber — NOT the join key alone, which would put the whole
    * hot key in one salt); the build side replicates every row SALT
    * times via a compile-time-constant array explode. Joining on
    * (key, salt) spreads a hot key over SALT reducers at the cost of
    * SALT× the (small) build side — the standard trade. The join is
    * pinned to shuffle (merge hint) because a broadcastable build
    * side would make salting moot; the final rollup restores the
    * plain-join aggregate, which is what the oracle computes with no
    * salting at all — proving the rewrite is semantics-preserving.
    *
    * Scale: probe side shuffles once on (l_orderkey, salt) — same
    * bytes as the unsalted join, better balance; build side shuffles
    * SALT× its (dim-sized) bytes. Revenue sums through DECIMAL (Qx
    * discipline) so partition count never changes the answer.
    */
  private val saltedJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    val probe = t.lineitem
      .select(
        col("l_orderkey"),
        col("l_extendedprice"),
        col("l_discount"),
        pmod(
          PortableHash.h32(
            concat_ws(":", col("l_orderkey"), col("l_linenumber"))
          ),
          lit(SALT)
        ).as("__salt")
      )
    val build = t.orders
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("__salt", explode(typedLit((0 until SALT).toArray)))
    probe
      .hint("merge")
      .join(
        build,
        probe("l_orderkey") === build("o_orderkey") &&
          probe("__salt") === build("__salt")
      )
      .groupBy(col("o_orderpriority"))
      .agg(
        // price·(1−disc) carries ≤4 fractional digits → DECIMAL(18,4)
        Qx.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy("o_orderpriority")
  }

  /** Session gap for q77: 30 minutes, in microseconds (event
    * timestamps are µs-exact on both engines).
    */
  private[ops] val GAP_US = 30L * 60 * 1000 * 1000

  /** q77: batch sessionization — assign gap-based sessions to the
    * replayed event log (the batch twin of stream03's streaming
    * session windows) and emit one row per session. A session breaks
    * when a user is idle ≥ 30 min: `is_new = (ts − lag(ts) ≥ gap)`,
    * `session_idx = running sum of is_new` — two window passes and
    * the per-session rollup, all keyed by user_id.
    *
    * Scale: ONE exchange total. Both windows partition by user_id and
    * the groupBy keys (user_id, session_idx) have user_id as a
    * prefix, so HashPartitioning(user_id) satisfies every downstream
    * distribution — plan-asserted in PlanBudgetSpec. Per-user row
    * counts bound the window buffers (no global window anywhere);
    * timestamps stay integral µs so durations are BIGINT-exact.
    */
  private val sessionize: Q = (s, dir) => {
    // both windows share ONE partitioning (user_id) and ONE total
    // order (us, event_id — event_id breaks timestamp ties so the
    // running sum is engine-independent)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val ev = Tables(s, dir).events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val marked = ev
      .withColumn(
        "__new",
        when(col("us") - lag(col("us"), 1).over(byUser) >= GAP_US, 1L)
          .otherwise(lit(0L))
      )
      .withColumn(
        "session_idx",
        sum(col("__new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
      )
    marked
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        (max(col("us")) - min(col("us"))).as("duration_us")
      )
      .orderBy("user_id", "session_idx")
  }

  /** Trailing window width for q78 (days). */
  private[ops] val ACTIVE_WINDOW = 7

  /** q78: daily + trailing-7-day active users (DAU/WAU) — the
    * engagement counter every event pipeline serves. Exact sliding
    * DISTINCT doesn't decompose (a window SUM of daily distincts
    * double-counts returning users), and Spark windows can't do
    * COUNT(DISTINCT) over a frame — so the scale form is the
    * INTERVAL-EXPANSION rewrite: reduce events to distinct
    * (day, user) pairs first (the big shrink: |days|·|users| rows max
    * from arbitrarily many events), then each pair votes for the W
    * target days it keeps the user active in (a W-element sequence
    * explode), and one distinct-aggregate per target day counts the
    * union exactly. Days with no events (the window tail past the
    * last event) are cut by a semi-join against observed days.
    *
    * Shape at scale: the (day, user) distinct is the only pass over
    * raw events; the expansion multiplies the REDUCED table by W=7,
    * not the event stream; both aggregates key on dense dates. The
    * W× blowup is the textbook trade against a non-decomposable
    * sliding distinct — for W ≫ 30, swap in a sketch (q57's HLL
    * merges across days for free).
    */
  private val rollingActive: Q = (s, dir) => {
    val daily = Tables(s, dir).events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = daily.select(col("day")).distinct()
    val dau = daily.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = daily
      .select(
        explode(
          sequence(
            col("day"),
            date_add(col("day"), ACTIVE_WINDOW - 1),
            expr("interval 1 day")
          )
        ).as("day"),
        col("user_id")
      )
      .join(days, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau
      .join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"))
      .orderBy("day")
  }

  /** q79: portable HyperLogLog distinct-count — THE distributed
    * cardinality estimator (Flajolet et al. 2007; Heule et al. 2013
    * HLL++ is what `approx_count_distinct` runs): distinct users per
    * event type at m=64 registers, with the estimate computed
    * BIT-IDENTICALLY by Spark and the DuckDB oracle. Register build
    * is pure relational algebra — bucket = h mod m, rho = leading
    * zero count + 1 of the remaining 26 hash bits (libm-free via
    * `27 − length(bin(w))`), register = MAX(rho) per (type, bucket)
    * — so the map-side partial MAX makes the shuffle ≤ m rows per
    * type per map partition no matter the corpus size, and register
    * merge across partitions/engines IS the MAX (HllMergeSpec proves
    * split-merge equality). The indicator sum Σ 2^(27−M_j) stays in
    * exact BIGINT via a 2^k lookup literal (no pow, no float sum);
    * the estimate α·m²·2²⁷ / T is the single float op. Alongside the
    * exact `COUNT(DISTINCT)` — whose shuffle carries every distinct
    * key — the register path is the one that survives 100 TB, and
    * the query reports both plus the realized relative error.
    */
  private[ops] val hllP = 6 // m = 2^6 = 64 registers
  private[ops] val hllM = 1 << hllP // 64
  private[ops] val hllMaxRho = 33 - hllP // 27: w has 32-p bits, +1
  private val hllDistinct: Q = (s, dir) => {
    val pows = typedLit((0 to hllMaxRho).map(1L << _)) // 2^0 .. 2^27
    val ev = Tables(s, dir).events.filter(col("user_id").isNotNull)
    val regs = ev
      .select(
        col("event_type"),
        PortableHash
          .h32(concat(lit("u:"), col("user_id").cast("string")))
          .as("h")
      )
      .select(
        col("event_type"),
        pmod(col("h"), lit(hllM.toLong)).as("bucket"),
        when(expr(s"h div $hllM") === 0L, lit(hllMaxRho))
          .otherwise(lit(hllMaxRho) - length(bin(expr(s"h div $hllM"))))
          .as("rho")
      )
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
    val agg = regs
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_present"),
        sum(element_at(pows, (lit(hllMaxRho + 1) - col("rho")).cast("int")))
          .as("t_present")
      )
    val exact = ev
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val emptyReg = 1L << hllMaxRho // 2^27: an empty register's 2^(27-0)
    exact
      .join(agg, Seq("event_type"))
      .select(
        col("event_type"),
        col("exact_distinct"),
        (lit(hllM.toLong) - col("n_present")).as("zero_registers"),
        (col("t_present") + (lit(hllM.toLong) - col("n_present")) * emptyReg)
          .as("t_sum")
      )
      .withColumn(
        "hll_est",
        // α_64 · m² · 2^27: 0.709 · 549755813888 (both factors exact
        // literals; one multiply + one divide — IEEE-identical)
        lit(0.709) * lit(549755813888.0) / col("t_sum").cast("double")
      )
      .withColumn(
        "rel_err",
        (col("hll_est") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double")
      )
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = named(
    "q76_salted_join" -> saltedJoin,
    "q77_sessionize" -> sessionize,
    "q78_rolling_active" -> rollingActive,
    "q79_hll_distinct" -> hllDistinct,
    "q82_interval_overlap" -> intervalOverlap,
    "q83_interpolate" -> interpolate
  )

  /** Grid step for q83's resample: daily (µs). */
  private[ops] val GRID_US = 86400L * 1000000

  /** q83: time-series grid resample with linear interpolation — the
    * gap-fill/alignment pass every feature pipeline runs before
    * modeling (align irregular observations onto a fixed grid). Per
    * user: daily grid points spanning [ceil(min_us/D)·D,
    * floor(max_us/D)·D], each valued by linear interpolation between
    * the surrounding observations.
    *
    * Shape: NO joins. Observations are deduped per (user, us)
    * (latest event_id wins), per-user bounds come from an unbounded
    * min/max window (not an agg + re-join), the grid is exploded from
    * the one rn=1 row per user, and prev/next anchors are two
    * ignoreNulls window passes over the obs ∪ grid union — all on the
    * SAME user_id partitioning, so Catalyst reuses one exchange for
    * every pass (asserted in PlanBudgetSpec). Grid rows per user are
    * bounded by span/D; state per window pass is O(1).
    *
    * Tie discipline: obs sort BEFORE the grid point at the same us,
    * so `prev` sees an exactly-coincident observation (fraction = 0 →
    * its value) and `next` is always STRICTLY after the grid point —
    * mirrored in the oracle by `us > t`. A grid point at the user's
    * last observation has no next → takes prev's value. Interpolation
    * arithmetic is written identically on both sides (same IEEE
    * double ops, same order).
    */
  private def interpolate: Q = (s, dir) => {
    val byUserTime = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("is_grid"))
    // dedup per (user, us) WITHOUT a (user, us)-keyed window: in
    // (us asc, event_id desc) order the first row of each us-run is
    // the max-event_id winner — a lag() on the user partitioning, so
    // every window below shares ONE exchange
    val dedupW = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id").desc)
    val obs = Tables(s, dir).events
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("us"),
        col("value"),
        col("event_id")
      )
      .withColumn("__prev_us", lag(col("us"), 1).over(dedupW))
      .filter(col("__prev_us").isNull || col("__prev_us") =!= col("us"))
      .drop("__prev_us", "event_id")
    val withBounds = obs
      .withColumn("__lo", expr(s"((min(us) OVER (PARTITION BY user_id) + ${GRID_US - 1}L) div ${GRID_US}L) * ${GRID_US}L"))
      .withColumn("__hi", expr(s"(max(us) OVER (PARTITION BY user_id) div ${GRID_US}L) * ${GRID_US}L"))
      .withColumn(
        "__first",
        row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("us"))) === 1
      )
    val grid = withBounds
      .filter(col("__first") && col("__lo") <= col("__hi"))
      .select(
        col("user_id"),
        explode(sequence(col("__lo"), col("__hi"), lit(GRID_US))).as("us"),
        lit(null).cast("double").as("value"),
        lit(1).as("is_grid")
      )
    val unioned = withBounds
      .select(col("user_id"), col("us"), col("value"), lit(0).as("is_grid"))
      .unionByName(grid)
    val prevW = byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nextW = byUserTime.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsUs = when(col("is_grid") === 0, col("us"))
    val obsV = when(col("is_grid") === 0, col("value"))
    unioned
      .withColumn("__pv", last(obsV, ignoreNulls = true).over(prevW))
      .withColumn("__pu", last(obsUs, ignoreNulls = true).over(prevW))
      .withColumn("__nv", first(obsV, ignoreNulls = true).over(nextW))
      .withColumn("__nu", first(obsUs, ignoreNulls = true).over(nextW))
      .filter(col("is_grid") === 1)
      .select(
        col("user_id"),
        col("us").as("grid_us"),
        when(col("__nu").isNull, col("__pv"))
          .otherwise(
            col("__pv") + (col("__nv") - col("__pv")) *
              ((col("us") - col("__pu")).cast("double") /
                (col("__nu") - col("__pu")).cast("double"))
          )
          .as("value_interp")
      )
      .orderBy("user_id", "grid_us")
  }

  /** Attribution lookback for q82's right-side intervals (2 h before
    * each purchase) and the expansion bucket width (1 h). Expansion
    * factor per interval = length/width + 1, so both are a handful of
    * buckets at these constants.
    */
  private[ops] val ATTR_US = 2L * 3600 * 1000000
  private[ops] val IVW_US = 1L * 3600 * 1000000

  /** q82: interval-OVERLAP join — both sides are interval sets (q73
    * joins points to intervals): the user's gap sessions (q77's exact
    * session build, shared constants) against per-purchase
    * attribution windows [ts − 2 h, ts], "which sessions overlap
    * which purchase's attribution window". The non-equi overlap
    * predicate `s_start ≤ p_end AND p_start ≤ s_end` would plan as a
    * nested loop; bucketing BOTH interval sets into width-W cells
    * turns it into a shuffle equi-join on (user_id, cell).
    *
    * Exactly-once without a pair-distinct: a pair overlapping k
    * shared cells would emit k times; instead of `DISTINCT` (a second
    * full shuffle of the candidate set) each pair is claimed ONLY by
    * the cell containing the overlap's left edge,
    * `greatest(s_start, p_start) div W` — that cell is covered by
    * both intervals by construction, so each true pair survives in
    * exactly one copy, map-side (the dedup09 single-membership
    * discipline generalized to intervals).
    *
    * Shape at scale: expansion factor is interval_length/W + 1
    * (bounded by the session gap and the lookback); join keys
    * (user_id, cell) are dense and time-uniform; the overlap verify
    * and ownership filters run on candidates only. No BNLJ anywhere
    * — plan-asserted in PlanBudgetSpec.
    */
  // def: referenced by the queries map ABOVE its definition — a val
  // here would still be null when the map initializes
  private def intervalOverlap: Q = (s, dir) => {
    val byUser =
      Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val ev = Tables(s, dir).events
      .select(
        col("user_id"),
        col("event_id"),
        unix_micros(col("ts")).as("us"),
        col("event_type")
      )
    val sess = ev
      .withColumn(
        "__new",
        when(col("us") - lag(col("us"), 1).over(byUser) >= GAP_US, 1L)
          .otherwise(lit(0L))
      )
      .withColumn(
        "session_idx",
        sum(col("__new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
      )
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
    val promos = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        (col("us") - ATTR_US).as("p_start"),
        col("us").as("p_end")
      )
    val lExp = sess.withColumn(
      "__cell",
      explode(sequence(
        expr(s"s_start div ${IVW_US}L"),
        expr(s"s_end div ${IVW_US}L")
      ))
    )
    val rExp = promos.withColumn(
      "__cell",
      explode(sequence(
        expr(s"p_start div ${IVW_US}L"),
        expr(s"p_end div ${IVW_US}L")
      ))
    )
    lExp
      .join(rExp, Seq("user_id", "__cell"))
      .filter(col("s_start") <= col("p_end") && col("p_start") <= col("s_end"))
      .filter(col("__cell") === expr(s"greatest(s_start, p_start) div ${IVW_US}L"))
      .select(
        col("user_id"),
        col("session_idx"),
        col("purchase_id"),
        (least(col("s_end"), col("p_end")) -
          greatest(col("s_start"), col("p_start"))).as("overlap_us")
      )
      .orderBy("user_id", "session_idx", "purchase_id")
  }

  val oracle: Map[String, String] = named(
    // the oracle finds each grid point's anchors by plain min/max
    // inequality joins — the single-pass window formulation must land
    // on the same anchors and the same IEEE arithmetic
    "q83_interpolate" ->
      s"""WITH o0 AS (
         |  SELECT user_id, epoch_us(ts) AS us, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
         |      ORDER BY event_id DESC) AS rn
         |  FROM events),
         |o AS (SELECT user_id, us, value FROM o0 WHERE rn = 1),
         |b AS (SELECT user_id,
         |        ((MIN(us) + ${GRID_US - 1}) // $GRID_US) * $GRID_US AS lo,
         |        (MAX(us) // $GRID_US) * $GRID_US AS hi
         |      FROM o GROUP BY user_id),
         |g AS (SELECT user_id,
         |        unnest(generate_series(lo, hi, $GRID_US)) AS t
         |      FROM b WHERE lo <= hi),
         |p AS (SELECT g.user_id, g.t, MAX(o.us) AS pu
         |      FROM g JOIN o ON o.user_id = g.user_id AND o.us <= g.t
         |      GROUP BY g.user_id, g.t),
         |n AS (SELECT g.user_id, g.t, MIN(o.us) AS nu
         |      FROM g JOIN o ON o.user_id = g.user_id AND o.us > g.t
         |      GROUP BY g.user_id, g.t)
         |SELECT p.user_id, p.t AS grid_us,
         |  CASE WHEN n.nu IS NULL THEN po.value
         |       ELSE po.value + (no.value - po.value) *
         |         (CAST(p.t - p.pu AS DOUBLE) / CAST(n.nu - p.pu AS DOUBLE))
         |  END AS value_interp
         |FROM p
         |LEFT JOIN n ON n.user_id = p.user_id AND n.t = p.t
         |JOIN o po ON po.user_id = p.user_id AND po.us = p.pu
         |LEFT JOIN o no ON no.user_id = n.user_id AND no.us = n.nu
         |ORDER BY p.user_id, grid_us""".stripMargin,
    // plain inequality join over the same session/window CTEs — the
    // bucket-expansion rewrite must change nothing
    "q82_interval_overlap" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, us,
         |    CASE WHEN us - lag(us) OVER w >= $GAP_US THEN 1 ELSE 0 END
         |      AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |x AS (
         |  SELECT user_id, us,
         |    CAST(SUM(is_new) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM m),
         |sess AS (
         |  SELECT user_id, session_idx, MIN(us) AS s_start,
         |    MAX(us) AS s_end
         |  FROM x GROUP BY user_id, session_idx),
         |promos AS (
         |  SELECT user_id, event_id AS purchase_id,
         |    us - $ATTR_US AS p_start, us AS p_end
         |  FROM e WHERE event_type = 'purchase')
         |SELECT s.user_id, s.session_idx, p.purchase_id,
         |  least(s.s_end, p.p_end) - greatest(s.s_start, p.p_start)
         |    AS overlap_us
         |FROM sess s JOIN promos p
         |  ON s.user_id = p.user_id
         | AND s.s_start <= p.p_end AND p.p_start <= s.s_end
         |ORDER BY s.user_id, s.session_idx, p.purchase_id""".stripMargin,
    // the UNSALTED plain join: the oracle proves the salt rewrite
    // changes nothing
    "q76_salted_join" ->
      s"""SELECT o.o_orderpriority,
         |  ${Qx.sqlDsum("l.l_extendedprice * (1.0 - l.l_discount)", 4)} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |GROUP BY o.o_orderpriority
         |ORDER BY o.o_orderpriority""".stripMargin,
    "q77_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         |m AS (
         |  SELECT user_id, event_id, us,
         |    CASE WHEN us - lag(us) OVER w >= $GAP_US THEN 1 ELSE 0 END
         |      AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |x AS (
         |  SELECT user_id, us,
         |    CAST(SUM(is_new) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM m)
         |SELECT user_id, session_idx, COUNT(*) AS n_events,
         |  MIN(us) AS start_us, MAX(us) AS end_us,
         |  MAX(us) - MIN(us) AS duration_us
         |FROM x GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin,
    // the readable direct form (range self-join) — the Spark side's
    // interval expansion must agree with it exactly
    "q78_rolling_active" ->
      s"""WITH daily AS (
         |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
         |days AS (SELECT DISTINCT day FROM daily),
         |dau AS (SELECT day, COUNT(*) AS dau FROM daily GROUP BY day),
         |wau AS (
         |  SELECT d.day, COUNT(DISTINCT e.user_id) AS wau
         |  FROM days d JOIN daily e
         |    ON e.day BETWEEN d.day - ${ACTIVE_WINDOW - 1} AND d.day
         |  GROUP BY d.day)
         |SELECT dau.day, dau.dau, wau.wau
         |FROM dau JOIN wau ON dau.day = wau.day
         |ORDER BY dau.day""".stripMargin,
    "q79_hll_distinct" -> {
      val pows = (0 to hllMaxRho).map(1L << _).mkString("[", ",", "]")
      val emptyReg = 1L << hllMaxRho
      s"""WITH h AS (SELECT event_type, user_id,
         |    ${PortableHash.sqlH32("concat('u:', CAST(user_id AS VARCHAR))")} AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT event_type, h % $hllM AS bucket,
         |    MAX(CASE WHEN h // $hllM = 0 THEN $hllMaxRho
         |        ELSE $hllMaxRho - len(bin(h // $hllM)) END) AS rho
         |  FROM h GROUP BY 1, 2),
         |agg AS (SELECT event_type,
         |    CAST(COUNT(*) AS BIGINT) AS n_present,
         |    CAST(SUM(($pows)[$hllMaxRho + 1 - rho]) AS BIGINT)
         |      AS t_present
         |  FROM r GROUP BY 1),
         |ex AS (SELECT event_type,
         |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
         |SELECT ex.event_type, ex.exact_distinct,
         |  CAST($hllM - agg.n_present AS BIGINT) AS zero_registers,
         |  CAST(agg.t_present + ($hllM - agg.n_present) * $emptyReg
         |    AS BIGINT) AS t_sum,
         |  0.709 * 549755813888.0 / CAST(agg.t_present
         |    + ($hllM - agg.n_present) * $emptyReg AS DOUBLE) AS hll_est,
         |  (0.709 * 549755813888.0 / CAST(agg.t_present
         |      + ($hllM - agg.n_present) * $emptyReg AS DOUBLE)
         |    - CAST(ex.exact_distinct AS DOUBLE))
         |    / CAST(ex.exact_distinct AS DOUBLE) AS rel_err
         |FROM ex JOIN agg USING (event_type)
         |ORDER BY ex.event_type""".stripMargin
    }
  )
}
