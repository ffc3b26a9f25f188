package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-series diagnostics over the event stream — the monitoring
  * pair a pipeline operator actually runs against ingest volume
  * metrics: a two-window mean-shift (drift/changepoint) detector and
  * lagged autocorrelation. Both are per-SERIES (event_type) windows —
  * the sort is local to each series partition, never global — and
  * both run on centi-unit integers (`round(value*100)`, the
  * StreamQueries exactness trick) with DECIMAL(38) sums so the
  * sufficient statistics stay exact at any row count and under any
  * partitioning.
  */
object TimeSeriesQueries extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Window half-width (rows per side) for the q93 shift detector. */
  private[ops] val DRIFT_W = 50

  /** Mean-shift flag threshold for q93, in ORIGINAL value units. */
  private[ops] val DRIFT_THRESHOLD = 20.0

  /** Autocorrelation lags reported by q94. */
  private[ops] val ACF_LAGS = Seq(1, 2, 3)

  private def centi(c: Column): Column = round(c * 100).cast("long")

  /** q93: two-window mean-shift drift detector. At each position of
    * each event_type series (event-time order), compare the mean of
    * the W rows BEFORE against the W rows FROM HERE; a gap ≥
    * threshold flags a level shift (deployment regressions, metric
    * drift, data-quality cliffs). Positions without two full windows
    * are not scored — the detector has no edge-effect rows.
    *
    * The CUSUM-style recursive detectors don't window-express (the
    * recurrence is non-linear); the two-window test is the standard
    * declarative form and detects the same step changes with
    * detection delay W.
    *
    * Shape at scale: two ROWS-frame aggregates over ONE per-series
    * window sort — one shuffle on event_type (salt by time-bucket if
    * one series dominates), frames bounded by 2W rows, decimal frame
    * sums exact regardless of frame content.
    */
  private val drift: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val before = w.rowsBetween(-DRIFT_W, -1)
    val after = w.rowsBetween(Window.currentRow, DRIFT_W - 1)
    def frameMean(fr: org.apache.spark.sql.expressions.WindowSpec) =
      sum(col("v").cast(DecimalType(18, 0))).over(fr).cast(DoubleType) /
        count(lit(1)).over(fr)
    Tables(s, dir).events
      .select(
        col("event_id"),
        col("event_type"),
        col("ts"),
        centi(col("value")).as("v")
      )
      .withColumn("__nb", count(lit(1)).over(before))
      .withColumn("__na", count(lit(1)).over(after))
      .withColumn("__shift", (frameMean(after) - frameMean(before)) / 100.0)
      .filter(col("__nb") === DRIFT_W && col("__na") === DRIFT_W)
      .select(
        col("event_type"),
        col("event_id"),
        Qx.floorScale(col("__shift"), 10).as("shift"),
        (abs(col("__shift")) >= DRIFT_THRESHOLD).as("is_shift")
      )
      .orderBy("event_type", "event_id")
  }

  /** q94: lag-k sample autocorrelation per event_type, k = 1..3 —
    * the "is this metric noise or structure" diagnostic (and the
    * whiteness test for residuals of q63-style fits). Computed from
    * DECIMAL-exact sufficient statistics, never from per-row centered
    * values: r_k = (Σ x·x₊ₖ − x̄Σx_head − x̄Σx_tail + mₖx̄²) /
    * (Σx² − n·x̄²), where every Σ is an exact decimal over
    * centi-units and the final combination is scalar double
    * arithmetic — order-independent, partition-independent, and
    * bit-equal on both engines (autocorrelation is scale-invariant,
    * so centi-units cancel).
    *
    * Shape at scale: one per-series window sort produces the k lead
    * columns in a single pass; ONE aggregation on event_type carries
    * all 3×4+3 moments; output is series-count rows.
    */
  private val autocorr: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val dec = (c: Column) => c.cast(DecimalType(18, 0))
    val withLeads = Tables(s, dir).events
      .select(col("event_type"), col("ts"), col("event_id"), centi(col("value")).as("v"))
      .select(
        col("event_type") +: col("v") +:
          ACF_LAGS.map(k => lead(col("v"), k).over(w).as(s"v$k")): _*
      )
    val aggs =
      Seq(
        count(lit(1)).as("n"),
        sum(dec(col("v"))).cast(DoubleType).as("s"),
        sum(dec(col("v")) * dec(col("v"))).cast(DoubleType).as("ss")
      ) ++ ACF_LAGS.flatMap { k =>
        val vk = col(s"v$k")
        Seq(
          count(vk).as(s"m$k"),
          sum(dec(col("v")) * dec(vk)).cast(DoubleType).as(s"c$k"),
          sum(when(vk.isNotNull, dec(col("v")))).cast(DoubleType).as(s"hs$k"),
          sum(dec(vk)).cast(DoubleType).as(s"ts$k")
        )
      }
    val mu = col("s") / col("n")
    withLeads
      .groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("event_type") +: col("n") +:
          ACF_LAGS.map { k =>
            Qx.floorScale(
              (col(s"c$k") - mu * col(s"hs$k") - mu * col(s"ts$k") +
                col(s"m$k") * mu * mu) /
                (col("ss") - col("n") * mu * mu),
              10
            ).as(s"r$k")
          }: _*
      )
      .orderBy("event_type")
  }

  /** Seasonal period for q103, in hour buckets (daily seasonality). */
  private val SEASON_H = 24L

  /** q103: seasonal-naive forecast-error audit (MASE's integer core)
    * — the "is this series forecastable, and does seasonality help"
    * check a capacity planner runs before trusting any model: per
    * (event_type, hour) the series is the hour's exact value total in
    * cents; the seasonal-naive forecast for hour t is the value at
    * t−24h, the benchmark naive forecast is t−1h, and the report per
    * series is Σ|y−ŷ| for both plus their floor-divided ppm ratio —
    * MASE < 1e6 means daily seasonality genuinely predicts the
    * series. Only hours with BOTH references present score (gaps
    * produce no phantom zero-forecasts); both reference lookups ride
    * one lag window over lag-(1) and lag-(24) structs carrying their
    * bucket, validated by bucket arithmetic, so a gap disqualifies
    * rather than silently shifting the season.
    *
    * Exactness: hourly totals are BIGINT cents (one hash aggregation
    * with map-side partials), absolute errors and their sums stay
    * BIGINT, the ratio is floor-divided ppm. Shape at scale: the
    * window partitions by series over hour-bucket ROWS (8,760
    * rows/series-year — bounded), not raw events.
    */
  private val seasonalError: Q = (s, dir) => {
    val hourly = Tables(s, dir).events
      .filter(col("value").isNotNull)
      .groupBy(
        col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("bucket_us")
      )
      .agg(sum(centi(col("value"))).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_us"))
    val hourUs = 3600L * 1000000L
    val scored = hourly
      .withColumn("p1", lag(struct(col("bucket_us"), col("cents")), 1).over(w))
      .withColumn(
        "p24",
        lag(struct(col("bucket_us"), col("cents")), SEASON_H.toInt).over(w)
      )
      .filter(
        col("p1.bucket_us") === col("bucket_us") - hourUs &&
          col("p24.bucket_us") === col("bucket_us") - lit(SEASON_H * hourUs)
      )
    scored
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_scored"),
        sum(abs(col("cents") - col("p24.cents"))).as("sae_seasonal"),
        sum(abs(col("cents") - col("p1.cents"))).as("sae_naive")
      )
      .select(
        col("event_type"),
        col("n_scored"),
        col("sae_seasonal"),
        col("sae_naive"),
        when(
          col("sae_naive") > 0L,
          expr("(sae_seasonal * 1000000) div sae_naive")
        ).as("mase_ppm")
      )
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = named(
    "q93_drift" -> drift,
    "q94_autocorr" -> autocorr,
    "q103_seasonal_error" -> seasonalError
  )

  private val centiSql = "CAST(round(value * 100) AS BIGINT)"

  val oracle: Map[String, String] = named(
    // hourly BIGINT-cent totals, lag structs carrying their bucket so
    // gaps disqualify instead of shifting the season, ppm floor div
    "q103_seasonal_error" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |    CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000
         |      AS bucket_us,
         |    CAST(SUM($centiSql) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL
         |  GROUP BY 1, 2),
         |l AS (
         |  SELECT event_type, bucket_us, cents,
         |    lag(bucket_us, 1) OVER w AS b1, lag(cents, 1) OVER w AS c1,
         |    lag(bucket_us, 24) OVER w AS b24, lag(cents, 24) OVER w AS c24
         |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us)),
         |sc AS (
         |  SELECT event_type, cents, c1, c24 FROM l
         |  WHERE b1 = bucket_us - 3600000000
         |    AND b24 = bucket_us - ${24L * 3600000000L}),
         |a AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
         |    CAST(SUM(abs(cents - c24)) AS BIGINT) AS sae_seasonal,
         |    CAST(SUM(abs(cents - c1)) AS BIGINT) AS sae_naive
         |  FROM sc GROUP BY 1)
         |SELECT event_type, n_scored, sae_seasonal, sae_naive,
         |  CASE WHEN sae_naive > 0
         |    THEN (sae_seasonal * 1000000) // sae_naive END AS mase_ppm
         |FROM a ORDER BY event_type""".stripMargin,
    "q93_drift" -> {
      val frame = (a: String, b: String) =>
        s"""OVER (PARTITION BY event_type ORDER BY ts, event_id
           |  ROWS BETWEEN $a AND $b)""".stripMargin
      val beforeMean =
        s"""(CAST(SUM(CAST(v AS DECIMAL(18,0)))
           |  ${frame(s"$DRIFT_W PRECEDING", "1 PRECEDING")} AS DOUBLE)
           |  / COUNT(*) ${frame(s"$DRIFT_W PRECEDING", "1 PRECEDING")})""".stripMargin
      val afterMean =
        s"""(CAST(SUM(CAST(v AS DECIMAL(18,0)))
           |  ${frame("CURRENT ROW", s"${DRIFT_W - 1} FOLLOWING")} AS DOUBLE)
           |  / COUNT(*) ${frame("CURRENT ROW", s"${DRIFT_W - 1} FOLLOWING")})""".stripMargin
      s"""WITH c AS (SELECT event_id, event_type, ts,
         |             $centiSql AS v FROM events),
         |scored AS (SELECT event_type, event_id,
         |  COUNT(*) ${frame(s"$DRIFT_W PRECEDING", "1 PRECEDING")} AS nb,
         |  COUNT(*) ${frame("CURRENT ROW", s"${DRIFT_W - 1} FOLLOWING")} AS na,
         |  ($afterMean - $beforeMean) / 100.0 AS sh
         |  FROM c)
         |SELECT event_type, event_id,
         |  floor(sh * 1e10 + 0.5) / 1e10 AS shift,
         |  abs(sh) >= $DRIFT_THRESHOLD AS is_shift
         |FROM scored
         |WHERE nb = $DRIFT_W AND na = $DRIFT_W
         |ORDER BY event_type, event_id""".stripMargin
    },
    "q94_autocorr" -> {
      val leadCols = ACF_LAGS
        .map(k =>
          s"lead(v, $k) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS v$k"
        )
        .mkString(",\n|  ")
      val momentCols = ACF_LAGS
        .map(k => s"""COUNT(v$k) AS m$k,
           |  CAST(SUM(CAST(v AS DECIMAL(18,0)) * CAST(v$k AS DECIMAL(18,0))) AS DOUBLE) AS c$k,
           |  CAST(SUM(CASE WHEN v$k IS NOT NULL THEN CAST(v AS DECIMAL(18,0)) END) AS DOUBLE) AS hs$k,
           |  CAST(SUM(CAST(v$k AS DECIMAL(18,0))) AS DOUBLE) AS ts$k""".stripMargin)
        .mkString(",\n|  ")
      val rCols = ACF_LAGS
        .map(k =>
          s"""floor((c$k - (s/n) * hs$k - (s/n) * ts$k + m$k * (s/n) * (s/n))
             |    / (ss - n * (s/n) * (s/n)) * 1e10 + 0.5) / 1e10 AS r$k""".stripMargin
        )
        .mkString(",\n|  ")
      s"""WITH c AS (SELECT event_type, ts, event_id,
         |             $centiSql AS v FROM events),
         |l AS (SELECT event_type, v,
         |  $leadCols
         |  FROM c),
         |m AS (SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(v AS DECIMAL(18,0))) AS DOUBLE) AS s,
         |  CAST(SUM(CAST(v AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0))) AS DOUBLE) AS ss,
         |  $momentCols
         |  FROM l GROUP BY event_type)
         |SELECT event_type, CAST(n AS BIGINT) AS n,
         |  $rCols
         |FROM m
         |ORDER BY event_type""".stripMargin
    }
  )
}
