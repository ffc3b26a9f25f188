package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming last-touch attribution — the live face of batch q104:
  * per-user state is O(1) (the single latest click/view touch), and a
  * purchase is attributed THE MOMENT IT ARRIVES against the freshest
  * touch visible at that point in event time — the same answer q104's
  * window computes offline, because "latest preceding touch" only
  * ever needs the one most-recent touch, never the history.
  *
  * Per micro-batch: one window pass over the BATCH finds in-batch
  * preceding touches (the q104 expression applied to the slice), a
  * left join pulls the carried state touch for purchases whose touch
  * crossed a batch boundary, attribution deltas fold into channel
  * totals as exact DECIMAL sums, and the state frame keeps only each
  * user's newest touch — O(batch + users-touched) per batch, nothing
  * re-scans history.
  *
  * Ordering contract (the [[StreamFunnel]] watermark-style one):
  * batches arrive in nondecreasing event-time order per user; within
  * a batch the window's (ts, event_id) sort restores order. Replay ≡
  * batch q104 for ANY split count (gate + spec).
  */
object StreamLastTouch {

  /** Lookback window — keep in lockstep with q104 (7 days, µs). */
  private val WINDOW_US = 7L * 24 * 3600 * 1000000L

  private val touchSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("s_type", StringType),
    StructField("s_ts_us", LongType)
  ))

  private val totalsSchema = StructType(Seq(
    StructField("channel", StringType),
    StructField("n_purchases", LongType),
    StructField("revenue_dec", DecimalType(18, 2))
  ))

  final class State(spark: SparkSession) extends Fold.State {
    private[streaming] val touch = slot(Fold.empty(spark, touchSchema))
    private[streaming] val totals = slot(Fold.empty(spark, totalsSchema))
  }

  def newState(spark: SparkSession): State = new State(spark)

  private def isTouch = col("event_type").isin("click", "view")

  /** Apply one micro-batch of (user_id, ts_us, event_id, event_type,
    * value) rows.
    */
  def ingest(state: State, batch: DataFrame): Unit = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withBatchTouch = batch
      .withColumn(
        "bt_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w)
      )
      .withColumn(
        "bt_ts_us",
        last(when(isTouch, col("ts_us")), ignoreNulls = true).over(w)
      )
    // an in-batch touch is always LATER than the carried one (batches
    // are time-ordered), so it wins when present
    val purchases = withBatchTouch
      .filter(col("event_type") === "purchase")
      .join(state.touch.value, Seq("user_id"), "left")
      .select(
        coalesce(col("bt_type"), col("s_type")).as("eff_type"),
        coalesce(col("bt_ts_us"), col("s_ts_us")).as("eff_ts_us"),
        col("ts_us"),
        col("value")
      )
      .select(
        when(
          col("eff_ts_us").isNotNull &&
            col("eff_ts_us") >= col("ts_us") - WINDOW_US,
          col("eff_type")
        ).otherwise(lit("none")).as("channel"),
        col("value")
      )
    val delta = purchases
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 2))).as("revenue_dec")
      )
    val newTotals = state.totals.value
      .unionByName(delta)
      .groupBy(col("channel"))
      .agg(
        sum(col("n_purchases")).as("n_purchases"),
        sum(col("revenue_dec")).cast(DecimalType(18, 2)).as("revenue_dec")
      )
    // newest in-batch touch per user replaces the carried one
    val wLatest = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val batchTouches = batch
      .filter(isTouch)
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_type").as("s_type"),
        col("ts_us").as("s_ts_us")
      )
    val newTouch = state.touch.value
      .join(batchTouches.select("user_id"), Seq("user_id"), "left_anti")
      .unionByName(batchTouches)
    Fold.set(state.touch -> newTouch, state.totals -> newTotals)
  }

  /** Channel totals in q104's exact output shape. */
  def summarize(totals: DataFrame): DataFrame =
    totals.select(
      col("channel"),
      col("n_purchases"),
      col("revenue_dec").cast(DoubleType).as("revenue")
    )

  /** Deterministic replay in `splits` time-sliced micro-batches; the
    * accumulated attribution must equal batch q104 for ANY `splits`.
    */
  def replay(events: DataFrame, splits: Int = 4): DataFrame = {
    val ev = events.select(
      col("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_id"),
      col("event_type"),
      col("value")
    )
    val state = newState(events.sparkSession)
    Fold.replay(Fold.byRange(ev, col("ts_us"), splits), state)(
      (b, _) => ingest(state, b))(summarize(state.totals.value).orderBy("channel"))
  }
}
