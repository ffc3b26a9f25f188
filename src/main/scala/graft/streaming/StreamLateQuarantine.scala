package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Late-data quarantine — the dead-letter channel Spark's built-in
  * watermarking does NOT give you: `withWatermark` + windowed aggs
  * silently DROP rows older than the watermark, which is the wrong
  * posture for a training-data pipeline (a silently dropped slice is
  * a silently biased corpus). This operator routes every row either
  * into the on-time aggregate or into an auditable quarantine table,
  * so `quarantined ∪ aggregated = ingested` holds exactly — the
  * no-silent-drop contract, with the quarantine feeding a backfill
  * pass instead of the void.
  *
  * Watermark semantics mirror Spark's: the threshold a batch is
  * judged against is `max(event time seen in PRIOR batches) − delay`
  * (Spark advances the watermark at batch boundaries, so within-batch
  * disorder is never late; the first batch has no watermark and
  * nothing in it can be late).
  *
  * The deterministic replay face ([[quarantined]]) reconstructs
  * arrival order from event time plus a bounded per-row hash jitter
  * (telemetry's realistic shape: mostly time-ordered, individual rows
  * up to `JITTER_US` behind) and slices micro-batches by fixed
  * `SPAN_US` ranges of ARRIVAL time — both map-side expressions, so
  * the whole reconstruction is one tiny per-batch aggregate plus a
  * broadcast join: no global sort, no per-row state. The running
  * "max over prior batches" is a window over the per-batch maxima —
  * ~n_batches rows, a plan-embedded constant at any corpus size.
  *
  * StreamLateQuarantineSpec drives the REAL foreachBatch runner
  * ([[start]]) over a MemoryStream sliced into the same arrival
  * batches and pins: quarantine set ≡ the replay face, on-time
  * windowed counts ≡ the batch aggregate of non-quarantined rows,
  * and the partition (no row lost, none counted twice).
  */
object StreamLateQuarantine {

  /** Max arrival lag behind event time (2 h). */
  val JITTER_US: Long = 2L * 3600 * 1000000

  /** Watermark delay (10 min) — arrivals more than this behind the
    * max seen event time are quarantined. */
  val DELAY_US: Long = 10L * 60 * 1000000

  /** Arrival-time width of one replay micro-batch (12 h). */
  val SPAN_US: Long = 12L * 3600 * 1000000

  /** Deterministic arrival time: event time + bounded hash jitter. */
  def arrivalUs(eventId: Column, tsUs: Column): Column =
    tsUs + graft.functions.PortableHash.h32(eventId.cast("string")) % JITTER_US

  /** The replay face (stream12's oracle surface): rows the watermark
    * discipline would quarantine, with their batch and lateness.
    * `events` needs `event_id`, `user_id`, `ts`.
    */
  def quarantined(events: DataFrame): DataFrame = {
    val e = events.select(
      col("event_id"),
      col("user_id"),
      unix_micros(col("ts")).as("us")
    )
    val withA = e.withColumn("arr", arrivalUs(col("event_id"), col("us")))
    val withB = withA
      .crossJoin(broadcast(withA.agg(min(col("arr")).as("m"))))
      .withColumn("batch", expr(s"(arr - m) div ${SPAN_US}L"))
    val perBatchMax = withB
      .groupBy(col("batch"))
      .agg(max(col("us")).as("bmax"))
    // running max over PRIOR batches: a window over ~n_batches rows
    // (tiny by construction — the only unpartitioned window here)
    val wm = perBatchMax.withColumn(
      "wm",
      max(col("bmax")).over(
        Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -1)
      ) - DELAY_US
    )
    withB
      .join(broadcast(wm.select(col("batch"), col("wm"))), Seq("batch"))
      .filter(col("wm").isNotNull && col("us") < col("wm"))
      .select(
        col("event_id"),
        col("user_id"),
        col("us").as("ts_us"),
        col("batch"),
        (col("wm") - col("us")).as("lateness_us")
      )
      .orderBy("event_id")
  }

  /** Sink state of the live runner: quarantined rows, on-time hourly
    * counts, and the watermark clock. Read AFTER
    * `processAllAvailable()` — mid-batch reads see the previous
    * batch's slots or this one's, never released blocks.
    */
  final class Handle(spark: SparkSession) extends Fold.State {
    import spark.implicits._
    val late = slot(Seq.empty[(Long, Long, Long)].toDF("event_id", "user_id", "ts_us"))
    val counts = slot(Seq.empty[(Long, Long)].toDF("hour_us", "n"))
    @volatile var maxSeenUs: Long = Long.MinValue
  }

  /** Start the foreachBatch runner over a STREAMING frame carrying
    * `event_id`, `user_id`, `ts`. Each batch: split on the watermark
    * derived from PRIOR batches' max event time, append late rows to
    * the quarantine, fold on-time rows into the hourly counts, then
    * advance the clock. State rewritten per batch is the counts table
    * (one row per hour — O(horizon), not O(stream)) and the
    * quarantine (append-only).
    */
  def start(
      events: DataFrame,
      handle: Handle,
      queryName: String = "late_quarantine"
  ): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch
          .select(
            col("event_id"),
            col("user_id"),
            unix_micros(col("ts")).as("ts_us")
          )
          .localCheckpoint(true)
        val wmUs =
          if (handle.maxSeenUs == Long.MinValue) Long.MinValue
          else handle.maxSeenUs - DELAY_US
        val late = b.filter(col("ts_us") < wmUs)
        val onTime = b.filter(col("ts_us") >= wmUs)
        val newCounts = handle.counts.value
          .unionByName(
            onTime.select(
              expr(s"(ts_us div ${3600L * 1000000}L) * ${3600L * 1000000}L")
                .as("hour_us"),
              lit(1L).as("n")
            )
          )
          .groupBy(col("hour_us"))
          .agg(sum(col("n")).as("n"))
        Fold.set(handle.counts -> newCounts,
          handle.late -> handle.late.value.unionByName(late))
        val batchMax = b
          .agg(max(col("ts_us")).as("m"))
          .collect()(0)
        if (!batchMax.isNullAt(0))
          handle.maxSeenUs = math.max(handle.maxSeenUs, batchMax.getLong(0))
        // the batch's own checkpoint: both slots now hold their rows
        org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(b)
        ()
      }
      .start()
}
