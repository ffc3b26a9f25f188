package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incremental materialized-aggregate maintenance over a CDC stream —
  * the `foreachBatch` form of the batch retract algebra (cdc08): the
  * maintained view `GROUP BY content → (count, sum(value))` is
  * updated per micro-batch from deltas alone; neither the full log
  * nor the full materialized table is ever rescanned.
  *
  * Per batch, against a RETAINED per-key version state (which, unlike
  * [[graft.cdc.Materializer.merge]]'s live-rows-only output, keeps
  * tombstones — a delete must retain its version or an out-of-order
  * pre-delete event would resurrect the key):
  *  1. reduce the batch to its per-key winner under (ts, seq);
  *  2. drop batch winners older than the key's current state version
  *     (LATE ARRIVALS: they lose latest-wins and must not touch the
  *     aggregate — arrival order never changes the result);
  *  3. emit retract/add deltas (retract the previous live row, add
  *     the new live row; D adds nothing, a key whose previous op was
  *     D retracts nothing) in DECIMAL(18,2) so cancellation is exact
  *     in any aggregation order;
  *  4. fold the deltas into the tiny aggregate table and merge the
  *     accepted winners into the key state; both are re-checkpointed
  *     per batch — the aggregate is O(groups), and the key-state
  *     rewrite is the simple dense form (the log-structured segment
  *     discipline of [[StreamMinhashDedup.State]] applies verbatim
  *     when per-batch O(state) I/O matters).
  *
  * Replay of any slicing of the log — including out-of-order
  * slicings — lands on exactly the batch cdc08 aggregate, which is
  * how the spec pins it.
  */
object StreamAggMaintain {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  final class State(spark: SparkSession) extends Fold.State {
    private val keySchema = StructType(Seq(
      StructField("id", LongType),
      StructField("op", StringType),
      StructField("content", StringType),
      StructField("value", DoubleType),
      StructField("ts", TimestampType),
      StructField("seq", LongType)
    ))
    private val aggSchema = StructType(Seq(
      StructField("content", StringType),
      StructField("n_rows", LongType),
      StructField("sum_dec", DecimalType(28, 2))
    ))

    private[streaming] val keyState = slot(Fold.empty(spark, keySchema))
    private[streaming] val aggState = slot(Fold.empty(spark, aggSchema))

    /** The maintained view (live groups only, double-rendered sum). */
    def aggregate: DataFrame =
      aggState.value
        .filter(col("n_rows") > 0)
        .select(
          col("content"),
          col("n_rows"),
          col("sum_dec").cast("double").as("sum_value")
        )
  }

  def newState(spark: SparkSession): State = new State(spark)

  /** Apply one micro-batch of change events
    * `(op, id, content, value, ts, seq)`; returns the updated
    * aggregate view.
    */
  def ingest(state: State, batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("ts").desc, col("seq").desc)
    val winners = batch
      .select("op", "id", "content", "value", "ts", "seq")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val prev = state.keyState.value.select(
      col("id"),
      col("op").as("prev_op"),
      col("content").as("prev_content"),
      col("value").as("prev_value"),
      col("ts").as("prev_ts"),
      col("seq").as("prev_seq")
    )
    // late-arrival gate: a batch winner at or before its key's current
    // version loses latest-wins outright
    val accepted = winners
      .join(prev, Seq("id"), "left")
      .filter(
        col("prev_ts").isNull ||
          col("ts") > col("prev_ts") ||
          (col("ts") === col("prev_ts") && col("seq") > col("prev_seq"))
      )
    val deltas = accepted
      .select(
        explode(
          array(
            when(
              col("prev_op").isNotNull && col("prev_op") =!= "D",
              struct(
                col("prev_content").as("content"),
                lit(-1L).as("dn"),
                (-dec(col("prev_value"))).as("dv")
              )
            ),
            when(
              col("op") =!= "D",
              struct(
                col("content").as("content"),
                lit(1L).as("dn"),
                dec(col("value")).as("dv")
              )
            )
          )
        ).as("d")
      )
      .filter(col("d").isNotNull)
      .select(
        col("d.content").as("content"),
        col("d.dn").as("n_rows"),
        col("d.dv").cast(DecimalType(28, 2)).as("sum_dec")
      )
    val newAgg = state.aggState.value
      .unionByName(deltas)
      .groupBy(col("content"))
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("sum_dec")).cast(DecimalType(28, 2)).as("sum_dec")
      )
      .filter(col("n_rows") =!= 0)
    val acceptedKeys = accepted
      .select("id", "op", "content", "value", "ts", "seq")
    val newKey = state.keyState.value
      .join(acceptedKeys.select("id"), Seq("id"), "left_anti")
      .unionByName(acceptedKeys)
    Fold.set(state.keyState -> newKey, state.aggState -> newAgg)
    state.aggregate
  }

  /** Streaming wrapper: foreachBatch over a change-event stream; the
    * handle's `aggregate` is the maintained view after the last
    * completed batch (read after `processAllAvailable`).
    */
  def maintainQuery(
      events: DataFrame,
      checkpoint: String
  ): (StreamingQuery, State) = {
    val state = newState(events.sparkSession)
    val q = events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingest(state, batch)
        ()
      }
      .start()
    (q, state)
  }

  /** Deterministic replay of a change log in `splits` micro-batches
    * sliced by `seq mod splits` — a key's events SPREAD across
    * batches, so the cross-batch retract path is genuinely exercised
    * (id-sliced batches would keep each key whole).
    */
  def replay(log: DataFrame, splits: Int = 4): DataFrame =
    replay(Fold.byMod(log, col("seq"), splits))

  /** Replay `batches` in the order given; a reversed slicing delivers
    * many events after newer ones for their key — the adversarial
    * order for the late-arrival gate.
    */
  def replay(batches: Seq[DataFrame]): DataFrame = {
    val state = newState(batches.head.sparkSession)
    Fold.replay(batches, state)((b, _) => ingest(state, b))(
      state.aggregate.orderBy("content"))
  }
}
