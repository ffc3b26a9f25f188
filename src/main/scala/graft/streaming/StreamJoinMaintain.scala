package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incremental materialized JOIN-view maintenance over a CDC stream —
  * the delta-join counterpart of [[StreamAggMaintain]] (which
  * maintains a grouped aggregate). The maintained view is
  *
  * {{{ V = A ⋈_content B,   B = (SELECT content, COUNT(*) FROM A GROUP BY content) }}}
  *
  * i.e. each LIVE key's row enriched with its group's current size —
  * the "fact joined to a maintained group stat" materialized view a
  * warehouse serves without recomputing either side. The reference
  * serves per-entity reads plus list counts (reference
  * MessageResource.java:25-43); this is the composition that keeps
  * both current under churn from deltas alone.
  *
  * Per batch, the standard delta-join algebra `ΔV = ΔA ⋈ B_new ∪
  * (A_new − ΔA) ⋈ ΔB`, specialized to the self-derived B:
  *  1. reduce the batch per key under (ts, seq); drop batch winners
  *     at or before the key's current version (late arrivals never
  *     touch the view — arrival order is irrelevant);
  *  2. fold ±1 count deltas into the tiny B table; contents whose
  *     count actually CHANGED (net Δn ≠ 0) are the only groups whose
  *     untouched rows need a rewrite — a same-group value update
  *     (Δn = 0) rewrites just its own key's row;
  *  3. rewrite exactly `accepted keys ∪ live keys of changed
  *     contents`: everything else is carried over untouched. Per-batch
  *     recompute work is O(batch + Σ size of changed groups) — never a
  *     full-view rejoin. (The carry-over itself is the simple dense
  *     rewrite, as in [[StreamAggMaintain]]; at real scale the
  *     rewrite set is the MERGE predicate into a keyed table and the
  *     carry-over is free. The rewritten-row count is exposed per
  *     batch via `State.lastRewritten` and pinned against the touched
  *     bound in StreamJoinMaintainSpec.)
  *
  * Replay of ANY slicing of the log — including reversed slice order
  * — lands on the batch recompute `A ⋈ B` exactly, which is how the
  * cdc13 oracle checks it.
  */
object StreamJoinMaintain {

  final class State(spark: SparkSession) extends Fold.State {
    private val keySchema = StructType(Seq(
      StructField("id", LongType),
      StructField("op", StringType),
      StructField("content", StringType),
      StructField("value", DoubleType),
      StructField("ts", TimestampType),
      StructField("seq", LongType)
    ))
    private val countSchema = StructType(Seq(
      StructField("content", StringType),
      StructField("group_n", LongType)
    ))
    private val viewSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("content", StringType),
      StructField("value", DoubleType),
      StructField("group_n", LongType)
    ))

    private[streaming] val keyState = slot(Fold.empty(spark, keySchema))
    private[streaming] val countState = slot(Fold.empty(spark, countSchema))
    private[streaming] val viewState = slot(Fold.empty(spark, viewSchema))

    /** Rows recomputed by the last batch (the delta-join's touched
      * set) — what a MERGE would write; the spec pins it against
      * `accepted ∪ changed-group membership`.
      */
    @volatile var lastRewritten: Long = 0L

    /** The maintained join view (live rows only). */
    def view: DataFrame = viewState.value
  }

  def newState(spark: SparkSession): State = new State(spark)

  /** Apply one micro-batch of change events
    * `(op, id, content, value, ts, seq)`; returns the updated view.
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
      col("ts").as("prev_ts"),
      col("seq").as("prev_seq")
    )
    val accepted = winners
      .join(prev, Seq("id"), "left")
      .filter(
        col("prev_ts").isNull ||
          col("ts") > col("prev_ts") ||
          (col("ts") === col("prev_ts") && col("seq") > col("prev_seq"))
      )
      .localCheckpoint(true)
    // ±1 count deltas: retract the previous live membership, add the
    // new one; net Δn per content decides whether the GROUP is touched
    val deltas = accepted
      .select(
        explode(
          array(
            when(
              col("prev_op").isNotNull && col("prev_op") =!= "D",
              struct(col("prev_content").as("content"), lit(-1L).as("dn"))
            ),
            when(
              col("op") =!= "D",
              struct(col("content").as("content"), lit(1L).as("dn"))
            )
          )
        ).as("d")
      )
      .filter(col("d").isNotNull)
      .groupBy(col("d.content").as("content"))
      .agg(sum(col("d.dn")).as("dn"))
    val newCount = state.countState.value
      .join(deltas, Seq("content"), "full_outer")
      .select(
        col("content"),
        (coalesce(col("group_n"), lit(0L)) +
          coalesce(col("dn"), lit(0L))).as("group_n")
      )
      .filter(col("group_n") > 0)
    // groups whose size changed: every live row of such a group needs
    // its group_n rewritten even if the row itself didn't change
    val changed = deltas.filter(col("dn") =!= 0).select("content")
    val acceptedKeys = accepted.select("id", "op", "content", "value", "ts", "seq")
    val newKey = state.keyState.value
      .join(acceptedKeys.select("id"), Seq("id"), "left_anti")
      .unionByName(acceptedKeys)
    val liveNew = newKey
      .filter(col("op") =!= "D")
      .select("id", "content", "value")
    // rewrite set = accepted keys ∪ members of changed groups,
    // recomputed from (live state ⋈ new counts); the complement is
    // carried over verbatim — the delta-join's touched-only discipline
    // materialized ONCE (eager): the view update reads it, and counting
    // it afterwards must not re-derive lineage through state frames
    // the set has already released
    val rewriteRows = liveNew
      .join(acceptedKeys.select("id"), Seq("id"), "left_semi")
      .unionByName(
        liveNew
          .join(acceptedKeys.select("id"), Seq("id"), "left_anti")
          .join(changed, Seq("content"), "left_semi")
      )
      .join(newCount, Seq("content"))
      .select("id", "content", "value", "group_n")
      .localCheckpoint(true)
    val carried = state.viewState.value
      .join(acceptedKeys.select("id"), Seq("id"), "left_anti")
      .join(changed, Seq("content"), "left_anti")
    val newView = carried.unionByName(rewriteRows)
    Fold.set(state.keyState -> newKey, state.countState -> newCount,
      state.viewState -> newView)
    state.lastRewritten = rewriteRows.count()
    Seq(accepted, rewriteRows).foreach(GraftSqlShims.unpersistCheckpoint(_))
    state.view
  }

  /** Streaming wrapper: foreachBatch over a change-event stream; read
    * `state.view` after `processAllAvailable`.
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

  /** Deterministic replay in `splits` seq-sliced micro-batches (a
    * key's events spread across batches).
    */
  def replay(log: DataFrame, splits: Int = 5): DataFrame =
    replay(Fold.byMod(log, col("seq"), splits))

  /** Replay `batches` in the order given (a reversed slicing is the
    * adversarial case for the late-arrival gate). */
  def replay(batches: Seq[DataFrame]): DataFrame = {
    val state = newState(batches.head.sparkSession)
    Fold.replay(batches, state)((b, _) => ingest(state, b))(state.view)
  }
}
