package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming audience segmentation (the incremental form of q96):
  * per-user membership flags (did click / purchase / error) maintained
  * as state, with the 2³ segment-overlap cells readable at any time.
  *
  * The per-user state is a monotone join-semilattice — three booleans
  * merged by OR — so this is a CRDT ingest: arrival order, batch
  * slicing, duplicate delivery (at-least-once sources) and replays
  * all converge to the same state, with NO ordering contract at all
  * (strictly weaker requirements than [[StreamFunnel]], whose machine
  * needs per-user time order across batches). State is O(1) per user:
  * three booleans.
  *
  * Two drivers, matching the funnel's pattern:
  *  - [[segmentsQuery]]: typed `mapGroupsWithState` — the state store
  *    owns the flags; Update mode emits the user's current flags each
  *    batch they appear in.
  *  - [[ingest]]/[[replay]]: the foreachBatch-style DataFrame fold —
  *    one dense user_id aggregate per batch, OR-merged into the state
  *    frame.
  */
object StreamSegments {

  final case class Ev(user_id: Long, event_type: String)
  final case class Flags(click: Boolean, purchase: Boolean, error: Boolean)

  private[streaming] def merge(a: Flags, b: Flags): Flags =
    Flags(a.click || b.click, a.purchase || b.purchase, a.error || b.error)

  private def flagsOf(evs: Iterator[Ev]): Flags =
    evs.foldLeft(Flags(false, false, false)) { (f, e) =>
      merge(
        f,
        Flags(
          e.event_type == "click",
          e.event_type == "purchase",
          e.event_type == "error"
        )
      )
    }

  /** Typed streaming form: per-user flags in the state store. */
  def segmentsQuery(events: Dataset[Ev]): Dataset[(Long, Flags)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Flags, (Long, Flags)](
        GroupStateTimeout.NoTimeout
      ) { (user: Long, evs: Iterator[Ev], state: GroupState[Flags]) =>
        val st = merge(state.getOption.getOrElse(Flags(false, false, false)), flagsOf(evs))
        state.update(st)
        (user, st)
      }
  }

  /** Start the streaming query into an in-memory sink named `sink`. */
  def start(events: Dataset[Ev], sink: String, checkpoint: String): StreamingQuery =
    segmentsQuery(events)
      .map { case (u, f) => (u, f.click, f.purchase, f.error) }(
        org.apache.spark.sql.Encoders
          .tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaBoolean,
            org.apache.spark.sql.Encoders.scalaBoolean,
            org.apache.spark.sql.Encoders.scalaBoolean
          )
      )
      .toDF("user_id", "did_click", "did_purchase", "did_error")
      .writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(sink)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Per-user flags for the DataFrame fold form:
    * (user_id, did_click, did_purchase, did_error).
    */
  type State = Fold.Slot

  def newState(spark: SparkSession): State = {
    import spark.implicits._
    new Fold.Slot(Seq.empty[(Long, Boolean, Boolean, Boolean)]
      .toDF("user_id", "did_click", "did_purchase", "did_error"))
  }

  /** Fold one micro-batch: one dense user_id aggregate, OR-merged. */
  def ingest(state: State, batch: DataFrame): Unit = {
    val b = batch
      .groupBy(col("user_id"))
      .agg(
        max(col("event_type") === "click").as("did_click"),
        max(col("event_type") === "purchase").as("did_purchase"),
        max(col("event_type") === "error").as("did_error")
      )
    state.set(
      state.value
        .unionByName(b)
        .groupBy(col("user_id"))
        .agg(
          max(col("did_click")).as("did_click"),
          max(col("did_purchase")).as("did_purchase"),
          max(col("did_error")).as("did_error")
        ))
  }

  /** The 2³ overlap cells of the current state — q96's output shape. */
  def cells(state: State): DataFrame =
    state.value
      .groupBy(col("did_click"), col("did_purchase"), col("did_error"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("did_click", "did_purchase", "did_error")

  /** Replay `events` in `slices` event_id-keyed micro-batches (any
    * slicing is valid — the state is order-free) and return the final
    * cells.
    */
  def replay(events: DataFrame, slices: Int = 4): DataFrame = {
    val state = newState(events.sparkSession)
    Fold.replay(Fold.byMod(events, col("event_id"), slices), state)(
      (b, _) => ingest(state, b))(cells(state))
  }
}
