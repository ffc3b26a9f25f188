package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Streaming conversion funnel (the CEP form of q64): each user is a
  * 4-state machine `none → view → click → purchase` that advances only
  * on a strictly LATER event of the next stage's type — exactly q64's
  * batch semantics (first view; first click after it; first purchase
  * after that), because a greedy machine over a time-ordered stream
  * picks the same minima the batch query's `MIN(ts) > prev` stages do.
  *
  * Per-user state is O(1) — `(stage, stageTs)`, two scalars — the
  * whole point of funnel-as-CEP at scale: 10⁹ users is 10⁹ tiny state
  * rows, not a re-scan of the event history. Two equivalent drivers:
  *
  *  - [[funnelQuery]]: typed `mapGroupsWithState` over a watermarked
  *    stream — Spark's state store owns the machine; within a batch
  *    the group's events are folded in (ts, event_id) order.
  *  - [[ingest]]/[[replay]]: the `foreachBatch`-style DataFrame fold
  *    (same shape as [[StreamAggMaintain]]), advancing the state
  *    frame at most [[STAGES]] times per batch — the stage count
  *    bounds the iteration, so one micro-batch costs ≤ 3 dense
  *    user_id join+agg rounds regardless of batch size.
  *
  * Ordering contract (documented, watermark-style): batches arrive in
  * nondecreasing event-time order per user; WITHIN a batch any order
  * is fine (the fold sorts, the frame form takes minima). A greedy
  * machine cannot un-advance, so cross-batch late data would need the
  * retract discipline of [[StreamAggMaintain]] instead — out of scope
  * for a funnel, which in production runs behind the watermark.
  */
object StreamFunnel {

  /** view=1, click=2, purchase=3. */
  val STAGES = 3
  private val stageType = Seq("view", "click", "purchase")

  final case class Ev(user_id: Long, ts_us: Long, event_type: String)
  final case class FunnelSt(stage: Int, stageTsUs: Long)

  /** Fold one user's (sorted) events into the machine. */
  private[streaming] def advance(st: FunnelSt, evs: Iterator[Ev]): FunnelSt =
    evs.foldLeft(st) { (s, e) =>
      if (
        s.stage < STAGES && e.event_type == stageType(s.stage) &&
        (s.stage == 0 || e.ts_us > s.stageTsUs)
      ) FunnelSt(s.stage + 1, e.ts_us)
      else s
    }

  /** Typed streaming form: per-user funnel stage maintained in the
    * state store; emits the user's (possibly unchanged) stage each
    * batch it appears in. Update output mode.
    */
  def funnelQuery(events: Dataset[Ev]): Dataset[(Long, Int)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSt, (Long, Int)](
        GroupStateTimeout.NoTimeout
      ) { (user: Long, evs: Iterator[Ev], state: GroupState[FunnelSt]) =>
        val st0 = state.getOption.getOrElse(FunnelSt(0, 0L))
        val st =
          advance(st0, evs.toSeq.sortBy(e => (e.ts_us, e.event_type)).iterator)
        state.update(st)
        (user, st.stage)
      }
  }

  /** Start the streaming query into an in-memory sink named `sink`
    * (read the latest per-user stage with `spark.table(sink)`).
    */
  def start(events: Dataset[Ev], sink: String, checkpoint: String): StreamingQuery =
    funnelQuery(events).toDF("user_id", "stage").writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(sink)
      .option("checkpointLocation", checkpoint)
      .start()

  // ---------------- foreachBatch / replay form ----------------

  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("stage", IntegerType),
    StructField("stage_ts_us", LongType)
  ))

  /** Per-user machines: (user_id, stage, stage_ts_us). */
  type State = Fold.Slot

  def newState(spark: SparkSession): State =
    new Fold.Slot(Fold.empty(spark, stateSchema))

  /** Apply one micro-batch of `(user_id, ts_us, event_type)` rows.
    * The machine advances one stage per round; [[STAGES]] rounds make
    * any within-batch chain (view+click+purchase arriving together)
    * land — bounded by the funnel depth, never by batch size.
    */
  def ingest(state: State, batch: DataFrame): Unit = {
    val users = batch.select(col("user_id")).distinct()
    var st = state.value
      .unionByName(
        // open a stage-0 machine for first-seen users
        users
          .join(state.value.select("user_id"), Seq("user_id"), "left_anti")
          .select(
            col("user_id"),
            lit(0).as("stage"),
            lit(0L).as("stage_ts_us")
          )
      )
    (0 until STAGES).foreach { _ =>
      // try_element_at: a completed machine (stage = STAGES) has no
      // next type — the NULL comparison drops it from candidates
      val nextType = try_element_at(
        typedLit(stageType),
        (col("stage") + 1).cast("int")
      )
      val adv = batch
        .join(st, "user_id")
        .filter(
          col("event_type") === nextType &&
            (col("stage") === 0 || col("ts_us") > col("stage_ts_us"))
        )
        .groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("__adv_ts"))
      st = st
        .join(adv, Seq("user_id"), "left")
        .select(
          col("user_id"),
          when(col("__adv_ts").isNotNull, col("stage") + 1)
            .otherwise(col("stage")).as("stage"),
          when(col("__adv_ts").isNotNull, col("__adv_ts"))
            .otherwise(col("stage_ts_us")).as("stage_ts_us")
        )
    }
    state.set(st)
  }

  /** Funnel counts from a state frame — q64's output shape. */
  def summarize(stages: DataFrame): DataFrame = {
    def n(minStage: Int, as: String) =
      sum(when(col("stage") >= minStage, 1L).otherwise(0L)).as(as)
    stages
      .agg(n(1, "n_view"), n(2, "n_click"), n(3, "n_purchase"))
      .select(
        col("n_view"),
        col("n_click"),
        col("n_purchase"),
        // keep in lockstep with q64 (Qx.floorScale, the text20 class)
        graft.ops.Qx
          .floorScale(col("n_click").cast("double") / col("n_view"), 10)
          .as("click_rate"),
        graft.ops.Qx
          .floorScale(col("n_purchase").cast("double") / col("n_click"), 10)
          .as("purchase_rate")
      )
  }

  /** Deterministic replay in `splits` micro-batches sliced by event
    * TIME (equal epoch-range strides) — batches honor the ordering
    * contract, a user's stages genuinely span batches, and the result
    * must equal batch q64 for ANY `splits` (pinned in spec + gate).
    */
  def replay(events: DataFrame, splits: Int = 4): DataFrame = {
    val ev = events.select(
      col("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_type")
    )
    val state = newState(events.sparkSession)
    Fold.replay(Fold.byRange(ev, col("ts_us"), splits), state)(
      (b, _) => ingest(state, b))(summarize(state.value))
  }
}
