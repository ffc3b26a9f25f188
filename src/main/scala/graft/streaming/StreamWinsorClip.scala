package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming face of q106's sketch-guided winsorization: the
  * per-(series, bucket) HDR counts are the ONLY maintained state
  * ([[StreamHdrQuantiles]]' sketch slot — bounded at ~1K rows per series
  * regardless of feed length, merged by plain count addition), so cut
  * LOCATION is continuously current with no sort anywhere; the exact
  * cut VALUE is read at SERVING time by the one bucket-pruned pass
  * over the at-rest corpus — the shape a 100 TB clip pipeline runs
  * (sketch state online, the 2-target-bucket selection against cheap
  * storage when cuts are actually needed).
  *
  * Serve = [[graft.ops.Relational11.winsorSketchAudit]] over the
  * accumulated counts — the SAME definition batch q106 evaluates with
  * inline counts. Count addition is associative and commutative, so
  * any micro-batch slicing lands on the identical sketch and replay ≡
  * batch q106 is structural, not a hand-synced copy
  * (StreamWinsorClipSpec pins it for several split counts anyway, and
  * the gated stream22 row rides q106's own oracle).
  */
object StreamWinsorClip {

  type State = StreamHdrQuantiles.State

  def newState(spark: SparkSession): State =
    StreamHdrQuantiles.newState(spark)

  /** Fold one micro-batch of (event_type, cents) into the sketch. */
  def ingest(state: State, batch: DataFrame): Unit =
    StreamHdrQuantiles.ingest(
      state,
      batch.select(col("event_type"), col("cents").as("v")),
      Seq("event_type")
    )

  /** The serving read: q106's full audit table (sketch cuts located
    * in the maintained state, exact cut values + the exact-anchor
    * bias from the bucket-pruned pass over `values` at rest).
    */
  def serve(state: State, values: DataFrame): DataFrame =
    graft.ops.Relational11.winsorSketchAudit(
      values.sparkSession,
      values,
      state.value
    )

  /** Deterministic replay in `splits` event_id-sliced micro-batches;
    * must equal batch q106 for ANY `splits`.
    */
  def replay(values: DataFrame, splits: Int = 5): DataFrame = {
    val state = newState(values.sparkSession)
    Fold.replay(Fold.byMod(values, col("event_id"), splits), state)(
      (b, _) => ingest(state, b))(serve(state, values))
  }
}
