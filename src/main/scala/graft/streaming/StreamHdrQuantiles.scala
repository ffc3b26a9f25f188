package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming grouped quantiles via the HDR sketch as sink-owned state
  * — the latency-dashboard feed (p50/p99 per key, continuously
  * updated) built from q85/q88's bucket construction: per-(group,
  * bucket) COUNTS are the whole state, merged across micro-batches by
  * plain addition — associative and commutative, so any slicing and
  * any arrival order land on the same sketch; state is bounded at
  * ~1K rows per group REGARDLESS of feed length or value cardinality.
  *
  * (Unlike the register MAX of [[StreamWindowHll]], count addition is
  * NOT idempotent — exactly-once delivery into the fold is the
  * contract, which foreachBatch's batchId-checkpoint handshake
  * provides; an at-least-once source would need per-batch dedup
  * first, stream10's discipline.)
  *
  * The serving read is `Relational10.hdrTargets` over the accumulated
  * counts: rank + bucket lower bound per (group, quantile) — within
  * 2^-S of the true order statistic by construction. The EXACT
  * selection pass (q85/q88's second scan) is a batch affair over the
  * stored feed; a streaming sink serves the sketch bound.
  */
object StreamHdrQuantiles {

  /** The sketch: (groupCols, bucket, pw, cnt). */
  type State = Fold.Slot

  def newState(spark: SparkSession): State = new Fold.Slot

  /** Fold one micro-batch (groupCols + BIGINT `v`) into the sketch. */
  def ingest(state: State, batch: DataFrame, groupCols: Seq[String]): Unit = {
    val counts = graft.ops.Relational10.hdrBucketCounts(batch, groupCols)
    state.set(state.get.fold(counts)(
      _.unionByName(counts)
        .groupBy((groupCols ++ Seq("bucket", "pw")).map(col): _*)
        .agg(sum(col("cnt")).as("cnt"))))
  }

  /** Deterministic replay sliced by `sliceCol` mod `slices`; returns
    * the (group, p, r, est) quantile read over the final sketch.
    */
  def replay(
      values: DataFrame,
      groupCols: Seq[String],
      sliceCol: String,
      slices: Int = 5
  ): DataFrame = {
    val state = newState(values.sparkSession)
    Fold.replay(Fold.byMod(values, col(sliceCol), slices), state)(
      (b, _) => ingest(state, b.drop(sliceCol), groupCols))(
      graft.ops.Relational10
        .hdrTargets(state.value, groupCols)
        .select((groupCols ++ Seq("p", "r", "est")).map(col): _*))
  }
}
