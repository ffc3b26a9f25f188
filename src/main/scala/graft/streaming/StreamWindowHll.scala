package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-window approximate distinct (HyperLogLog registers
  * in sink-owned state) — the cardinality companion to the windowed
  * COUNT aggregates (stream01): "distinct users per hour" maintained
  * incrementally over an unbounded feed.
  *
  * Why registers and not `approx_count_distinct` in the stream:
  * Spark's streaming aggregation cannot run approx_count_distinct
  * with mergeable state exposed to the sink, and an exact streaming
  * `dropDuplicates` holds every (window, user) pair in the state
  * store — O(distinct) state that a 100 TB feed turns into the
  * biggest table in the job. HLL registers are O(windows · m) REGARDLESS
  * of cardinality (m=64 longs per window here), merge by per-register
  * MAX — associative, commutative, idempotent — so arrival order,
  * micro-batch slicing, and at-least-once re-delivery all land on the
  * SAME state (the q79/portable-HLL register discipline, windowed).
  *
  * Per batch: build the arriving rows' (window, bucket, max rho)
  * registers — one dense groupBy of the BATCH only — then MAX-merge
  * into the accumulated register table. The merged state is tiny
  * (windows × 64 rows), so the per-batch checkpoint rewrite is
  * bounded by live-window count, not by history or cardinality;
  * windows past any retention watermark can be dropped from state
  * after their estimate is final (cdc11's compaction posture).
  *
  * The estimate is read-time arithmetic over the registers (libm-free
  * integer t-sum; one α·m²·2²⁷ / T float op) — identical to q79's
  * oracle-checked formula, per window.
  */
object StreamWindowHll {

  /** The register table (window_start, bucket, rho), sink-owned state
    * checkpointed per merge so lineage never grows with batch count.
    */
  type State = Fold.Slot

  def newState(spark: SparkSession): State = new Fold.Slot

  /** (window_start, bucket, rho) registers of one slice of events —
    * the per-batch map-side work; one dense groupBy over the batch.
    */
  def registers(events: DataFrame, m: Int, maxRho: Int): DataFrame =
    events
      .filter(col("user_id").isNotNull)
      .select(
        window(col("ts"), "1 hour").getField("start").as("window_start"),
        graft.functions.PortableHash
          .h32(concat(lit("u:"), col("user_id").cast("string")))
          .as("h")
      )
      .select(
        col("window_start"),
        pmod(col("h"), lit(m.toLong)).as("bucket"),
        when(expr(s"h div $m") === 0L, lit(maxRho))
          .otherwise(lit(maxRho) - length(bin(expr(s"h div $m"))))
          .as("rho")
      )
      .groupBy(col("window_start"), col("bucket"))
      .agg(max(col("rho")).as("rho"))

  /** Fold one micro-batch into the state. */
  def ingest(state: State, batch: DataFrame, m: Int, maxRho: Int): Unit = {
    val regs = registers(batch, m, maxRho)
    state.set(state.get.fold(regs)(
      _.unionByName(regs)
        .groupBy(col("window_start"), col("bucket"))
        .agg(max(col("rho")).as("rho"))))
  }

  /** Read-time estimate over an accumulated register table. */
  def estimate(regs: DataFrame, m: Int, maxRho: Int): DataFrame = {
    val pows = typedLit((0 to maxRho).map(1L << _))
    val emptyReg = 1L << maxRho
    regs
      .groupBy(col("window_start"))
      .agg(
        count(lit(1)).as("n_present"),
        sum(element_at(pows, (lit(maxRho + 1) - col("rho")).cast("int")))
          .as("t_present")
      )
      .select(
        col("window_start"),
        (lit(m.toLong) - col("n_present")).as("zero_registers"),
        (col("t_present") + (lit(m.toLong) - col("n_present")) * emptyReg)
          .as("t_sum")
      )
      .withColumn(
        "hll_est",
        // α_64 · m² · 2^27 (m=64): both factors exact literals — one
        // multiply + one divide, IEEE-identical on both engines
        lit(0.709) * lit(549755813888.0) / col("t_sum").cast("double")
      )
  }

  /** Deterministic replay: slice the feed by event_id mod `slices`,
    * fold each slice through the state, estimate from the final
    * registers. MAX-merge makes any slicing/order land on the same
    * registers as one batch pass — which is what the oracle checks.
    */
  def replay(events: DataFrame, m: Int, maxRho: Int, slices: Int = 5): DataFrame = {
    val state = newState(events.sparkSession)
    Fold.replay(Fold.byMod(events, col("event_id"), slices), state)(
      (b, _) => ingest(state, b, m, maxRho))(estimate(state.value, m, maxRho))
  }
}
