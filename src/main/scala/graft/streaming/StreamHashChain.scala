package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.types._

/** Streaming hash-chain maintenance — the live face of batch cdc17:
  * per-key state is O(1) (op count + the chain's running tail
  * string), updated AT INGEST, so tamper-evidence exists the moment
  * an op is applied rather than only when the after-the-fact batch
  * audit runs. A replica acks a batch only after folding it into its
  * chains; diffing two replicas' chain columns then proves (or
  * refutes) that both applied exactly the same op sequence — the
  * boundary where integrity actually matters is ingest, and this is
  * the ingest-time fold.
  *
  * The fold is cdc17's EXACT expression applied per micro-batch: the
  * batch's per-key ops sort by the same (ts, seq, op, content)
  * struct order, render as the same `op|content|seq` strings (value
  * and ts stay out — float/timestamp formatting is not cross-engine
  * stable), and fold left with the carried tail as the accumulator
  * seed — h32(...h32(r₁ ‖ r₂)...) extends to new ops without
  * revisiting history, which is the whole point of a chain. Replay ≡
  * batch cdc17 on the same oracle for ANY split count
  * (StreamHashChainSpec pins splits 1/4/7 and the O(keys) state
  * bound).
  *
  * Ordering contract (the StreamLastTouch/StreamFunnel one): batches
  * arrive in nondecreasing event-time order; a batch boundary never
  * splits a timestamp (the replay slices by ts), so the cross-batch
  * concatenation of per-batch sorts is the batch query's total sort.
  */
object StreamHashChain {

  private val chainSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_ops", LongType),
    StructField("tail", StringType)
  ))

  /** Per-key chains: (id, n_ops, tail). */
  type State = Fold.Slot

  def newState(spark: SparkSession): State =
    new Fold.Slot(Fold.empty(spark, chainSchema))

  /** Apply one micro-batch of change-log rows (op, id, content, ts,
    * seq): extend each touched key's chain tail and op count; keys
    * not in the batch keep their state rows untouched. The render,
    * fold, and seal are [[graft.cdc.CdcQueries]]'s ONE definition —
    * replay ≡ batch is structural, not a hand-synced copy. The batch
    * aggregation is eagerly materialized: both the fold join and the
    * untouched anti-join read it, and the ingest hot path must not
    * pay the batch shuffle twice.
    */
  def ingest(state: State, batch: DataFrame): Unit = {
    val g = batch
      .select(
        col("id"),
        struct(col("ts"), col("seq"), col("op"), col("content")).as("r")
      )
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("b_ops"),
        sort_array(collect_list(col("r"))).as("ops")
      )
      .localCheckpoint(true)
    val folded = g
      .join(state.value, Seq("id"), "left")
      .select(
        col("id"),
        (coalesce(col("n_ops"), lit(0L)) + col("b_ops")).as("n_ops"),
        graft.cdc.CdcQueries
          .chainFold(col("ops"), coalesce(col("tail"), lit("")))
          .as("tail")
      )
    val untouched = state.value
      .join(g.select("id"), Seq("id"), "left_anti")
    state.set(untouched.unionByName(folded))
    GraftSqlShims.unpersistCheckpoint(g)
  }

  /** Chains in cdc17's exact output shape (the closing h32 of each
    * tail is computed at read time — the running state keeps the
    * extendable tail, not the sealed chain value).
    */
  def summarize(chains: DataFrame): DataFrame =
    chains.select(
      col("id"),
      col("n_ops"),
      graft.cdc.CdcQueries.chainSeal(col("tail")).as("chain")
    )

  /** Deterministic replay in `splits` time-sliced micro-batches; the
    * maintained chains must equal batch cdc17 for ANY `splits`.
    */
  def replay(changeLog: DataFrame, splits: Int = 5): DataFrame = {
    val state = newState(changeLog.sparkSession)
    Fold.replay(Fold.byRange(changeLog, unix_micros(col("ts")), splits), state)(
      (b, _) => ingest(state, b))(summarize(state.value).orderBy("id"))
  }
}
