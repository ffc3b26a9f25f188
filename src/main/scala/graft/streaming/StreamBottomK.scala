package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming uniform sampling by bottom-k hash order — the sample a
  * 100 TB ingest keeps per source: the k rows with the SMALLEST
  * portable hash. Unlike first-arrival admission (stream21) the kept
  * set is a function of the corpus alone — any arrival order, any
  * micro-batch slicing, and any replay land on the SAME sample
  * (min-k is associative, commutative, and idempotent), so the
  * sample is re-derivable and audit-stable. State is O(k · sources)
  * BY CONSTRUCTION: each fold unions the batch into the kept set and
  * re-takes the per-source bottom k (WindowGroupLimit — rank
  * pushdown, never a full sort of history).
  *
  * The kept set's LARGEST hash is simultaneously the KMV threshold,
  * so the serving read reports the classic distinct-count estimate
  * (k−1)·2³² div h₍ₖ₎ for free — sampling and cardinality sketching
  * are the same state (Bar-Yossef et al. 2002; dedup25's pairwise
  * overlap sketch is this state's two-corpus face).
  */
object StreamBottomK {

  /** Per-source sample size. */
  private[graft] val SAMPLE_K = 25L

  /** Hash seed: decouples the sample's hash order from every other
    * h32 use on the same ids.
    */
  private[graft] val SEED = 1223

  /** The kept set: (source, doc_id, h), at most k rows per source. */
  type State = Fold.Slot

  def newState(spark: SparkSession): State = new Fold.Slot

  /** Fold one micro-batch of (source, doc_id) into the sample. */
  def ingest(state: State, batch: DataFrame, k: Long = SAMPLE_K): Unit = {
    val hashed = batch.select(
      col("source"),
      col("doc_id"),
      graft.functions.PortableHash
        .h32(col("doc_id").cast("string"), SEED)
        .as("h")
    )
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
    state.set(
      state.get.fold(hashed)(_.unionByName(hashed))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .drop("__rn"))
  }

  /** The serving read: per source, the sample size, its hash span,
    * the order-free Σh fingerprint, and the KMV distinct estimate
    * read off the kept set's largest hash. When a source holds fewer
    * than k distinct docs the kept set IS the population, so the
    * exact n_kept is the estimate — the (k−1)·2³²/h₍ₖ₎ formula only
    * applies once the k-th minimum is a real order statistic.
    */
  def serve(state: State, k: Long = SAMPLE_K): DataFrame =
    state.value
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_kept"),
        min(col("h")).as("min_h"),
        max(col("h")).as("max_h"),
        sum(col("h")).as("sample_fp"),
        expr(
          s"""CAST(CASE WHEN count(1) < $k THEN count(1)
             |ELSE CAST(($k - 1) * 4294967296 AS BIGINT) div max(h)
             |END AS BIGINT)""".stripMargin
        ).as("kmv_est")
      )
      .orderBy("source")

  /** Deterministic replay in `splits` doc_id-sliced micro-batches;
    * must equal the batch bottom-k for ANY `splits` and any order.
    */
  def replay(docs: DataFrame, splits: Int = 5): DataFrame =
    replay(Fold.byMod(docs, col("doc_id"), splits))

  /** Replay `batches` in the order given. */
  def replay(batches: Seq[DataFrame]): DataFrame = {
    val state = newState(batches.head.sparkSession)
    Fold.replay(batches, state)((b, _) => ingest(state, b))(serve(state))
  }
}
