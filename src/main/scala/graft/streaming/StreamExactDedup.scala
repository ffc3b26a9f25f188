package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming EXACT dedup on ingest — the stream form of batch
  * `dedup01`'s fingerprint-distinct: the first document with a given
  * normalized fingerprint passes, every later copy is dropped as it
  * arrives.
  *
  * Built on `dropDuplicatesWithinWatermark`: state holds one entry
  * per distinct fingerprint and — unlike a plain `dropDuplicates` on
  * a stream, whose state grows forever — entries expire once the
  * watermark passes their event time, so state is bounded by the
  * dedup horizon (the window in which a re-crawl realistically
  * re-sends a doc), not by corpus lifetime. That horizon/exactness
  * trade is the standard production posture; pair it with a periodic
  * batch `dedup01` sweep for cross-horizon copies.
  *
  * Key choice: the fingerprint EXPRESSION (normalized-text hash), not
  * doc_id — the same identity the batch operator uses, computed
  * map-side before the dedup state lookup. The state key is the
  * shuffle key; fingerprints are uniform hashes, so the state
  * partitioning is skew-free by construction.
  */
object StreamExactDedup {

  /** Normalized-content fingerprint shared with the batch dedup:
    * lowercase, collapse whitespace, portable hash. */
  def fingerprint(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.PortableHash.h32(
      regexp_replace(lower(trim(text)), "\\s+", " ")
    )

  /** `docs` must carry `ts` (event time), `doc_id`, `text`. Emits the
    * surviving rows (first arrival per fingerprint inside the
    * watermark horizon) with the fingerprint attached.
    */
  def dedup(docs: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", fingerprint(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Deterministic batch-mode replay of the ingest (the oracle-checked
    * face of [[dedup]]): slice `docs` into `nBatches` equal doc_id
    * ranges — arrival order follows doc_id — and apply the operator's
    * exact semantics per micro-batch: collapse within-batch duplicates
    * to the first arrival (the min doc_id — what a single-partition
    * stream would do; done explicitly because the state op's
    * within-batch pick is partition-order-dependent), then anti-join
    * the survivors so far on the fingerprint and append the batch's
    * own. Survivors are therefore exactly `min(doc_id) per
    * fingerprint` — the batch dedup01 identity — for ANY slicing,
    * which is what the oracle pins.
    */
  def replay(docs: DataFrame, nBatches: Int = 5): DataFrame = {
    val withFp = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val survivors = new Fold.Slot
    Fold.replay(Fold.byRange(withFp, col("doc_id"), nBatches), survivors) { (batch, _) =>
      val firstInBatch = batch
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("fp"))
      survivors.set(survivors.get.fold(firstInBatch)(seen =>
        seen.unionByName(firstInBatch.join(seen, Seq("fp"), "left_anti"))))
    }(survivors.value)
  }
}
