package graft.streaming

import graft.sources.ManifestStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest INTO the manifest store with exactly-once
  * publication — the sink-side half of the crash-recovery contract.
  * Structured Streaming's `foreachBatch` guarantee is at-least-once:
  * after a crash between the sink's commit and the checkpoint
  * advancing, the SAME batchId is re-delivered on restart, and a
  * naive append would double its rows. Here each micro-batch stages
  * its files and publishes through
  * [[graft.sources.ManifestStore.commitBatch]], whose per-sink
  * batchId ledger rides the SAME atomic manifest swap as the data —
  * so "did batch b commit?" has exactly one answer, and the re-
  * delivered batch is recognized and skipped with nothing published
  * (its re-staged files stay unreferenced until vacuum).
  *
  * This is the reference's transactional write guarantee
  * (quarkus_cloud_run/src/main/java/.../MessageResource.java:19
  * `@Transactional` per request) carried onto the streaming ingest
  * path: one micro-batch = one transaction, idempotent under the
  * at-least-once delivery the checkpoint protocol produces.
  *
  * Scale posture: each batch commit touches only the batch's own
  * staged files plus one manifest read-modify-swap (manifest-sized,
  * driver-side); the store's data files are never rewritten by
  * ingest, so commit cost is O(batch), not O(store).
  */
object StreamManifestIngest {

  val SINK = "manifest-ingest"

  /** The `foreachBatch` body: stage, then publish through the ledger.
    * Returns whether this call published (false = recognized
    * redelivery, nothing changed). A redelivery already visible in
    * the manifest is recognized BEFORE staging — the batch's write is
    * skipped entirely, not just its publish (at scale the staged
    * files are the cost, the manifest read is free); the authoritative
    * check still runs inside [[ManifestStore.commitBatch]]'s critical
    * section, so the pre-check is a fast path, never the guard.
    */
  def applyBatch(batch: DataFrame, root: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val applied = ManifestStore.exists(spark, root) &&
      ManifestStore.snapshot(spark, root).batches.get(SINK).exists(_ >= batchId)
    if (applied) false
    else
      ManifestStore.commitBatch(
        root,
        Seq(ManifestStore.stage(batch, root, ManifestStore.MAIN,
          Seq("source"), ManifestStore.Append)),
        SINK,
        batchId
      )._2
  }

  /** Deterministic replay for the gated row: the corpus arrives in
    * `batches` doc_id-sliced micro-batches and EVERY batch is
    * delivered twice (the crash-between-commit-and-checkpoint case
    * applied to each batch — harsher than any real failure schedule).
    * The store must read back as the plain corpus, and the manifest
    * version must count only the first deliveries. The store is the
    * state; `read` shapes its readback after the last batch, and that
    * result is what the one checkpoint detaches from the files.
    */
  def replay(docs: DataFrame, root: String, batches: Int = 4)(
      read: DataFrame => DataFrame = identity): DataFrame = {
    val slim = docs.select(
      col("doc_id"), col("source"),
      col("n_chars").cast("long").as("n_chars"))
    Fold.replay(Fold.byMod(slim, col("doc_id"), batches)) { (slice, b) =>
      val first = applyBatch(slice, root, b.toLong)
      assert(first, s"first delivery of batch $b must publish")
      val second = applyBatch(slice, root, b.toLong)
      assert(!second, s"redelivery of batch $b must be recognized")
    }(read(ManifestStore.read(docs.sparkSession, root)))
  }
}
