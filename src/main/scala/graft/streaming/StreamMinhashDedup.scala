package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** MinHash-LSH near-duplicate detection on ingest, `foreachBatch`
  * style — the sink-owned-state counterpart of [[StreamLshDedup]]
  * (which keeps its band membership in Spark's state store). The
  * accumulated band membership is a LOG-STRUCTURED table the batch
  * machinery owns — an append-only vector of per-batch membership
  * segments plus periodic compaction — exactly the shape that becomes
  * a Delta/parquet MERGE target at real scale: each micro-batch
  * MATERIALIZES only its own O(batch) segment (plus the emitted
  * pairs), never a rewrite of the full state. Candidate discipline per
  * batch is the SAME as the oracle-checked batch pass (dedup04 /
  * `Dedup.lshCandidatePairs`): fused map-side sketch, one shuffle on
  * (band, band_sig), pairs only within buckets.
  *
  * Per batch:
  *  1. sketch the arriving docs (fused `MinHashBands`, NULL-hardened);
  *  2. drop (bucket, doc) memberships already in the log — re-ingests
  *     are idempotent and never re-emit. Over-cap memberships are IN
  *     the log (flagged `kept = false`), so this holds for them too;
  *  3. emit one candidate pair per (new member × bucket co-member),
  *     where co-members are the bucket's KEPT members plus this
  *     batch's new arrivals (new×new pairs within the batch), deduped
  *     to id_a < id_b — a duplicate is flagged the moment it arrives,
  *     against all history, without rescanning it;
  *  4. append the new memberships as one checkpointed segment. A new
  *     membership is `kept` while the bucket has capacity (`cap`,
  *     filled first-batch-then-id order — deterministic); over-cap
  *     arrivals are logged kept=false: they pair on first arrival and
  *     suppress their own re-ingest, but never serve as co-members —
  *     the hot-bucket (boilerplate) bound.
  *
  * Per-batch materialized bytes are O(batch + new pairs); the full
  * log is rewritten only by compaction, every `compactEvery` appends
  * (amortized O(state / compactEvery) per batch), which also keeps
  * the union view's plan width bounded. Emitted pair frames are
  * eagerly materialized and kept by the state until it closes, so a
  * reader may hold any previously returned pairs across batch
  * boundaries.
  *
  * The accumulated pair set is arrival-order independent (bands are a
  * pure function of text; every co-bucket pair is emitted exactly
  * once, when its later member first arrives — re-ingests of kept AND
  * over-cap members are both suppressed by the log) — so a
  * full-corpus replay equals batch dedup04's candidate set, which is
  * how the oracle gate checks it (stream07). Order-independence of
  * the KEPT set itself additionally requires under-cap buckets, since
  * cap slots fill in arrival order.
  */
object StreamMinhashDedup {

  private val logSchema = StructType(Seq(
    StructField("band", IntegerType),
    StructField("band_sig", LongType),
    StructField("doc_id", LongType),
    StructField("seq", LongType),
    StructField("kept", BooleanType)
  ))

  private val pairSchema = StructType(Seq(
    StructField("id_a", LongType),
    StructField("id_b", LongType)
  ))

  /** Log-structured accumulated bucket membership: an append-only
    * vector of checkpointed (band, band_sig, doc_id, seq, kept)
    * segments, compacted into one segment every `compactEvery`
    * appends; plus the pairs each batch emitted, one slot per batch.
    */
  final class State(spark: SparkSession, val cap: Int, val compactEvery: Int)
      extends AutoCloseable {
    @volatile private[streaming] var segments: Vector[Fold.Slot] = Vector.empty
    @volatile private var emitted: Vector[Fold.Slot] = Vector.empty

    private def union(slots: Vector[Fold.Slot], schema: StructType): DataFrame =
      if (slots.isEmpty) Fold.empty(spark, schema)
      else slots.map(_.value).reduce(_ unionByName _)

    /** The full membership log (kept and over-cap rows). */
    private[streaming] def log: DataFrame = union(segments, logSchema)

    /** Every candidate pair emitted so far (id_a < id_b). */
    def pairs: DataFrame = union(emitted, pairSchema)

    /** The bucket members (kept rows only) — what a bucket's
      * co-member set is drawn from, and what `cap` bounds.
      */
    def bands: DataFrame = log.filter(col("kept")).drop("kept")

    private[streaming] def append(segment: DataFrame): Unit = {
      segments = segments :+ slotOf(segment)
      if (segments.size >= compactEvery) {
        val old = segments
        segments = Vector(slotOf(log))
        old.foreach(_.close())
      }
    }

    private[streaming] def emit(batchPairs: DataFrame): DataFrame = {
      val s = slotOf(batchPairs)
      emitted = emitted :+ s
      s.value
    }

    private def slotOf(df: DataFrame): Fold.Slot = {
      val s = new Fold.Slot
      s.set(df)
      s
    }

    /** Release every segment and every emitted pair frame. Public: a
      * caller composing ingest batches directly (cdc12's churn replay)
      * owns the state lifecycle.
      */
    def close(): Unit = {
      (segments ++ emitted).foreach(_.close())
      segments = Vector.empty
      emitted = Vector.empty
    }
  }

  def newState(spark: SparkSession, cap: Int = 1024, compactEvery: Int = 8): State =
    new State(spark, cap, compactEvery)

  /** Apply one micro-batch of (idCol, textCol) docs; returns the new
    * candidate pairs (id_a < id_b), eagerly materialized and kept by
    * `state` (readable until it closes).
    */
  def ingest(
      state: State,
      batch: DataFrame,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 32,
      bands: Int = 8
  ): DataFrame = {
    val spark = batch.sparkSession
    // within-batch idempotency (at-least-once delivery can repeat a
    // doc inside one batch) is enforced BEFORE the sketch: one narrow
    // shuffle on the id of the raw rows, not a distinct over the
    // bands×-wider exploded band rows. Docs are immutable by contract
    // (doc_id determines text), so keep-any is deterministic in value.
    // Fused sketch below; NULL-hardened like StreamLshDedup (a null
    // text yields a null band row via the outer explode — it must
    // neither pair nor enter state).
    val sketched = batch
      .filter(col(idCol).isNotNull)
      .dropDuplicates(Seq(idCol))
      .select(
        col(idCol).cast("long").as("doc_id"),
        posexplode_outer(
          graft.plans.MinHashBands(spark, col(textCol), k, bands)
        ).as(Seq("band", "band_sig"))
      )
      .filter(col("band").isNotNull && col("band_sig").isNotNull)
    val log = state.log
    // the anti-join probes the FULL log (kept + over-cap rows): any
    // previously seen membership — even one that never got a cap slot
    // — is a re-ingest and must neither pair nor re-enter the log.
    // Materialized ONCE (O(batch)): both the pair emission and the
    // state segment below derive from it — without this each would
    // recompute the sketch + anti-join.
    val newRows = sketched
      .join(log, Seq("band", "band_sig", "doc_id"), "left_anti")
      .localCheckpoint(true)
    val kept = log.filter(col("kept"))
    // candidates: new members against kept co-members (old×old pairs
    // were emitted in their own batch) plus new×new within the batch
    val coMembers = kept
      .select(col("band"), col("band_sig"), col("doc_id").as("other"))
      .unionByName(
        newRows.select(col("band"), col("band_sig"), col("doc_id").as("other"))
      )
    val pairs = state.emit(newRows
      .join(coMembers, Seq("band", "band_sig"))
      .filter(col("other") =!= col("doc_id"))
      .select(
        least(col("doc_id"), col("other")).as("id_a"),
        greatest(col("doc_id"), col("other")).as("id_b")
      )
      .distinct())
    // cap accounting touches only this batch's buckets: count each
    // touched bucket's kept members (a tiny aggregate — broadcast to
    // the new rows), rank new arrivals by id, and flag the overflow
    // kept=false instead of dropping it
    val touched = newRows.select("band", "band_sig").distinct()
    val keptCounts = kept
      .join(touched, Seq("band", "band_sig"), "left_semi")
      .groupBy("band", "band_sig")
      .agg(count(lit(1)).as("__kept_n"))
    val w = Window
      .partitionBy(col("band"), col("band_sig"))
      .orderBy(col("doc_id"))
    val segment = newRows
      .join(broadcast(keptCounts), Seq("band", "band_sig"), "left_outer")
      .withColumn("seq", lit(batchId))
      .withColumn(
        "kept",
        coalesce(col("__kept_n"), lit(0L)) + row_number().over(w) <= state.cap
      )
      .drop("__kept_n")
    state.append(segment)
    // pairs and the segment are materialized above; the intermediate
    // newRows blocks are no longer reachable from any live frame
    GraftSqlShims.unpersistCheckpoint(newRows)
    pairs
  }

  /** Streaming wrapper: foreachBatch over a documents stream; the
    * returned state's `pairs` is every pair emitted so far, an
    * append-only vector of per-batch frames (each batch's write is
    * O(new pairs), never a rewrite of a growing union).
    */
  def dedupQuery(
      docs: DataFrame,
      checkpoint: String,
      cap: Int = 1024
  ): (StreamingQuery, State) = {
    val state = newState(docs.sparkSession, cap)
    val q = docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingest(state, batch, batchId)
        ()
      }
      .start()
    (q, state)
  }

  /** Deterministic full-corpus replay in `splits` micro-batches
    * (sliced by doc_id mod) — the batch-mode gate: the accumulated
    * pair set must equal the single-pass batch candidate set
    * regardless of the slicing.
    */
  def replay(docs: DataFrame, splits: Int = 5, cap: Int = 1024): DataFrame = {
    val state = newState(docs.sparkSession, cap)
    Fold.replay(Fold.byMod(docs, col("doc_id"), splits), state)(
      (b, i) => ingest(state, b, i.toLong))(state.pairs)
  }
}
