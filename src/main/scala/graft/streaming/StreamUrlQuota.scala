package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.types._

/** Streaming per-domain URL admission control — the live face of
  * q107's crawl quota, with the semantics a frontier actually runs:
  * FIRST-ARRIVAL admission. q107's batch quota samples a domain's URL
  * space in hash order (the anti-bias offline form); a live frontier
  * cannot reorder the future, so it admits the first Q distinct
  * normalized URLs per domain as they arrive and drops the rest at
  * ingest. State is O(quota) per domain BY CONSTRUCTION — the
  * admitted set (≤ Q skinny rows) plus one reference counter; the
  * seen-but-rejected universe is never stored (a distinct count over
  * it is the HLL/KMV sketches' job, not admission's).
  *
  * Replay ≡ batch: the batch spec of first-arrival admission is
  * "rank a domain's distinct normalized URLs by (first event_id,
  * nurl); admit rank ≤ Q", and the replay must land on it for ANY
  * event_id-ordered split (the stream19/20 discipline; batch
  * boundaries never split an event_id). The output fingerprints the
  * admitted SET order-free — Σ h32(nurl) over admitted — so the gate
  * compares membership, not arrival order.
  */
object StreamUrlQuota {

  private val admittedSchema = StructType(Seq(
    StructField("domain", StringType),
    StructField("nurl", StringType)
  ))

  private val refsSchema = StructType(Seq(
    StructField("domain", StringType),
    StructField("n_refs", LongType)
  ))

  final class State(spark: SparkSession) extends Fold.State {
    private[streaming] val admitted = slot(Fold.empty(spark, admittedSchema))
    private[streaming] val refs = slot(Fold.empty(spark, refsSchema))
  }

  def newState(spark: SparkSession): State = new State(spark)

  /** Apply one micro-batch of (event_id, nurl, domain) rows. The
    * batch is eagerly materialized: the ref counter and the
    * admission candidates both read it, and the ingest hot path must
    * not re-run the caller's lineage twice.
    */
  def ingest(state: State, rawBatch: DataFrame, quota: Long): Unit = {
    val batch = rawBatch.localCheckpoint(true)
    val admitted = state.admitted.value
    val newRefs = state.refs.value
      .unionByName(batch.groupBy(col("domain")).agg(count(lit(1)).as("n_refs")))
      .groupBy(col("domain"))
      .agg(sum(col("n_refs")).as("n_refs"))
    // candidates: distinct new nurls by in-batch first arrival, ranked
    // after the domain's current admitted count
    val fresh = batch
      .groupBy(col("domain"), col("nurl"))
      .agg(min(col("event_id")).as("fe"))
      .join(admitted, Seq("domain", "nurl"), "left_anti")
    val counts = admitted
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_adm"))
    val w = Window
      .partitionBy(col("domain"))
      .orderBy(col("fe").asc, col("nurl").asc)
    val admittedNew = fresh
      .withColumn("rn", row_number().over(w))
      .join(counts, Seq("domain"), "left")
      .filter(col("rn") + coalesce(col("n_adm"), lit(0L)) <= quota)
      .select(col("domain"), col("nurl"))
    Fold.set(state.admitted -> admitted.unionByName(admittedNew), state.refs -> newRefs)
    GraftSqlShims.unpersistCheckpoint(batch)
  }

  /** (domain, n_refs, n_admitted, admitted_fp) — the fingerprint is
    * the order-free Σ h32(nurl) over the admitted set.
    */
  def summarize(state: State): DataFrame =
    state.refs.value
      .join(
        state.admitted.value
          .groupBy(col("domain"))
          .agg(
            count(lit(1)).as("n_admitted"),
            sum(graft.functions.PortableHash.h32(col("nurl")))
              .as("admitted_fp")
          ),
        Seq("domain"),
        "left"
      )
      .select(
        col("domain"),
        col("n_refs"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("admitted_fp"), lit(0L)).as("admitted_fp")
      )

  /** Deterministic replay in `splits` event_id-sliced micro-batches;
    * must equal the batch first-arrival quota for ANY `splits`.
    */
  def replay(urls: DataFrame, quota: Long, splits: Int = 5): DataFrame = {
    val state = newState(urls.sparkSession)
    Fold.replay(Fold.byRange(urls, col("event_id"), splits), state)(
      (b, _) => ingest(state, b, quota))(summarize(state).orderBy("domain"))
  }
}
