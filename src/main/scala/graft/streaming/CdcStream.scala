package graft.streaming

import graft.Schemas.{ChangeEvent, Message}
import graft.cdc.Materializer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming application of the CDC log (SURVEY.md §2.9, §7.1.5).
  *
  * Two equivalent materialization strategies, both keyed by `id`:
  *
  *  1. [[upsertQuery]] — `foreachBatch` + [[Materializer.merge]]: each
  *     micro-batch is reduced map-side to one winner per key, then
  *     merged with the running state. Idiomatic for sink-owned state
  *     (Delta/parquet/JDBC MERGE at scale); state here is an
  *     in-memory var for test observability.
  *  2. [[statefulQuery]] — `mapGroupsWithState`: Spark's state store
  *     owns the per-key latest row; emits the post-update row per key
  *     per batch. Idiomatic when per-key timers/TTL are needed.
  *
  * Late/duplicate policy is the Materializer's total order (ts, seq):
  * replays are idempotent, late events older than the current winner
  * lose — property-tested in CdcStreamSpec.
  */
object CdcStream {

  /** Strategy 1: foreachBatch upsert. Returns the query plus a state
    * slot that always holds the current materialized table; it starts
    * at `initial`, which stays the caller's.
    */
  def upsertQuery(
      events: Dataset[ChangeEvent],
      initial: DataFrame,
      checkpoint: String
  ): (StreamingQuery, Fold.Slot) = {
    val handle = new Fold.Slot(initial)
    val q = events.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[ChangeEvent], _: Long) =>
        // reduce the batch to its per-key winners, then merge into state
        handle.set(Materializer.merge(handle.value, batch.toDF()))
        ()
      }
      .start()
    (q, handle)
  }

  /** Strategy 2: state-store materialization via mapGroupsWithState.
    * Emits (id, content, live) after each batch's updates; a dead key
    * (tombstoned) emits live = false and clears its state.
    */
  final case class KeyState(content: String, ts: Long, seq: Long)
  final case class KeyUpdate(id: Long, content: Option[String], live: Boolean)

  def applyStateful(
      events: Dataset[ChangeEvent]
  ): Dataset[KeyUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.id)
      .mapGroupsWithState[KeyState, KeyUpdate](
        GroupStateTimeout.NoTimeout
      ) { (id, batch, state: GroupState[KeyState]) =>
        val incoming = batch.toSeq.sortBy(e => (e.ts.getTime, e.seq))
        val current = state.getOption
        val winner = incoming.lastOption
        val newer = winner.filter { w =>
          current.forall(c =>
            w.ts.getTime > c.ts || (w.ts.getTime == c.ts && w.seq >= c.seq)
          )
        }
        newer match {
          case Some(w) if w.op == "D" =>
            state.remove()
            KeyUpdate(id, None, live = false)
          case Some(w) =>
            state.update(KeyState(w.content.getOrElse(""), w.ts.getTime, w.seq))
            KeyUpdate(id, w.content, live = true)
          case None =>
            KeyUpdate(id, current.map(_.content), live = current.isDefined)
        }
      }
  }

  def statefulQuery(
      events: Dataset[ChangeEvent],
      queryName: String,
      checkpoint: String
  ): StreamingQuery =
    applyStateful(events).writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Serving view over a foreachBatch state handle. */
  def asMessages(spark: SparkSession, handle: Fold.Slot): Dataset[Message] = {
    import spark.implicits._
    handle.value
      .select(col("id").cast("long"), col("content").cast("string"))
      .as[Message]
  }
}
