package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.types.StructType

/** The micro-batch fold every `foreachBatch`-style operator here runs:
  * split an input into batches, fold each batch into state held in
  * local-checkpoint blocks, read the result, release the blocks. This
  * object owns the three decisions the operators share.
  *
  *  - Slicing ([[byMod]], [[byRange]]): every row lands in exactly one
  *    slice; a row whose key is null lands in slice 0.
  *  - State ([[Slot]], [[State]]): setting a slot checkpoints the new
  *    value before the old value's blocks are released; [[set]]
  *    replaces several slots at once, so a new value may read any old
  *    one. A slot releases only blocks it checkpointed itself.
  *  - Replay ([[replay]]): slices are fed in the order given; the
  *    result is detached from the state by one local checkpoint, and
  *    the state is closed. The returned frame holds the only block set
  *    a replay leaves behind.
  */
object Fold {

  /** `n` slices of `frame` by `pmod(key, n)`; slice 0 also takes the
    * null keys. */
  def byMod(frame: DataFrame, key: Column, n: Int): Seq[DataFrame] =
    (0 until n).map(i => frame.filter(coalesce(pmod(key, lit(n)), lit(0)) === i))

  /** `n` slices of `frame` over equal ranges of an integral `key`,
    * from its minimum to its maximum (one aggregate job reads them);
    * slice 0 also takes the null keys. The bounds are computed without
    * overflow, and the first and last slices are open-ended, so keys
    * at `Long.MinValue` and `Long.MaxValue` land too.
    */
  def byRange(frame: DataFrame, key: Column, n: Int): Seq[DataFrame] = {
    val r = frame.agg(min(key), max(key)).head()
    val (lo, hi) =
      if (r.isNullAt(0)) (BigInt(0), BigInt(0))
      else (BigInt(r.getAs[Number](0).longValue), BigInt(r.getAs[Number](1).longValue))
    val bounds = (1 until n).map(i => (lo + (hi - lo + 1) * i / n).toLong)
    (0 until n).map { i =>
      val lower = if (i == 0) None else Some(key >= bounds(i - 1))
      val upper = if (i == n - 1) None else Some(key < bounds(i))
      val inRange = (lower ++ upper).reduceOption(_ && _).getOrElse(lit(true))
      frame.filter(if (i == 0) key.isNull || inRange else inRange)
    }
  }

  /** An empty frame of `schema`: the starting value of a slot. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** One DataFrame held in local-checkpoint blocks. A slot starts
    * empty (`get` is None until the first `set`) or at a frame its
    * caller keeps, which the slot never releases.
    */
  final class Slot private (init: Option[DataFrame]) extends AutoCloseable {
    def this() = this(None)
    def this(init: DataFrame) = this(Some(init))

    @volatile private var cur: Option[DataFrame] = init
    private var owned = false

    def get: Option[DataFrame] = cur

    def value: DataFrame =
      cur.getOrElse(throw new NoSuchElementException("the slot was never set"))

    /** Checkpoint `next`, then release the old value. */
    def set(next: DataFrame): Unit = Fold.set(this -> next)

    /** Release the current value's blocks. */
    def close(): Unit = {
      if (owned) cur.foreach(GraftSqlShims.unpersistCheckpoint(_))
      owned = false
    }

    // a reader sees the old value or the new one, never released blocks
    private[Fold] def swap(checkpointed: DataFrame): Unit = {
      val old = if (owned) cur else None
      cur = Some(checkpointed)
      owned = true
      old.foreach(GraftSqlShims.unpersistCheckpoint(_))
    }
  }

  /** Replace several slots as one step: every new value is checkpointed
    * before any old value is released, so each may read the others'
    * old values. */
  def set(updates: (Slot, DataFrame)*): Unit =
    updates
      .map { case (slot, next) => (slot, next.localCheckpoint(true)) }
      .foreach { case (slot, checkpointed) => slot.swap(checkpointed) }

  /** A fold state made of several named slots, closed together. */
  abstract class State extends AutoCloseable {
    private var slots = Vector.empty[Slot]

    protected def slot(init: DataFrame): Slot = {
      val s = new Slot(init)
      slots :+= s
      s
    }

    def close(): Unit = slots.foreach(_.close())
  }

  /** Feed `slices` in the given order to `step` (with each slice's
    * position), then read the result, detach it with one local
    * checkpoint and close `state`, also when a step fails.
    */
  def replay(slices: Seq[DataFrame], state: AutoCloseable*)(
      step: (DataFrame, Int) => Unit)(read: => DataFrame): DataFrame =
    try {
      slices.zipWithIndex.foreach(step.tupled)
      read.localCheckpoint(true)
    } finally state.foreach(_.close())
}
