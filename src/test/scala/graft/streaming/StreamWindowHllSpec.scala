package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** stream14's state discipline: register MAX-merge is associative,
  * commutative, and idempotent, so ANY slicing/order of the feed —
  * including re-delivery — lands on the registers of one batch pass,
  * and state stays bounded by windows × m regardless of input size.
  */
class StreamWindowHllSpec extends SparkSpec {

  private val m = 64
  private val maxRho = 27

  private def regsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getInt(2)))
      .toSet

  test("reversed and re-delivered slicing land on the one-pass registers") {
    val ev = Tables(spark, sfDir).events
    val onePass = regsOf(StreamWindowHll.registers(ev, m, maxRho))

    val state = StreamWindowHll.newState(spark)
    // reverse order, with slice 2 delivered twice (at-least-once)
    Seq(4, 3, 2, 1, 2, 0).foreach { i =>
      StreamWindowHll
        .ingest(state, ev.filter(pmod(col("event_id"), lit(5)) === i), m, maxRho)
    }
    val replayed = regsOf(state.value)
    state.close()
    assert(replayed === onePass)
    assert(replayed.nonEmpty)
  }

  test("state is bounded by windows x m") {
    val ev = Tables(spark, sfDir).events
    val regs = StreamWindowHll.registers(ev, m, maxRho)
    val nWindows = regs.select("window_start").distinct().count()
    assert(regs.count() <= nWindows * m)
  }
}
