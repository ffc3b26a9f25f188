package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Replay ≡ batch q106 for ANY split count, and the state bound that
  * makes streaming clipping viable: the sketch holds per-(series,
  * bucket) counts — bounded by the bucket domain, independent of feed
  * length or slicing.
  */
class StreamWinsorClipSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def values =
    graft.ops.Relational11.winsorCents(spark, sfDir)

  test("replay lands on batch q106 for splits 1, 4, 7") {
    val batch = canon(
      graft.SparkEntry.queries("q106_winsorize_sketch")(spark, sfDir)
    )
    Seq(1, 4, 7).foreach { n =>
      assert(canon(StreamWinsorClip.replay(values, n)) === batch, s"splits=$n")
    }
  }

  test("sketch state is bucket-bounded and slicing-invariant") {
    def finalCounts(splits: Int) = {
      val state = StreamWinsorClip.newState(spark)
      (0 until splits).foreach { i =>
        StreamWinsorClip.ingest(
          state,
          values.filter(pmod(col("event_id"), lit(splits)) === i)
        )
      }
      val rows = canon(state.value)
      state.close()
      rows
    }
    val one = finalCounts(1)
    val seven = finalCounts(7)
    assert(one === seven, "sketch depends on micro-batch slicing")
    // bounded BY CONSTRUCTION: ≤ (64−S)·2^S + 2^(S+1) = 992 buckets
    // per series at HDR_S = 4, REGARDLESS of feed length — the
    // structural bound (q85's scaladoc), not a fixture ratio
    val nSeries =
      values.select(col("event_type")).distinct().count()
    assert(one.size.toLong <= nSeries * 992,
      s"sketch ${one.size} rows exceeds the ${nSeries}·992 bucket bound")
    // and it genuinely collapses values: fewer sketch rows than
    // distinct (series, value) pairs
    val distinctVals =
      values.select(col("event_type"), col("cents")).distinct().count()
    assert(one.size.toLong < distinctVals,
      s"sketch ${one.size} rows vs $distinctVals distinct values")
  }
}
