package graft.streaming

import graft.SparkSpec

/** Replay ≡ batch for ANY split count — the ordering contract says
  * nothing about WHERE batch boundaries fall, so attribution must not
  * depend on them (touches crossing a boundary exercise the carried-
  * state path; splits=1 exercises the pure in-batch path).
  */
class StreamLastTouchSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("replay lands on batch q104 for splits 1, 4, and 7") {
    val events = graft.Tables(spark, sfDir).events
    val batch = canon(
      graft.SparkEntry.queries("q104_last_touch")(spark, sfDir)
    )
    Seq(1, 4, 7).foreach { n =>
      assert(canon(StreamLastTouch.replay(events, n)) === batch, s"splits=$n")
    }
  }

  test("a purchase whose ts is null is attributed, not dropped from every slice") {
    import org.apache.spark.sql.functions._
    val events = graft.Tables(spark, sfDir).events
    val nullTs = events
      .filter(col("event_type") === "purchase")
      .limit(1)
      .withColumn("ts", lit(null).cast("timestamp"))
    val withNull = events.unionByName(nullTs)
    val purchases = withNull.filter(col("event_type") === "purchase").count()
    val attributed = StreamLastTouch
      .replay(withNull, 4)
      .agg(sum(col("n_purchases")))
      .head()
      .getLong(0)
    assert(attributed === purchases)
  }
}
