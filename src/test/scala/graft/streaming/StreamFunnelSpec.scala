package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamFunnel.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** StreamFunnel: the per-user CEP machine lands on batch q64's funnel
  * under time-sliced replay at any split count, the transition is
  * within-batch order-independent, and the live mapGroupsWithState
  * path agrees with the replay fold.
  */
class StreamFunnelSpec extends SparkSpec {

  private def batchTruth: (Long, Long, Long) = {
    val r = graft.ops.Relational7
      .queries("q64_funnel")(spark, sfDir)
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def replayed(splits: Int): (Long, Long, Long) = {
    val r = StreamFunnel
      .replay(graft.Tables(spark, sfDir).events, splits)
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("time-sliced replay equals batch q64 for any split count") {
    val truth = batchTruth
    assert(replayed(1) === truth)
    assert(replayed(4) === truth)
    assert(replayed(7) === truth)
  }

  test("within-batch arrival order does not matter") {
    import spark.implicits._
    // purchase delivered before click before view, all in one batch
    val evs = Seq(
      Ev(1L, 30L, "purchase"),
      Ev(1L, 20L, "click"),
      Ev(1L, 10L, "view"),
      // user 2 purchases BEFORE clicking — must stall at stage 2
      Ev(2L, 10L, "view"),
      Ev(2L, 15L, "purchase"),
      Ev(2L, 20L, "click")
    )
    val df = evs.toDF()
    val state = StreamFunnel.newState(spark)
    StreamFunnel.ingest(state, df)
    val got = state.value
      .select("user_id", "stage")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toMap
    state.close()
    assert(got === Map(1L -> 3, 2L -> 2))
  }

  test("same-timestamp next-stage event does not advance (strict >)") {
    import spark.implicits._
    val df = Seq(Ev(1L, 10L, "view"), Ev(1L, 10L, "click")).toDF()
    val state = StreamFunnel.newState(spark)
    StreamFunnel.ingest(state, df)
    val got = state.value.select("stage").head().getInt(0)
    state.close()
    assert(got === 1)
  }

  test("live mapGroupsWithState stream agrees with the replay fold") {
    import spark.implicits._
    val events = graft.Tables(spark, sfDir).events
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type")
      )
      .as[Ev]
      .collect()
      .sortBy(_.ts_us)
    val (b1, b2) = events.splitAt(events.length / 2)

    val mem = MemoryStream[Ev](spark)
    val sink = "funnel_sink"
    val q = StreamFunnel.start(
      mem.toDS(),
      sink,
      java.nio.file.Files.createTempDirectory("funnel_ckpt").toString
    )
    try {
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      mem.addData(b2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // memory sink in Update mode appends updated rows per batch: the
    // LAST row per user is its final stage
    val perUser = spark
      .table(sink)
      .withColumn("__n", monotonically_increasing_id())
      .groupBy(col("user_id"))
      .agg(max_by(col("stage"), col("__n")).as("stage"))
    val got = StreamFunnel
      .summarize(perUser)
      .head()
    val truth = batchTruth
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) === truth)
  }
}
