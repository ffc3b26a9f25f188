package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** StreamAggMaintain: the maintained aggregate equals the batch
  * recompute under ordered replay, REVERSED replay, and duplicate
  * re-delivery; and through a real foreachBatch query.
  */
class StreamAggMaintainSpec extends SparkSpec {

  private def batchTruth: Set[(String, Long, Double)] =
    graft.cdc.CdcQueries
      .queries("cdc08_agg_maintain")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet

  private def replayed(reversed: Boolean): Set[(String, Long, Double)] = {
    val slices = Fold.byMod(graft.cdc.CdcQueries.changeLog(spark, sfDir),
      org.apache.spark.sql.functions.col("seq"), 4)
    StreamAggMaintain
      .replay(if (reversed) slices.reverse else slices)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
  }

  test("ordered replay equals the batch aggregate") {
    assert(replayed(reversed = false) === batchTruth)
  }

  test("out-of-order replay equals the batch aggregate") {
    assert(replayed(reversed = true) === batchTruth)
  }

  test("duplicate re-delivery of a batch is a no-op") {
    val log = graft.cdc.CdcQueries.changeLog(spark, sfDir)
    val state = StreamAggMaintain.newState(spark)
    val b0 = log.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("seq"),
      org.apache.spark.sql.functions.lit(2)) === 0)
    val b1 = log.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("seq"),
      org.apache.spark.sql.functions.lit(2)) === 1)
    StreamAggMaintain.ingest(state, b0)
    StreamAggMaintain.ingest(state, b1)
    StreamAggMaintain.ingest(state, b1) // re-delivery
    val got = state.aggregate
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    state.close()
    assert(got === batchTruth)
  }

  test("property: hash-random slicings in rotated orders land on the batch aggregate") {
    import org.apache.spark.sql.functions._
    val log = graft.cdc.CdcQueries.changeLog(spark, sfDir)
    val truth = batchTruth
    for (seed <- Seq(11, 38)) {
      val sliced = log.withColumn(
        "__b",
        pmod(hash(col("seq"), lit(seed)), lit(3))
      )
      val base = Seq(0, 1, 2)
      val order = {
        val rot = base.drop(seed % 3) ++ base.take(seed % 3)
        if (seed % 2 == 1) rot.reverse else rot
      }
      val state = StreamAggMaintain.newState(spark)
      order.foreach { i =>
        StreamAggMaintain.ingest(state, sliced.filter(col("__b") === i).drop("__b"))
      }
      val got = state.aggregate
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      state.close()
      assert(got === truth, s"seed=$seed order=$order")
    }
  }

  test("foreachBatch query maintains the view incrementally") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input =
      MemoryStream[(String, Long, String, Double, java.sql.Timestamp, Long)]
    val events = input
      .toDF()
      .toDF("op", "id", "content", "value", "ts", "seq")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sam_")
      .toString
    val (q, state) = StreamAggMaintain.maintainQuery(events, dir)
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(("I", 1L, "a", 10.0, t, 1L))
      q.processAllAvailable()
      input.addData(
        ("U", 1L, "b", 5.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2L),
        ("I", 2L, "b", 2.5, java.sql.Timestamp.valueOf("2024-01-02 00:01:00"), 3L)
      )
      q.processAllAvailable()
      val got = state.aggregate
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // key 1 moved a→b (retract 10.0, add 5.0); key 2 adds 2.5 to b
      assert(got === Set(("b", 2L, 7.5)))
    } finally {
      q.stop()
      state.close()
    }
  }
}
