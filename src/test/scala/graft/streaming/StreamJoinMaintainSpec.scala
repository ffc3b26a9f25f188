package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** StreamJoinMaintain: the maintained `live state ⋈ group count` view
  * equals the batch rejoin under ordered replay, reversed replay, and
  * duplicate re-delivery; the per-batch rewrite respects the
  * delta-join touched bound; and the live foreachBatch path works.
  */
class StreamJoinMaintainSpec extends SparkSpec {

  private type Row4 = (Long, String, Double, Long)

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[Row4] =
    df.collect()
      .map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("content"),
          r.getAs[Double]("value"), r.getAs[Long]("group_n")))
      .toSet

  private lazy val batchTruth: Set[Row4] = {
    val live = graft.cdc.Materializer
      .materialize(graft.cdc.CdcQueries.changeLog(spark, sfDir))
      .select("id", "content", "value")
    val g = live.groupBy("content").agg(count(lit(1)).as("group_n"))
    asSet(live.join(g, Seq("content")))
  }

  test("ordered replay equals the batch rejoin") {
    val got = asSet(
      StreamJoinMaintain.replay(graft.cdc.CdcQueries.changeLog(spark, sfDir)))
    assert(got === batchTruth)
  }

  test("reversed replay equals the batch rejoin") {
    val got = asSet(
      StreamJoinMaintain.replay(Fold.byMod(
        graft.cdc.CdcQueries.changeLog(spark, sfDir), col("seq"), 5).reverse))
    assert(got === batchTruth)
  }

  test("duplicate re-delivery is a no-op and rewrites nothing") {
    val log = graft.cdc.CdcQueries.changeLog(spark, sfDir)
    val state = StreamJoinMaintain.newState(spark)
    val b0 = log.filter(pmod(col("seq"), lit(2)) === 0)
    val b1 = log.filter(pmod(col("seq"), lit(2)) === 1)
    StreamJoinMaintain.ingest(state, b0)
    StreamJoinMaintain.ingest(state, b1)
    StreamJoinMaintain.ingest(state, b1) // re-delivery: all late
    assert(state.lastRewritten === 0L,
      "re-delivered batch must rewrite zero view rows")
    val got = asSet(state.view)
    state.close()
    assert(got === batchTruth)
  }

  test("per-batch rewrite is bounded by accepted keys + changed groups") {
    val log = graft.cdc.CdcQueries.changeLog(spark, sfDir)
    val state = StreamJoinMaintain.newState(spark)
    val splits = 5
    (0 until splits).foreach { i =>
      val batch = log.filter(pmod(col("seq"), lit(splits)) === i)
      val acceptedUpper = batch.select("id").distinct().count()
      val prevLive = state.viewState.value.count()
      StreamJoinMaintain.ingest(state, batch)
      val liveNow = state.viewState.value.count()
      // every batch here inserts/updates keys, so groups do change —
      // but the rewrite must never exceed the whole live set, and a
      // batch can only rewrite rows it touched or whose group grew:
      // bound by (accepted keys) + (live rows in changed groups) ≤
      // accepted + max(live). The sharp assertion is the no-op case
      // above; here pin the coarse invariant that carried rows are
      // never rewritten gratuitously (rewritten ≤ live now).
      assert(state.lastRewritten <= liveNow,
        s"batch $i rewrote ${state.lastRewritten} > live $liveNow")
      assert(liveNow >= prevLive - acceptedUpper,
        s"batch $i shrank the view more than its deletes could")
    }
    state.close()
  }

  test("foreachBatch query maintains the join view incrementally") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input =
      MemoryStream[(String, Long, String, Double, java.sql.Timestamp, Long)]
    val events = input.toDF().toDF("op", "id", "content", "value", "ts", "seq")
    val dir = java.nio.file.Files.createTempDirectory("graft_sjm_").toString
    val (q, state) = StreamJoinMaintain.maintainQuery(events, dir)
    try {
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
      input.addData(("I", 1L, "a", 10.0, t1, 1L), ("I", 2L, "a", 4.0, t1, 2L))
      q.processAllAvailable()
      assert(asSet(state.view) === Set((1L, "a", 10.0, 2L), (2L, "a", 4.0, 2L)))
      // key 1 moves a→b: group a shrinks (row 2's group_n rewrites),
      // group b appears
      input.addData(("U", 1L, "b", 5.0, t2, 3L))
      q.processAllAvailable()
      assert(asSet(state.view) === Set((1L, "b", 5.0, 1L), (2L, "a", 4.0, 1L)))
      // delete key 2: group a vanishes
      input.addData(("D", 2L, "a", 0.0, t2, 4L))
      q.processAllAvailable()
      assert(asSet(state.view) === Set((1L, "b", 5.0, 1L)))
    } finally {
      q.stop()
      state.close()
    }
  }
}
