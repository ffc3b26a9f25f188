package graft.streaming

import graft.{SparkSpec, Tables}
import graft.cdc.CdcQueries
import graft.ops.Relational11
import graft.sources.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Fold]]'s contract: both slicers put every row in exactly one
  * slice (null keys in slice 0), a slot releases only the blocks it
  * checkpointed, and every replay leaves at most the one block set its
  * result reads (the `ClustersSpec` rule).
  */
class FoldSpec extends SparkSpec {

  private def keyed: DataFrame = {
    import spark.implicits._
    Seq[Option[Long]](None, Some(-7L), Some(Long.MinValue), Some(Long.MaxValue),
      Some(0L), Some(3L), Some(-1L), None, Some(42L), Some(Long.MaxValue - 1L))
      .zipWithIndex
      .toDF("k", "row")
  }

  test("every row lands in exactly one slice, null keys in slice 0") {
    val rows = keyed.select("row").collect().map(_.getInt(0)).toSet
    val nullRows = keyed.filter(col("k").isNull).select("row").collect().map(_.getInt(0)).toSet
    for {
      (name, slicer) <- Seq[(String, Int => Seq[DataFrame])](
        "byMod" -> (n => Fold.byMod(keyed, col("k"), n)),
        "byRange" -> (n => Fold.byRange(keyed, col("k"), n)))
      n <- 1 to 7
    } {
      val slices = slicer(n).map(_.select("row").collect().map(_.getInt(0)).toSeq)
      assert(slices.size === n, s"$name n=$n")
      val all = slices.flatten
      assert(all.sorted === rows.toSeq.sorted, s"$name n=$n: $slices")
      assert(nullRows.subsetOf(slices.head.toSet), s"$name n=$n: $slices")
    }
  }

  test("a slot releases the value it replaced and never its caller's") {
    val sc = spark.sparkContext
    val init = spark.range(10).toDF("id").localCheckpoint(true)
    val before = sc.getPersistentRDDs.keySet
    val slot = new Fold.Slot(init)
    slot.set(slot.value.filter(col("id") > 2))
    val first = sc.getPersistentRDDs.keySet -- before
    assert(first.size === 1)
    slot.set(slot.value.filter(col("id") > 5))
    val second = sc.getPersistentRDDs.keySet -- before
    assert(second.size === 1 && second != first, "the replaced value must be released")
    assert(slot.value.count() === 4L)
    slot.close()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(init.count() === 10L, "the caller's frame stays readable")
    org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(init)
  }

  private def docs = Tables(spark, sfDir).documents
  private def events = Tables(spark, sfDir).events
  private def changeLog = CdcQueries.changeLog(spark, sfDir)

  private val replays: Seq[(String, () => DataFrame)] = Seq(
    "stream07 StreamMinhashDedup" -> (() => StreamMinhashDedup.replay(docs)),
    "stream08 StreamAggMaintain" -> (() => StreamAggMaintain.replay(changeLog)),
    "stream09 StreamFunnel" -> (() => StreamFunnel.replay(events)),
    "stream10 StreamExactDedup" -> (() => StreamExactDedup.replay(docs)),
    "stream14 StreamWindowHll" -> (() => StreamWindowHll.replay(events, 64, 27)),
    "stream16 StreamHdrQuantiles" -> (() => StreamHdrQuantiles.replay(
      events.filter(col("value") >= 0).select(col("event_type"),
        round(col("value") * 100).cast("long").as("v"), col("event_id")),
      Seq("event_type"), "event_id")),
    "stream18 StreamSegments" -> (() => StreamSegments.replay(events)),
    "stream19 StreamLastTouch" -> (() => StreamLastTouch.replay(events)),
    "stream20 StreamHashChain" -> (() => StreamHashChain.replay(changeLog)),
    "stream21 StreamUrlQuota" -> (() => StreamUrlQuota.replay(
      Relational11.normalizedUrls(spark, sfDir), Relational11.URL_QUOTA)),
    "stream22 StreamWinsorClip" -> (() =>
      StreamWinsorClip.replay(Relational11.winsorCents(spark, sfDir))),
    "stream23 StreamBottomK" -> (() =>
      StreamBottomK.replay(docs.select(col("source"), col("doc_id")))),
    "stream24 StreamManifestIngest" -> (() => {
      val root = Scratch.tempDir("graft-fold-leak")
      try StreamManifestIngest.replay(docs, root)()
      finally Scratch.deleteRecursively(root)
    }),
    "cdc13 StreamJoinMaintain" -> (() => StreamJoinMaintain.replay(changeLog)),
    "stream24 query builder" -> (() =>
      graft.SparkEntry.queries("stream24_manifest_ingest")(spark, sfDir))
  )

  replays.foreach { case (name, run) =>
    test(s"$name: at most one persisted RDD survives a replay") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = run()
      assert(out.count() >= 0L)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.size <= 1,
        s"expected <=1 surviving checkpoint (the result), got ${leaked.size}")
      leaked.foreach(id => sc.getPersistentRDDs(id).unpersist())
    }
  }
}
