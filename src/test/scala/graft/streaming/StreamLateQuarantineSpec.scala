package graft.streaming

import java.sql.Timestamp

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The live foreachBatch runner against the deterministic replay face:
  * same arrival slicing → identical quarantine; on-time hourly counts
  * equal the batch aggregate of non-quarantined rows; and the
  * no-silent-drop partition holds (every ingested row is in exactly
  * one of quarantine / counts).
  */
class StreamLateQuarantineSpec extends SparkSpec {
  import StreamLateQuarantine._
  import spark.implicits._

  test("runner ≡ replay face on the fixture's arrival slicing") {
    implicit val sqlCtx = spark.sqlContext
    val events = Tables(spark, sfDir).events
      .select(col("event_id"), col("user_id"), col("ts"))

    // reconstruct the replay's arrival batches
    val us = unix_micros(col("ts"))
    val arr = StreamLateQuarantine.arrivalUs(col("event_id"), us)
    val minArr = events
      .select(arr.as("a"))
      .agg(min(col("a")))
      .collect()(0)
      .getLong(0)
    val withBatch = events
      .withColumn("__b", (arr - lit(minArr)) / lit(SPAN_US))
      .withColumn("__b", col("__b").cast("long"))
    val nBatches =
      withBatch.agg(max(col("__b"))).collect()(0).getLong(0).toInt + 1

    val input = MemoryStream[(Long, Long, Timestamp)]
    val handle = new Handle(spark)
    val q = StreamLateQuarantine.start(
      input.toDF().toDF("event_id", "user_id", "ts"),
      handle,
      "late_quarantine_spec"
    )
    (0 until nBatches).foreach { b =>
      val rows = withBatch
        .filter(col("__b") === b.toLong)
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[(Long, Long, Timestamp)]
        .collect()
        .toSeq
      if (rows.nonEmpty) {
        input.addData(rows)
        q.processAllAvailable()
      }
    }
    q.stop()

    val expected = StreamLateQuarantine
      .quarantined(events)
      .select("event_id", "user_id", "ts_us")
    val got = handle.late.value
    assert(got.count() > 0, "fixture should produce late rows")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "quarantine diverged from the replay face")

    // on-time counts ≡ batch hourly aggregate of the non-quarantined
    val hourUs = 3600L * 1000000
    val onTimeExpected = events
      .join(expected.select("event_id"), Seq("event_id"), "left_anti")
      .select(((unix_micros(col("ts")) / hourUs).cast("long") * hourUs).as("hour_us"))
      .groupBy("hour_us")
      .agg(count(lit(1)).as("n"))
    assert(
      handle.counts.value.exceptAll(onTimeExpected).isEmpty &&
        onTimeExpected.exceptAll(handle.counts.value).isEmpty,
      "on-time counts diverged from the batch aggregate"
    )

    // the no-silent-drop partition: counted + quarantined = ingested
    val counted =
      handle.counts.value.agg(sum(col("n"))).collect()(0).getLong(0)
    assert(counted + got.count() === events.count())
  }

  test("first batch has no watermark; within-batch disorder is never late") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp)]
    val handle = new Handle(spark)
    val q = StreamLateQuarantine
      .start(input.toDF().toDF("event_id", "user_id", "ts"), handle, "lq_first")
    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    // wildly out-of-order FIRST batch: nothing can be late
    input.addData((1L, 1L, t(50)), (2L, 1L, t(0)), (3L, 1L, t(25)))
    q.processAllAvailable()
    assert(handle.late.value.count() === 0L)
    // second batch: 10:05 is > 10 min behind the 10:50 clock -> late;
    // 10:45 is within the delay -> on time
    input.addData((4L, 1L, t(5)), (5L, 1L, t(45)))
    q.processAllAvailable()
    q.stop()
    assert(handle.late.value.select("event_id").as[Long].collect().toSeq === Seq(4L))
  }
}
