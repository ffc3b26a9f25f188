package graft.info

import java.nio.file.Files
import java.sql.Timestamp

import graft.{GraftSession, SparkSpec}
import graft.Schemas.ChangeEvent
import graft.metrics.MetricsDoc
import graft.streaming.HealthListener
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EngineInfoSpec extends SparkSpec {
  import spark.implicits._

  test("health probe and engine meta") {
    assert(EngineInfo.healthy(spark))
    val m = EngineInfo.meta(spark)
    assert(m.engine === "graft-spark")
    assert(m.timezone === "UTC")
  }

  test("a local session reports streaming health through exactly one listener") {
    implicit val sqlCtx = spark.sqlContext
    // a second local() getOrCreates the same session and adds no listener
    assert(GraftSession.local(4) eq spark)
    assert(spark.streams.listListeners().count(_.isInstanceOf[HealthListener]) === 1)
    val before = EngineInfo.streamingHealth(spark)
    val input = MemoryStream[ChangeEvent]
    // data before start: the one trigger runs one batch, and an idle
    // trigger reports no progress within 10 s of it
    input.addData(ChangeEvent("I", 1L, Some("x"), new Timestamp(1000L), 0))
    val q = input
      .toDS()
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("health_test")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-health").toAbsolutePath.toString)
      .start()
    q.processAllAvailable()
    q.stop()
    // the listener bus delivers onQueryProgress ASYNCHRONOUSLY — under
    // full-suite load the event can land after processAllAvailable
    // returns, so poll (bounded) instead of asserting immediately
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def now = EngineInfo.streamingHealth(spark)
    while (now.batches == before.batches && System.nanoTime() < deadline)
      Thread.sleep(100)
    val h = now
    assert(h.ready)
    assert(h.live)
    assert(h.rows - before.rows >= 1L)
    assert(h.batches - before.batches === 1L)
    assert(h.lastError.isEmpty)
  }

  test("a failed streaming query reads as not live until a query starts again") {
    implicit val sqlCtx = spark.sqlContext
    def start(input: MemoryStream[Long], fail: Boolean) = input
      .toDF()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-health").toAbsolutePath.toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (fail) throw new IllegalStateException("health-probe failure")
        b.count(); ()
      }
      .start()
    val bad = MemoryStream[Long]
    bad.addData(1L)
    val q = start(bad, fail = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (EngineInfo.streamingHealth(spark).lastError.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    val failed = EngineInfo.streamingHealth(spark)
    assert(failed.lastError.exists(_.contains("health-probe failure")), failed)
    assert(!failed.live)
    // the started event reaches listeners before start() returns
    val ok = start(MemoryStream[Long], fail = false)
    try assert(EngineInfo.streamingHealth(spark).lastError.isEmpty)
    finally ok.stop()
  }

  test("selfTest reports SUCCESS per readable table") {
    val checks = EngineInfo.selfTest(spark, sfDir, Seq("region", "nation"))
    assert(checks.map(_.status).distinct === Seq("SUCCESS"))
    assert(checks.find(_.table == "region").get.n_rows === 5L)
  }

  test("selfTest reports FAILED with message for a missing table") {
    val checks = EngineInfo.selfTest(spark, sfDir, Seq("nope"))
    assert(checks.head.status === "FAILED")
    assert(checks.head.error.isDefined)
  }

  test("metric formatters match the reference's golden values") {
    // FIXTURES.md A4: startupTimeMs=87 -> "0.087";
    // used=44398346, max=268435456 -> "16.5%"
    val row = Seq((87L, 44398346L, 268435456L))
      .toDF("ms", "used", "max")
      .select(
        MetricsDoc.msToSeconds(col("ms")).as("s"),
        MetricsDoc.usagePercent(col("used"), col("max")).as("pct"),
        MetricsDoc.bytesToMb(col("used")).as("mb"),
        MetricsDoc.imageType(lit(true)).as("it")
      )
      .head()
    assert(row.getString(0) === "0.087")
    assert(row.getString(1) === "16.5%")
    assert(row.getString(2) === "42.34")
    assert(row.getString(3) === "Native (GraalVM)")
  }
}
