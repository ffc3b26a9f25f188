package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The live half of stream24: a real Structured Streaming query whose
  * `foreachBatch` publishes into a [[graft.sources.ManifestStore]]
  * through the batchId ledger — killed mid-source, restarted on the
  * same checkpoint, and finally hit with an explicit re-delivery of
  * the last batchId (the crash window between sink commit and offset
  * write). Exactly-once falls out of the ledger riding the same
  * atomic manifest swap as the data.
  */
class StreamManifestIngestSpec extends SparkSpec {

  import graft.sources.{ManifestStore, Scratch}

  private def docs =
    Tables(spark, sfDir).documents
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))

  private def addFile(srcDir: String, name: String, df: DataFrame): DataFrame = {
    val tmp = Files.createTempDirectory("graft-mi-tmp").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp)
      .listFiles()
      .find(_.getName.endsWith(".parquet"))
      .get
    Files.copy(part.toPath, Paths.get(srcDir, name))
    Scratch.deleteRecursively(tmp)
    df
  }

  test("kill, restart, and redeliver: the store holds every row exactly once") {
    val srcDir = Files.createTempDirectory("graft-mi-src").toString
    val ckpt = Files.createTempDirectory("graft-mi-ck").toString
    val root = Scratch.tempDir("graft-mi-store")
    try {
      val schema = docs.schema

      def runPhase(): Unit = {
        val stream = spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
        val q = stream.writeStream
          .foreachBatch { (df: DataFrame, id: Long) =>
            StreamManifestIngest.applyBatch(df, root, id): Unit
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(180000), "phase did not drain")
      }

      def slice(k: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === k)

      // phase 1: two files = two micro-batches, then the query STOPS
      addFile(srcDir, "s0.parquet", slice(0))
      addFile(srcDir, "s1.parquet", slice(1))
      runPhase()
      val afterPhase1 = ManifestStore.snapshot(spark, root)
      assert(afterPhase1.version === 2L, "one commit per micro-batch")
      assert(afterPhase1.totalRows() === slice(0).count() + slice(1).count())

      // the crash window: batch 1 re-delivered with the same id —
      // recognized through the ledger, NOTHING published (fast path:
      // the staging write itself is skipped)
      assert(!StreamManifestIngest.applyBatch(slice(1), root, 1L))
      assert(ManifestStore.snapshot(spark, root).version === 2L)
      // and the authoritative in-lock check: even a redelivery that
      // already STAGED its files (raced past any pre-check) publishes
      // nothing
      val restaged = ManifestStore.stage(slice(1), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Append)
      assert(ManifestStore.commitBatch(root, Seq(restaged),
        StreamManifestIngest.SINK, 1L) === ((2L, false)))
      assert(ManifestStore.snapshot(spark, root).version === 2L)

      // phase 2: the last slice arrives while the query is down;
      // restart on the SAME checkpoint resumes at batchId 2
      addFile(srcDir, "s2.parquet", slice(2))
      runPhase()
      val fin = ManifestStore.snapshot(spark, root)
      assert(fin.version === 3L)
      assert(fin.batches(StreamManifestIngest.SINK) === 2L)
      // every row exactly once ≡ the plain corpus
      val got = fin.read().agg(
        count(lit(1)), sum(col("n_chars")), sum(col("doc_id"))).head
      val want = docs.agg(
        count(lit(1)), sum(col("n_chars")), sum(col("doc_id"))).head
      assert(got === want)
    } finally {
      Scratch.deleteRecursively(srcDir)
      Scratch.deleteRecursively(ckpt)
      Scratch.deleteRecursively(root)
    }
  }
}
