package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Multi-writer linearizability smoke for the commit log: N writers
  * race append commits through the CAS + rebase protocol and EVERY
  * batch lands exactly once — no lost updates, no duplicates, one
  * contiguous version chain. The conflicting arm pins the opposite
  * guarantee: two read-modify-writes of the SAME partition from the
  * same base cannot both land (exactly one wins, the loser's rebase
  * REFUSES rather than silently merging a lost update).
  */
class ConcurrentCommitStressSpec extends SparkSpec {

  private def docs =
    Tables(spark, sfDir).documents
      .select(col("doc_id"), col("n_chars"), col("source"))

  test("racing appenders all land exactly once through CAS + rebase") {
    val root = Scratch.tempDir("graft-stress")
    try {
      ManifestStore.write(docs.limit(50), root, Seq("source"))
      val writers = 6
      val perWriter = 3
      val base = docs.limit(10).localCheckpoint(true)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until writers).map { w =>
        new Thread(() =>
          try {
            (0 until perWriter).foreach { b =>
              // each batch is 10 rows keyed uniquely per (writer, batch),
              // landing in the writer's OWN partition — concurrent
              // appends to disjoint partitions are the rebase-safe shape
              // (same-partition conflicts are the second test's job)
              val batch = base
                .withColumn("doc_id",
                  col("doc_id") + lit(1000000L * (w * perWriter + b + 1)))
                .withColumn("source", lit(s"w$w"))
              // the racing protocol: read the version, stage, CAS; on a
              // lost race, rebase (append partitions never conflict)
              val staged = ManifestStore.stage(batch, root,
                ManifestStore.MAIN, Seq("source"), ManifestStore.Append)
              val v = ManifestStore.snapshot(spark, root).version
              try ManifestStore.commit(root, Seq(staged),
                expectedVersion = v)
              catch {
                case _: ManifestStore.ConcurrentCommitException =>
                  ManifestStore.commitRebase(spark, root, Seq(staged),
                    baseVersion = v)
              }
            }
          } catch { case t: Throwable => errors.add(t) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(errors.isEmpty, s"writer failed: ${errors.peek()}")
      val snap = ManifestStore.snapshot(spark, root)
      // every batch exactly once
      assert(snap.read().count() === 50L + writers * perWriter * 10L)
      assert(snap.version === 1L + writers * perWriter,
        "one contiguous version per landed commit")
      assert(ManifestStore.versions(spark, root) ===
        (1L to snap.version))
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(base)
    } finally Scratch.deleteRecursively(root)
  }

  test("conflicting upserts of one partition: exactly one wins, the " +
    "rebase refuses the lost update") {
    val root = Scratch.tempDir("graft-stress-conflict")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val target = docs.select(min(col("source"))).head.getString(0)
      def shifted(by: Long) = docs.filter(col("source") === target)
        .withColumn("n_chars", col("n_chars") + by)
      // both writers stage a rewrite of the SAME partition from v1
      val stA = ManifestStore.stage(shifted(1000000L), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Upsert)
      val stB = ManifestStore.stage(shifted(2000000L), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Upsert)
      ManifestStore.commit(root, Seq(stA), expectedVersion = 1L)
      intercept[ManifestStore.ConcurrentCommitException] {
        ManifestStore.commit(root, Seq(stB), expectedVersion = 1L)
      }
      intercept[ManifestStore.ConcurrentCommitException] {
        ManifestStore.commitRebase(spark, root, Seq(stB), baseVersion = 1L)
      }
      // A's write is intact, B published nothing
      val got = ManifestStore.read(spark, root)
        .filter(col("source") === target)
        .agg(min(col("n_chars"))).head.getLong(0)
      assert(got >= 1000000L && got < 2000000L)
    } finally Scratch.deleteRecursively(root)
  }
}
