package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed MERGE INTO over the [[ManifestStore]] — the writer every
  * CDC-to-lakehouse pipeline runs: one keyed change batch
  * (insert/update/delete events, the reference's CRUD surface reified
  * — hello_cloud_run/src/main/java/.../MessageController.java:22-45)
  * lands as ONE atomic commit, merge-on-read:
  *
  *   - the net upsert rows (final op I/U per key, latest-wins within
  *     the batch by (ts, seq) — [[graft.cdc.Materializer]]'s
  *     reduction) are APPENDED as new files, which the commit stamps
  *     with its version;
  *   - one sequence-scoped vector run at the same version
  *     ([[DeletionVectors]]) holds every batch key some OLDER file's
  *     zone maps admit: the record kills the key's older copies —
  *     the old row of an update or a move, the row of a delete — and
  *     never the new copy. A fresh insert above every file's max id
  *     adds no record.
  *
  * The merge reads nothing from the store: no partition is located,
  * rewritten or dropped, and a re-inserted dead key needs no revive
  * record. Old copies stay on disk, dead, until
  * [[DeletionVectors.materialize]] folds the vector into the data on
  * the usual OPTIMIZE schedule ([[DeletionVectors.compactDv]] collapses
  * the record pile in between).
  *
  * Exactly-once under the at-least-once redelivery a streaming
  * `foreachBatch` produces: the publish rides
  * [[ManifestStore.commitBatch]]'s (sink, batchId) ledger, so a
  * redelivered batch is recognized and nothing changes twice. The
  * publish is also pinned to the version the merge staged from, which
  * its records' sequence names: a batch that finds another writer's
  * commit in between fails with
  * [[ManifestStore.ConcurrentCommitException]] and publishes nothing.
  *
  * Scale posture: a micro-batch is small, so every step runs in ONE
  * task and no shuffle runs. An applied batch runs at most 4 Spark
  * jobs whatever the store size or the number of keys (MergeIntoSpec
  * pins that, and no stage wider than one task per core):
  *   1. the local checkpoint of the net batch: the latest-wins window
  *      over the batch coalesced to one partition (a streaming batch
  *      arrives as one partition per producer write), which needs no
  *      exchange;
  *   2. ONE metadata collect — key and final op: O(batch) keys on the
  *      driver, the payload stays in the checkpoint;
  *   3. the upsert rows' write;
  *   4. the vector run's write, its records built on the driver after
  *      the zone-map screen (metadata only).
  * The commit reads the staged files' footers on the driver, with no
  * job. A pure-delete batch skips 3; a batch of fresh inserts skips 4.
  * Commit cost is O(batch): bytes written and log entries do not grow
  * with the store or the vector (Scale10x's `merge_store_scale` arm).
  */
object MergeInto {

  /** Apply `changes` (op/ts/seq + the table's columns) to `table`,
    * keyed by `idCol`, partitioned by `partitionCol`. Returns
    * (version, appliedNow) — appliedNow = false is a recognized
    * redelivery, nothing published.
    */
  def merge(
      spark: SparkSession,
      root: String,
      changes: DataFrame,
      sinkId: String,
      batchId: Long,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id",
      partitionCol: String = "source",
      opCol: String = "op",
      tsCol: String = "ts",
      seqCol: String = "seq"
  ): (Long, Boolean) = {
    val snap = ManifestStore.snapshot(spark, root)
    // fast path: a redelivery already visible in the ledger skips the
    // staging work entirely (the authoritative check still runs inside
    // commitBatch's critical section)
    if (snap.batches.get(sinkId).exists(_ >= batchId))
      return (snap.version, false)
    val st = snap.state(table)
    require(st.partitionCols == Seq(partitionCol),
      s"merge targets the table's partition spec (${st.partitionCols
        .mkString(",")}), got '$partitionCol'")
    require(st.partitions.values.forall(_.cols == st.partitionCols),
      s"merge requires a single-spec table — run " +
        "ManifestStore.migrateSpec to rewrite the old-spec entries " +
        "before merging across an evolvePartitionSpec")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(st.schemaDdl)

    // latest-wins within the batch: greatest (ts, seq) per key is the
    // key's net effect — Materializer's reduction. One partition
    // already satisfies the window's clustering, so it runs in the
    // checkpoint's one task with no shuffle (coalesce adds none)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col(tsCol).desc, col(seqCol).desc)
    val net = changes.coalesce(1)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint(true)
    try {
      // the batch's metadata in ONE collect — every key and whether
      // its final op is a delete; the payload stays in the checkpoint
      val meta = net.select(col(idCol), col(opCol) === "D").collect()
      val keys = meta.map(_.getLong(0)).sorted

      // the upsert rows as new files, written by the one task with no
      // shuffle: the partitioned writer sorts within the task, the
      // manifest layout's `__p_` duplicate carries the partition value
      val dataStages =
        if (meta.forall(_.getBoolean(1))) Seq.empty
        else {
          val dir = ManifestStore.stageDir(root, table)
          val upserts = net.filter(col(opCol) =!= "D")
            .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
          ManifestStore.tagForStage(upserts, root, table)
            .withColumn("__p_" + partitionCol, col(partitionCol))
            .write.partitionBy("__p_" + partitionCol).parquet(dir)
          Seq(ManifestStore.Staged(table, dir, st.partitionCols,
            upserts.schema.toDDL, ManifestStore.Append))
        }

      // the keys an older file may hold, by the zone maps alone: their
      // records, at this commit's version, kill exactly the old copies
      val seq = snap.version + 1
      val hit = new java.util.BitSet(keys.length)
      st.partitions.values.foreach(_.files.foreach(f =>
        ManifestStore.admittedRanges(f, idCol, keys)
          .foreach(r => if (r.nonEmpty) hit.set(r.start, r.end))))
      val killed = hit.stream().toArray.toSeq.map(keys(_))
      // a record-less batch (fresh inserts only) appends no run file —
      // unless the commit would otherwise stage nothing and still owes
      // the ledger its batch mark
      val dvStages =
        if (dataStages.nonEmpty && killed.isEmpty) Seq.empty
        else Seq(DeletionVectors.stageRecords(
          DeletionVectors.localRecords(spark, idCol, seq, killed),
          root, table, idCol))
      ManifestStore.commitBatch(root, dataStages ++ dvStages,
        sinkId, batchId, expectedVersion = snap.version)
    } finally
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(net)
  }
}
