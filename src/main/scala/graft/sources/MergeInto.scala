package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed MERGE INTO over the [[ManifestStore]] — the writer every
  * CDC-to-lakehouse pipeline runs: one keyed change batch
  * (insert/update/delete events, the reference's CRUD surface reified
  * — hello_cloud_run/src/main/java/.../MessageController.java:22-45)
  * lands as ONE atomic commit that composes the two write primitives
  * the store already has:
  *
  *   - upserts (final op I/U per key, latest-wins within the batch by
  *     (ts, seq) — [[graft.cdc.Materializer]]'s reduction) rewrite
  *     ONLY the partitions that hold a matched key's old row or
  *     receive a new one — located through the manifest's zone maps
  *     ([[ManifestStore.Snapshot.readForIds]]), never a store scan;
  *   - deletes (final op D) land as O(k) deletion-vector records
  *     APPENDED to the log-structured sidecar ([[DeletionVectors]])
  *     — no partition rewrite, and no existing vector file touched:
  *     the vector may hold millions of ids while each batch commits
  *     O(batch) bytes (the r11 design rewrote the whole vector per
  *     batch through one task — O(|DV|) at sustained churn);
  *   - a re-inserted DV-dead key gets a REVIVE record at the same
  *     seq in the same commit (else the vector would keep killing
  *     the new row; [[DeletionVectors.liveIds]] reduces latest-wins),
  *     and a key whose old physical row is DV-dead gets its
  *     partition rewritten so the stale row cannot resurrect;
  *   - a partition whose every row moved away is DROPPED (the
  *     [[ManifestStore.Staged.drops]] contract).
  *
  * Exactly-once under the at-least-once redelivery a streaming
  * `foreachBatch` produces: the publish rides
  * [[ManifestStore.commitBatch]]'s (sink, batchId) ledger, so a
  * redelivered batch is recognized and nothing (data, vector, or
  * version) changes twice. Writers of one sink are serialized by the
  * ledger's monotonic batchId — merge assumes the usual one-applier-
  * per-sink CDC topology rather than CAS-racing appliers.
  *
  * Scale posture: an applied batch runs at most 9 Spark jobs, none
  * wider than one task per core (`defaultParallelism`) at micro-batch
  * size — MergeIntoSpec pins both:
  *   1. the latest-wins window's shuffle map stage, over the batch
  *      coalesced to at most one partition per core (a streaming
  *      batch arrives as one partition per producer write);
  *   2. the local checkpoint of the net batch;
  *   3. ONE metadata collect — key, final op, new partition per key:
  *      O(batch) keys on the driver, the payload stays in the
  *      checkpoint;
  *   4. the matched keys' old partitions, zone-map routed
  *      ([[ManifestStore.Snapshot.readForIds]]), de-duplicated on the
  *      driver;
  *   5. and 6. the touched partitions' rewrite: shuffle map stage and
  *      write;
  *   7. the revive screen: only the upserted keys' vector records,
  *      zone-map routed and reduced on the driver
  *      ([[DeletionVectors.deadAmong]]) — never a scan of the pile;
  *   8. the vector run's write, its records built on the driver;
  *   9. one footer job for every table the commit stages.
  * A pure-delete batch skips 4-7. A batch with more than
  * [[ManifestStore.ISIN_MAX]] upserted keys probes in 4 and 7 through
  * a broadcast semi-join, one more job each. Commit cost is
  * O(touched partitions + k) per batch, with NO O(|vector|) term
  * (MergeIntoSpec's churn arm pins the appended DV bytes flat while
  * the vector grows). The pile the appends build is collapsed by
  * [[DeletionVectors.compactDv]] / [[DeletionVectors.materialize]]
  * on the usual OPTIMIZE schedule.
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
    val tableCols = org.apache.spark.sql.types.StructType
      .fromDDL(st.schemaDdl).fieldNames.toSeq
    // one task per core at most: a streaming batch arrives as one
    // partition per producer write, and a micro-batch needs none of
    // that fan-out (coalesce adds no shuffle, and is a no-op below it)
    val cores = spark.sparkContext.defaultParallelism

    // latest-wins within the batch: greatest (ts, seq) per key is the
    // key's net effect — Materializer's reduction, one batch-sized
    // shuffle
    val w = Window.partitionBy(col(idCol))
      .orderBy(col(tsCol).desc, col(seqCol).desc)
    val net = changes.coalesce(cores)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint(true)
    try {
      val upserts = net.filter(col(opCol) =!= "D")
        .select(tableCols.map(col): _*)

      // the batch's metadata in ONE collect — every key, its final op
      // and its new partition; O(batch) keys on the driver, the
      // payload stays in the checkpoint
      val meta = net.select(col(idCol), col(opCol) === "D",
        col(partitionCol).cast("string")).collect()
      val (delMeta, upMeta) = meta.partition(_.getBoolean(1))
      val delIds = delMeta.map(_.getLong(0)).toSeq
      val upsertIds = upMeta.map(_.getLong(0)).toSeq
      val newLocs = upMeta.map(_.getString(2)).toSeq

      // where do the matched keys' old PHYSICAL rows live? Zone-map
      // routed — also surfaces DV-dead rows, whose partitions must
      // rewrite so a cleared vector entry cannot resurrect stale bytes
      val oldLocs =
        if (upsertIds.isEmpty) Seq.empty[String]
        else snap.readForIds(table, idCol, upsertIds)
          .select(col(partitionCol).cast("string"))
          .coalesce(cores) // a scan runs one task per candidate file
          .collect().map(_.getString(0)).toSeq
      val touched = (oldLocs ++ newLocs).distinct.sorted

      // the rewritten partitions: current physical rows minus EVERY
      // batch key's old copy, plus the net upsert rows. The keys reach
      // the scan as a broadcast VARIABLE probed by binary search: a
      // broadcast join would run one more job to collect its build
      // side, even from a local relation
      val dataStages =
        if (touched.isEmpty) Seq.empty
        else {
          val batchKeys =
            spark.sparkContext.broadcast(meta.map(_.getLong(0)).sorted)
          val oldCopy = udf((id: java.lang.Long) => id != null &&
            java.util.Arrays.binarySearch(batchKeys.value, id.longValue) >= 0)
          try {
            val rewritten = snap.readPartitions(table, touched)
              .filter(!oldCopy(col(idCol)))
              .unionByName(upserts)
              .select(tableCols.map(col): _*)
              .coalesce(cores) // one map task per touched file otherwise
            Seq(ManifestStore.stage(rewritten, root, table,
              st.partitionCols, ManifestStore.Upsert)
              .copy(drops = touched.map(v =>
                ManifestStore.keyOf(st.partitionCols, Seq(v)))))
          } finally batchKeys.destroy()
        }

      // vector algebra in the SAME commit, APPEND-ONLY: the batch's
      // final deletes land as delete records, and upserted keys that
      // are currently DV-dead get revive records at the same seq —
      // O(batch) records built on the driver, screened against only
      // the upserted keys' own vector records, never the whole pile
      val seq = snap.version + 1 // this commit's slot (ledger-serialized)
      val revives = DeletionVectors.deadAmong(snap, table, idCol, upsertIds)
      // a record-less batch (pure updates of live keys) appends no run
      // file at all — unless the commit would otherwise stage nothing
      // and still owes the ledger its batch mark
      val dvStages =
        if (dataStages.nonEmpty && delIds.isEmpty && revives.isEmpty) Seq.empty
        else Seq(DeletionVectors.stageRecords(
          DeletionVectors.localRecords(spark, idCol, seq, delIds, revives),
          root, table, idCol))
      ManifestStore.commitBatch(spark, root, dataStages ++ dvStages,
        sinkId, batchId)
    } finally
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(net)
  }
}
