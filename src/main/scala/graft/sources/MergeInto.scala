package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

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
  * Scale posture: a micro-batch is small, so an applied batch runs
  * ONE Spark job of ONE task, whatever the store size or the number
  * of keys (MergeIntoSpec pins both). The task runs over the batch
  * coalesced to one partition (a streaming batch arrives as one
  * partition per producer write), which needs no exchange:
  *   - the latest-wins reduction, in the task's memory: per key the
  *     row greatest by (ts, seq), nulls lowest, as Materializer's
  *     window ranks it;
  *   - the net upserts written as one file per partition value under
  *     `__p_<col>=`, and the sorted vector run, its keys tested
  *     against the older files' key intervals the task carries in its
  *     closure (O(files) zone-map metadata). Both writes go through
  *     Spark's parquet `OutputWriterFactory`, prepared on the driver
  *     as a DataFrameWriter prepares it, so field ids, codec and
  *     footer metadata are the ones a DataFrameWriter writes. Its job
  *     configuration is broadcast once, as Spark's file scans
  *     broadcast theirs, not shipped inside the task.
  * Only the staged directories come back; the payload never reaches
  * the driver. Each task attempt writes under fresh directories of its
  * own, and the commit takes only the directories the attempt that
  * succeeded returned, so a failed attempt's files are never
  * committed. The commit reads the staged files' footers on the
  * driver, with no job. A pure-delete batch writes no upsert file; a
  * batch of fresh inserts writes no vector run. Commit cost is
  * O(batch): bytes written and log entries do not grow with the store
  * or the vector (Scale10x's `merge_store_scale` arm).
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
    val schema = StructType.fromDDL(st.schemaDdl)
    val dvName = DeletionVectors.dvTable(table)

    // the upsert files carry the table's columns as this batch casts
    // them (nullability included, as a DataFrameWriter writes it); the
    // vector run carries (key, the sequence of this commit)
    val cast = schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq
    val upsertSchema = changes.select(cast: _*).schema
    val dvSchema = StructType(Seq(StructField(idCol, LongType, nullable = false),
      StructField(DeletionVectors.SEQ_COL, LongType, nullable = false)))

    // the task's input: the batch in one partition (coalesce adds no
    // exchange), each row's upsert columns, then its key, whether its
    // op is an upsert (I/U; a delete or no op leaves no live row),
    // its partition value as a string, ts and seq. The casts run on
    // upserts only, as a delete's payload need not cast
    val upsert = coalesce(col(opCol) =!= "D", lit(false))
    val rows = changes.coalesce(1).select(cast.map(when(upsert, _)) ++ Seq(
      col(idCol).cast(LongType), upsert,
      when(upsert, col(partitionCol).cast(schema(partitionCol).dataType)
        .cast(StringType)),
      col(tsCol), col(seqCol)): _*)

    val dataSchema = ManifestStore.stageSchema(upsertSchema, root, table)
    val out = ParquetOut(spark, dataSchema)
    try {
      val task = BatchTask(root, table, partitionCol, out, dataSchema,
        ManifestStore.stageSchema(dvSchema, root, dvName),
        changes.schema(tsCol).dataType, changes.schema(seqCol).dataType,
        keyBounds(st, idCol), snap.version + 1)
      val (dataDir, dvDir) = GraftSqlShims.runOneTask(rows, "merge")(task.run)
      ManifestStore.commitBatch(root,
        dataDir.map(ManifestStore.Staged(table, _, st.partitionCols,
          upsertSchema.toDDL, ManifestStore.Append)).toSeq ++
          dvDir.map(ManifestStore.Staged(dvName, _, Seq.empty,
            dvSchema.toDDL, ManifestStore.Append)),
        sinkId, batchId, expectedVersion = snap.version)
    } finally out.release()
  }

  /** The key intervals some row group of `st`'s files admits on
    * `idCol`, merged and sorted, flattened to (lo, hi) pairs — the
    * zone maps a batch key is tested against, O(files) metadata. A
    * group without bounds on the key admits every key.
    */
  private def keyBounds(st: ManifestStore.TableState, idCol: String): Array[Long] = {
    val iv = st.partitions.values.iterator.flatMap(_.files)
      .flatMap(ManifestStore.groupsOf)
      .map(_.stats.getOrElse(idCol, (Long.MinValue, Long.MaxValue)))
      .filter { case (lo, hi) => lo <= hi }
      .toArray.sortBy(_._1)
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < iv.length) {
      val lo = iv(i)._1
      var hi = iv(i)._2
      i += 1
      while (i < iv.length && (hi == Long.MaxValue || iv(i)._1 <= hi + 1)) {
        hi = math.max(hi, iv(i)._2)
        i += 1
      }
      out += lo
      out += hi
    }
    out.result()
  }

  /** Spark's parquet output, prepared on the driver as a
    * DataFrameWriter prepares its own: `prepareWrite`'s
    * `OutputWriterFactory` and the job configuration it set up,
    * broadcast once per merge, as Spark's file scans broadcast theirs.
    * The one entry of that configuration that depends on the schema
    * is the row schema, so each writer sets its own on a copy.
    */
  private final class ParquetOut(
      factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration]
  ) extends Serializable {

    /** A writer of one new file of `schema` in `dir`. */
    def open(dir: String, schema: StructType): OutputWriter = {
      val c = new Configuration(conf.value.value)
      ParquetWriteSupport.setSchema(schema, c)
      val ctx = new TaskAttemptContextImpl(c, new TaskAttemptID())
      factory.newInstance(s"$dir/part-00000${factory.getFileExtension(ctx)}",
        schema, ctx)
    }

    def bytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf.value.value).getFileStatus(p).getLen
    }

    /** Drop the broadcast configuration, once no task needs it. */
    def release(): Unit = conf.destroy()
  }

  private object ParquetOut {
    def apply(spark: SparkSession, schema: StructType): ParquetOut = {
      val job = Job.getInstance(GraftSqlShims.hadoopConf(spark))
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      new ParquetOut(factory, spark.sparkContext.broadcast(
        new SerializableConfiguration(job.getConfiguration)))
    }
  }

  /** The merge's one task, over the batch's rows as `merge` lays them
    * out. Reduces them latest-wins per key, writes the upserts, one
    * file per partition value, and the vector run of the keys `bounds`
    * admits at sequence `seq`; returns the directories it staged.
    */
  private final case class BatchTask(
      root: String,
      table: String,
      partitionCol: String,
      out: ParquetOut,
      dataSchema: StructType,
      dvSchema: StructType,
      tsType: DataType,
      seqType: DataType,
      bounds: Array[Long],
      seq: Long
  ) {

    /** Whether some interval of `bounds` holds `k`: the last one that
      * starts at or below `k` is the only candidate.
      */
    private def admitted(k: Long): Boolean = {
      var lo = 0
      var hi = bounds.length / 2
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (bounds(2 * mid) <= k) lo = mid + 1 else hi = mid
      }
      lo > 0 && bounds(2 * lo - 1) >= k
    }

    def run(rows: Iterator[InternalRow]): (Option[String], Option[String]) = {
      val n = dataSchema.length
      // latest-wins: per key, the greatest row by (ts, seq) with nulls
      // lowest — the first row of Materializer's window, ORDER BY ts
      // DESC, seq DESC (nulls last)
      val order = new InterpretedOrdering(Seq(
        SortOrder(BoundReference(n + 3, tsType, nullable = true), Ascending),
        SortOrder(BoundReference(n + 4, seqType, nullable = true), Ascending)))
      val latest = new java.util.HashMap[Long, InternalRow]()
      rows.foreach { r =>
        require(!r.isNullAt(n), "a merge key is null")
        val k = r.getLong(n)
        val cur = latest.get(k)
        if (cur == null || order.gt(r, cur)) latest.put(k, r.copy())
      }
      val keys = latest.keySet.stream.mapToLong(_.longValue).sorted.toArray

      // fresh directories for this attempt: what a failed attempt
      // left never shares a directory with what the commit takes
      val dataDir = ManifestStore.stageDir(root, table)
      val dvDir = ManifestStore.stageDir(root, DeletionVectors.dvTable(table))
      val get = dataSchema.fields.map(f => InternalRow.getAccessor(f.dataType))
      val vals = new Array[Any](n)
      val row = new GenericInternalRow(vals)
      val upserts = mutable.LinkedHashMap[String, OutputWriter]()
      val opened = mutable.ArrayBuffer[OutputWriter]()
      def open(dir: String, schema: StructType) = {
        val w = out.open(dir, schema)
        opened += w
        w
      }
      var records = 0L
      try {
        keys.foreach { k =>
          val r = latest.get(k)
          if (r.getBoolean(n + 1)) {
            val part = ExternalCatalogUtils.getPartitionPathString("__p_" + partitionCol,
              if (r.isNullAt(n + 2)) null else r.getUTF8String(n + 2).toString)
            var i = 0
            while (i < n) { vals(i) = get(i)(r, i); i += 1 }
            upserts.getOrElseUpdate(part, open(s"$dataDir/$part", dataSchema)).write(row)
            records += 1
          }
        }
        val killed = keys.filter(admitted)
        // a record-less batch (fresh inserts only) writes no run —
        // unless the commit would otherwise stage nothing and still
        // owes the ledger its batch mark
        val withRun = upserts.isEmpty || killed.nonEmpty
        if (withRun) {
          val w = open(dvDir, dvSchema)
          val rec = new GenericInternalRow(Array[Any](0L, seq))
          killed.foreach { k => rec.setLong(0, k); w.write(rec) }
          records += killed.length
        }
        opened.foreach(_.close())
        GraftSqlShims.reportTaskOutput(opened.map(w => out.bytes(w.path())).sum, records)
        (if (upserts.isEmpty) None else Some(dataDir), if (withRun) Some(dvDir) else None)
      } catch {
        case e: Throwable =>
          opened.foreach(w => scala.util.Try(w.close()))
          throw e
      }
    }
  }
}
