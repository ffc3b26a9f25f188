package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Minimal accessor for the package-private `classic.Dataset.ofRows`
  * — the standard wrap-a-LogicalPlan entry point used by Spark
  * extension libraries (graft.plans.AsOfJoin builds its custom
  * logical node through this) — plus the checkpoint-block release
  * that `Dataset.localCheckpoint` has no public inverse for, the
  * listener-bus drain, the query execution an execution-end event
  * carries, and what a task that writes its own files needs: a
  * one-task job under an SQL execution, the session's Hadoop
  * configuration and the task's output metrics. Nothing else from
  * the private surface is touched.
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** Block until every queued listener event is delivered. Events
    * reach a `SparkListener` asynchronously, so code that counts
    * jobs, stages or task metrics drains the bus before it reads its
    * counters.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The query execution behind an SQL execution's end event, when
    * the event carries one: the link from an action's
    * `QueryExecution` to its execution id, which the public action
    * listener does not report. */
  def executionOf(
      e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
  ): Option[org.apache.spark.sql.execution.QueryExecution] = Option(e.qe)

  /** Release the storage blocks behind a `localCheckpoint(true)`'d
    * DataFrame. A local checkpoint persists a lineage-truncated RDD
    * (MEMORY_AND_DISK) that nothing ever unpersists — iterative
    * algorithms that checkpoint per round strand every superseded
    * round's blocks in executor storage for the life of the session.
    * The checkpointed RDD is the one a `LogicalRDD` leaf wraps;
    * unpersisting it after the successor round is materialized is
    * safe because the lineage-cut RDD is never recomputed.
    *
    * Only frames returned DIRECTLY by `localCheckpoint` are released:
    * the analyzed plan must BE a single `LogicalRDD` leaf. Anything
    * else (a union/join over checkpointed leaves, a derived frame) is
    * a no-op — unpersisting every reachable leaf of a composite plan
    * could release blocks a sibling frame still needs, and a
    * lineage-cut RDD can never be recomputed once its blocks are gone.
    */
  def unpersistCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df match {
      case ds: Dataset[_] =>
        ds.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking)
          case _ => ()
        }
      case _ => ()
    }

  /** Run `task` over the physical rows of `df`, which must have ONE
    * partition, as one Spark job under one SQL execution named
    * `action` — the context a Dataset action runs in: the session's
    * SQL conf reaches the task, and listeners see the plan. Returns
    * what the task returned.
    */
  def runOneTask[T: scala.reflect.ClassTag](df: DataFrame, action: String)(
      task: Iterator[org.apache.spark.sql.catalyst.InternalRow] => T): T = {
    val qe = df.asInstanceOf[Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(action)) {
      val rdd = qe.toRdd
      require(rdd.getNumPartitions == 1,
        s"$action runs one task, got ${rdd.getNumPartitions} partitions")
      val Array(out) = qe.sparkSession.sparkContext.runJob(rdd, task)
      out
    }
  }

  /** The session's Hadoop configuration with its SQL conf applied —
    * what a DataFrameWriter hands its file format.
    */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[SparkSession].sessionState.newHadoopConfWithOptions(Map.empty)

  /** Add a task's file output to its output metrics, as Spark's own
    * file writers do, so stage listeners count the bytes written.
    */
  def reportTaskOutput(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }

  /** Re-tag a batch DataFrame's plan as STREAMING — what a V1
    * streaming `Source.getBatch` must return (the Kafka source's
    * `internalCreateDataFrame(..., isStreaming = true)` pattern):
    * the engine splices the plan into the micro-batch and asserts
    * the streaming flag. The wrapped RDD is the frame's own
    * physical plan, planned lazily here and executed only when the
    * micro-batch runs — fully distributed, nothing collected.
    */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** A parquet scan whose file listing comes from CALLER metadata —
    * zero filesystem list/stat calls at read time. This is how a
    * table format serves reads: the manifest already knows every
    * file's path and length, so handing Spark an explicit-path
    * `spark.read.parquet(paths:_*)` (which re-stats each path to
    * build its InMemoryFileIndex — a driver-side O(files) round of
    * IO per read) pays for metadata the caller is holding. The
    * `FileIndex` below serves `listFiles` straight from the provided
    * (path, bytes, value) triples; partition pruning already happened
    * at the manifest, and the data columns carry any partition
    * values.
    *
    * `valueCol` names an optional per-FILE constant column: each
    * file's third element is served as the scan's partition value,
    * so every row carries its file's value with no expression, no
    * UDF and no extra job (the manifest's file sequence numbers reach
    * deletion-vector reads this way). Partition filters the planner
    * pushes on it are evaluated against the values, as Spark's own
    * indexes do.
    *
    * `rowCount` carries the manifest's ROW COUNT into the optimizer
    * alongside the byte sum: the scan's `LogicalRelation` gets
    * `CatalogStatistics(sizeInBytes, rowCount)`, so with
    * CBO/plan-stats enabled a narrow projection over a wide table
    * re-estimates as rows × projected width — a small-row
    * wide-payload dimension broadcasts where raw file bytes alone
    * would refuse (ManifestJoinPlanningSpec pins both decisions).
    * With CBO off the stats degrade to the same byte-sum
    * `sizeInBytes` — plans unchanged.
    */
  def readParquetKnownFiles(
      spark0: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[(String, Long, Long)],
      rowCount: Option[Long] = None,
      valueCol: Option[String] = None
  ): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.types.{LongType, StructType}
    val spark = spark0.asInstanceOf[SparkSession]
    val statuses = files.map { case (p, len, v) =>
      v -> new org.apache.hadoop.fs.FileStatus(
        len, false, 1, 128L * 1024 * 1024, 0L,
        new org.apache.hadoop.fs.Path(p))
    }
    val valueSchema = valueCol.fold(new StructType())(
      new StructType().add(_, LongType, nullable = false))
    val dirs = valueCol match {
      case None =>
        Seq(PartitionDirectory(InternalRow.empty, statuses.map(_._2).toArray))
      case Some(_) =>
        statuses.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, fs) =>
          PartitionDirectory(InternalRow(v), fs.map(_._2).toArray)
        }
    }
    val index = new FileIndex {
      override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
        statuses.map(_._2.getPath)
      override def listFiles(
          partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]
      ): Seq[PartitionDirectory] =
        if (partitionFilters.isEmpty || valueCol.isEmpty) dirs
        else {
          // the one partition column sits at ordinal 0 of each value row
          val keep = Predicate.createInterpreted(
            partitionFilters.reduce(And).transform {
              case a: AttributeReference => BoundReference(0, LongType, nullable = false)
            })
          dirs.filter(d => keep.eval(d.values))
        }
      override def inputFiles: Array[String] =
        statuses.map(_._2.getPath.toString).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
      override def partitionSchema: StructType = valueSchema
    }
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = valueSchema,
      dataSchema = schema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty
    )(spark)
    val plan = rowCount match {
      case Some(rc) =>
        // a minimal CatalogTable purely as the stats carrier (the
        // identifier never resolves — nothing registers it)
        val ct = org.apache.spark.sql.catalyst.catalog.CatalogTable(
          identifier =
            org.apache.spark.sql.catalyst.TableIdentifier("graft_manifest_scan"),
          tableType =
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
          storage =
            org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty,
          schema = relation.schema,
          stats = Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
            sizeInBytes = BigInt(statuses.map(_._2.getLen).sum),
            rowCount = Some(BigInt(rc)))))
        LogicalRelation(relation, ct)
      case None => LogicalRelation(relation)
    }
    Dataset.ofRows(spark, plan)
  }
}
