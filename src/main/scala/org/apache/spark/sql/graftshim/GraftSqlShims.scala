package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Minimal accessor for the package-private `classic.Dataset.ofRows`
  * — the standard wrap-a-LogicalPlan entry point used by Spark
  * extension libraries (graft.plans.AsOfJoin builds its custom
  * logical node through this) — plus the checkpoint-block release
  * that `Dataset.localCheckpoint` has no public inverse for, and the
  * listener-bus drain. Nothing else from the private surface is
  * touched.
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
    * (path, bytes) pairs; partition pruning already happened at the
    * manifest, so the index is partition-less and the data columns
    * carry any partition values.
    */
  def readParquetKnownFiles(
      spark0: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[(String, Long)]
  ): DataFrame = readParquetKnownFiles(spark0, schema, files, None)

  /** [[readParquetKnownFiles]] carrying the manifest's ROW COUNT into
    * the optimizer alongside the byte sum: the scan's
    * `LogicalRelation` gets `CatalogStatistics(sizeInBytes,
    * rowCount)`, so with CBO/plan-stats enabled a narrow projection
    * over a wide table re-estimates as rows × projected width — a
    * small-row wide-payload dimension broadcasts where raw file
    * bytes alone would refuse (ManifestJoinPlanningSpec pins both
    * decisions). With CBO off the stats degrade to the same byte-sum
    * `sizeInBytes` as before — plans unchanged.
    */
  def readParquetKnownFiles(
      spark0: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[(String, Long)],
      rowCount: Option[Long]
  ): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val spark = spark0.asInstanceOf[SparkSession]
    val statuses = files.map { case (p, len) =>
      new org.apache.hadoop.fs.FileStatus(
        len, false, 1, 128L * 1024 * 1024, 0L,
        new org.apache.hadoop.fs.Path(p))
    }
    val index = new FileIndex {
      override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
        statuses.map(_.getPath)
      override def listFiles(
          partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
          dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
      ): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(
          org.apache.spark.sql.catalyst.InternalRow.empty, statuses.toArray))
      override def inputFiles: Array[String] =
        statuses.map(_.getPath.toString).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = statuses.map(_.getLen).sum
      override def partitionSchema: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()
    }
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
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
          schema = schema,
          stats = Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
            sizeInBytes = BigInt(statuses.map(_.getLen).sum),
            rowCount = Some(BigInt(rc)))))
        LogicalRelation(relation, ct)
      case None => LogicalRelation(relation)
    }
    Dataset.ofRows(spark, plan)
  }
}
