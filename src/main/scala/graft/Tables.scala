package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All loads are plain `spark.read.parquet` — columnar scans with
  * Catalyst predicate pushdown / column pruning downstream. The one
  * normalization: `events.ts`. Fixture generations have written it as
  * parquet TIMESTAMP(NANOS) (unrepresentable in Spark → read as
  * ns-longs via `spark.sql.legacy.parquet.nanosAsLong` and truncated
  * to µs) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
  * TimestampNTZ unless `spark.sql.parquet.inferTimestampNTZ.enabled`
  * is off, as our sessions set). All branches land on µs
  * TimestampType under the pinned UTC session — bit-identical to
  * DuckDB's naive read of the same file.
  *
  * Spark infers a parquet file's schema in a Spark job, even for one
  * file, so [[t]] infers each file's schema once and reads the file
  * with that schema after that.
  */
final case class Tables(spark: SparkSession, dir: String) {

  def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = Tables.schemaKey(spark, path)
    key.flatMap(Tables.cached) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(Tables.remember(_, df.schema))
        df
    }
  }

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        // nanosAsLong read path: ns since epoch → µs TimestampType.
        // Integer `div`, NOT `/`: double division loses µs precision
        // at epoch-ns magnitudes (53-bit mantissa < 2^60 ns values).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampType => raw
      case _: TimestampNTZType =>
        // Externally-built session without inferTimestampNTZ=false:
        // reinterpret the wall-clock value in the (UTC) session zone.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }
}

object Tables {

  /** A fixture file's identity (path, size, mtime, inode) plus the
    * session's `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
    * settings, which decide what schema Spark infers from it.
    */
  private final case class SchemaKey(
      path: String,
      bytes: Long,
      mtime: java.nio.file.attribute.FileTime,
      fileKey: AnyRef,
      conf: Seq[(String, String)]
  )

  /** Inferred schemas, bounded LRU. A rewritten file gets a new size,
    * mtime or inode, so its old entry no longer matches and ages out.
    */
  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size() > 64
    }

  /** The key of a local regular file; None for anything else (a
    * directory, a missing path, a non-local URI), which is read
    * uncached so Spark reports its own error.
    */
  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] =
    try {
      val attrs = java.nio.file.Files.readAttributes(
        java.nio.file.Paths.get(path),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      if (!attrs.isRegularFile) None
      else {
        val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
        }.sorted
        Some(SchemaKey(path, attrs.size, attrs.lastModifiedTime, attrs.fileKey, conf))
      }
    } catch {
      case _: java.io.IOException | _: java.nio.file.InvalidPathException => None
    }

  // inference runs outside the lock: it launches a Spark job
  private def cached(key: SchemaKey): Option[StructType] =
    schemas.synchronized(Option(schemas.get(key)))

  private def remember(key: SchemaKey, schema: StructType): Unit =
    schemas.synchronized { schemas.put(key, schema) }
}
