package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: the only place the repo
  * builds a `SparkSession`. Every main (Bench, Verify, BenchAB,
  * Scale10x, Explain, tools.JobProfile), the benchmark harness and the
  * test specs call [[GraftSession.local]], so the engine that is
  * benched and verified is the engine that is tested.
  *
  * Local-mode defaults: one shuffle partition per core (NOT the 200
  * default, which would produce many more tasks than cores on tiny
  * data). On a real cluster the same settings apply except `master`,
  * and shuffle partitions are governed by AQE coalescing — Spark's
  * defaults (`spark.sql.adaptive.enabled`, `.coalescePartitions` and
  * `.skewJoin` all on, pinned by `GraftSessionSpec`), which is the
  * 100 TB-scale posture: start high, let AQE coalesce.
  */
object GraftSession {

  /** Engine configs of every session [[local]] builds:
    *
    *   - session timezone / parquet timestamp handling: fixture
    *     timestamps — older generations wrote TIMESTAMP(NANOS) (read
    *     as ns-longs, truncated in Tables.events), current ones
    *     TIMESTAMP(MICROS, isAdjustedToUTC=false); inferTimestampNTZ
    *     off reads those as plain µs TimestampType (= DuckDB's naive
    *     read under the pinned UTC session);
    *   - parquet field ids: column mapping
    *     (ManifestStore.renameColumn) — stores stamp stable field ids
    *     into their files and resolve columns by id; ignoreMissing
    *     keeps plain fixture parquet (no ids) resolving by name;
    *   - [[graft.sources.GraftLocalFileSystem]] as the `file:` scheme:
    *     drops the no-native-hadoop fork-per-chmod and the `.crc`
    *     sidecar per created file — local-sandbox artifacts a real
    *     deployment's filesystem never pays (see that class's doc);
    *   - file-output committer algorithm 2: task output renames to the
    *     destination at TASK commit (parallel, executor-side) instead
    *     of a single-threaded driver merge at job commit. The v1/v2
    *     atomicity difference is irrelevant here: every multi-file
    *     write lands in an unreferenced staging directory and only
    *     becomes visible through the manifest's own atomic commit.
    */
  val engineConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.parquet.fieldId.write.enabled" -> "true",
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    "spark.sql.parquet.fieldId.read.ignoreMissing" -> "true",
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.sources.GraftLocalFileSystem].getName,
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.ui.enabled" -> "false"
  )

  /** A `local[cores]` session with [[engineConfs]], the
    * [[GraftExtensions]] (as-of planner strategy, `EditDistancePrefilter`,
    * every [[plans.FunctionCatalog]] function), the sketch UDAFs and one
    * [[streaming.HealthListener]] (read through
    * [[info.EngineInfo.streamingHealth]]). */
  def local(cores: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(engineConfs)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerSketchUdafs(spark)
    streaming.HealthListener.install(spark)
    spark
  }

  /** The core count the mains pass to [[local]]: `SPARK_GRAFT_CPUS`,
    * else `default`. */
  def envCores(
      default: Int = math.min(32, Runtime.getRuntime.availableProcessors())
  ): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map { v =>
      v.toIntOption.getOrElse(sys.error(s"SPARK_GRAFT_CPUS is not an integer: '$v'"))
    }.getOrElse(default)

  /** Register the mergeable sketch Aggregators as SQL UDAFs so
    * SQL-only users can call them alongside the `graft_*` expression
    * functions ([[GraftExtensions]] covers the codegen Expressions;
    * UDAFs register per-session through the udf registry — [[local]]
    * calls this; it is idempotent, call it on any externally-built
    * session):
    *
    *   SELECT graft_hll_distinct(h)  FROM t GROUP BY g   -- DOUBLE
    *   SELECT graft_bloom(h)         FROM t GROUP BY g   -- ARRAY<LONG>
    */
  def registerSketchUdafs(spark: SparkSession): Unit = {
    import org.apache.spark.sql.{functions => F, Encoders}
    spark.udf.register(
      "graft_hll_distinct",
      F.udaf(sim.HllAggregator.distinctEstimate, Encoders.scalaLong)
    )
    spark.udf.register(
      "graft_bloom",
      F.udaf(sim.BloomAggregator.sketch, Encoders.scalaLong)
    )
  }
}
