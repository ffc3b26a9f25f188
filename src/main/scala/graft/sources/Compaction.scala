package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Small-file compaction — the OPTIMIZE action that executes q86's
  * bin-pack plan against a [[PartitionedStore]] instead of only
  * reporting it (the q101→q102 promote-the-spec discipline applied to
  * layout maintenance).
  *
  * The three parts mirror how a table format runs OPTIMIZE:
  *   - [[plan]]: the streaming binning q86 reports — within a
  *     partition, files in id order get `bin = cum_before DIV target`
  *     (a bin closes once the running total crosses the target; the
  *     threshold-crossing bin may exceed it by one trailing file).
  *   - [[writeBinned]]: one OUTPUT FILE per (partition, bin), exact —
  *     the bin rides the write as a SECOND dynamic-partition axis, so
  *     a hash repartition on the full (partition, bin) key keeps each
  *     bin whole in one task and the dynamic-partition writer emits
  *     exactly one file per bin directory. One shuffle sized by
  *     `spark.sql.shuffle.partitions`/AQE (a task writes MANY bins'
  *     files sequentially) — not one reduce task per bin: at a
  *     100 TB OPTIMIZE with 10⁵ bins, per-task scheduling and commit
  *     overhead × bins is the difference between minutes and hours
  *     (and the prior keyed-RDD hop additionally paid a full
  *     Tungsten→Row→Tungsten round trip plus a separate
  *     distinct-collect pass over the input to build the key→task
  *     index — r12 measured the RDD hop at 4.6 s of q109's 12 s).
  *   - [[execute]]: rewrite ONLY the partitions the plan names, via
  *     dynamic partition overwrite — every other partition's files
  *     stay byte-identical on disk. The rewrite frame is validated
  *     BEFORE commit (the cdc15/cdc16 discipline): it must cover
  *     exactly the touched partitions' rows, else the overwrite would
  *     silently drop the files the plan missed.
  *
  * Scale posture: the plan and the key→task index are manifest-sized
  * (files and bins, not rows); the rewrite shuffles only the touched
  * partitions' data, once, directly into its final file layout.
  */
object Compaction {

  /** Assign each file to a compaction bin: `files` must carry
    * (partitionCol, fileCol, bytesCol); returns the same frame plus
    * `cum_before` and `bin`. One definition shared by the q86 report
    * and the q109 execution.
    */
  def plan(
      files: DataFrame,
      partitionCol: String,
      fileCol: String,
      bytesCol: String,
      target: Long
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = Window
      .partitionBy(partitionCol)
      .orderBy(fileCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum(col(bytesCol)).over(ws), lit(0L)))
      .withColumn("bin", expr(s"cum_before DIV $target"))
  }

  /** Write `df` partitioned by `partitionCol` with EXACTLY one file
    * per distinct (partitionCol, binCol) value: the bin is a second
    * dynamic-partition directory axis (`__bin_<binCol>=`, ignored by
    * the manifest's partition-value parse, which reads only
    * `__p_<col>=` segments), and the frame is hash-repartitioned on
    * the FULL (partitionCol, binCol) key — a bin's rows land whole in
    * one task (hash placement never splits a key; AQE coalescing only
    * merges whole partitions), and the dynamic-partition writer emits
    * one file per directory per task (the write pins
    * `maxRecordsPerFile` to 0, so no session cap splits a bin), so one
    * file per bin, exact. One
    * pass over `df`, one shuffle, no per-bin task. The files land in
    * an unreferenced staging dir and publish through ONE atomic
    * [[ManifestStore]] commit:
    * `dynamic = true` replaces only the partitions present in `df`
    * (Upsert), `false` installs the frame as the table (Replace) —
    * either way a concurrent reader resolves the previous complete
    * version until the swap.
    */
  def writeBinned(
      df: DataFrame,
      path: String,
      partitionCol: String,
      binCol: String,
      dynamic: Boolean,
      expectedVersion: Long = ManifestStore.ANY_VERSION
  ): Unit = {
    val spark = df.sparkSession
    val staging = ManifestStore.stageDir(path, ManifestStore.MAIN)
    // EXPLICIT task count: each write task emits its bins' files
    // sequentially, so the file fan-out must stay spread across the
    // cluster — an AQE-coalesced exchange (tiny bytes, many bins)
    // would serialize hundreds of file writes into one task. User
    // repartition counts are exempt from AQE coalescing; the count
    // scales with the cluster (defaultParallelism).
    val writeTasks = spark.sparkContext.defaultParallelism
    ManifestStore.tagForStage(df, path, ManifestStore.MAIN)
      // the real columns stay in the data; the write partitions on
      // duplicates (the ManifestStore layout contract)
      .withColumn(s"__p_$partitionCol", col(partitionCol))
      .withColumn(s"__bin_$binCol", col(binCol))
      .repartition(writeTasks, col(partitionCol), col(binCol))
      .write
      .partitionBy(s"__p_$partitionCol", s"__bin_$binCol")
      // no per-file record cap, whatever the session sets: a capped
      // writer would split a bin across several files
      .option("maxRecordsPerFile", 0L)
      .mode("overwrite")
      .parquet(staging)
    ManifestStore.commit(path, Seq(ManifestStore.Staged(
      ManifestStore.MAIN,
      staging,
      Seq(partitionCol),
      df.schema.toDDL,
      if (dynamic) ManifestStore.Upsert else ManifestStore.Replace
    )), expectedVersion)
  }

  /** Execute a bin plan against the store at `path`: `binPlan` maps
    * (partitionCol, keyCols...) → `bin` for EVERY file of every
    * partition it intends to rewrite; partitions absent from the plan
    * are untouched on disk. Fails (before any write) if the plan does
    * not cover all rows of a touched partition — a partial plan would
    * otherwise drop the uncovered files in the overwrite. The store
    * is materialized (localCheckpoint) before the self-overwrite and
    * the checkpoint is released after the commit.
    *
    * The rewrite is a read-modify-write, so the commit is PINNED to
    * the manifest version the read resolved (compare-and-swap): a
    * concurrent ingest landing in a touched partition between read
    * and commit would otherwise be silently dropped by the partition
    * overwrite — instead the commit throws
    * [[ManifestStore.ConcurrentCommitException]] with nothing
    * published, and the caller re-plans from the fresh manifest (the
    * OPTIMIZE-vs-ingest race every table format resolves this way).
    */
  def execute(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      keyCols: Seq[String],
      binPlan: DataFrame
  ): Unit = {
    val snap = ManifestStore.snapshot(spark, path)
    // the plan's binning supersedes whatever binning rides the store
    // (a planted store carries bin = its ingest file; a previously
    // compacted store carries the last plan's bins)
    val store = snap.read().drop("bin").as("s")
    val planSlim =
      binPlan.select((partitionCol +: keyCols :+ "bin").map(col): _*).as("p")
    // null-safe: a null partition value is a partition like any other
    // (the writer's __HIVE_DEFAULT_PARTITION__ directory)
    def same(c: String) = col(s"s.$c") <=> col(s"p.$c")
    val frame = store
      .join(broadcast(planSlim), (partitionCol +: keyCols).map(same).reduce(_ && _))
      .select(col("s.*"), col("p.bin"))
      .localCheckpoint(true)
    try {
      // expected rows of the touched partitions, from the MANIFEST's
      // own per-partition row sums (footer record counts recorded at
      // commit) — a metadata lookup instead of the second full store
      // scan + semi-join the guard used to pay per OPTIMIZE. Entries
      // of a foreign spec (post-evolvePartitionSpec generations) keyed
      // on other columns can hold touched rows the metadata cannot
      // attribute, so a mixed-spec table falls back to the exact scan.
      // The lookup matches the values' string casts against the
      // manifest's directory strings, which agree only for non-null,
      // non-empty strings and integers (the writer renders null and ""
      // as __HIVE_DEFAULT_PARTITION__); any other value takes the scan.
      val touchedVals = planSlim
        .select(col(partitionCol).cast("string"))
        .distinct()
        .collect()
        .map(_.getString(0))
        .toSet
      val st = snap.state(ManifestStore.MAIN)
      val singleSpec = st.partitions.values.forall(_.cols == Seq(partitionCol))
      val castMatchesDir = store.schema(partitionCol).dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType =>
          touchedVals.forall(v => v != null && v.nonEmpty)
        case _ => false
      }
      val expected =
        if (singleSpec && castMatchesDir)
          st.partitions.values
            .filter(p => touchedVals.contains(p.values.head))
            .map(_.rows)
            .sum
        else {
          val touched = planSlim.select(col(partitionCol)).distinct().as("p")
          store
            .join(broadcast(touched), same(partitionCol), "left_semi")
            .count()
        }
      require(
        frame.count() == expected,
        s"compaction plan does not cover every file of its touched " +
          s"partitions (covered ${frame.count()} of $expected rows) — " +
          "refusing a rewrite that would drop data"
      )
      writeBinned(frame, path, partitionCol, "bin", dynamic = true,
        expectedVersion = snap.version)
    } finally
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(frame)
  }
}
