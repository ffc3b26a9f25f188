package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tenth batch: the HdrHistogram-style mergeable quantile sketch with
  * sketch-guided EXACT selection, and the small-file compaction
  * planner — two storage/profiling shapes a 100 TB corpus operation
  * runs constantly (latency/size distributions without a global sort;
  * bin-packing cold small files into target-sized rewrites).
  */
object Relational10 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Sub-bucket precision bits for q85: values are truncated to
    * S+1 significant bits, so the sketch's relative error is ≤ 2^-S
    * (6.25 %) and the bucket count is bounded by construction at
    * (64−S)·2^S + 2^(S+1) ≈ 992 — a few KB of state no matter how
    * many rows feed it, mergeable by plain count addition.
    */
  private[ops] val HDR_S = 4

  /** Quantiles reported by q85, in percent. */
  private[ops] val HDR_PS = Seq(25, 50, 75, 90, 99)

  /** q85: HdrHistogram-style log2-linear quantile sketch, plus
    * sketch-guided exact selection — the engine's answer to "what is
    * the p99 of a 10¹¹-row column" without q37's global sort window.
    *
    * Construction (libm-free, integer-exact, engine-portable):
    * prices land in integer cents; a value's bucket zeroes all but
    * its top S+1 significant bits (`m = len(bin(v))−1` — the q79
    * bin-length trick for floor(log2); `shift = max(m−S, 0)`;
    * `bucket = v − v mod 2^shift`). The per-bucket counts are the
    * ENTIRE sketch state: bounded (≤ ~1 K rows) regardless of input
    * size, mergeable across corpus slices by adding counts — the
    * distributed-profiling contract (q62's fixed-bin histogram with
    * log-scale resolution and a hard error bound).
    *
    * Quantile read: rank r_p = ceil(p·n/100) (integer arithmetic);
    * the estimate is the first bucket whose cumulative count reaches
    * r_p — a lower bound within 2^-S of the true value. The cum
    * window is over the BOUNDED bucket table, never the data.
    *
    * Sketch-guided exact selection (what makes this more than an
    * approximation): the target bucket's `cum_before` tells exactly
    * which within-bucket local rank the global rank-r value holds, so
    * ONE more broadcast-filtered pass over the data — touching only
    * rows of the ≤5 target buckets, windowed per-quantile — returns
    * the EXACT order statistic. No global sort at any point; the scan
    * is pruned by a broadcast hash join on bucket. (At extreme scale
    * a hot bucket can still be large; the textbook recursion —
    * re-histogram inside the target bucket, 2^-2S after two levels —
    * applies, same discipline as text10's two-level prefix scan.)
    *
    * Output per quantile: the rank, the sketch estimate, the exact
    * value, and the PROVEN containment `exact − est ∈ [0, width)` —
    * all integers, hash-exact against the oracle's replay of the same
    * construction.
    */
  /** Shared q85/q88 machinery: the sketch, the rank read, and the
    * sketch-guided exact selection, per group (`groupCols` empty =
    * one global profile). Input `values`: `groupCols` + a BIGINT
    * column `v`. Every window partitions by the group (plus the
    * bounded bucket/quantile keys), so nothing here is ever a
    * data-sized single partition.
    */
  /** The per-row bucketing of the HDR construction — map-side only. */
  private[graft] def hdrBucketRows(
      values: DataFrame,
      groupCols: Seq[String],
      extraCols: Seq[String] = Nil
  ): DataFrame = {
    val g = groupCols.map(col)
    values
      .withColumn("m", length(bin(col("v"))) - lit(1))
      .withColumn("sh", greatest(col("m") - lit(HDR_S), lit(0)))
      .withColumn("pw", expr("shiftleft(CAST(1 AS BIGINT), sh)"))
      .withColumn("bucket", col("v") - col("v") % col("pw"))
      .select(
        g ++ extraCols.map(col) ++ Seq(col("v"), col("bucket"), col("pw")): _*
      )
  }

  /** The sketch itself: per-(group, bucket) counts — bounded,
    * mergeable by plain count addition (the streaming state shape,
    * see `streaming.StreamHdrQuantiles`).
    */
  private[graft] def hdrBucketCounts(values: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    hdrBucketRows(values, groupCols)
      .groupBy(g ++ Seq(col("bucket"), col("pw")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Rank read over an accumulated sketch: per (group, quantile), the
    * rank and the target bucket (= the estimate, with its cum_before
    * and width for a subsequent exact-selection pass). Windows/joins
    * touch only the bounded sketch.
    */
  private[graft] def hdrTargets(
      counts: DataFrame,
      groupCols: Seq[String],
      ps: Seq[Int] = HDR_PS
  ): DataFrame = {
    val s = counts.sparkSession
    val g = groupCols.map(col)
    val wb = Window
      .partitionBy(g: _*)
      .orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum("cnt").over(wb))
      .withColumn("cum_before", col("cum") - col("cnt"))
    val total = counts.groupBy(g: _*).agg(sum("cnt").as("n"))
    import s.implicits._
    val ranks = total
      .crossJoin(broadcast(ps.toDF("p")))
      .withColumn("r", expr("CAST((n * p + 99) DIV 100 AS BIGINT)"))
      .select(g ++ Seq(col("p"), col("r")): _*)
    // group-equi keys + the non-equi rank bound: a hash join with a
    // post-filter when groups exist, a tiny sketch×5 BNLJ when not
    val rankSide = ranks
      .withColumnsRenamed(groupCols.map(c => c -> s"__r_$c").toMap)
    broadcast(rankSide)
      .join(
        cum,
        groupCols
          .map(c => col(s"__r_$c") === col(c))
          .foldLeft(col("cum") >= col("r"))(_ && _)
      )
      .groupBy(g ++ Seq(col("p"), col("r")): _*)
      .agg(min(struct(col("bucket"), col("cum_before"), col("pw"))).as("t"))
      .select(
        g ++ Seq(
          col("p"),
          col("r"),
          col("t.bucket").as("est"),
          col("t.cum_before").as("cb"),
          col("t.pw").as("width")
        ): _*
      )
  }

  private[ops] def hdrReport(
      s: SparkSession,
      values: DataFrame,
      groupCols: Seq[String],
      ps: Seq[Int] = HDR_PS
  ): DataFrame =
    hdrReportFromCounts(s, values, hdrBucketCounts(values, groupCols),
      groupCols, ps)

  /** [[hdrReport]] with the sketch PASSED IN instead of derived from
    * `values` — the serving face for sketch state accumulated
    * elsewhere (a streaming sink's bucket counts): count addition is
    * associative, so a sketch merged across any micro-batch slicing
    * equals the batch-computed one and the exact selection below is
    * structurally replay ≡ batch (stream22 rides this).
    */
  private[graft] def hdrReportFromCounts(
      s: SparkSession,
      values: DataFrame,
      counts: DataFrame,
      groupCols: Seq[String],
      ps: Seq[Int] = HDR_PS
  ): DataFrame = {
    val g = groupCols.map(col)
    val rows = hdrBucketRows(values, groupCols)
    // bounded table (≤ ~1K rows per group by construction) — every
    // window/join inside hdrTargets is over the SKETCH, not the data
    val targets = hdrTargets(counts, groupCols, ps)
    // second pass: broadcast the target buckets, window only the rows
    // that land in them (the value at group rank r is the
    // (r − cum_before)-th smallest within its bucket)
    val tgtSide = targets
      .withColumnsRenamed(groupCols.map(c => c -> s"__t_$c").toMap)
    val wp = Window
      .partitionBy(g :+ col("p"): _*)
      .orderBy("v")
    val exact = rows
      .join(
        broadcast(tgtSide),
        groupCols
          .map(c => col(s"__t_$c") === col(c))
          .foldLeft(rows("bucket") === tgtSide("est"))(_ && _)
      )
      .withColumn("rn", row_number().over(wp))
      .filter(col("cb") + col("rn") === col("r"))
    exact
      .select(
        g ++ Seq(
          col("p"),
          col("r"),
          col("est"),
          col("v").as("exact_cents"),
          (col("v") >= col("est") && col("v") < col("est") + col("width"))
            .as("in_bound")
        ): _*
      )
      .orderBy(g :+ col("p"): _*)
  }

  private val hdrQuantiles: Q = (s, dir) =>
    hdrReport(
      s,
      Tables(s, dir).lineitem
        .select(round(col("l_extendedprice") * 100).cast("long").as("v")),
      Nil
    )

  /** q88: the q85 sketch GROUPED — per-group quantile profiles (the
    * per-endpoint latency dashboard shape: p50/p99 per key from one
    * mergeable sketch per group). Same bounded state and exact-
    * selection guarantee as q85, with every window and join keyed by
    * the group, so group count scales out, never up.
    */
  private val hdrGrouped: Q = (s, dir) =>
    hdrReport(
      s,
      Tables(s, dir).lineitem
        .select(
          col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("v")
        ),
      Seq("l_returnflag")
    )

  /** Target compaction output size for q86, in bytes of document
    * payload. Sized so the sf0.01 fixture yields multi-file bins;
    * production uses 128 MB–1 GB — the constant is the only knob.
    */
  private[ops] val COMPACT_TARGET = 4000L

  /** Docs per simulated input file for q86 (file stats are derived
    * deterministically from the documents fixture: consecutive
    * doc_id ranges within a source, as an ingest job would write).
    */
  private[ops] val DOCS_PER_FILE = 8L

  /** q86: small-file compaction planner — the OPTIMIZE/bin-pack pass
    * every parquet/Delta table needs once streaming ingest has
    * scattered thousands of under-sized files. Input: a per-file
    * stats table (file id, bytes) — here derived deterministically
    * from the documents fixture, in production read from the table
    * manifest (PartitionedStore's listing). Plan: within each source
    * partition, files in id order are assigned to bins by
    * `bin = floor(cum_before / target)` — the streaming binning
    * compaction planners use (a bin closes once the running total
    * crosses the target; a threshold-crossing bin may exceed the
    * target by one trailing file, which is the accepted behavior —
    * exact capacity packing is NP-hard and buys nothing here).
    *
    * Scale: the stats table is manifest-sized (files, not rows);
    * windows partition by source (bounded per partition); the plan
    * result is bins-sized. Nothing touches the data itself until the
    * rewrite executes the plan.
    */
  private val compactionPlan: Q = (s, dir) => {
    val t = Tables(s, dir)
    val files = t.documents
      .groupBy(
        col("source"),
        expr(s"doc_id DIV $DOCS_PER_FILE").as("file_id")
      )
      .agg(
        sum(col("n_chars")).as("bytes"),
        count(lit(1)).as("n_docs")
      )
    val planned = graft.sources.Compaction
      .plan(files, "source", "file_id", "bytes", COMPACT_TARGET)
    planned
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("bytes")).as("bytes"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file")
      )
      .orderBy("source", "bin")
  }

  /** q109: q86's plan EXECUTED — the OPTIMIZE action, promoted from
    * report to gated rewrite (the q101→q102 discipline). Inside a
    * scratch dir: (1) plant the small-file pathology for real — a
    * [[graft.sources.PartitionedStore]] of documents partitioned by
    * source, written one PHYSICAL file per simulated ingest file via
    * [[graft.sources.Compaction.writeBinned]]; (2) derive the file
    * stats from the store readback and bin them with the ONE shared
    * [[graft.sources.Compaction.plan]] definition q86 reports;
    * (3) [[graft.sources.Compaction.execute]] the plan — validated
    * join, dynamic partition overwrite, one file per bin; (4) the
    * gated row READS BACK the compacted store and reports per source:
    * doc count, file counts before/after (the original file_id and
    * the bin ride the data), payload bytes, and the order-free
    * Σ h32(doc_id) fingerprint. The oracle computes the same report
    * from first principles (fixture + bin formula), so a rewrite that
    * drops, duplicates, or re-bins ANY row diverges at the gate.
    * CompactionExecuteSpec pins what the oracle cannot see: physical
    * file counts equal to planned bins, untouched partitions
    * byte-identical, and the refuse-partial-plan guard.
    */
  /** The q109/cdc18 planted ingest-file model: files are PER-SOURCE
    * contiguous runs of [[DOCS_PER_FILE]] docs (an ingest job writes
    * consecutive docs of its source into one file) — NOT q86's global
    * doc_id ranges, which cross sources and would degenerate to ~one
    * doc per (source, file) pair: planting that wrote ~N physical
    * files and measured 26 s at sf0.1; the per-source model writes
    * N/8 and is what ingest actually produces.
    */
  private[graft] def ingestFiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables(s, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("file_id", expr(s"CAST((__rn - 1) DIV $DOCS_PER_FILE AS BIGINT)"))
      .drop("__rn")
      // pre-compaction each ingest file is its own bin, so the store's
      // schema is stable across plant → churn → compaction (the
      // manifest's Upsert commit requires one shape per table)
      .withColumn("bin", col("file_id"))
  }

  private val compactionExecute: Q = (s, dir) => {
    val docs = ingestFiles(s, dir)
    graft.sources.Scratch.withTempDir("graft-compact") { path =>
      graft.sources.Compaction
        .writeBinned(docs, path, "source", "file_id", dynamic = false)
      val store = graft.sources.ManifestStore.read(s, path)
      val files = store
        .groupBy(col("source"), col("file_id"))
        .agg(sum(col("n_chars")).as("bytes"))
      val binPlan = graft.sources.Compaction
        .plan(files, "source", "file_id", "bytes", COMPACT_TARGET)
        .select(col("source"), col("file_id"), col("bin"))
      graft.sources.Compaction.execute(s, path, "source", Seq("file_id"), binPlan)
      graft.sources.ManifestStore
        .read(s, path)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("file_id")).as("n_files_before"),
          countDistinct(col("bin")).as("n_files_after"),
          sum(col("n_chars")).as("bytes"),
          sum(
            graft.functions.PortableHash
              .h32(col("doc_id").cast("string"))
              .cast("long")
          ).as("doc_fp")
        )
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  /** q110: additive schema evolution EXECUTED — SchemaEvolutionSpec's
    * contract promoted to a gated row (the q101→q102 discipline): a
    * two-generation store is physically written (generation 1 without
    * the quality column, generation 2 appended WITH it), read back
    * through `mergeSchema`, and the gated report proves the merge
    * preserved everything — per source: total docs, v1 docs (quality
    * NULL — history null-fills), v2 docs (quality present), the
    * deterministic quality sum, and the Σ h32(doc_id) identity over
    * BOTH generations. The oracle computes the same report from the
    * fixture alone, so a merge that drops a generation, misaligns a
    * column by position, or fails to null-fill diverges at the gate.
    */
  private val schemaEvolution: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars"))
    graft.sources.Scratch.withTempDir("graft-evo") { path =>
      docs
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .write
        .mode("overwrite")
        .parquet(path)
      docs
        .filter(pmod(col("doc_id"), lit(2)) === 1)
        .withColumn("quality_milli", pmod(col("n_chars") * 7, lit(1000)))
        .write
        .mode("append")
        .parquet(path)
      s.read
        .option("mergeSchema", "true")
        .parquet(path)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("quality_milli").isNull, 1L).otherwise(0L)).as("n_v1"),
          sum(when(col("quality_milli").isNotNull, 1L).otherwise(0L))
            .as("n_v2"),
          sum(col("quality_milli")).as("quality_sum"),
          sum(
            graft.functions.PortableHash
              .h32(col("doc_id").cast("string"))
              .cast("long")
          ).as("doc_fp")
        )
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  /** q111: the file-format round-trip EXECUTED — the interchange
    * contract as a gated row: the same corpus projection
    * is physically written to and read back from parquet, ORC, JSON,
    * and CSV inside a scratch dir, and each format's readback must
    * reproduce the identical per-format row (count, byte mass, id
    * fingerprint) the oracle derives from the fixture — a format
    * whose writer or reader drops rows, mangles a long, or loses a
    * column diverges on its own report row. CSV/JSON read back
    * through an explicit schema (header/typing is the caller's
    * contract, as in production interchange).
    */
  private val formatRoundtrip: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars"))
    graft.sources.Scratch.withTempDir("graft-fmt") { path =>
      import s.implicits._
      val schema = "doc_id BIGINT, source STRING, n_chars BIGINT"
      val reports = Seq("parquet", "orc", "json", "csv").map { fmt =>
        val p = s"$path/$fmt"
        val w = docs.write.mode("overwrite")
        fmt match {
          case "csv" => w.option("header", "true").csv(p)
          case "json" => w.json(p)
          case "orc" => w.orc(p)
          case _ => w.parquet(p)
        }
        val r = fmt match {
          case "csv" =>
            s.read.schema(schema).option("header", "true").csv(p)
          case "json" => s.read.schema(schema).json(p)
          case "orc" => s.read.orc(p)
          case _ => s.read.parquet(p)
        }
        r.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"),
          sum(
            graft.functions.PortableHash
              .h32(col("doc_id").cast("string"))
              .cast("long")
          ).as("doc_fp")
        ).select(lit(fmt).as("format"), col("n_docs"), col("chars_sum"),
          col("doc_fp"))
      }
      reports
        .reduce(_.unionByName(_))
        .orderBy("format")
        .localCheckpoint(true)
    }
  }

  /** q112: the atomic manifest commit's SEMANTICS gated — the
    * transactional contract the reference's `@Transactional` row store
    * gives each CRUD (quarkus_cloud_run/.../MessageResource.java:19),
    * re-expressed for multi-file analytical stores and promoted to a
    * gated row (the q101→q102 discipline). Inside a scratch root:
    * (1) the corpus COMMITS as a [[graft.sources.ManifestStore]] table
    * partitioned by source (version 1); (2) one source's partition is
    * UPSERTED with shifted payloads (version 2 — a partition-granular
    * replace through one manifest swap); (3) a third writer STAGES a
    * poisoned rewrite of every partition and "crashes" before its
    * commit — files on disk, referenced by nothing. The gated row
    * reads back THROUGH the manifest: per source, doc count, payload
    * sum, Σ h32(doc_id) identity, and the manifest version. The
    * oracle computes the same report from the fixture alone, so a
    * read that sees the torn third write (negated payloads), misses
    * the upsert, or resolves a mixed version diverges at the gate.
    * ManifestStoreSpec pins the concurrency half (reader racing
    * commits, crash between staged writes, vacuum).
    */
  private val manifestCommit: Q = (s, dir) => {
    import graft.sources.ManifestStore
    val docs = Tables(s, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars").cast("long")
        .as("n_chars"))
    graft.sources.Scratch.withTempDir("graft-q112") { path =>
      ManifestStore.write(docs, path, Seq("source"))
      val target = docs.select(min(col("source"))).head.getString(0)
      ManifestStore.upsertPartitions(
        docs
          .filter(col("source") === target)
          .withColumn("n_chars", col("n_chars") + lit(1000000L)),
        path,
        Seq("source")
      )
      // the crashed writer: staged to unreferenced paths, never
      // committed — if ANY of it leaks into the read, every payload
      // sum flips sign and the gate diverges
      ManifestStore.stage(
        docs.withColumn("n_chars", -col("n_chars")),
        path, ManifestStore.MAIN, Seq("source"), ManifestStore.Upsert)
      val snap = ManifestStore.snapshot(s, path)
      snap
        .read()
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"),
          sum(
            graft.functions.PortableHash
              .h32(col("doc_id").cast("string"))
              .cast("long")
          ).as("doc_fp")
        )
        .withColumn("version", lit(snap.version))
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  /** pipe06: the STORAGE-HEALTH dataset card — pipe04 documents the
    * corpus' content; this row documents its physical state, the way
    * a lakehouse table's maintenance dashboard does, with the file
    * census read from the [[graft.sources.ManifestStore]] MANIFEST
    * (metadata, never a data scan — the q86 docstring's "in
    * production read from the table manifest", now literal). Inside a
    * scratch root the store lives the full lifecycle: planted one
    * physical file per ingest file, churned by three append commits
    * (one small file per source each — the debt accruing), then
    * compacted by the shared `Compaction.plan`/`execute`. One row per
    * source: doc count and generation mix (base vs churn-appended)
    * from the data, file counts BEFORE and AFTER from the manifest,
    * the plan's bin count, and the compaction DEBT (files over the
    * bin-packed ideal) before/after — the number a maintenance
    * scheduler alerts on. The oracle re-derives every column from
    * fixture arithmetic, so a manifest census that drifts from the
    * physical truth diverges at the gate.
    */
  private val storageReport: Q = (s, dir) => {
    import graft.sources.{Compaction, ManifestStore}
    val docs = ingestFiles(s, dir)
    graft.sources.Scratch.withTempDir("graft-pipe06") { path =>
      Compaction.writeBinned(docs, path, "source", "file_id", dynamic = false)
      (1 to 3).foreach { b =>
        val batch = Tables(s, dir).documents
          .filter(pmod(col("doc_id"), lit(7)) === b)
          .select(
            (col("doc_id") + lit(1000000L * b)).as("doc_id"),
            col("source"),
            col("n_chars"),
            lit(1000000L + b).as("file_id")
          )
          .withColumn("bin", col("file_id"))
        ManifestStore.append(batch, path, Seq("source"))
      }
      def census(tag: String): DataFrame = {
        import s.implicits._
        ManifestStore
          .snapshot(s, path)
          .partitionStats()
          .map { case (src, nFiles, rows, _) => (src, nFiles.toLong, rows) }
          .toDF("source", s"files_$tag", s"rows_$tag")
      }
      val before = census("before")
      val files = ManifestStore
        .read(s, path)
        .groupBy(col("source"), col("file_id"))
        .agg(sum(col("n_chars")).as("bytes"))
      val binPlan = Compaction
        .plan(files, "source", "file_id", "bytes", COMPACT_TARGET)
        .select(col("source"), col("file_id"), col("bin"))
      val bins = binPlan
        .groupBy(col("source"))
        .agg(countDistinct(col("bin")).as("planned_bins"))
      Compaction.execute(s, path, "source", Seq("file_id"), binPlan)
      val after = census("after")
      val mix = ManifestStore
        .read(s, path)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") < 1000000L, 1L).otherwise(0L)).as("n_base"),
          sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L))
            .as("n_churn")
        )
      mix
        .join(before, Seq("source"))
        .join(bins, Seq("source"))
        .join(after, Seq("source"))
        .select(
          col("source"),
          col("n_docs"),
          col("n_base"),
          col("n_churn"),
          col("files_before"),
          col("planned_bins"),
          col("files_after"),
          (col("files_before") - col("planned_bins")).as("debt_before"),
          (col("files_after") - col("planned_bins")).as("debt_after")
        )
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  /** Columns profiled by q87 (all numeric, so min/max cast to DOUBLE
    * losslessly — string/date min-max rendering differs across
    * engines and is deliberately out of the stats schema).
    */
  private[ops] val STATS_COLS = Seq(
    "l_orderkey", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_discount"
  )

  /** q87: ANALYZE-style column statistics — the optimizer-feeding
    * profile (row count, null count, NDV, min, max per column) every
    * cost-based planner keeps current, long-form so new columns are
    * rows, not schema changes. ONE pass over the table: each row
    * explodes into (column, value-as-double) pairs map-side and one
    * grouped aggregate produces the whole report — ANALYZE is exactly
    * the job you run against 100 TB, and a per-column scan loop pays
    * K full IO passes for a K-column profile where this pays one.
    * (Measured tradeoff, r10 A/B: 1.9× at sf0.1, where six
    * page-cached column scans are CPU-cheaper than the 6× row
    * expansion — the single scan is the IO-bound-regime choice, and
    * IO-bound is what a 100 TB ANALYZE is.)
    * The double cast is lossless for every profiled column
    * ([[STATS_COLS]] is numeric ≤ 2⁵³ by construction), so the exact
    * NDV is unchanged.
    *
    * NDV here is the EXACT COUNT(DISTINCT) — the spec value. At
    * 100 TB production swaps the exact pass for the mergeable
    * register sketch (q79 / graft_hll_distinct, oracle-checked
    * against exactly this query's ndv column) and min/max for the
    * manifest's zone maps; the report shape is unchanged.
    */
  private val columnStats: Q = (s, dir) => {
    val t = Tables(s, dir)
    val long = t.lineitem
      .select(explode(array(STATS_COLS.map(c =>
        struct(lit(c).as("column"), col(c).cast("double").as("v"))): _*))
        .as("e"))
      .select(col("e.column").as("column"), col("e.v").as("v"))
    long
      .groupBy(col("column"))
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_nulls"),
        countDistinct(col("v")).as("ndv"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v")
      )
      .orderBy("column")
  }

  /** q89: the VARIANT semi-structured surface (Spark 4) — `parse_json`
    * once into the binary variant encoding, then typed `variant_get`
    * extraction feeding a relational aggregate. Against q18's
    * per-access `get_json_object` (which re-parses the JSON string at
    * every path probe), VARIANT parses once and every subsequent
    * access is a binary-offset read — the difference between O(paths)
    * string parses and O(1) parse + cheap probes per row, which is
    * what makes wide semi-structured scans viable at corpus scale.
    * The oracle reads the same values through DuckDB's JSON reader,
    * pinning that the encoding round-trips typed values exactly.
    */
  private val variantJson: Q = (s, dir) => {
    Tables(s, dir).events
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(
        col("event_type"),
        variant_get(col("v"), "$.k", "bigint").as("k")
      )
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k")
      )
      .orderBy("event_type")
  }

  /** q90: equi-depth histogram — the CBO statistic q62's fixed-bin
    * histogram cannot be (equal WIDTH tells the planner nothing about
    * skewed mass; equal DEPTH puts the same row count in every bucket,
    * which is what selectivity estimation needs). Boundaries are the
    * nine exact deciles, located sketch-first (q85's machinery: HDR
    * bucket counts → rank targets → one broadcast-pruned pass
    * recovers the exact order statistics — never a global sort);
    * bucket k then covers (boundary_{k−1}, boundary_k], assigned by a
    * 10-row broadcast range join, and each bucket reports row count,
    * NDV, and min/max — the histogram row a catalog stores. Heavy
    * ties can collapse adjacent boundaries; the empty bucket simply
    * emits no row (identically in both engines).
    */
  private val equiDepth: Q = (s, dir) => {
    val v = Tables(s, dir).lineitem
      .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
    val rows = hdrBucketRows(v, Nil)
    val targets = hdrTargets(hdrBucketCounts(v, Nil), Nil, (10 to 90 by 10))
    val wp = Window.partitionBy("p").orderBy("v")
    val bounds = rows
      .join(broadcast(targets), rows("bucket") === targets("est"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("cb") + col("rn") === col("r"))
      .select(col("p"), col("v").as("b"))
    val wOrd = Window.orderBy("p") // nine rows
    val ranges = bounds
      // prices are positive cents, so -1 is a safe open lower bound
      .withColumn("lo", coalesce(lag(col("b"), 1).over(wOrd), lit(-1L)))
      .select(
        expr("CAST(p DIV 10 AS INT)").as("bucket_id"),
        col("lo"),
        col("b").as("hi")
      )
      .unionByName(
        bounds
          .agg(max(col("b")).as("lo"))
          .select(lit(10).as("bucket_id"), col("lo"), lit(Long.MaxValue).as("hi"))
      )
    rows
      .join(broadcast(ranges), col("v") > col("lo") && col("v") <= col("hi"))
      .groupBy(col("bucket_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("v")).as("ndv"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v")
      )
      .orderBy("bucket_id")
  }

  val queries: Map[String, Q] = named(
    "q90_equi_depth" -> equiDepth,
    "q89_variant_json" -> variantJson,
    "q85_hdr_quantiles" -> hdrQuantiles,
    "q86_compaction_plan" -> compactionPlan,
    "q109_compaction_execute" -> compactionExecute,
    "q110_schema_evolution" -> schemaEvolution,
    "q111_format_roundtrip" -> formatRoundtrip,
    "q112_manifest_commit" -> manifestCommit,
    "pipe06_storage_report" -> storageReport,
    "q87_column_stats" -> columnStats,
    "q88_grouped_quantiles" -> hdrGrouped
  )

  val oracle: Map[String, String] = named(
    "q90_equi_depth" ->
      s"""WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem),
         |rows_b AS (SELECT v,
         |    v - v % (CAST(1 AS BIGINT) << GREATEST(length(bin(v)) - 1 - $HDR_S, 0))
         |      AS bucket
         |  FROM v),
         |c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM rows_b GROUP BY 1),
         |cum AS (SELECT bucket, cnt,
         |    CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (ORDER BY bucket) - cnt AS BIGINT) AS cb
         |  FROM c),
         |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c),
         |p(p) AS (VALUES (10), (20), (30), (40), (50), (60), (70), (80), (90)),
         |r AS (SELECT p, CAST((n.n * p + 99) // 100 AS BIGINT) AS r FROM p, n),
         |tgt AS (SELECT r.p, r.r, MIN(cum.bucket) AS est,
         |    arg_min(cum.cb, cum.bucket) AS cb
         |  FROM r JOIN cum ON cum.cum >= r.r GROUP BY r.p, r.r),
         |sel AS (SELECT t.p, t.r, t.cb, rows_b.v,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY t.p ORDER BY rows_b.v)
         |      AS BIGINT) AS rn
         |  FROM tgt t JOIN rows_b ON rows_b.bucket = t.est),
         |bounds AS (SELECT p, v AS b FROM sel WHERE cb + rn = r),
         |ranges AS (
         |  SELECT CAST(p // 10 AS INT) AS bucket_id,
         |    COALESCE(LAG(b) OVER (ORDER BY p), CAST(-1 AS BIGINT)) AS lo,
         |    b AS hi
         |  FROM bounds
         |  UNION ALL
         |  SELECT 10, (SELECT MAX(b) FROM bounds),
         |    CAST(9223372036854775807 AS BIGINT))
         |SELECT bucket_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
         |  MIN(v) AS min_v, MAX(v) AS max_v
         |FROM v JOIN ranges ON v.v > ranges.lo AND v.v <= ranges.hi
         |GROUP BY bucket_id ORDER BY bucket_id""".stripMargin,
    "q89_variant_json" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS n_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q88_grouped_quantiles" ->
      s"""WITH v AS (SELECT l_returnflag,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem),
         |rows_b AS (SELECT l_returnflag, v,
         |    v - v % (CAST(1 AS BIGINT) << GREATEST(length(bin(v)) - 1 - $HDR_S, 0))
         |      AS bucket,
         |    (CAST(1 AS BIGINT) << GREATEST(length(bin(v)) - 1 - $HDR_S, 0))
         |      AS pw
         |  FROM v),
         |c AS (SELECT l_returnflag, bucket, pw,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM rows_b GROUP BY 1, 2, 3),
         |cum AS (SELECT l_returnflag, bucket, pw, cnt,
         |    CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
         |      - cnt AS BIGINT) AS cb
         |  FROM c),
         |n AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM c GROUP BY 1),
         |p(p) AS (VALUES (25), (50), (75), (90), (99)),
         |r AS (SELECT n.l_returnflag, p.p,
         |    CAST((n.n * p.p + 99) // 100 AS BIGINT) AS r
         |  FROM p, n),
         |tgt AS (SELECT r.l_returnflag, r.p, r.r,
         |    MIN(cum.bucket) AS est,
         |    arg_min(cum.cb, cum.bucket) AS cb,
         |    arg_min(cum.pw, cum.bucket) AS width
         |  FROM r JOIN cum ON cum.l_returnflag = r.l_returnflag
         |    AND cum.cum >= r.r
         |  GROUP BY 1, 2, 3),
         |sel AS (SELECT t.l_returnflag, t.p, t.r, t.est, t.width,
         |    rows_b.v, t.cb,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY t.l_returnflag, t.p
         |      ORDER BY rows_b.v) AS BIGINT) AS rn
         |  FROM tgt t JOIN rows_b
         |    ON rows_b.l_returnflag = t.l_returnflag
         |   AND rows_b.bucket = t.est)
         |SELECT l_returnflag, p, r, est, v AS exact_cents,
         |  (v >= est AND v < est + width) AS in_bound
         |FROM sel WHERE cb + rn = r
         |ORDER BY l_returnflag, p""".stripMargin,
    "q87_column_stats" ->
      STATS_COLS
        .map { c =>
          s"""SELECT '$c' AS "column",
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
             |  CAST(MIN($c) AS DOUBLE) AS min_v,
             |  CAST(MAX($c) AS DOUBLE) AS max_v
             |FROM lineitem""".stripMargin
        }
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),
    "q85_hdr_quantiles" ->
      s"""WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem),
         |rows_b AS (SELECT v,
         |    v - v % (CAST(1 AS BIGINT) << GREATEST(length(bin(v)) - 1 - $HDR_S, 0))
         |      AS bucket,
         |    (CAST(1 AS BIGINT) << GREATEST(length(bin(v)) - 1 - $HDR_S, 0))
         |      AS pw
         |  FROM v),
         |c AS (SELECT bucket, pw, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM rows_b GROUP BY 1, 2),
         |cum AS (SELECT bucket, pw, cnt,
         |    CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (ORDER BY bucket) - cnt AS BIGINT) AS cb
         |  FROM c),
         |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c),
         |p(p) AS (VALUES (25), (50), (75), (90), (99)),
         |r AS (SELECT p, CAST((n.n * p + 99) // 100 AS BIGINT) AS r
         |  FROM p, n),
         |tgt AS (SELECT r.p, r.r,
         |    MIN(cum.bucket) AS est,
         |    arg_min(cum.cb, cum.bucket) AS cb,
         |    arg_min(cum.pw, cum.bucket) AS width
         |  FROM r JOIN cum ON cum.cum >= r.r
         |  GROUP BY r.p, r.r),
         |sel AS (SELECT t.p, t.r, t.est, t.width, rows_b.v,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY t.p ORDER BY rows_b.v)
         |      AS BIGINT) AS rn, t.cb
         |  FROM tgt t JOIN rows_b ON rows_b.bucket = t.est)
         |SELECT p, r, est, v AS exact_cents,
         |  (v >= est AND v < est + width) AS in_bound
         |FROM sel WHERE cb + rn = r
         |ORDER BY p""".stripMargin,
    "q86_compaction_plan" ->
      s"""WITH f AS (SELECT source, doc_id // $DOCS_PER_FILE AS file_id,
         |    CAST(SUM(n_chars) AS BIGINT) AS bytes
         |  FROM documents GROUP BY 1, 2),
         |planned AS (SELECT source, file_id, bytes,
         |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source
         |      ORDER BY file_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM f)
         |SELECT source, cum_before // $COMPACT_TARGET AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_files,
         |  CAST(SUM(bytes) AS BIGINT) AS bytes,
         |  MIN(file_id) AS first_file,
         |  MAX(file_id) AS last_file
         |FROM planned
         |GROUP BY source, cum_before // $COMPACT_TARGET
         |ORDER BY source, bin""".stripMargin,
    // the executed rewrite re-specified from first principles: same
    // file derivation, same streaming binning, and the per-source
    // row-identity facts (count, bytes, order-free doc_id h32 sum)
    // the compacted readback must reproduce exactly
    "q109_compaction_execute" -> {
      val h = graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")
      s"""WITH ing AS (SELECT doc_id, source, n_chars,
         |    (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
         |      // $DOCS_PER_FILE AS file_id
         |  FROM documents),
         |f AS (SELECT source, file_id,
         |    CAST(SUM(n_chars) AS BIGINT) AS bytes,
         |    CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM ing GROUP BY 1, 2),
         |p AS (SELECT source, file_id, bytes, nd,
         |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source
         |      ORDER BY file_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM f),
         |b AS (SELECT source, file_id, nd, bytes,
         |    cum_before // $COMPACT_TARGET AS bin FROM p),
         |fp AS (SELECT source, CAST(SUM($h) AS BIGINT) AS doc_fp
         |       FROM documents GROUP BY 1)
         |SELECT b.source,
         |  CAST(SUM(nd) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT file_id) AS BIGINT) AS n_files_before,
         |  CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_files_after,
         |  CAST(SUM(bytes) AS BIGINT) AS bytes,
         |  MIN(fp.doc_fp) AS doc_fp
         |FROM b JOIN fp ON fp.source = b.source
         |GROUP BY b.source ORDER BY b.source""".stripMargin
    },
    // the merged two-generation report from the fixture alone: even
    // doc_ids are generation 1 (NULL quality), odd are generation 2
    "q110_schema_evolution" -> {
      val h = graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")
      s"""SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_v1,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_v2,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 1
         |    THEN (n_chars * 7) % 1000 END) AS BIGINT) AS quality_sum,
         |  CAST(SUM($h) AS BIGINT) AS doc_fp
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },
    // four identical per-format rows from the fixture: any format
    // whose physical round-trip diverges breaks its own row
    "q111_format_roundtrip" -> {
      val h = graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")
      s"""WITH agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         |    CAST(SUM($h) AS BIGINT) AS doc_fp
         |  FROM documents)
         |SELECT f.format, agg.n_docs, agg.chars_sum, agg.doc_fp
         |FROM agg, (VALUES ('csv'), ('json'), ('orc'), ('parquet')) f(format)
         |ORDER BY f.format""".stripMargin
    },
    // the storage card from fixture arithmetic: per-source ingest
    // files (ceil over DOCS_PER_FILE runs), +3 churn files, the same
    // streaming binning, and the debt columns — the manifest census
    // the Spark side reports must land on these exact numbers
    "pipe06_storage_report" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, n_chars,
         |    (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
         |      // $DOCS_PER_FILE AS file_id
         |  FROM documents),
         |ch AS (
         |  SELECT doc_id + 1000000 * t.b AS doc_id, source, n_chars,
         |    CAST(1000000 + t.b AS BIGINT) AS file_id
         |  FROM documents, (VALUES (1), (2), (3)) t(b)
         |  WHERE doc_id % 7 = t.b),
         |allr AS (SELECT * FROM base UNION ALL SELECT * FROM ch),
         |f AS (SELECT source, file_id,
         |    CAST(SUM(n_chars) AS BIGINT) AS bytes,
         |    CAST(COUNT(*) AS BIGINT) AS nd,
         |    CAST(SUM(CASE WHEN doc_id < 1000000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nb
         |  FROM allr GROUP BY 1, 2),
         |p AS (SELECT source, file_id, bytes, nd, nb,
         |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source
         |      ORDER BY file_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM f),
         |b AS (SELECT source, file_id, nd, nb,
         |    cum_before // $COMPACT_TARGET AS bin FROM p)
         |SELECT source,
         |  CAST(SUM(nd) AS BIGINT) AS n_docs,
         |  CAST(SUM(nb) AS BIGINT) AS n_base,
         |  CAST(SUM(nd - nb) AS BIGINT) AS n_churn,
         |  CAST(COUNT(DISTINCT file_id) AS BIGINT) AS files_before,
         |  CAST(COUNT(DISTINCT bin) AS BIGINT) AS planned_bins,
         |  CAST(COUNT(DISTINCT bin) AS BIGINT) AS files_after,
         |  CAST(COUNT(DISTINCT file_id) - COUNT(DISTINCT bin) AS BIGINT)
         |    AS debt_before,
         |  CAST(0 AS BIGINT) AS debt_after
         |FROM b GROUP BY source ORDER BY source""".stripMargin,
    // the committed state from first principles: v1 corpus, the
    // lowest source's partition upserted (+1e6 per payload), the
    // crashed writer's negated payloads NOWHERE, version exactly 2
    "q112_manifest_commit" -> {
      val h = graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (SELECT MIN(source) AS tgt FROM documents),
         |d AS (SELECT doc_id, source,
         |    CAST(CASE WHEN source = (SELECT tgt FROM t)
         |      THEN n_chars + 1000000 ELSE n_chars END AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         |  CAST(SUM($h) AS BIGINT) AS doc_fp,
         |  CAST(2 AS BIGINT) AS version
         |FROM d GROUP BY source ORDER BY source""".stripMargin
    }
  )
}
