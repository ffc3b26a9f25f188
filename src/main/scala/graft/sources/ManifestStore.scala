package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Log-structured manifest-committed multi-table store — the
  * transactional primitive [[PartitionedStore]] lacks: writers stage
  * new files under paths no reader resolves, then publish by
  * atomically CREATING one commit-log entry; readers resolve every
  * file through the log, so a read observes a complete committed
  * version or the previous one — never a half-rewritten store, and
  * never a store/sidecar pair from two different commits (one commit
  * covers ALL tables of the root, so a store + its index publish as a
  * single commit). This is the core of every production table format
  * (Delta's `_delta_log`, Iceberg's snapshot + manifest lists)
  * re-expressed at its minimum.
  *
  * Layout under a root:
  * {{{
  *   _graft/d<version>.json          one DELTA per commit (the commit point)
  *   _graft/c<version>.json          full-state CHECKPOINT every N commits
  *   _data/c<uuid>/<table>/__p_<col>=<v>/part-*.parquet
  * }}}
  * Both top-level names start with `_`, so a raw parquet read of the
  * root sees nothing — there IS no path to the data except through
  * the log. Partition columns stay in the data files (the write
  * partitions by a `__p_`-prefixed duplicate), so partition pruning
  * is a metadata lookup — the file list is pruned before Spark ever
  * lists a directory, strictly earlier than Hive-layout
  * `PartitionFilters` — and readers still get row-group pruning from
  * the retained data column.
  *
  * '''The log, not a snapshot, is what each commit writes.''' A delta
  * records ONLY the commit's own actions — per staged table its mode
  * and the staged files' entries — so commit cost is O(changed files)
  * regardless of how many files the store holds (the monolithic
  * full-snapshot-per-commit design pays O(total files) serialization
  * on every commit, which a streaming ingest pays per micro-batch).
  * Every [[CKPT_EVERY]] commits a full checkpoint is also written —
  * ASYNCHRONOUSLY, off the commit critical path, because a checkpoint
  * is pure derived state (a missing or late one only lengthens the
  * tail replay, never changes what a reader sees) — so state
  * reconstruction replays a bounded tail: `snapshot(v)` = the newest
  * checkpoint ≤ v plus the deltas after it, and no committer ever
  * stalls on the O(store files) checkpoint serialization.
  *
  * '''The commit point is an atomic create-new.''' The delta is
  * written to an invisible dotfile and published with
  * `Files.createLink` — link(2), which fails with
  * `FileAlreadyExistsException` if version N already exists. Two
  * racing committers (even ACROSS PROCESSES sharing the root — the
  * in-JVM per-root lock only serializes same-JVM writers) cannot both
  * create `d<N>.json`; the loser throws
  * [[ConcurrentCommitException]] with nothing published. A linked
  * delta is complete by construction (its bytes were fully written
  * before the link), so a crash anywhere leaves either no commit or a
  * whole one — there is no orphan-version state, and time travel can
  * never serve a never-committed version. On an object store the
  * create-new becomes a conditional PUT (`If-None-Match: *`).
  *
  * Commits never delete data files: superseded versions stay on disk
  * until [[vacuum]], which is what isolates an in-flight reader that
  * resolved the previous version. Crash-safety falls out of the same
  * order: staging is invisible, so a crash after any subset of staged
  * writes — e.g. after the store's files, before the sidecar's —
  * leaves the log resolving the old, mutually-consistent pair.
  *
  * Beyond the commit itself, the log carries the rest of the
  * table-format core, each a metadata-only read:
  *   - [[snapshotAt]] TIME-TRAVELS to any retained version, and every
  *     delta carries a strictly-monotonic commit wall-clock so
  *     [[snapshotAsOf]] resolves `AS OF TIMESTAMP` (the newest version
  *     committed at-or-before the instant);
  *   - [[fileDiff]] / [[changedPartitions]] diff two versions
  *     file-granularly (the change-data-feed read touches ONLY files
  *     added/removed between the versions, never the whole store);
  *   - [[commit]] takes an `expectedVersion` — compare-and-swap
  *     optimistic concurrency; [[commitRebase]] retries a lost race
  *     when the staged partitions are disjoint from what landed in
  *     between, and refuses (never silently merges) when they overlap;
  *   - [[commitBatch]] records a (sink, batchId) ledger IN the log, so
  *     a streaming `foreachBatch` sink re-delivered a batch after a
  *     crash publishes exactly once — the ledger and the data commit
  *     are one delta;
  *   - [[FileEntry]] carries per-file min/max for integral AND string
  *     columns (string bounds truncated to [[STR_TRUNC]] code points,
  *     the truncate-and-increment upper-bound discipline), read from
  *     the staged files' parquet footers on the driver at commit time
  *     (about 0.1 ms per file; no Spark job), so [[Snapshot.readBox]]
  *     prunes files by value range BEFORE
  *     Spark lists anything — manifest-level data skipping on
  *     non-partition columns.
  */
object ManifestStore {

  /** A commit lost the optimistic-concurrency race: the log version
    * moved past `expectedVersion` (or past a rebase's conflict
    * window) between stage and publish, or another process created
    * the same delta first.
    */
  final class ConcurrentCommitException(msg: String)
      extends RuntimeException(msg)

  /** Per-root in-JVM commit lock, so same-JVM racing committers
    * serialize and the loser's expectedVersion check fails
    * deterministically (cross-process racers are caught by the
    * create-new commit point itself). Keyed by the NORMALIZED local
    * path — `file:/x` and `/x` must share one lock — and weak-valued,
    * so locks for long-gone scratch roots are collectable instead of
    * accumulating one entry per temp store for the life of the
    * driver.
    */
  private val rootLocks: com.google.common.cache.LoadingCache[String, Object] =
    com.google.common.cache.CacheBuilder
      .newBuilder()
      .weakValues()
      .build(new com.google.common.cache.CacheLoader[String, Object] {
        override def load(key: String): Object = new Object
      })

  private def lockFor(root: String): Object =
    rootLocks.get(localPath(root).toAbsolutePath.normalize.toString)

  /** The main table's name — single-table callers never spell it. */
  val MAIN = "store"

  /** [[commit]]'s `expectedVersion` sentinel: skip the CAS check. */
  val ANY_VERSION: Long = -1L

  /** A full-state checkpoint is written every this-many commits; in
    * between, readers replay at most this many deltas on top of the
    * newest checkpoint.
    */
  val CKPT_EVERY: Int = 8

  /** [[vacuum]]'s dotfile sweep only removes '.'-prefixed temp files
    * OLDER than this (1 h): a younger one may be a concurrent
    * process's in-flight commit temp, not a crashed commit's orphan.
    */
  val DOTFILE_GRACE_MS: Long = 60L * 60 * 1000

  /** String zone-map bounds are truncated to this many code points
    * (Iceberg's 16-byte truncation discipline): the lower bound is a
    * plain prefix (≤ the true min), the upper bound is the prefix
    * with its last code point incremented (> every value sharing the
    * prefix), so pruning stays sound while the log never carries
    * megabyte string values.
    */
  val STR_TRUNC: Int = 16

  sealed trait Mode

  /** Install the staged files as the table's complete content. */
  case object Replace extends Mode

  /** Replace exactly the partitions present in the staged write; all
    * other partitions keep their current files (the
    * [[PartitionedStore.overwritePartitions]] contract, made atomic).
    */
  case object Upsert extends Mode

  /** Add the staged files to their partitions' current file lists —
    * the ingest shape that manufactures small files (cdc18 plants its
    * compaction pathology through this).
    */
  case object Append extends Mode

  /** Metadata-only: change the table's CURRENT partition spec (the
    * layout future Upsert/Append writes must use) without touching a
    * single file — existing entries keep their own spec and stay
    * readable ([[evolvePartitionSpec]] is the public face).
    */
  case object SetSpec extends Mode

  /** Metadata-only: rename columns by their stable field ids — no
    * file touched, old files keep serving by id
    * ([[renameColumn]] is the public face).
    */
  case object Rename extends Mode

  private def modeName(m: Mode): String = m match {
    case Replace => "replace"
    case Upsert  => "upsert"
    case Append  => "append"
    case SetSpec => "setspec"
    case Rename  => "rename"
  }

  private def modeOf(s: String): Mode = s match {
    case "replace" => Replace
    case "upsert"  => Upsert
    case "append"  => Append
    case "setspec" => SetSpec
    case "rename"  => Rename
  }

  /** Stable-id assignment for a (possibly evolved) schema: names
    * already mapped keep their id; new names take ids ABOVE the
    * high-water mark in field order. Deterministic, so the stage-time
    * assignment (what the files are written with) and the replay-time
    * assignment (what the log derives) agree. Returns (mapping, new
    * high-water mark).
    */
  private[sources] def assignFieldIds(
      prev: Map[String, Int],
      lastId: Int,
      schema: StructType
  ): (Map[String, Int], Int) = {
    var next = lastId
    val out = Map.newBuilder[String, Int]
    schema.fields.foreach { f =>
      prev.get(f.name) match {
        case Some(id) => out += (f.name -> id)
        case None =>
          next += 1
          out += (f.name -> next)
      }
    }
    (out.result(), next)
  }

  /** Schema with each mapped column's `parquet.field.id` metadata set
    * — what makes writes emit ids and reads resolve by them.
    */
  private[sources] def withFieldIds(
      schema: StructType,
      ids: Map[String, Int]
  ): StructType =
    if (ids.isEmpty) schema
    else StructType(schema.fields.map { f =>
      ids.get(f.name) match {
        case Some(id) =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("parquet.field.id", id.toLong)
            .build())
        case None => f
      }
    })

  /** One row group's (rows, integral (min, max) per column, truncated
    * string (min, max) per column) — kept in the log ONLY for
    * multi-group files, where intra-file skipping exists to be had
    * (compaction's large files); a single-group file's stats ARE its
    * group stats and pay nothing twice.
    */
  final case class RowGroupStat(
      rows: Long,
      stats: Map[String, (Long, Long)],
      strStats: Map[String, (String, String)] = Map.empty
  )

  /** One parquet file the log references: `path` relative to the
    * root, plus the stats every planner wants — bytes from the file
    * status, rows from the parquet footer, per-column (min, max) for
    * the file's integral columns and truncated (min, max) for its
    * string columns (footer column statistics aggregated across row
    * groups — metadata, not data), and per-ROW-GROUP integral bounds
    * (`groups`, multi-group files only) for intra-file skipping
    * ([[Snapshot.screen]]). A column absent from the stats
    * maps simply cannot prune this file. `seq` is the version whose
    * commit added the file — set by replay from the delta's version,
    * persisted by checkpoints — the order deletion-vector records are
    * scoped by ([[DeletionVectors]]).
    */
  final case class FileEntry(
      path: String,
      bytes: Long,
      rows: Long,
      stats: Map[String, (Long, Long)] = Map.empty,
      strStats: Map[String, (String, String)] = Map.empty,
      groups: Seq[RowGroupStat] = Seq.empty,
      seq: Long = 0L
  )

  /** One partition's entry, tagged with the SPEC (`cols`) it was
    * written under — Iceberg's per-file spec-id at partition
    * granularity. After [[evolvePartitionSpec]] a table carries
    * entries of several specs side by side: reads union them, pruning
    * applies per entry against its OWN spec, and only entries of the
    * probed spec can be pruned by a partition value.
    */
  final case class PartitionEntry(
      values: Seq[String],
      files: Seq[FileEntry],
      cols: Seq[String] = Seq.empty
  ) {
    def rows: Long = files.map(_.rows).sum
    def bytes: Long = files.map(_.bytes).sum
  }

  /** Spec-qualified partition key — `source=src3`, `bucket=1/lang=en`
    * — so entries of different specs can never collide or silently
    * replace each other across an [[evolvePartitionSpec]].
    */
  private[graft] def keyOf(cols: Seq[String], values: Seq[String]): String =
    cols.zip(values).map { case (c, v) => s"$c=$v" }.mkString("/")

  /** `fieldIds` is the COLUMN MAPPING (Delta's id-based mapping /
    * Iceberg's field ids): every column carries a stable id assigned
    * at first appearance and NEVER reused (`lastFieldId` is the
    * high-water mark, so a dropped column's id cannot be recycled
    * onto a later addition and silently serve its bytes). Data files
    * are written with the ids in their parquet schema and reads
    * resolve columns BY ID, so [[renameColumn]] is a metadata-only
    * commit that old files keep serving correctly.
    */
  final case class TableState(
      partitionCols: Seq[String],
      schemaDdl: String,
      partitions: Map[String, PartitionEntry],
      fieldIds: Map[String, Int] = Map.empty,
      lastFieldId: Int = 0
  )

  /** A staged-but-unpublished write: files exist on disk under
    * `dir` (unreferenced by any log entry), nothing is visible until
    * [[commit]] publishes them. `drops` (Upsert only) names partition
    * KEYS to REMOVE from the table before the staged partitions merge
    * in — the explicit form of "this partition's rewrite came back
    * empty": Spark's partitioned write emits no directory for an
    * empty partition, so without the drop list an all-rows-deleted
    * partition would silently keep its superseded files
    * ([[DeletionVectors.materialize]] passes every touched partition
    * here; a dropped-then-restaged partition is a plain rewrite).
    */
  final case class Staged(
      table: String,
      dir: String,
      partitionCols: Seq[String],
      schemaDdl: String,
      mode: Mode,
      drops: Seq[String] = Seq.empty
  )

  /** One commit's effect on one table — exactly what the delta file
    * persists and replay re-applies: the staged partitions plus the
    * mode that merges them into the previous state. O(staged files),
    * never O(store files).
    */
  private final case class Action(
      table: String,
      mode: Mode,
      partitionCols: Seq[String],
      schemaDdl: String,
      partitions: Map[String, PartitionEntry],
      drops: Seq[String] = Seq.empty,
      renames: Seq[(String, String)] = Seq.empty
  )

  /** One zone-map predicate on one column: what [[Snapshot.screen]]
    * tests against each row group's (min, max) and
    * [[Snapshot.readBox]] re-applies as a residual filter.
    *  - [[Bound.LongRange]]: an integral column inside [lo, hi].
    *  - [[Bound.StrRange]]: a string column inside [lo, hi] under
    *    code-point order ([[cpCompare]], the order the truncated
    *    footer bounds were merged under and the scan filters with).
    *  - [[Bound.IdSet]]: an integral column equal to one of `sorted`
    *    (ascending, distinct). One binary search per group, so
    *    screening millions of scattered ids costs O(groups · log ids)
    *    driver CPU, never O(groups · ids).
    * A group without stats for the column cannot be pruned by it.
    */
  sealed trait Bound
  object Bound {
    final case class LongRange(column: String, lo: Long, hi: Long) extends Bound
    final case class StrRange(column: String, lo: String, hi: String) extends Bound
    final case class IdSet(column: String, sorted: Array[Long]) extends Bound
  }

  /** [[Snapshot.screen]]'s result: the kept files, and kept/total
    * counts of files, row groups and rows.
    */
  final case class Screen(
      files: Seq[FileEntry],
      filesTotal: Int,
      groupsKept: Int,
      groupsTotal: Int,
      rowsKept: Long,
      rowsTotal: Long
  )

  /** A file's row groups for pruning purposes: a single-group file
    * (no `groups` persisted) IS one group with the file's stats.
    */
  private[sources] def groupsOf(f: FileEntry): Seq[RowGroupStat] =
    if (f.groups.nonEmpty) f.groups
    else Seq(RowGroupStat(f.rows, f.stats, f.strStats))

  private val cpOrder: Ordering[String] = (a, b) => cpCompare(a, b)

  /** Whether row group `g` can hold a row satisfying `b`. */
  private[sources] def admits(g: RowGroupStat, b: Bound): Boolean = {
    def overlaps[T](mnMx: Option[(T, T)], lo: T, hi: T)(implicit o: Ordering[T]) =
      mnMx.forall { case (mn, mx) => o.gteq(mx, lo) && o.lteq(mn, hi) }
    b match {
      case Bound.LongRange(c, lo, hi) => overlaps(g.stats.get(c), lo, hi)
      case Bound.StrRange(c, lo, hi)  => overlaps(g.strStats.get(c), lo, hi)(cpOrder)
      case Bound.IdSet(c, ids) =>
        g.stats.get(c).forall { case (mn, mx) =>
          // first id ≥ mn; admitted iff it is also ≤ mx
          val i = lowerBound(ids, mn)
          i < ids.length && ids(i) <= mx
        }
    }
  }

  /** Index ranges into `sorted` (ascending, distinct) of the ids some
    * row group of `f` admits on integral `column` — one binary search
    * pair per group; a group without stats for the column admits all.
    */
  private[sources] def admittedRanges(
      f: FileEntry,
      column: String,
      sorted: Array[Long]
  ): Seq[Range] =
    groupsOf(f).map(_.stats.get(column) match {
      case Some((mn, mx)) =>
        lowerBound(sorted, mn) until
          (if (mx == Long.MaxValue) sorted.length else lowerBound(sorted, mx + 1))
      case None => sorted.indices
    })

  /** The per-file sequence column DV-aware scans carry: each row's
    * [[FileEntry.seq]].
    */
  val FILE_SEQ = "__file_seq"

  /** One reconstructed version: every read through the same snapshot
    * sees one committed version across ALL tables — the isolation
    * unit. `ts` is the commit's wall-clock (epoch millis, strictly
    * increasing across versions — the `AS OF TIMESTAMP` axis).
    */
  final class Snapshot private[ManifestStore] (
      val spark: SparkSession,
      val root: String,
      val version: Long,
      val tables: Map[String, TableState],
      val batches: Map[String, Long] = Map.empty,
      val ts: Long = 0L
  ) {
    def hasTable(table: String): Boolean = tables.contains(table)

    /** Every read resolves through the log's OWN metadata: the
      * entries' (path, bytes) feed a caller-provided FileIndex, so a
      * read costs ZERO filesystem list/stat calls — `spark.read.parquet`
      * with explicit paths re-stats each file on the driver per read,
      * an O(files) IO round the log already paid at commit time. The
      * entries' own ROW SUM reaches the optimizer as catalog statistics
      * beside the byte sum — with CBO enabled, join planning sees true
      * cardinality, not just file bytes (every read path routes through
      * here). With `fileSeq`, each row also carries its file's
      * [[FileEntry.seq]] as [[FILE_SEQ]], served as the scan's
      * partition value.
      */
    private[sources] def readEntries(
        st: TableState,
        entries: Seq[FileEntry],
        fileSeq: Boolean = false
    ): DataFrame = {
      // resolve columns BY FIELD ID where the table has a mapping:
      // a renamed column's old files serve the new name through the id
      val schema = withFieldIds(StructType.fromDDL(st.schemaDdl), st.fieldIds)
      if (entries.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          if (fileSeq) schema.add(FILE_SEQ, "long", nullable = false) else schema
        )
      else
        org.apache.spark.sql.graftshim.GraftSqlShims.readParquetKnownFiles(
          spark, schema, entries.map(f => (root + "/" + f.path, f.bytes, f.seq)),
          Some(entries.map(_.rows).sum), Option.when(fileSeq)(FILE_SEQ))
    }

    def read(table: String = MAIN): DataFrame = {
      val st = state(table)
      readEntries(st, st.partitions.values.flatMap(_.files).toSeq)
    }

    /** Manifest-level partition pruning: only the named partitions'
      * files reach the scan — the reader never lists, let alone
      * opens, any other partition's files. `values` match on the
      * stringified partition value of the CURRENT spec's single
      * column: a one-column [[readPartitionBox]], so entries of an
      * older spec without that column are conservatively scanned with
      * a residual filter, and a single-spec table keeps the
      * pure-prune plan.
      */
    def readPartitions(table: String, values: Seq[Any]): DataFrame = {
      val st = state(table)
      require(st.partitionCols.length == 1,
        s"readPartitions prunes on a single partition column, " +
          s"'$table' has ${st.partitionCols.mkString(",")}")
      readPartitionBox(table, Seq(st.partitionCols.head -> values))
    }

    /** Per-SPEC pruning over a VALUE BOX on several named columns
      * (Iceberg's spec-id discipline): an entry prunes by EVERY
      * probed column its OWN spec carries (sound per axis — an entry
      * keyed `source=s1/lang=en` provably holds only that source AND
      * that lang, so pruning by any subset of its axes is exact), and
      * a column absent from the entry's spec cannot prune it. Returns
      * (files to scan, total files).
      */
    def partitionProbeFilesBox(
        table: String,
        box: Seq[(String, Set[String])]
    ): (Seq[FileEntry], Int) = {
      val all = state(table).partitions.values.toSeq
      val kept = all.filter { p =>
        box.forall { case (c, vs) =>
          val i = p.cols.indexOf(c)
          i < 0 || vs.contains(p.values(i))
        }
      }
      (kept.flatMap(_.files), all.map(_.files.length).sum)
    }

    /** Partition-value read over a value box: files route through
      * [[partitionProbeFilesBox]], and the residual predicates apply
      * only when SOME kept entry's spec misses a probed column (its
      * rows are not guaranteed to satisfy that axis). A table whose
      * every entry carries every probed column gets the pure metadata
      * prune — no residual in the plan (MultiColSpecSpec pins it).
      */
    def readPartitionBox(
        table: String,
        box: Seq[(String, Seq[Any])]
    ): DataFrame = {
      val st = state(table)
      val boxSets = box.map { case (c, vs) => (c, vs.map(_.toString).toSet) }
      val (files, _) = partitionProbeFilesBox(table, boxSets)
      val base = readEntries(st, files)
      val needResidual = st.partitions.values.exists(p =>
        !box.forall { case (c, _) => p.cols.contains(c) })
      if (!needResidual) base
      else box.foldLeft(base) { case (df, (c, vs)) =>
        df.filter(col(c).isin(vs: _*))
      }
    }

    /** Read exactly the named partition entries (by spec-qualified
      * map key) — the spec-agnostic partition fetch rewrite paths use
      * ([[DeletionVectors.materialize]] touches entries across specs).
      */
    def readPartitionKeys(table: String, keys: Seq[String]): DataFrame = {
      val st = state(table)
      val want = keys.toSet
      readEntries(st, st.partitions.collect {
        case (k, p) if want.contains(k) => p.files
      }.flatten.toSeq)
    }

    def state(table: String): TableState =
      tables.getOrElse(
        table,
        throw new IllegalArgumentException(
          s"no table '$table' in manifest v$version at $root " +
            s"(tables: ${tables.keys.toSeq.sorted.mkString(",")})"
        )
      )

    /** Per-partition (value, nFiles, rows, bytes) — the driver-side
      * stats read that replaces full-scan counts (a rebalance's
      * `total`, q86's file census) with log metadata.
      */
    def partitionStats(table: String = MAIN): Seq[(String, Int, Long, Long)] =
      state(table).partitions.values
        .map(p => (p.values.mkString("/"), p.files.length, p.rows, p.bytes))
        .toSeq
        .sortBy(_._1)

    def totalRows(table: String = MAIN): Long =
      state(table).partitions.values.map(_.rows).sum

    /** Root-relative paths of the table's current files. */
    def filePaths(table: String = MAIN): Seq[String] =
      state(table).partitions.values.flatMap(_.files.map(_.path)).toSeq.sorted

    /** The one zone-map screen: walks each file's row groups once (a
      * single-group file is its own group) and keeps a file iff one of
      * its groups [[admits]] EVERY bound. A row-group screen keeps a
      * subset of what the file's (min, max) envelope keeps — a range
      * falling in the gap between two groups' bounds drops the whole
      * file. Metadata only: no file is opened, no job runs. The
      * [[Screen]] census reports kept/total at file, group and row
      * granularity — the manifest-side proof of how much a probe
      * skips, including inside a kept multi-group file.
      */
    def screen(table: String, bounds: Seq[Bound]): Screen = {
      val all = state(table).partitions.values.flatMap(_.files).toSeq
      var gk = 0
      var gt = 0
      var rk = 0L
      var rt = 0L
      val kept = all.filter { f =>
        var hit = false
        groupsOf(f).foreach { g =>
          gt += 1
          rt += g.rows
          if (bounds.forall(admits(g, _))) { gk += 1; rk += g.rows; hit = true }
        }
        hit
      }
      Screen(kept, all.length, gk, gt, rk, rt)
    }

    /** Pruned read: scan ONLY the files [[screen]] keeps, with every
      * bound re-applied as a residual filter, so the result is
      * identical to filtering the full table, minus the skipped IO.
      * Range residuals push down to parquet, so a kept multi-group
      * file reads only its intersecting groups. An id set filters
      * with `isin` at ≤ [[ISIN_MAX]] ids (codegen'd and pushed down)
      * and semi-joins a broadcast id frame above that — never an
      * O(ids)-literal expression in the plan.
      */
    def readBox(table: String, bounds: Seq[Bound]): DataFrame =
      readBox(table, bounds, fileSeq = false)

    /** [[readBox]], optionally carrying [[FILE_SEQ]]. */
    private[sources] def readBox(
        table: String,
        bounds: Seq[Bound],
        fileSeq: Boolean
    ): DataFrame =
      bounds.foldLeft(
        readEntries(state(table), screen(table, bounds).files, fileSeq)) {
        case (df, Bound.LongRange(c, lo, hi)) => df.filter(col(c).between(lo, hi))
        case (df, Bound.StrRange(c, lo, hi))  => df.filter(col(c).between(lo, hi))
        case (df, Bound.IdSet(c, ids)) if ids.length <= ISIN_MAX =>
          df.filter(col(c).isin(ids: _*))
        case (df, Bound.IdSet(c, ids)) =>
          import spark.implicits._
          df.join(org.apache.spark.sql.functions.broadcast(ids.toSeq.toDF(c)),
            Seq(c), "left_semi")
      }

    /** Batched POINT LOOKUP through the zone maps: [[readBox]] over
      * one id-set bound, so only files (and row groups) whose (min,
      * max) can hold ANY of `ids` are read — the metadata-routed row
      * fetch a keyed store serves without an index. An id-clustered
      * layout answers a k-id probe by opening ~k files no matter how
      * large the table is.
      */
    def readForIds(table: String, idCol: String, ids: Seq[Long]): DataFrame =
      readBox(table, Seq(Bound.IdSet(idCol, ids.distinct.sorted.toArray)))
  }

  /** Residual-filter shape threshold for an id-set bound
    * ([[Snapshot.readBox]], [[Snapshot.readForIds]]): at-or-below
    * this many ids, an `isin` literal list (parquet pushdown); above,
    * a broadcast semi-join.
    */
  val ISIN_MAX: Int = 256

  /** Index of the first element of `sorted` ≥ `key` (= sorted.length
    * when none).
    */
  private def lowerBound(sorted: Array[Long], key: Long): Int = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def logDir(root: String) = root + "/_graft"
  private def deltaPath(root: String, v: Long) =
    logDir(root) + f"/d$v%06d.json"
  private def ckptPath(root: String, v: Long) =
    logDir(root) + f"/c$v%06d.json"

  /** Local filesystem path of a possibly `file:`-prefixed root. */
  private def localPath(p: String): java.nio.file.Path = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    require(u.getScheme == null || u.getScheme == "file",
      s"ManifestStore's atomic commit is local-filesystem (link(2)); " +
        s"an object store deployment commits via conditional PUT: $p")
    java.nio.file.Paths.get(u.getPath)
  }

  /** Versions present in the log as (deltas, checkpoints). */
  private def logEntries(root: String): (Set[Long], Set[Long]) = {
    val dir = localPath(logDir(root))
    if (!java.nio.file.Files.exists(dir)) return (Set.empty, Set.empty)
    import scala.jdk.CollectionConverters._
    val names = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    }
    def nums(prefix: String): Set[Long] = names.collect {
      case n if n.startsWith(prefix) && n.endsWith(".json") &&
        n.length > prefix.length + 5 =>
        n.stripPrefix(prefix).stripSuffix(".json")
    }.flatMap(s => scala.util.Try(s.toLong).toOption).toSet
    (nums("d"), nums("c"))
  }

  def exists(spark: SparkSession, root: String): Boolean = {
    val (d, c) = logEntries(root)
    d.nonEmpty || c.nonEmpty
  }

  // ---------------------------------------------------------------
  // Staging
  // ---------------------------------------------------------------

  /** Full UUID: a truncated one risks a birthday collision on a
    * long-lived root, and staging writes with mode("overwrite") — a
    * collision would silently delete a directory of live, referenced
    * data files rather than fail a commit.
    */
  private def newCommitDir(root: String, table: String): String =
    s"$root/_data/c${java.util.UUID.randomUUID().toString}/$table"

  /** Physically write `df`'s files under a fresh, unreferenced commit
    * directory — clustered by the partition columns so each partition
    * lands as one file per holding shuffle task, partitioned on disk
    * by `__p_` duplicates so the REAL columns stay in the data. No
    * reader can observe anything until [[commit]].
    */
  def stage(
      df: DataFrame,
      root: String,
      table: String,
      partitionCols: Seq[String],
      mode: Mode,
      writerOptions: Map[String, String] = Map.empty
  ): Staged = {
    val dir = newCommitDir(root, table)
    // write the stable field ids INTO the parquet schema — what makes
    // renameColumn metadata-only: every file self-describes its
    // columns by id, so reads survive any later name. The assignment
    // here must match what applyActions derives at commit/replay
    // (same assignFieldIds over the same current state).
    val tagged = tagFieldIds(df, stageFieldIds(root, table, df.schema))
    val dups = partitionCols.map("__p_" + _)
    val withDups = partitionCols.foldLeft(tagged)((d, c) =>
      d.withColumn("__p_" + c, col(c)))
    val clustered =
      if (partitionCols.nonEmpty)
        withDups.repartition(partitionCols.map(col): _*)
      else withDups
    val writer = clustered.write.mode("overwrite").options(writerOptions)
    (if (dups.nonEmpty) writer.partitionBy(dups: _*) else writer).parquet(dir)
    Staged(table, dir, partitionCols, df.schema.toDDL, mode)
  }

  /** A fresh unreferenced directory for callers that run their own
    * physical write (exact file placement — [[Compaction.writeBinned]]);
    * pair with [[Staged]] and [[commit]], and run the frame through
    * [[tagForStage]] so the files carry the table's field ids.
    */
  def stageDir(root: String, table: String): String =
    newCommitDir(root, table)

  /** The table's current field-id assignment for `schema` — what a
    * [[stage]]-time write stamps into the parquet files (new columns
    * get fresh ids above the high-water mark, exactly as the commit
    * will derive them).
    */
  private def stageFieldIds(
      root: String,
      table: String,
      schema: StructType
  ): Map[String, Int] = {
    val cur = scala.util.Try(loadState(root)).toOption.flatten
      .flatMap(_.tables.get(table))
    assignFieldIds(
      cur.map(_.fieldIds).getOrElse(Map.empty),
      cur.map(_.lastFieldId).getOrElse(0),
      schema)._1
  }

  /** `df` with each mapped column's `parquet.field.id` metadata set
    * (a select with re-aliased metadata — no data movement).
    */
  private def tagFieldIds(df: DataFrame, ids: Map[String, Int]): DataFrame =
    if (ids.isEmpty) df
    else df.select(df.schema.fields.map { f =>
      ids.get(f.name) match {
        case Some(id) =>
          col(f.name).as(f.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong("parquet.field.id", id.toLong)
              .build())
        case None => col(f.name)
      }
    }.toSeq: _*)

  /** Tag a caller-written frame (the [[stageDir]] path) with the
    * table's field ids before its own physical write.
    */
  def tagForStage(df: DataFrame, root: String, table: String): DataFrame =
    tagFieldIds(df, stageFieldIds(root, table, df.schema))

  /** [[tagForStage]] for a write that takes a schema, not a frame:
    * `schema` with the table's field ids.
    */
  private[sources] def stageSchema(
      schema: StructType,
      root: String,
      table: String
  ): StructType =
    withFieldIds(schema, stageFieldIds(root, table, schema))

  // ---------------------------------------------------------------
  // Staged listing + footer stats (driver-side)
  // ---------------------------------------------------------------

  /** Decode the `%xx` escapes Spark's partitioned write applies to
    * special characters in partition-directory values.
    */
  private def unescape(s: String): String = {
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          // %xx — two hex digits follow by construction of the escape
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
  }

  /** One staged file: absolute path, bytes, root-relative path, and
    * the partition values parsed from its `__p_<col>=<v>` segments.
    */
  private type StagedFile = (String, Long, String, Seq[String])

  /** List one staged directory's parquet files with their partition
    * values. The walk (name + size, no file opens) is a driver-side
    * NIO pass — microseconds per file; [[toActions]] then opens each
    * file's footer.
    */
  private def walkStaged(root: String, st: Staged): Seq[StagedFile] = {
    val rootUri = new org.apache.hadoop.fs.Path(root).toUri.getPath
    import scala.jdk.CollectionConverters._
    val dirNio = localPath(st.dir)
    if (!java.nio.file.Files.exists(dirNio)) Seq.empty
    else {
      val walk = java.nio.file.Files.walk(dirNio)
      try walk.iterator().asScala.flatMap { p =>
        val name = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) &&
          name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith(".")) {
          val full = p.toUri.getPath
          require(full.startsWith(rootUri + "/"), s"$full outside $root")
          val rel = full.stripPrefix(rootUri + "/")
          val segs = full.split('/')
          val values = st.partitionCols.map { c =>
            val pfx = s"__p_$c="
            segs.collectFirst { case s if s.startsWith(pfx) =>
              unescape(s.stripPrefix(pfx))
            }.getOrElse(throw new IllegalStateException(
              s"staged file $rel has no $pfx segment"))
          }
          Some((full, java.nio.file.Files.size(p), rel, values))
        } else None
      }.toVector
      finally walk.close()
    }
  }

  /** Open ONE parquet footer on the driver and build its [[FileEntry]]
    * — row count plus integral and truncated-string (min, max).
    */
  private def footerEntry(
      absPath: String,
      bytes: Long,
      rel: String
  ): FileEntry = {
    // NIO InputFile, not HadoopInputFile: the staged files are local
    // by the commit protocol's own contract (localPath rejects any
    // non-file: root), and Hadoop's path resolves a FileSystem from
    // the synchronized FileSystem.CACHE per file. LocalInputFile reads
    // the footer straight through java.nio with no shared lock. The
    // read options come from a plain configuration: the defaults that
    // `open(file)` builds load a Hadoop Configuration on every call,
    // ~2.3 ms, where the open and footer read take ~0.1 ms. Built per
    // open, not shared: closing a reader releases its options' codecs.
    val in = new org.apache.parquet.io.LocalInputFile(
      java.nio.file.Paths.get(absPath))
    val options = org.apache.parquet.ParquetReadOptions
      .builder(new org.apache.parquet.conf.PlainParquetConfiguration())
      .build()
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in, options)
    try {
      val (stats, strStats, groups) = footerRangeStats(rdr)
      FileEntry(rel, bytes, rdr.getRecordCount, stats, strStats,
        if (groups.length > 1) groups else Seq.empty)
    } finally rdr.close()
  }

  /** Aggregate each column's (min, max) across the open file's row
    * groups — the footer statistics parquet already wrote. Integral
    * columns carry exact Long bounds; string columns carry
    * [[STR_TRUNC]]-truncated bounds (prefix lower, incremented upper).
    * Columns with missing/empty stats in ANY row group are dropped
    * (they could not prove a bound for the whole file), as is a
    * string column whose upper bound cannot be truncated soundly.
    * Also returns the PER-ROW-GROUP integral bounds in block order
    * (a group missing a column's stats simply omits it — that group
    * is conservatively kept by that column).
    */
  private[sources] def footerRangeStats(
      rdr: org.apache.parquet.hadoop.ParquetFileReader
  ): (Map[String, (Long, Long)], Map[String, (String, String)],
      Seq[RowGroupStat]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val sacc = scala.collection.mutable.Map.empty[String, (String, String)]
    val poisoned = scala.collection.mutable.Set.empty[String]
    val groups = Seq.newBuilder[RowGroupStat]
    rdr.getFooter.getBlocks.asScala.foreach { block =>
      val gacc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      val gsacc = scala.collection.mutable.Map.empty[String, (String, String)]
      block.getColumns.asScala.foreach { c =>
        if (c.getPath.size() == 1) {
          val name = c.getPath.toDotString
          val tn = c.getPrimitiveType.getPrimitiveTypeName
          val isStr = tn == BINARY &&
            (c.getPrimitiveType.getLogicalTypeAnnotation match {
              case _: org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation => true
              case _ => false
            })
          if ((tn == INT32 || tn == INT64 || isStr) && !poisoned.contains(name)) {
            val s = c.getStatistics
            if (s == null || s.isEmpty || !s.hasNonNullValue) {
              poisoned += name; acc.remove(name); sacc.remove(name)
            } else if (isStr) {
              val mn = new String(
                s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .getBytes, java.nio.charset.StandardCharsets.UTF_8)
              val mx = new String(
                s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .getBytes, java.nio.charset.StandardCharsets.UTF_8)
              truncUpper(mx) match {
                case None => poisoned += name; sacc.remove(name)
                case Some(up) =>
                  val lo = truncLower(mn)
                  gsacc.update(name, (lo, up))
                  sacc.get(name) match {
                    case Some((a, b)) =>
                      sacc.update(name,
                        (if (cpCompare(lo, a) < 0) lo else a,
                          if (cpCompare(up, b) > 0) up else b))
                    case None => sacc.update(name, (lo, up))
                  }
              }
            } else {
              val (mn, mx) = s.genericGetMin match {
                case i: java.lang.Integer =>
                  (i.longValue(),
                    s.genericGetMax.asInstanceOf[java.lang.Integer].longValue())
                case l: java.lang.Long =>
                  (l.longValue(),
                    s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
                case _ => (0L, -1L) // unreachable for INT32/INT64
              }
              gacc.update(name, (mn, mx))
              acc.get(name) match {
                case Some((a, b)) =>
                  acc.update(name, (math.min(a, mn), math.max(b, mx)))
                case None => acc.update(name, (mn, mx))
              }
            }
          }
        }
      }
      groups += RowGroupStat(block.getRowCount, gacc.toMap, gsacc.toMap)
    }
    (acc.toMap, sacc.toMap, groups.result())
  }

  /** Compare by CODE POINT — the order parquet footer min/max for
    * UTF-8 binary carry (unsigned byte order ≡ code-point order) and
    * the order Spark's `UTF8String` comparisons apply at query time.
    * Java's `String.compareTo` is UTF-16 code-UNIT order, which
    * DISAGREES for values mixing supplementary characters (surrogate
    * pairs, ≥ U+10000) with U+E000–U+FFFF; merging or probing string
    * zone maps under code-unit order could prune a file that holds
    * matching rows. Every manifest-side string-bound comparison goes
    * through here so the manifest, the footers, and the query-time
    * comparator agree.
    */
  private[sources] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Truncated LOWER bound: the first [[STR_TRUNC]] code points — a
    * prefix is ≤ the full value in string order, so it stays a sound
    * lower bound.
    */
  private[sources] def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= STR_TRUNC) s
    else s.substring(0, s.offsetByCodePoints(0, STR_TRUNC))

  /** Truncated UPPER bound: if the value fits, itself; else the
    * [[STR_TRUNC]]-prefix with its rightmost incrementable code point
    * bumped and the tail dropped — strictly greater than EVERY string
    * sharing the prefix under [[cpCompare]]'s code-point order (the
    * order all manifest string comparisons use). Increments stay
    * inside the same UTF-16 width class (BMP caps at U+FFFF, the
    * surrogate gap is skipped) — conservative: crossing into
    * supplementary planes is never required for soundness. `None`
    * when no code point is incrementable — the caller drops the stat
    * (conservative keep).
    */
  private[sources] def truncUpper(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= STR_TRUNC) return Some(s)
    val end = s.offsetByCodePoints(0, STR_TRUNC)
    val cps = s.substring(0, end).codePoints().toArray
    def inc(cp: Int): Option[Int] =
      if (cp == 0xFFFF || cp >= Character.MAX_CODE_POINT) None
      else {
        val n = cp + 1
        Some(if (n >= 0xD800 && n <= 0xDFFF) 0xE000 else n)
      }
    var i = cps.length - 1
    while (i >= 0 && inc(cps(i)).isEmpty) i -= 1
    if (i < 0) None
    else {
      val out = cps.take(i + 1)
      out(i) = inc(cps(i)).get
      Some(new String(out, 0, out.length))
    }
  }

  // ---------------------------------------------------------------
  // Commit
  // ---------------------------------------------------------------

  /** Merge listed staged tables into the previous state per their
    * [[Mode]]s — the pure half of a commit, shared by the live commit
    * path and delta REPLAY (an [[Action]] is exactly one element of
    * `listed`, persisted).
    */
  private def applyActions(
      actions: Seq[Action],
      prevTables: Map[String, TableState]
  ): Map[String, TableState] = {
    var tables = prevTables
    actions.foreach { a =>
      val next = (tables.get(a.table), a.mode) match {
        case (None, SetSpec) | (None, Rename) =>
          throw new IllegalArgumentException(
            s"table '${a.table}' does not exist — nothing to evolve")
        case (Some(cur), SetSpec) =>
          // metadata-only: existing entries keep their own spec (and
          // their files); only the CURRENT spec for future writes moves
          cur.copy(partitionCols = a.partitionCols)
        case (Some(cur), Rename) =>
          // metadata-only: names move, ids stay — files serve by id
          val ids = a.renames.foldLeft(cur.fieldIds) { case (m, (o, n)) =>
            require(m.contains(o), s"no column '$o' to rename")
            require(!m.contains(n), s"column '$n' already exists")
            (m - o) + (n -> m(o))
          }
          cur.copy(schemaDdl = a.schemaDdl, fieldIds = ids)
        case (cur, Replace) =>
          // ids persist across Replace generations (the q110 additive
          // path): kept names keep their id, new names take fresh ones
          val (ids, last) = assignFieldIds(
            cur.map(_.fieldIds).getOrElse(Map.empty),
            cur.map(_.lastFieldId).getOrElse(0),
            StructType.fromDDL(a.schemaDdl))
          TableState(a.partitionCols, a.schemaDdl, a.partitions, ids, last)
        case (None, _) =>
          val (ids, last) = assignFieldIds(Map.empty, 0,
            StructType.fromDDL(a.schemaDdl))
          TableState(a.partitionCols, a.schemaDdl, a.partitions, ids, last)
        case (Some(cur), Upsert) =>
          requireCompatible(a, cur)
          cur.copy(partitions = (cur.partitions -- a.drops) ++ a.partitions)
        case (Some(cur), Append) =>
          requireCompatible(a, cur)
          // drops apply FIRST (a dropped key that is also staged comes
          // back fresh): [[migrateSpec]] appends old-spec rows into
          // their current-spec partitions while dropping the old-spec
          // entries, without ever reading a current-spec file
          val merged = a.partitions.foldLeft(cur.partitions -- a.drops) {
            case (acc, (k, p)) =>
              acc.get(k) match {
                case Some(old) => acc.updated(k, old.copy(files = old.files ++ p.files))
                case None      => acc.updated(k, p)
              }
          }
          cur.copy(partitions = merged)
      }
      tables = tables.updated(a.table, next)
    }
    tables
  }

  /** The commit's [[Action]]s: every staged table's files listed
    * ([[walkStaged]]) and their footers opened ([[footerEntry]]), all
    * on the driver, with no Spark job: the staged files are local by
    * contract, and an open plus its footer read costs about 0.1 ms.
    */
  private def toActions(root: String, staged: Seq[Staged]): Seq[Action] =
    staged.map { st =>
      val partitions = walkStaged(root, st)
        .map { case (abs, bytes, rel, values) =>
          (values, footerEntry(abs, bytes, rel))
        }
        .groupBy(e => keyOf(st.partitionCols, e._1))
        .map { case (key, group) =>
          // deterministic log content: files sorted by path
          key -> PartitionEntry(group.head._1,
            group.map(_._2).sortBy(_.path), st.partitionCols)
        }
      Action(st.table, st.mode, st.partitionCols, st.schemaDdl,
        partitions, st.drops)
    }

  /** Internal resolved state at a version (snapshot minus the spark
    * handle).
    */
  private final case class StoreState(
      version: Long,
      ts: Long,
      tables: Map[String, TableState],
      batches: Map[String, Long]
  )

  private val emptyState = StoreState(0L, 0L, Map.empty, Map.empty)

  /** Resolved-state cache over [[stateAt]]. Log entries are IMMUTABLE
    * once linked (the commit point is create-new `link(2)`; nothing
    * ever rewrites a published delta, vacuum only deletes), so the
    * state at `(root, version)` is reusable for as long as THAT
    * version's delta file is still the same inode. The fileKey check
    * makes the cache exactly as strict as the replay it replaces: a
    * vacuumed version stats to nothing → the uncached path throws the
    * same "vacuumed past retention" error; a root torn down and
    * recreated at the same path (never happens — Scratch mints unique
    * tempdirs — but the cache must not DEPEND on that) mints new
    * inodes → miss. Bounded LRU: a bench pass walks hundreds of
    * scratch stores, old roots age out. The win: commit-heavy
    * lifecycle operators call snapshot()/commit() tens of times per
    * query, and each call re-parsed the full O(store files)
    * checkpoint JSON + delta tail on the driver — now one parse per
    * distinct version (and the commit path reuses the state it just
    * derived in memory, see [[publish]]).
    */
  private val stateCache =
    new java.util.LinkedHashMap[(String, Long), (AnyRef, StoreState)](
      128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (AnyRef, StoreState)])
          : Boolean = size() > 96
    }

  private def deltaFileKey(root: String, version: Long): Option[AnyRef] =
    try Some(java.nio.file.Files.readAttributes(
      localPath(deltaPath(root, version)),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
    catch { case _: java.io.IOException => None }

  private def stateAt(root: String, version: Long): StoreState =
    deltaFileKey(root, version) match {
      case None =>
        // delta absent (never committed, or vacuumed): replay the
        // uncached path so the caller gets ITS error, not a cache one
        stateAtUncached(root, version)
      case Some(key) =>
        stateCache.synchronized {
          Option(stateCache.get((root, version)))
            .collect { case (k, st) if k == key => st }
        }.getOrElse {
          val st = stateAtUncached(root, version)
          stateCache.synchronized {
            stateCache.put((root, version), (key, st))
          }
          st
        }
    }

  private def cacheState(root: String, st: StoreState): Unit =
    deltaFileKey(root, st.version).foreach { key =>
      stateCache.synchronized {
        stateCache.put((root, st.version), (key, st))
      }
    }

  /** Drop cached states whose root starts with `prefix` — teardown
    * hygiene for scratch roots (correctness never needs it: the
    * fileKey validation already catches deletion).
    */
  private[sources] def dropCachedStates(prefix: String): Unit =
    stateCache.synchronized {
      stateCache.keySet.removeIf(_._1.startsWith(prefix))
    }

  /** Reconstruct the state at `version`: the newest checkpoint ≤
    * version, plus the delta tail after it — O(CKPT_EVERY × changed
    * files), never O(store files × versions).
    */
  private def stateAtUncached(root: String, version: Long): StoreState = {
    require(version >= 1,
      s"version $version at $root is not a committed version " +
        "(the log starts at 1) — an off-by-one caller must error, " +
        "never read an empty store")
    val (deltas, ckpts) = logEntries(root)
    val base = ckpts.filter(_ <= version) match {
      case s if s.isEmpty => emptyState
      case s              => readCkpt(root, s.max)
    }
    val tail = (base.version + 1) to version
    val missing = tail.filterNot(deltas.contains)
    require(missing.isEmpty,
      s"no manifest for version $version at $root — never committed, " +
        "or vacuumed past the retention window")
    tail.foldLeft(base) { (st, v) => applyDelta(st, readDelta(root, v)) }
  }

  private def currentVersionOpt(root: String): Option[Long] = {
    val (deltas, ckpts) = logEntries(root)
    val all = deltas ++ ckpts
    if (all.isEmpty) None else Some(all.max)
  }

  private def loadState(root: String): Option[StoreState] =
    currentVersionOpt(root).map(stateAt(root, _))

  /** Publish staged writes as ONE new log version: list + stat each
    * staged table ONCE (footers read on the driver), merge into the
    * previous state per its [[Mode]], and atomically CREATE the delta
    * entry. All staged tables become visible together or — on any
    * failure or crash before the create — not at all; the previous
    * version's files are untouched either way.
    *
    * `expectedVersion` makes the publish a compare-and-swap: the
    * commit applies only if the current version still equals it (0
    * for a fresh root; [[ANY_VERSION]] skips the check), else throws
    * [[ConcurrentCommitException]] with nothing published — the
    * optimistic-concurrency contract a multi-writer table needs. The
    * create-new commit point backstops the check across processes.
    */
  def commit(
      root: String,
      staged: Seq[Staged],
      expectedVersion: Long = ANY_VERSION
  ): Long = {
    require(staged.nonEmpty, "nothing staged")
    lockFor(root).synchronized {
      val prev = loadState(root).getOrElse(emptyState)
      if (expectedVersion != ANY_VERSION && prev.version != expectedVersion)
        throw new ConcurrentCommitException(
          s"commit at $root expected version $expectedVersion " +
            s"but found ${prev.version} — another writer committed first; " +
            "stage is unpublished")
      val actions = toActions(root, staged)
      publish(root, prev, actions, None)
    }
  }

  /** Change `table`'s CURRENT partition spec — a METADATA-ONLY commit
    * (no file touched, no data moved): existing entries keep the spec
    * they were written under and stay readable/prunable against it;
    * Upsert/Append writes from here on must use the new spec and land
    * as new-spec entries beside the old ones (Iceberg's
    * spec-evolution semantics — the alternative, a full table rewrite
    * through Replace, is exactly what a 100 TB re-partition cannot
    * afford). Reads union the generations; per-spec pruning applies
    * through [[Snapshot.readPartitionBox]]/[[Snapshot.partitionProbeFilesBox]];
    * time travel before this commit still reads the old spec. Returns
    * the new version.
    */
  def evolvePartitionSpec(
      spark: SparkSession,
      root: String,
      table: String,
      newCols: Seq[String]
  ): Long =
    lockFor(root).synchronized {
      val prev = loadState(root).getOrElse(
        throw new IllegalStateException(s"no committed store at $root"))
      val cur = prev.tables.getOrElse(table,
        throw new IllegalArgumentException(
          s"no table '$table' at $root to evolve"))
      require(newCols != cur.partitionCols,
        s"table '$table' already has spec ${newCols.mkString(",")}")
      val fields = StructType.fromDDL(cur.schemaDdl).fieldNames.toSet
      newCols.foreach(c => require(fields.contains(c),
        s"partition column '$c' is not a column of '$table'"))
      publish(root, prev,
        Seq(Action(table, SetSpec, newCols, cur.schemaDdl, Map.empty)), None)
    }

  /** Rewrite every entry still living under an OLD partition spec
    * into the table's CURRENT spec — the maintenance half of
    * [[evolvePartitionSpec]] (Iceberg's `rewrite_data_files` against
    * a spec filter): old-spec entries are read (their files only),
    * re-clustered under the current spec, and APPENDED into their
    * current-spec partitions with the old entries dropped, in ONE
    * CAS-pinned commit. Current-spec files are untouched — not read,
    * not rewritten; an overlapping partition's entry just gains the
    * migrated files (small-file debt falls to compaction, the usual
    * OPTIMIZE economics). After this, per-spec probes need no
    * residual filter again and [[MergeInto.merge]] (which refuses
    * mixed-spec tables) can resume. No-op (no new version) when the
    * table is already single-spec. Returns the current version.
    */
  def migrateSpec(
      spark: SparkSession,
      root: String,
      table: String = MAIN
  ): Long = {
    val snap = snapshot(spark, root)
    val st = snap.state(table)
    val old = st.partitions.filter(_._2.cols != st.partitionCols)
    if (old.isEmpty) snap.version
    else {
      val keys = old.keys.toSeq.sorted
      val df = snap.readPartitionKeys(table, keys)
      commit(root, Seq(
        stage(df, root, table, st.partitionCols, Append)
          .copy(drops = keys)),
        expectedVersion = snap.version)
    }
  }

  /** Rename `table`.`oldName` to `newName` — METADATA-ONLY (Delta's
    * id-based column mapping): the column's stable field id does not
    * move, data files (old and new generations alike) carry the id in
    * their parquet schema, and reads resolve by id, so not one file
    * is touched and by-name reads work on BOTH sides of the rename
    * (time travel before this commit serves the old name). Renaming a
    * partition column is refused — its name is baked into the
    * on-disk layout and every entry's spec. Returns the new version.
    */
  def renameColumn(
      spark: SparkSession,
      root: String,
      table: String,
      oldName: String,
      newName: String
  ): Long =
    lockFor(root).synchronized {
      val prev = loadState(root).getOrElse(
        throw new IllegalStateException(s"no committed store at $root"))
      val cur = prev.tables.getOrElse(table,
        throw new IllegalArgumentException(
          s"no table '$table' at $root to rename in"))
      require(cur.fieldIds.contains(oldName),
        s"no column '$oldName' in '$table' " +
          s"(columns: ${cur.fieldIds.keys.toSeq.sorted.mkString(",")})")
      require(!cur.fieldIds.contains(newName),
        s"column '$newName' already exists in '$table'")
      require(!cur.partitionCols.contains(oldName) &&
        !cur.partitions.values.exists(_.cols.contains(oldName)),
        s"'$oldName' is (or was) a partition column — its name is the " +
          "on-disk layout; re-partition before renaming")
      val schema = StructType.fromDDL(cur.schemaDdl)
      val newDdl = StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f)).toDDL
      publish(root, prev, Seq(Action(table, Rename, cur.partitionCols,
        newDdl, Map.empty, renames = Seq((oldName, newName)))), None)
    }

  /** Retry a commit that lost the CAS race, Delta-style: if every
    * partition the staged write touches is UNCHANGED between
    * `baseVersion` (what the writer read) and the current version,
    * the two writers were disjoint and the staged write re-applies on
    * top of the current state; if any touched partition changed in
    * between, the writer's inputs are stale and the commit refuses —
    * a silent merge would publish a lost update. `Replace` mode
    * always conflicts across versions (it claims the whole table).
    * Each staged table is listed/statted exactly once; the conflict
    * check and the merge share the listing.
    */
  def commitRebase(
      spark: SparkSession,
      root: String,
      staged: Seq[Staged],
      baseVersion: Long
  ): Long = {
    require(staged.nonEmpty, "nothing staged")
    lockFor(root).synchronized {
      val cur = loadState(root).getOrElse(
        throw new IllegalStateException(s"no committed store at $root"))
      val actions = toActions(root, staged)
      if (cur.version != baseVersion) {
        val base = stateAt(root, baseVersion)
        def snapOf(st: StoreState) =
          new Snapshot(spark, root, st.version, st.tables, st.batches, st.ts)
        actions.foreach { a =>
          if (a.mode == Replace)
            throw new ConcurrentCommitException(
              s"table '${a.table}': Replace staged at v$baseVersion " +
                s"cannot rebase onto v${cur.version} — it claims every " +
                "partition")
          val touched = a.partitions.keySet ++ a.drops
          val changed = changedPartitionKeys(snapOf(base), snapOf(cur), a.table)
          val overlap = touched.intersect(changed)
          if (overlap.nonEmpty)
            throw new ConcurrentCommitException(
              s"table '${a.table}': partitions ${overlap.toSeq.sorted
                .mkString(",")} changed between v$baseVersion and " +
                s"v${cur.version} and are also staged — rebase refused " +
                "(lost update)")
        }
      }
      publish(root, cur, actions, None)
    }
  }

  /** Exactly-once publish for a streaming `foreachBatch` sink: the
    * log records, per sink id, the highest batchId applied; a
    * re-delivered batch (crash after commit, before the checkpoint
    * advanced) is recognized and NOT re-applied — the ledger update
    * and the data actions are ONE delta entry, so there is no window
    * where one is committed and the other is not. Returns the current
    * version and whether this call published.
    *
    * `expectedVersion` pins the publish to the version the batch was
    * staged from, as [[commit]]'s does: a batch that is not a
    * redelivery and finds another writer's commit in between throws
    * [[ConcurrentCommitException]] with nothing published, and the
    * redelivery re-stages from the fresh version.
    */
  def commitBatch(
      root: String,
      staged: Seq[Staged],
      sinkId: String,
      batchId: Long,
      expectedVersion: Long = ANY_VERSION
  ): (Long, Boolean) = {
    require(staged.nonEmpty, "nothing staged")
    lockFor(root).synchronized {
      val prev = loadState(root).getOrElse(emptyState)
      if (prev.batches.get(sinkId).exists(_ >= batchId)) {
        (prev.version, false)
      } else {
        if (expectedVersion != ANY_VERSION && prev.version != expectedVersion)
          throw new ConcurrentCommitException(
            s"batch $batchId of sink '$sinkId' at $root was staged from " +
              s"version $expectedVersion but found ${prev.version} — another " +
              "writer committed first; stage is unpublished")
        val actions = toActions(root, staged)
        (publish(root, prev, actions, Some(sinkId -> batchId)), true)
      }
    }
  }

  /** Write + atomically create the next delta (THE commit point),
    * then the periodic checkpoint. The delta is fully written to an
    * invisible dotfile before the link, so a published delta is
    * complete by construction; a create-new collision means another
    * process committed the same version first.
    */
  private def publish(
      root: String,
      prev: StoreState,
      actions: Seq[Action],
      batchUpdate: Option[(String, Long)]
  ): Long = {
    val version = prev.version + 1
    requireVectorApplied(prev, actions)
    // strictly monotonic commit clock: AS OF TIMESTAMP resolution
    // needs ts to order exactly like versions even when two commits
    // land in one millisecond
    val ts = math.max(prev.ts + 1, System.currentTimeMillis())
    // apply BEFORE the link: applyActions carries the compatibility
    // checks (spec/schema), so an invalid action throws HERE with
    // nothing published — were the delta linked first, every later
    // replay of the log would hit the same failure (a poisoned log)
    val next = applyDelta(prev, Delta(version, ts, actions, batchUpdate))
    linkDelta(root, version, deltaBytes(version, ts, actions, batchUpdate))
    // the committer already HOLDS the new resolved state — hand it to
    // the cache so the next snapshot()/commit() against this root
    // skips the full log replay (keyed on the just-linked delta's
    // inode, same validity rule as every other cache entry)
    cacheState(root, next)
    if (version % CKPT_EVERY == 0) {
      // OFF the commit critical path: the checkpoint is derived state
      // (pure optimization — a missing/late one only lengthens the
      // tail replay, ManifestLogSpec pins that), so at millions of
      // files the every-Nth committer no longer stalls on an O(store
      // files) serialization. The state to persist was captured above
      // (inside the commit) so the async write is a pure serialize-
      // and-move of an immutable value; the single executor thread
      // applies writes in submission order.
      ckptExec.execute { () =>
        try writeCkpt(root, next)
        catch {
          case e: Throwable =>
            // non-fatal by design: readers replay the delta tail
            System.err.println(
              s"graft manifest: async checkpoint v$version at $root " +
                s"failed (${e.getClass.getSimpleName}: ${e.getMessage}) " +
                "— replay covers it")
        }
      }
    }
    version
  }

  /** A rewrite of a table that has a non-empty deletion vector would
    * stamp the vector's dead copies with this commit's (newer) file
    * sequence number, which brings them back as live rows
    * ([[DeletionVectors]]). So an Upsert, a Replace or a partition
    * drop of such a table must come in the same commit as a Replace of
    * its vector — [[DeletionVectors.materialize]]'s shape, which
    * applies the vector and clears it. Appends add new rows and stay
    * allowed.
    */
  private def requireVectorApplied(prev: StoreState, actions: Seq[Action]): Unit =
    actions.foreach { a =>
      val dv = DeletionVectors.dvTable(a.table)
      val records = prev.tables.get(dv).map(_.partitions.values.map(_.rows).sum)
        .getOrElse(0L)
      val rewrites = a.mode == Upsert || a.mode == Replace || a.drops.nonEmpty
      require(!rewrites || records == 0L ||
        actions.exists(o => o.table == dv && o.mode == Replace),
        s"table '${a.table}' has a deletion vector ($records records in " +
          s"'$dv'): a rewrite (${modeName(a.mode)}" +
          (if (a.drops.nonEmpty) " with partition drops" else "") +
          ") that ignores it would revive its dead rows — run " +
          "DeletionVectors.materialize first")
    }

  /** Single daemon writer for async checkpoints: FIFO, so
    * [[awaitCheckpoints]] (an empty barrier task) drains everything
    * submitted before it.
    */
  private val ckptExec: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-manifest-ckpt")
      t.setDaemon(true)
      t
    }

  /** Block until every checkpoint submitted so far has been written —
    * for deterministic specs/benchmarks and before tearing down a
    * scratch root (a late checkpoint would recreate its directory).
    */
  def awaitCheckpoints(): Unit =
    ckptExec.submit(new Runnable { override def run(): Unit = () }).get()

  /** The atomic commit point, isolated for direct pinning: write the
    * delta to an invisible dotfile, publish via `Files.createLink` —
    * link(2) fails with EEXIST ATOMICALLY, so of any number of
    * processes racing version N, exactly one wins and the rest throw
    * [[ConcurrentCommitException]] having published nothing.
    */
  private[sources] def linkDelta(
      root: String,
      version: Long,
      bytes: Array[Byte]
  ): Unit = {
    val dir = localPath(logDir(root))
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".d-${java.util.UUID.randomUUID()}.json")
    java.nio.file.Files.write(tmp, bytes)
    try
      java.nio.file.Files.createLink(localPath(deltaPath(root, version)), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(
          s"commit at $root lost the race for version $version — " +
            "another process created the delta first; stage is unpublished")
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Partition keys of `table` whose file lists differ between two
    * snapshots (added, removed, or rewritten) — the file-granular
    * unit a change-data-feed read touches.
    */
  def changedPartitionKeys(a: Snapshot, b: Snapshot, table: String = MAIN): Set[String] = {
    val pa = a.tables.get(table).map(_.partitions).getOrElse(Map.empty)
    val pb = b.tables.get(table).map(_.partitions).getOrElse(Map.empty)
    (pa.keySet ++ pb.keySet).filter { k =>
      pa.get(k).map(_.files.map(_.path)) != pb.get(k).map(_.files.map(_.path))
    }
  }

  /** File-granular version diff: (files only in `to`, files only in
    * `from`) for `table` — the change-data-feed scan set. Everything
    * both versions share is untouched BY CONSTRUCTION (commits never
    * rewrite a referenced file in place), so a CDF read scans only
    * this delta, never the store.
    */
  def fileDiff(
      from: Snapshot,
      to: Snapshot,
      table: String = MAIN
  ): (Seq[FileEntry], Seq[FileEntry]) = {
    def files(s: Snapshot): Seq[FileEntry] =
      s.tables.get(table).map(_.partitions.values.flatMap(_.files).toSeq)
        .getOrElse(Seq.empty)
    val fa = files(from)
    val fb = files(to)
    val pa = fa.map(_.path).toSet
    val pb = fb.map(_.path).toSet
    (fb.filterNot(f => pa.contains(f.path)), fa.filterNot(f => pb.contains(f.path)))
  }

  /** Column names and types must match the table's (nullability
    * and column order are deliberately ignored — both drift across
    * lineages of the same logical frame, and parquet reconciles
    * columns by name, not position).
    */
  private def shapeOf(ddl: String): Seq[String] =
    StructType.fromDDL(ddl).fields.toSeq
      .map(f => f.name + ":" + f.dataType.sql)
      .sorted

  private def requireCompatible(a: Action, cur: TableState): Unit = {
    require(a.partitionCols == cur.partitionCols,
      s"table '${a.table}': partition columns ${a.partitionCols} != " +
        s"manifest's ${cur.partitionCols}")
    require(shapeOf(a.schemaDdl) == shapeOf(cur.schemaDdl),
      s"table '${a.table}': staged schema <${a.schemaDdl}> != " +
        s"manifest's <${cur.schemaDdl}> — additive evolution goes " +
        "through Replace (the q110 path), not a silent merge")
  }

  // ---------------------------------------------------------------
  // Named refs (tags) — Iceberg's refs at their minimum
  // ---------------------------------------------------------------

  private def tagPath(root: String, name: String) = {
    require(name.matches("[A-Za-z0-9._-]+"), s"illegal tag name '$name'")
    logDir(root) + s"/tag-$name.json"
  }

  /** Pin `name` to `version` (re-tagging replaces atomically): the
    * tagged version stays READABLE across [[vacuum]]/[[expireOlderThan]]
    * regardless of the retention window — a release/audit anchor (the
    * "golden training snapshot" a reproducibility contract names),
    * Iceberg's tags re-expressed at their minimum. Tags are refs, not
    * commits: creating one changes no version.
    */
  def tag(spark: SparkSession, root: String, name: String, version: Long): Unit =
    lockFor(root).synchronized {
      stateAt(root, version) // must be readable NOW; protected after
      val bytes = s"""{"version":$version}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val dir = localPath(logDir(root))
      val tmp = dir.resolve(s".tag-${java.util.UUID.randomUUID()}.json")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, localPath(tagPath(root, name)),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

  /** All tags, name → version. */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val dir = localPath(logDir(root))
    if (!java.nio.file.Files.exists(dir)) return Map.empty
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    val names =
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    names.collect {
      case n if n.startsWith("tag-") && n.endsWith(".json") =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val v = mapper.readTree(java.nio.file.Files.readAllBytes(
          dir.resolve(n))).get("version").asLong()
        n.stripPrefix("tag-").stripSuffix(".json") -> v
    }.toMap
  }

  /** Remove the ref; the version's files fall back under the normal
    * retention window at the next vacuum.
    */
  def dropTag(spark: SparkSession, root: String, name: String): Unit =
    lockFor(root).synchronized {
      java.nio.file.Files.deleteIfExists(localPath(tagPath(root, name)))
    }

  def snapshotAtTag(spark: SparkSession, root: String, name: String): Snapshot = {
    val v = tags(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $root"))
    snapshotAt(spark, root, v)
  }

  /** Delete every `_data` file the last `retainVersions` versions no
    * longer reference (superseded versions, aborted stagings), plus
    * the log history older than the retention window — the
    * reader-isolation and time-travel window ends here. TAGGED
    * versions are always retained (readable, files live) regardless
    * of the window. Before trimming, checkpoints are written at the
    * oldest retained version and at each protected tagged version so
    * the trimmed tail stays reconstructible. The default retains only
    * the current version (the pre-history contract). Returns the
    * number of data files removed.
    */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 1): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    lockFor(root).synchronized {
      val cur = currentVersionOpt(root).getOrElse(
        throw new IllegalStateException(s"no committed store at $root"))
      vacuumFrom(spark, root, cur, math.max(1L, cur - retainVersions + 1))
    }
  }

  /** [[vacuum]] addressed by AGE instead of version count: retain
    * every version committed at-or-after `tsMillis` (plus the current
    * version and all tags) — "expire snapshots older than 7 days",
    * the retention contract production stores schedule.
    */
  def expireOlderThan(spark: SparkSession, root: String, tsMillis: Long): Int =
    lockFor(root).synchronized {
      val infos = versionInfos(spark, root)
      require(infos.nonEmpty, s"no committed store at $root")
      val cur = infos.map(_._1).max
      val keepFrom = infos.filter(_._2 >= tsMillis).map(_._1)
        .minOption.getOrElse(cur)
      vacuumFrom(spark, root, cur, keepFrom)
    }

  private def vacuumFrom(
      spark: SparkSession,
      root: String,
      cur: Long,
      keepFrom: Long
  ): Int = {
    locally {
      // drain pending async checkpoints: a queued write landing AFTER
      // the sweep would resurrect a checkpoint for a vacuumed version
      // whose data files are gone
      awaitCheckpoints()
      val tagged = tags(spark, root).values.toSet
      val protectedBelow = tagged.filter(_ < keepFrom).toSeq.sorted
      val retained: Seq[StoreState] =
        (protectedBelow ++ (keepFrom to cur)).map(v => stateAt(root, v))
      // anchor the retained window and each protected tag: a
      // checkpoint per anchor makes the version readable without any
      // delta below it
      val (deltas0, ckpts0) = logEntries(root)
      (protectedBelow :+ keepFrom).foreach { v =>
        if (!ckpts0.contains(v))
          writeCkpt(root, retained(
            if (v == keepFrom) protectedBelow.length
            else protectedBelow.indexOf(v)))
      }
      (deltas0.filter(_ < keepFrom) ++ Seq(keepFrom).filter(deltas0.contains))
        .foreach { v =>
          java.nio.file.Files.deleteIfExists(localPath(deltaPath(root, v)))
        }
      ckpts0.filter(v => v < keepFrom && !protectedBelow.contains(v))
        .foreach { v =>
          java.nio.file.Files.deleteIfExists(localPath(ckptPath(root, v)))
        }
      // sweep crashed commits' invisible temp dotfiles — but only
      // past a grace window: the create-new commit protocol is
      // explicitly cross-process, so a '.'-file younger than the
      // window may be ANOTHER process's in-flight commit temp whose
      // deletion would fail a valid commit with NoSuchFileException
      // instead of ConcurrentCommitException
      locally {
        import scala.jdk.CollectionConverters._
        val dir = localPath(logDir(root))
        val cutoff = System.currentTimeMillis() - DOTFILE_GRACE_MS
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala
          .filter { p =>
            p.getFileName.toString.startsWith(".") &&
              (scala.util.Try(
                java.nio.file.Files.getLastModifiedTime(p).toMillis)
                .getOrElse(Long.MaxValue) < cutoff)
          }
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally s.close()
      }
      val live: Set[String] = retained.flatMap(_.tables.values.flatMap(
        _.partitions.values.flatMap(_.files.map(_.path)))).toSet
      val dataDir = localPath(root + "/_data")
      if (!java.nio.file.Files.exists(dataDir)) return 0
      val rootP = localPath(root)
      var removed = 0
      import scala.jdk.CollectionConverters._
      val all = java.nio.file.Files.walk(dataDir).iterator().asScala.toSeq
      all.foreach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val rel = rootP.relativize(p).toString
          if (!live.contains(rel)) {
            java.nio.file.Files.delete(p)
            removed += 1
          }
        }
      }
      // sweep now-empty directories bottom-up
      all.sortBy(-_.getNameCount).foreach { p =>
        if (java.nio.file.Files.isDirectory(p) &&
          !java.nio.file.Files.list(p).iterator().hasNext)
          java.nio.file.Files.delete(p)
      }
      removed
    }
  }

  // ---------------------------------------------------------------
  // Log serialization (Jackson tree API — on Spark's classpath)
  // ---------------------------------------------------------------

  private final case class Delta(
      version: Long,
      ts: Long,
      actions: Seq[Action],
      batchUpdate: Option[(String, Long)]
  )

  /** The next state: `d`'s actions applied with every file they add
    * stamped with `d.version` ([[FileEntry.seq]]) — the one place a
    * live commit, a rebase and a replay all pass, so the three agree.
    */
  private def applyDelta(prev: StoreState, d: Delta): StoreState = {
    val stamped = d.actions.map(a => a.copy(partitions = a.partitions.map {
      case (k, p) => k -> p.copy(files = p.files.map(_.copy(seq = d.version)))
    }))
    StoreState(
      d.version,
      d.ts,
      applyActions(stamped, prev.tables),
      d.batchUpdate.fold(prev.batches)(prev.batches + _)
    )
  }

  private def writePartitions(
      mapper: com.fasterxml.jackson.databind.ObjectMapper,
      node: com.fasterxml.jackson.databind.node.ObjectNode,
      partitions: Map[String, PartitionEntry],
      defaultCols: Seq[String]
  ): Unit =
    partitions.toSeq.sortBy(_._1).foreach { case (key, p) =>
      val pn = node.putObject(key)
      val vs = pn.putArray("values")
      p.values.foreach(vs.add)
      // spec tag persisted only when it differs from the enclosing
      // context's (an action's staged spec, a checkpoint's current
      // spec) — the common single-spec table pays zero extra bytes
      if (p.cols != defaultCols) {
        val cn = pn.putArray("cols")
        p.cols.foreach(cn.add)
      }
      val fsN = pn.putArray("files")
      p.files.foreach { f =>
        val fn = fsN.addObject()
        fn.put("path", f.path)
        fn.put("bytes", f.bytes)
        fn.put("rows", f.rows)
        // a checkpoint's files carry their adding version; a delta's
        // are unstamped (its own version stamps them at replay)
        if (f.seq != 0L) fn.put("seq", f.seq)
        if (f.stats.nonEmpty) {
          val sn = fn.putObject("stats")
          f.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
            val a = sn.putArray(c); a.add(mn); a.add(mx)
          }
        }
        if (f.strStats.nonEmpty) {
          val sn = fn.putObject("sstats")
          f.strStats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
            val a = sn.putArray(c); a.add(mn); a.add(mx)
          }
        }
        if (f.groups.nonEmpty) {
          val gn = fn.putArray("groups")
          f.groups.foreach { g =>
            val go = gn.addObject()
            go.put("rows", g.rows)
            val gs = go.putObject("stats")
            g.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
              val a = gs.putArray(c); a.add(mn); a.add(mx)
            }
            if (g.strStats.nonEmpty) {
              val ss = go.putObject("sstats")
              g.strStats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
                val a = ss.putArray(c); a.add(mn); a.add(mx)
              }
            }
          }
        }
      }
    }

  private def parsePartitions(
      node: com.fasterxml.jackson.databind.JsonNode,
      defaultCols: Seq[String]
  ): Map[String, PartitionEntry] = {
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { pe =>
      val p = pe.getValue
      val values = p.get("values").elements().asScala.map(_.asText()).toSeq
      val cols = Option(p.get("cols"))
        .map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(defaultCols)
      val files = p.get("files").elements().asScala.map { f =>
        val stats = Option(f.get("stats")) match {
          case Some(sn) =>
            sn.properties().asScala.map { se =>
              se.getKey ->
                (se.getValue.get(0).asLong(), se.getValue.get(1).asLong())
            }.toMap
          case None => Map.empty[String, (Long, Long)]
        }
        val strStats = Option(f.get("sstats")) match {
          case Some(sn) =>
            sn.properties().asScala.map { se =>
              se.getKey ->
                (se.getValue.get(0).asText(), se.getValue.get(1).asText())
            }.toMap
          case None => Map.empty[String, (String, String)]
        }
        val groups = Option(f.get("groups")) match {
          case Some(gn) =>
            gn.elements().asScala.map { go =>
              RowGroupStat(
                go.get("rows").asLong(),
                go.get("stats").properties().asScala.map { se =>
                  se.getKey ->
                    (se.getValue.get(0).asLong(), se.getValue.get(1).asLong())
                }.toMap,
                Option(go.get("sstats")) match {
                  case Some(sn) =>
                    sn.properties().asScala.map { se =>
                      se.getKey ->
                        (se.getValue.get(0).asText(),
                          se.getValue.get(1).asText())
                    }.toMap
                  case None => Map.empty[String, (String, String)]
                })
            }.toSeq
          case None => Seq.empty[RowGroupStat]
        }
        FileEntry(
          f.get("path").asText(),
          f.get("bytes").asLong(),
          f.get("rows").asLong(),
          stats,
          strStats,
          groups,
          Option(f.get("seq")).map(_.asLong()).getOrElse(0L)
        )
      }.toSeq
      pe.getKey -> PartitionEntry(values, files, cols)
    }.toMap
  }

  private def deltaBytes(
      version: Long,
      ts: Long,
      actions: Seq[Action],
      batchUpdate: Option[(String, Long)]
  ): Array[Byte] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.createObjectNode()
    doc.put("version", version)
    doc.put("ts", ts)
    batchUpdate.foreach { case (sink, id) =>
      val bn = doc.putObject("batch")
      bn.put("sink", sink)
      bn.put("id", id)
    }
    val arr = doc.putArray("actions")
    actions.foreach { a =>
      val an = arr.addObject()
      an.put("table", a.table)
      an.put("mode", modeName(a.mode))
      val pc = an.putArray("partitionCols")
      a.partitionCols.foreach(pc.add)
      an.put("schemaDdl", a.schemaDdl)
      if (a.drops.nonEmpty) {
        val dn = an.putArray("drops")
        a.drops.sorted.foreach(dn.add)
      }
      if (a.renames.nonEmpty) {
        val rn = an.putArray("renames")
        a.renames.foreach { case (o, n) =>
          val e = rn.addArray(); e.add(o); e.add(n)
        }
      }
      writePartitions(mapper, an.putObject("partitions"), a.partitions,
        a.partitionCols)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(doc)
  }

  private def readDelta(root: String, v: Long): Delta = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.readTree(
      java.nio.file.Files.readAllBytes(localPath(deltaPath(root, v))))
    import scala.jdk.CollectionConverters._
    val actions = doc.get("actions").elements().asScala.map { an =>
      Action(
        an.get("table").asText(),
        modeOf(an.get("mode").asText()),
        an.get("partitionCols").elements().asScala.map(_.asText()).toSeq,
        an.get("schemaDdl").asText(),
        parsePartitions(an.get("partitions"),
          an.get("partitionCols").elements().asScala.map(_.asText()).toSeq),
        Option(an.get("drops")).map(
          _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty),
        Option(an.get("renames")).map(
          _.elements().asScala.map(e =>
            (e.get(0).asText(), e.get(1).asText())).toSeq)
          .getOrElse(Seq.empty)
      )
    }.toSeq
    val batch = Option(doc.get("batch")).map(bn =>
      bn.get("sink").asText() -> bn.get("id").asLong())
    Delta(doc.get("version").asLong(), doc.get("ts").asLong(), actions, batch)
  }

  private def writeCkpt(root: String, st: StoreState): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.createObjectNode()
    doc.put("version", st.version)
    doc.put("ts", st.ts)
    if (st.batches.nonEmpty) {
      val bn = doc.putObject("batches")
      st.batches.toSeq.sortBy(_._1).foreach { case (k, v) => bn.put(k, v) }
    }
    val tablesNode = doc.putObject("tables")
    st.tables.toSeq.sortBy(_._1).foreach { case (name, t) =>
      val tn = tablesNode.putObject(name)
      val pc = tn.putArray("partitionCols")
      t.partitionCols.foreach(pc.add)
      tn.put("schemaDdl", t.schemaDdl)
      if (t.fieldIds.nonEmpty) {
        val fn = tn.putObject("fieldIds")
        t.fieldIds.toSeq.sortBy(_._1).foreach { case (n, id) => fn.put(n, id) }
        tn.put("lastFieldId", t.lastFieldId)
      }
      writePartitions(mapper, tn.putObject("partitions"), t.partitions,
        t.partitionCols)
    }
    val dir = localPath(logDir(root))
    // an async checkpoint can land AFTER the root is torn down (this
    // JVM drains via awaitCheckpoints, but the protocol is cross-
    // process): never recreate a deleted log directory for derived
    // state — skip, the checkpoint was pure optimization. A late
    // cross-process checkpoint BELOW a vacuum's keepFrom is swept by
    // the next vacuum's ckpt re-sweep.
    if (!java.nio.file.Files.isDirectory(dir)) return
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(doc)
    val tmp = dir.resolve(s".c-${java.util.UUID.randomUUID()}.json")
    java.nio.file.Files.write(tmp, bytes)
    // checkpoints are derived state: idempotent content, so an atomic
    // replace (not create-new) is correct even if two writers race it
    java.nio.file.Files.move(
      tmp,
      localPath(ckptPath(root, st.version)),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE
    )
  }

  private def readCkpt(root: String, v: Long): StoreState = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.readTree(
      java.nio.file.Files.readAllBytes(localPath(ckptPath(root, v))))
    import scala.jdk.CollectionConverters._
    val tables = doc.get("tables").properties().asScala.map { e =>
      val t = e.getValue
      val pcols = t.get("partitionCols").elements().asScala
        .map(_.asText()).toSeq
      val fids = Option(t.get("fieldIds")) match {
        case Some(fn) =>
          fn.properties().asScala.map(x => x.getKey -> x.getValue.asInt()).toMap
        case None => Map.empty[String, Int]
      }
      e.getKey -> TableState(pcols, t.get("schemaDdl").asText(),
        parsePartitions(t.get("partitions"), pcols), fids,
        Option(t.get("lastFieldId")).map(_.asInt())
          .getOrElse(if (fids.isEmpty) 0 else fids.values.max))
    }.toMap
    val batches = Option(doc.get("batches")) match {
      case Some(bn) =>
        bn.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      case None => Map.empty[String, Long]
    }
    StoreState(doc.get("version").asLong(), doc.get("ts").asLong(),
      tables, batches)
  }

  // ---------------------------------------------------------------
  // Readers
  // ---------------------------------------------------------------

  def snapshot(spark: SparkSession, root: String): Snapshot = {
    val cur = currentVersionOpt(root).getOrElse(
      throw new java.nio.file.NoSuchFileException(
        s"no committed store at $root"))
    snapshotAt(spark, root, cur)
  }

  /** Time travel: the store exactly as commit `version` published it,
    * every table at once — valid until [[vacuum]]'s retention window
    * passes the version by.
    */
  def snapshotAt(spark: SparkSession, root: String, version: Long): Snapshot = {
    val st = stateAt(root, version)
    new Snapshot(spark, root, st.version, st.tables, st.batches, st.ts)
  }

  /** `AS OF TIMESTAMP`: the newest version whose commit wall-clock is
    * ≤ `tsMillis` — exactly the version a reader at that instant
    * resolved. Commit clocks are strictly increasing, so resolution
    * is unambiguous; an instant before the first retained commit has
    * no store to serve and errors.
    */
  def snapshotAsOf(spark: SparkSession, root: String, tsMillis: Long): Snapshot = {
    val infos = versionInfos(spark, root)
    require(infos.nonEmpty, s"no committed store at $root")
    val at = infos.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no version at $root committed at or before ts=$tsMillis " +
        s"(earliest retained commit: ts=${infos.head._2})")
    snapshotAt(spark, root, at.map(_._1).max)
  }

  /** Versions still readable via [[snapshotAt]], ascending: an entry
    * is readable when a checkpoint at-or-below it survives with the
    * full delta tail up to it.
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val (deltas, ckpts) = logEntries(root)
    (deltas ++ ckpts).toSeq.sorted.filter { v =>
      val base = ckpts.filter(_ <= v).maxOption.getOrElse(0L)
      ((base + 1) to v).forall(deltas.contains)
    }
  }

  /** (version, commit wall-clock millis) per readable version,
    * ascending — the `AS OF TIMESTAMP` index, read from the log
    * headers only.
    */
  def versionInfos(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    val (deltas, _) = logEntries(root)
    versions(spark, root).map { v =>
      if (deltas.contains(v)) v -> readDelta(root, v).ts
      else v -> readCkpt(root, v).ts
    }
  }

  // ---------------------------------------------------------------
  // Single-table conveniences (stage + commit in one call)
  // ---------------------------------------------------------------

  def write(
      df: DataFrame,
      root: String,
      partitionCols: Seq[String],
      table: String = MAIN
  ): Long =
    commit(root,
      Seq(stage(df, root, table, partitionCols, Replace)))

  def upsertPartitions(
      batch: DataFrame,
      root: String,
      partitionCols: Seq[String],
      table: String = MAIN
  ): Long =
    commit(root,
      Seq(stage(batch, root, table, partitionCols, Upsert)))

  def append(
      batch: DataFrame,
      root: String,
      partitionCols: Seq[String],
      table: String = MAIN
  ): Long =
    commit(root,
      Seq(stage(batch, root, table, partitionCols, Append)))

  def read(spark: SparkSession, root: String, table: String = MAIN): DataFrame =
    snapshot(spark, root).read(table)
}
