package graft.streaming

import graft.sources.{DeletionVectors, ManifestStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A LIVE streaming source FROM the manifest log — the consume-side
  * twin of [[StreamManifestIngest]], and the shape `stream25` only
  * replayed in batch: a downstream consumer polls the source store's
  * readable [[ManifestStore.versions]], emits ONE DV-aware
  * [[DeletionVectors.logicalFeed]] over the poll's whole new-version
  * span (rate-limited to `maxVersions` versions per poll — Delta's
  * `maxFilesPerTrigger` discipline; hops telescope, so the span folds
  * as one hop), folds it into the derived view, and publishes the
  * view into its OWN target [[ManifestStore]] through
  * [[ManifestStore.commitBatch]] with `batchId = the span's last
  * source version`.
  *
  * That last choice is the whole design: the consumer's CURSOR is the
  * target ledger's highest applied source version — persisted state
  * that rides the SAME atomic swap as the view it describes. Kill the
  * consumer anywhere and restart: the next poll reads the cursor back
  * and resumes at the first unapplied version; redeliver a hop (crash
  * after the target commit, before any external ack) and the ledger
  * recognizes it — nothing publishes twice. There is no second
  * checkpoint store to drift from the data (the
  * crash-between-commit-and-checkpoint window a separate cursor file
  * would reopen). A consumer that falls behind SOURCE RETENTION
  * (vacuum trimmed history past its cursor) is not wedged: the poll
  * detects the unreadable cursor and re-baselines through the init
  * path at the oldest readable version — correct because the view is
  * a pure function of source state (the telescoping contract).
  *
  * Scale posture: each poll costs O(changed across its span) — the
  * logical feed scans only fileDiff's delta files plus DV-diff
  * candidates between the two ENDPOINT snapshots (intermediate
  * versions are never opened), and with `viewPartitionCols` set the
  * view commit is O(changed partitions), not O(view): only the
  * partitions the feed touches are read back, folded, and restaged
  * (Upsert + drops), every other partition byte-identical — the
  * discipline a consumer mirroring a LARGE table needs. Falling
  * behind is safe: hops TELESCOPE (stream25/DvFeedSpec), so folding
  * any contiguous span in one hop lands on the same view — which is
  * exactly what each poll does.
  */
object StreamManifestTail {

  /** One polling round. `init` builds the baseline view from the
    * FIRST readable source version (runs once per sink, its commit
    * carries that version as the cursor); `fold` advances the current
    * view by one hop's feed. Returns the source versions applied this
    * round (empty = caught up).
    *
    * `viewPartitionCols` picks the view-maintenance discipline:
    *   - empty (default): whole-view Replace per hop — O(view) commit
    *     through one task, fine for a small aggregate;
    *   - non-empty: DELTA-FOLD (the cdc20 IVM discipline) — the
    *     target view is partitioned by these columns (they must be
    *     view output columns the feed also carries), each hop reads
    *     back ONLY the partitions the feed touches, `fold` sees that
    *     slice (every current row it gets belongs to a touched
    *     partition, and must return the touched partitions'
    *     replacement rows), and the commit is Upsert + drops over
    *     exactly those partitions. Untouched partitions are not
    *     read, not rewritten, byte-identical across the hop — the
    *     per-hop commit cost is O(changed partitions), so a consumer
    *     mirroring a large table no longer pays O(view) per hop.
    */
  def pollOnce(
      spark: SparkSession,
      sourceRoot: String,
      targetRoot: String,
      sinkId: String,
      maxVersions: Int = 4,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id",
      payloadCol: String = "n_chars",
      extraCols: Seq[String] = Seq.empty,
      viewPartitionCols: Seq[String] = Seq.empty
  )(
      init: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame
  ): Seq[Long] = {
    val versions = ManifestStore.versions(spark, sourceRoot)
    require(versions.nonEmpty, s"no committed source store at $sourceRoot")
    val cursor: Option[Long] =
      if (!ManifestStore.exists(spark, targetRoot)) None
      else ManifestStore.snapshot(spark, targetRoot).batches.get(sinkId)

    // first contact AND the vacuumed-past-cursor re-baseline share
    // one shape: the derived view is a pure function of source state
    // (the telescoping contract), so init at the oldest readable
    // version is the correct (re)start, swapped atomically with the
    // ledger mark exactly like any hop
    def baseline(): Seq[Long] = {
      val v0 = versions.head
      val snap0 = ManifestStore.snapshotAt(spark, sourceRoot, v0)
      val view0 = init(DeletionVectors.read(snap0, table, idCol))
      val staged =
        if (viewPartitionCols.isEmpty)
          ManifestStore.stage(view0.coalesce(1), targetRoot,
            ManifestStore.MAIN, Seq.empty, ManifestStore.Replace)
        else ManifestStore.stage(view0, targetRoot, ManifestStore.MAIN,
          viewPartitionCols, ManifestStore.Replace)
      ManifestStore.commitBatch(targetRoot, Seq(staged), sinkId, v0)
      Seq(v0)
    }

    cursor match {
      case None => baseline()
      case Some(cur) if cur < versions.head =>
        // the source vacuumed past the cursor: the hop base is gone,
        // so the consumer can never feed from cur again — without the
        // re-baseline it would be wedged forever on an unreadable
        // snapshotAt (source retention would have to be guaranteed to
        // exceed consumer lag)
        baseline()
      case Some(cur) =>
        val todo = versions.filter(_ > cur).take(math.max(0, maxVersions))
        if (todo.isEmpty) Seq.empty
        else {
          // hops TELESCOPE (the contract DvFeedSpec/stream25 pin, and
          // stream26's own skip-level output re-asserts at the
          // oracle): the poll folds its whole rate-limited span
          // [cur, todo.last] as ONE hop — one feed over the two
          // endpoint snapshots, one fold, one commit — instead of a
          // readback + multi-action commit cycle per intermediate
          // version. The cursor lands on todo.last exactly as the
          // per-hop loop's final commit did, and intermediate source
          // versions never needed their own target commit: no reader
          // of the target observes anything but the poll's endpoint.
          val b = todo.last
          val snapA = ManifestStore.snapshotAt(spark, sourceRoot, cur)
          val snapB = ManifestStore.snapshotAt(spark, sourceRoot, b)
          val feed = DeletionVectors.logicalFeed(spark, sourceRoot,
            snapA, snapB, table, idCol, payloadCol, extraCols)
          if (viewPartitionCols.isEmpty) {
            val curView = ManifestStore.read(spark, targetRoot)
            val next = fold(curView, feed)
            // view + cursor in ONE swap: batchId IS the source version
            ManifestStore.commitBatch(targetRoot, Seq(
              ManifestStore.stage(next.coalesce(1), targetRoot,
                ManifestStore.MAIN, Seq.empty, ManifestStore.Replace)),
              sinkId, b)
          } else {
            // DELTA-FOLD: the feed names the touched partitions (its
            // dimension values), only THEIR current rows are read
            // back, and only they restage — an untouched partition
            // is never opened. The feed is checkpointed because both
            // the touched-key collect and the fold consume it.
            val feedChk = feed.localCheckpoint(true)
            try {
              val touched = feedChk
                .select(viewPartitionCols.map(col): _*).distinct()
                .collect()
                .map(r => ManifestStore.keyOf(viewPartitionCols,
                  viewPartitionCols.indices.map(i => r.get(i).toString)))
                .toSeq.sorted
              val tgtSnap = ManifestStore.snapshot(spark, targetRoot)
              val curSlice = tgtSnap.readPartitionKeys(
                ManifestStore.MAIN, touched)
              val next = fold(curSlice, feedChk)
              ManifestStore.commitBatch(targetRoot, Seq(
                ManifestStore.stage(next, targetRoot, ManifestStore.MAIN,
                  viewPartitionCols, ManifestStore.Upsert)
                  .copy(drops = touched)),
                sinkId, b)
            } finally
              org.apache.spark.sql.graftshim.GraftSqlShims
                .unpersistCheckpoint(feedChk)
          }
          todo
        }
    }
  }

  /** Drain the source: poll until caught up — the deterministic
    * replay the gated row uses (a live deployment wraps [[pollOnce]]
    * in its trigger loop instead). Returns all versions applied.
    */
  def tailToEnd(
      spark: SparkSession,
      sourceRoot: String,
      targetRoot: String,
      sinkId: String,
      maxVersions: Int = 4,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id",
      payloadCol: String = "n_chars",
      extraCols: Seq[String] = Seq.empty,
      viewPartitionCols: Seq[String] = Seq.empty
  )(
      init: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame
  ): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var applied = pollOnce(spark, sourceRoot, targetRoot, sinkId,
      maxVersions, table, idCol, payloadCol, extraCols,
      viewPartitionCols)(init, fold)
    while (applied.nonEmpty) {
      out ++= applied
      applied = pollOnce(spark, sourceRoot, targetRoot, sinkId,
        maxVersions, table, idCol, payloadCol, extraCols,
        viewPartitionCols)(init, fold)
    }
    out.result()
  }
}
