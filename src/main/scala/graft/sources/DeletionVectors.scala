package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, max}

/** Row-level deletes as MERGE-ON-READ deletion vectors — the
  * O(deleted ids) delete a production store needs where copy-on-write
  * pays O(touched partitions). An RTBF request for k documents out of
  * a 100 TB corpus must not rewrite terabytes: [[delete]] commits the
  * k ids into a `<table>__dv` sidecar TABLE of the same
  * [[ManifestStore]] root (one log delta, O(k) bytes on disk), and
  * [[read]] serves the table with the vector anti-joined out. Because
  * the sidecar lives in the SAME manifest, a snapshot is always a
  * consistent (data, vector) pair, and time travel reproduces the
  * pre-delete view.
  *
  * A record `(id, dv_seq)` is SEQUENCE-SCOPED — Iceberg v2's
  * equality-delete rule: it kills the copies of `id` in data files
  * committed at a version BELOW `dv_seq` ([[ManifestStore.FileEntry.seq]]),
  * never a copy in a file committed at or after it. So an id's
  * records reduce to their max `dv_seq`, and a copy is live iff its
  * file's sequence is at least that max. This is what makes a keyed
  * upsert O(batch) ([[MergeInto]]): the new row lands in a NEW file at
  * the commit's version, and one record at the same version kills
  * every older copy — nothing is rewritten, and a re-inserted id
  * needs no revive record (its new copy is not below the record).
  *
  * The sidecar is LOG-STRUCTURED: each write APPENDS one sorted run,
  * no writer rewrites the vector, so a sustained CDC churn pays
  * O(batch) per commit. The pile collapses through [[compactDv]]
  * (vector-only: the max record per id, data untouched) or
  * [[materialize]] (vector applied to the data and cleared). A
  * rewrite that bypasses the vector is refused at commit
  * ([[ManifestStore.commit]]): it would stamp dead copies with a newer
  * sequence and revive them.
  *
  * Every read applies the rule in the scan itself: each data row
  * carries its file's sequence as [[ManifestStore.FILE_SEQ]], a
  * per-file constant the manifest serves as the scan's partition
  * value, and the vector joins in as `id = id AND file_seq < dv_seq`
  * LeftAnti — no UDF, no extra job.
  *
  * [[materialize]] is the full compaction: rewrite ONLY the
  * partitions holding a file that some record kills (located through
  * the manifest's per-file zone maps and sequences — metadata, no
  * scan) with the vector applied, and clear the vector, in ONE
  * commit. Superseded files fall to [[ManifestStore.vacuum]].
  *
  * Re-expressed at its minimum from Delta's deletion vectors and
  * Iceberg's delete files: id-keyed rather than (file, position)-keyed,
  * which trades a broadcast anti-join on the key for not tracking row
  * positions — the right point when every table has a primary key
  * (the reference's `message.id`,
  * hello_cloud_run/src/main/java/.../Message.java:11-13).
  */
object DeletionVectors {

  /** The deletion-vector sidecar's table name for `table`. */
  def dvTable(table: String): String = table + "__dv"

  /** Record sequence column: the committing version. A record kills
    * only the copies in data files of a lower sequence.
    */
  val SEQ_COL = "dv_seq"

  /** The sequence the NEXT commit against `root` will occupy. */
  private def nextSeq(spark: SparkSession, root: String): Long =
    if (!ManifestStore.exists(spark, root)) 1L
    else ManifestStore.snapshot(spark, root).version + 1

  /** One sorted single-file staged run of records — O(batch) data
    * bytes and one O(batch) write task per commit, never O(vector):
    * parquet's delta encoding collapses dense runs and the file's
    * (min, max) stays a tight zone map.
    */
  private def stageRecords(
      records: DataFrame,
      root: String,
      table: String,
      idCol: String
  ): ManifestStore.Staged =
    ManifestStore.stage(
      records.coalesce(1).sortWithinPartitions(idCol),
      root, dvTable(table), Seq.empty, ManifestStore.Append)

  /** Commit `ids` (one column, the key) as deletions of `table` —
    * O(k) bytes staged and logged (one appended run), no data file
    * and no existing vector file touched. The records carry the
    * version this commit must land at, so the publish is pinned to
    * it. Returns the new version. Deleting an id twice, or an absent
    * id, changes no row — the reference's idempotent-DELETE contract.
    */
  def delete(
      spark: SparkSession,
      root: String,
      table: String,
      idCol: String,
      ids: DataFrame
  ): Long = {
    val seq = nextSeq(spark, root)
    ManifestStore.commit(root, Seq(
      stageRecords(ids.select(col(idCol), lit(seq).as(SEQ_COL)),
        root, table, idCol)),
      expectedVersion = seq - 1)
  }

  /** The max record per id — the one reduction every reader and
    * [[compactDv]] use: a copy of `id` is dead iff its file's
    * sequence is below this `dv_seq`.
    */
  private def winning(records: DataFrame, idCol: String): DataFrame =
    records.groupBy(col(idCol)).agg(max(col(SEQ_COL)).as(SEQ_COL))

  /** `rows` (carrying [[ManifestStore.FILE_SEQ]]) minus the copies
    * `records` kill, without the sequence column.
    */
  private def applyTo(rows: DataFrame, records: DataFrame, idCol: String): DataFrame =
    rows.join(records, rows(idCol) === records(idCol) &&
      rows(ManifestStore.FILE_SEQ) < records(SEQ_COL), "left_anti")
      .drop(ManifestStore.FILE_SEQ)

  /** Merge-on-read: `table` with the deletion vector applied. The
    * planner sizes the anti-join from the reduced vector: a
    * bench-sized vector broadcasts, and one past the broadcast
    * threshold (a mass purge the log-structured write side makes cheap
    * to accumulate) anti-joins through a shuffle instead of collecting
    * onto the driver.
    */
  def read(
      snap: ManifestStore.Snapshot,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id"
  ): DataFrame =
    if (!snap.hasTable(dvTable(table))) snap.read(table)
    else applyTo(snap.readBox(table, Seq.empty, fileSeq = true),
      winning(snap.read(dvTable(table)), idCol), idCol)

  /** [[ManifestStore.Snapshot.readForIds]] with the vector applied —
    * the point lookup a store with live deletes must serve. The
    * vector side is reduced over ONLY the requested ids' records,
    * fetched through the same zone-map screen as the data, so a k-id
    * probe against a million-record pile costs O(candidate vector
    * files) — exact, because the anti-join only tests the probed ids.
    */
  def readForIds(
      snap: ManifestStore.Snapshot,
      table: String,
      idCol: String,
      ids: Seq[Long]
  ): DataFrame = {
    val dvName = dvTable(table)
    if (!snap.hasTable(dvName)) snap.readForIds(table, idCol, ids)
    else {
      val bound = ManifestStore.Bound.IdSet(idCol, ids.distinct.sorted.toArray)
      // ≤ |ids| rows by construction — always a broadcast
      applyTo(snap.readBox(table, Seq(bound), fileSeq = true),
        broadcast(winning(snap.readBox(dvName, Seq(bound)), idCol)), idCol)
    }
  }

  /** One snapshot's reduced vector, read ONCE and held in both the
    * shapes the feed needs: a broadcastable local frame of the max
    * record per id, and the same records as sorted driver arrays
    * (`ids` ascending, `seqs` aligned) for metadata screening and the
    * driver-side diff. A consumer tailing many hops builds one view
    * per ENDPOINT snapshot and reuses it across hops.
    */
  final case class DvView(records: DataFrame, ids: Array[Long], seqs: Array[Long])

  /** Read `s`'s vector into a [[DvView]] (empty when the snapshot has
    * no vector). One collect; the arrays are O(vector) driver memory
    * — bytes per id, the order of the manifest's own file metadata.
    */
  def dvView(
      s: ManifestStore.Snapshot,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id"
  ): DvView = {
    val dvName = dvTable(table)
    val recs: Array[(Long, Long)] =
      if (!s.hasTable(dvName)) Array.empty
      else winning(s.read(dvName), idCol).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    import s.spark.implicits._
    DvView(recs.toSeq.toDF(idCol, SEQ_COL), recs.map(_._1), recs.map(_._2))
  }

  /** Ids whose max record differs between two views (present in one
    * only, or at different sequences) — one driver merge pass over
    * the sorted arrays, no Spark job.
    */
  private[sources] def changedIds(a: DvView, b: DvView): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    var j = 0
    while (i < a.ids.length || j < b.ids.length) {
      if (j == b.ids.length || (i < a.ids.length && a.ids(i) < b.ids(j))) {
        out += a.ids(i); i += 1
      } else if (i == a.ids.length || b.ids(j) < a.ids(i)) {
        out += b.ids(j); j += 1
      } else {
        if (a.seqs(i) != b.seqs(j)) out += a.ids(i)
        i += 1; j += 1
      }
    }
    out.result()
  }

  /** Change feed over the LOGICAL state (files with the vector
    * applied) — the DV-aware CDF Delta ships as "change data feed with
    * deletion vectors". [[ManifestStore.fileDiff]] alone sees files,
    * so a vector-only delete commit is invisible to it and a later
    * [[materialize]] looks like mass deletes; the logical feed
    * announces a row's change when its logical state changes — a
    * deletion at the vector commit (payload served from the
    * pre-delete version), NOTHING at materialization.
    *
    * O(changed) by construction: candidates are rows of the
    * added/removed files plus the rows of the ids whose max record
    * changed, fetched through the zone-map screen (an `isin` or
    * broadcast semi-join residual — no O(ids) plan literals). Each
    * side applies its own vector before taking one row per id. Version
    * diffs TELESCOPE (the classification depends only on the two
    * endpoint logical states); a consumer tailing many hops passes
    * cached [[DvView]]s so each endpoint vector is read once.
    */
  def logicalFeed(
      spark: SparkSession,
      root: String,
      a: ManifestStore.Snapshot,
      b: ManifestStore.Snapshot,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id",
      payloadCol: String = "n_chars",
      extraCols: Seq[String] = Seq.empty,
      dvAView: Option[DvView] = None,
      dvBView: Option[DvView] = None
  ): DataFrame = {
    import org.apache.spark.sql.functions.when
    val va = dvAView.getOrElse(dvView(a, table, idCol))
    val vb = dvBView.getOrElse(dvView(b, table, idCol))
    val changed = changedIds(va, vb)
    val (added, removed) = ManifestStore.fileDiff(a, b, table)
    def side(s: ManifestStore.Snapshot, files: Seq[ManifestStore.FileEntry],
        dv: DvView): DataFrame = {
      val fromFiles = s.readEntries(s.state(table), files, fileSeq = true)
      val fromDv =
        if (changed.isEmpty) fromFiles.limit(0)
        else s.readBox(table,
          Seq(ManifestStore.Bound.IdSet(idCol, changed)), fileSeq = true)
      applyTo(fromFiles.unionByName(fromDv), broadcast(dv.records), idCol)
        .select((idCol +: payloadCol +: extraCols).distinct.map(col): _*)
        // one value per id per version (a row can be both in a
        // changed file and among the changed ids)
        .dropDuplicates(idCol)
    }
    val oldSide = side(a, removed, va)
      .select(col(idCol) +: col(payloadCol).as("payload_old") +:
        extraCols.map(c => col(c).as(c + "__old")): _*)
    val newSide = side(b, added, vb)
      .select(col(idCol) +: col(payloadCol).as("payload_new") +:
        extraCols.map(c => col(c).as(c + "__new")): _*)
    newSide
      .join(oldSide, Seq(idCol), "full_outer")
      .withColumn("op",
        when(col("payload_old").isNull, lit("insert"))
          .when(col("payload_new").isNull, lit("delete"))
          .when(col("payload_new") =!= col("payload_old"), lit("update")))
      .filter(col("op").isNotNull)
      // rows in neither a changed file nor among the changed ids are
      // identical on both sides by construction and were silenced by
      // the equality filter; what remains is the true logical delta.
      // extraCols are carried as new-side-wins coalesce — dimension
      // attributes a consumer groups by (`source`), present on
      // whichever side of the change exists
      .select(col(idCol) +: col("payload_new") +: col("payload_old") +:
        col("op") +: extraCols.map(c =>
          org.apache.spark.sql.functions
            .coalesce(col(c + "__new"), col(c + "__old")).as(c)): _*)
  }

  /** Collapse the record pile WITHOUT touching data files — the
    * vector-only compaction a long-lived CDC sink schedules between
    * [[materialize]] runs: Replace the sidecar with one sorted run of
    * the max record per id (a lower record of the same id kills a
    * subset of what the max kills, so nothing read changes). One
    * commit, O(vector ids) bytes; superseded run files fall to vacuum.
    * Returns the new version.
    */
  def compactDv(
      spark: SparkSession,
      root: String,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id"
  ): Long = {
    val snap = ManifestStore.snapshot(spark, root)
    val dvName = dvTable(table)
    require(snap.hasTable(dvName), s"no deletion vector for '$table'")
    ManifestStore.commit(root, Seq(
      ManifestStore.stage(
        winning(snap.read(dvName), idCol).coalesce(1).sortWithinPartitions(idCol),
        root, dvName, Seq.empty, ManifestStore.Replace)),
      expectedVersion = snap.version)
  }

  /** Apply the vector physically and clear it, in ONE commit: rewrite
    * only the partitions holding a file some record kills — a file
    * whose zone maps admit a recorded id whose `dv_seq` is above the
    * file's sequence (metadata only; a file no record can kill is not
    * even read) — with the vector applied, and Replace the vector
    * with empty. The candidate set is conservative (a covering range
    * may hold no killed row — that partition rewrites byte-equal,
    * which the change feed silences), never lossy. Requires ≤1
    * CURRENT partition column (zero columns = whole-table rewrite); a
    * table carrying older specs is handled — see the staging-mode
    * note below. Returns the new version.
    */
  def materialize(
      spark: SparkSession,
      root: String,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id"
  ): Long = {
    val snap = ManifestStore.snapshot(spark, root)
    val dvName = dvTable(table)
    require(snap.hasTable(dvName), s"no deletion vector for '$table'")
    val st = snap.state(table)
    require(st.partitionCols.length <= 1,
      s"materialize handles ≤1 partition column, '$table' has " +
        st.partitionCols.mkString(","))
    // the vector is k rows by contract — a metadata-sized read, the
    // same discipline as the store's other audited collect sites
    val dv = dvView(snap, table, idCol)
    // clear with the RECORD schema, so post-materialize appends stay
    // shape-compatible with the pile's contract
    val dvStage = ManifestStore.stage(
      snap.read(dvName).limit(0), root, dvName, Seq.empty, ManifestStore.Replace)
    def kept(files: Seq[ManifestStore.FileEntry]) =
      applyTo(snap.readEntries(st, files, fileSeq = true),
        broadcast(dv.records), idCol)
    if (st.partitionCols.isEmpty)
      ManifestStore.commit(root, Seq(
        ManifestStore.stage(kept(st.partitions.values.flatMap(_.files).toSeq),
          root, table, Seq.empty, ManifestStore.Replace),
        dvStage
      ), expectedVersion = snap.version)
    else {
      val touched = st.partitions.filter { case (_, p) =>
        p.files.exists(f => ManifestStore.admittedRanges(f, idCol, dv.ids)
          .exists(_.exists(dv.seqs(_) > f.seq)))
      }
      if (touched.isEmpty)
        // nothing to rewrite — still clear the vector (it kills nothing)
        ManifestStore.commit(root, Seq(dvStage),
          expectedVersion = snap.version)
      else
        // EVERY touched partition is first dropped, then re-added by
        // whatever the survivors' write staged: a partition whose rows
        // were ALL deleted stages nothing (Spark's partitioned write
        // emits no directory for an empty frame), and without the
        // explicit drop it would silently keep its superseded files
        // while the same commit clears the vector. The staged merge is
        // APPEND + drops (migrateSpec's composition), NOT Upsert: on a
        // mixed-spec table a touched old-spec partition's survivors
        // restage under the CURRENT spec and may land on a key an
        // UNTOUCHED entry already holds — Append merges the files into
        // that entry, where Upsert's whole-entry replace would silently
        // drop the untouched files
        ManifestStore.commit(root, Seq(
          ManifestStore.stage(kept(touched.values.flatMap(_.files).toSeq),
            root, table, st.partitionCols, ManifestStore.Append)
            .copy(drops = touched.keys.toSeq.sorted),
          dvStage
        ), expectedVersion = snap.version)
    }
  }
}
