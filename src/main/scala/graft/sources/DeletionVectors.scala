package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, max, struct}

/** Row-level deletes as MERGE-ON-READ deletion vectors — the
  * O(deleted ids) delete a production store needs where copy-on-write
  * pays O(touched partitions). An RTBF request for k documents out of
  * a 100 TB corpus must not rewrite terabytes: [[delete]] commits the
  * k ids into a `<table>__dv` sidecar TABLE of the same
  * [[ManifestStore]] root (one log delta, O(k) bytes on disk), and
  * [[read]] serves the table with the vector anti-joined out — a
  * broadcast of the (small) deleted-id set, zero extra shuffles.
  * Because the sidecar lives in the SAME manifest, a snapshot is
  * always a consistent (data, vector) pair — the single-commit
  * atomicity the store already guarantees makes the DV design safe
  * for free, and time travel reproduces the pre-delete view.
  *
  * The sidecar is LOG-STRUCTURED (an LSM at its minimum): each write
  * APPENDS one sorted run of `(id, dv_seq, dv_del)` records — `true`
  * marks a delete, `false` a revival (a MERGE re-insert of a
  * DV-dead key, [[MergeInto]]) — and readers reduce latest-wins per
  * id ([[liveIds]]). No writer ever rewrites the vector, so a
  * sustained CDC churn pays O(batch) per commit while the vector
  * holds millions of ids; the pile collapses through [[compactDv]]
  * (vector-only, data untouched) or [[materialize]] (vector applied
  * to the data and cleared). `dv_seq` is the committing version, so
  * later records win; on a seq tie (two uncoordinated writers in one
  * version slot) the DELETE record wins — the conservative side.
  *
  * [[materialize]] is the full compaction: rewrite ONLY the
  * partitions that can hold deleted rows (candidates located through
  * the manifest's own per-file zone maps — metadata, no scan) with
  * the vector applied, and clear the vector, in ONE commit. Readers
  * before the swap see (old files + DV); after, (new files + empty
  * DV) — identical rows either side. Superseded files fall to
  * [[ManifestStore.vacuum]] as usual.
  *
  * This is Delta's deletion-vector / Iceberg's positional-delete
  * design re-expressed at its minimum: id-keyed rather than
  * (file, position)-keyed, which trades a broadcast anti-join on the
  * key for not tracking row positions — the right point when every
  * table has a primary key (the reference's `message.id`,
  * hello_cloud_run/src/main/java/.../Message.java:11-13).
  */
object DeletionVectors {

  /** The deletion-vector sidecar's table name for `table`. */
  def dvTable(table: String): String = table + "__dv"

  /** Record sequence column: the committing version, so later DV
    * writes supersede earlier ones id by id.
    */
  val SEQ_COL = "dv_seq"

  /** Record op column: `true` = delete, `false` = revive. */
  val DEL_COL = "dv_del"

  /** The sequence the NEXT commit against `root` will occupy — the
    * version the publish will mint. Writers serialized by the ledger
    * ([[MergeInto]]) or CAS get distinct seqs for free; the delete-
    * wins tie-break in [[liveIds]] covers uncoordinated overlap.
    */
  private def nextSeq(spark: SparkSession, root: String): Long =
    if (!ManifestStore.exists(spark, root)) 1L
    else ManifestStore.snapshot(spark, root).version + 1

  /** `ids` (one column, the key) as delete records at `seq`, sorted
    * into one run: parquet's delta/RLE encoding collapses dense
    * delete runs (a whole-crawl purge is ranges, not scatter) and
    * the file's (min,max) stays a tight zone map.
    */
  private[sources] def deleteRecords(
      ids: DataFrame,
      idCol: String,
      seq: Long
  ): DataFrame =
    ids.select(col(idCol), lit(seq).as(SEQ_COL), lit(true).as(DEL_COL))

  /** A batch's delete and revive records at `seq`, built on the
    * driver from the ids it already holds — a local relation, so
    * staging it scans no input and no emptiness probe runs (the
    * caller knows the sizes). Same schema as [[deleteRecords]] over a
    * table's key column.
    */
  private[sources] def localRecords(
      spark: SparkSession,
      idCol: String,
      seq: Long,
      deletes: Seq[Long],
      revives: Seq[Long]
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField(SEQ_COL, LongType, nullable = false),
      StructField(DEL_COL, BooleanType, nullable = false)))
    val rows = deletes.map(Row(_, seq, true)) ++ revives.map(Row(_, seq, false))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The ids among `ids` whose vector state is DEAD — the
    * [[liveIds]] reduction restricted to the probed ids. Their
    * records come through [[ManifestStore.Snapshot.readForIds]] on
    * the sidecar (zone-map screened, so O(candidate run files), never
    * a pile scan) in ONE collect of O(ids' records) rows, and
    * latest-wins reduces on the driver. Exact for the same reason as
    * [[readForIds]]: an id's state depends only on its own records.
    */
  private[sources] def deadAmong(
      snap: ManifestStore.Snapshot,
      table: String,
      idCol: String,
      ids: Seq[Long]
  ): Seq[Long] = {
    val dvName = dvTable(table)
    if (ids.isEmpty || !snap.hasTable(dvName)) Seq.empty
    else
      snap.readForIds(dvName, idCol, ids)
        .select(col(idCol), col(SEQ_COL), col(DEL_COL))
        // a scan runs one task per candidate run file otherwise
        .coalesce(snap.spark.sparkContext.defaultParallelism)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
        .toSeq
        // greatest (dv_seq, dv_del) per id; true > false, so on a seq
        // tie the delete wins — liveIds' ordering
        .groupMapReduce(_._1)(_._2)(Ordering[(Long, Boolean)].max)
        .collect { case (id, (_, true)) => id }
        .toSeq
  }

  /** One sorted single-file staged run of DV records — O(batch) data
    * bytes and one O(batch) write task per commit, never O(vector).
    */
  private[sources] def stageRecords(
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
    * and no existing vector file touched. Returns the new version.
    * Idempotent by semantics: deleting an id twice (latest-wins over
    * two delete records) or deleting an absent id (anti-join no-op)
    * changes nothing — the reference's idempotent-DELETE contract.
    */
  def delete(
      spark: SparkSession,
      root: String,
      table: String,
      idCol: String,
      ids: DataFrame
  ): Long =
    ManifestStore.commit(spark, root, Seq(
      stageRecords(
        deleteRecords(ids.select(col(idCol)), idCol, nextSeq(spark, root)),
        root, table, idCol)))

  /** The vector's LIVE ids — the latest-wins reduction over the
    * record pile: an id is deleted iff its greatest `(dv_seq,
    * dv_del)` record is a delete (`true > false`, so on a seq tie
    * the delete wins). One shuffle over the pile, which is O(churn)
    * rows between compactions — nowhere near the data.
    */
  def liveIds(
      snap: ManifestStore.Snapshot,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id"
  ): DataFrame =
    winningDeletes(snap.read(dvTable(table)), idCol).select(col(idCol))

  /** Latest-wins per id over DV `records`: each id's greatest
    * `(dv_seq, dv_del)` record (`true > false`, so on a seq tie the
    * delete wins), kept only where that record is a delete — one row
    * per dead id in the record schema, at its winning seq.
    */
  private def winningDeletes(records: DataFrame, idCol: String): DataFrame =
    records.groupBy(col(idCol))
      .agg(max(struct(col(SEQ_COL), col(DEL_COL))).as("__m"))
      .filter(col("__m")(DEL_COL))
      .select(col(idCol), col("__m")(SEQ_COL).as(SEQ_COL),
        col("__m")(DEL_COL).as(DEL_COL))

  /** Merge-on-read: `table` with the deletion vector applied — the
    * plain manifest scan anti-joined with [[liveIds]]. The planner
    * sizes the join from the sidecar's manifest file bytes: a
    * bench-sized vector broadcasts (zero extra shuffles), and one past
    * the broadcast threshold (a mass RTBF purge the log-structured
    * write side makes cheap to accumulate) anti-joins through a
    * shuffle instead of collecting onto the driver.
    */
  def read(
      snap: ManifestStore.Snapshot,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id"
  ): DataFrame = {
    val base = snap.read(table)
    if (!snap.hasTable(dvTable(table))) base
    else base.join(liveIds(snap, table, idCol), Seq(idCol), "left_anti")
  }

  /** [[ManifestStore.Snapshot.readForIds]] with the vector applied —
    * the point lookup a store with live deletes must serve: a DV-dead
    * id returns NO row before materialization (the physical bytes
    * exist; the logical row does not). Without this composition every
    * caller must remember the anti-join.
    *
    * The vector side is reduced over ONLY the requested ids' DV
    * records — [[ManifestStore.Snapshot.readForIds]] on the sidecar
    * rides the same zone-map file screening as the data fetch, so a
    * k-id probe against a million-record pile costs O(candidate DV
    * files), never a full pile scan + groupBy. Restricting latest-wins
    * to the probed ids is exact: the anti-join only tests THEIR
    * membership.
    */
  def readForIds(
      snap: ManifestStore.Snapshot,
      table: String,
      idCol: String,
      ids: Seq[Long]
  ): DataFrame = {
    val base = snap.readForIds(table, idCol, ids)
    val dvName = dvTable(table)
    if (!snap.hasTable(dvName)) base
    else {
      val dead = winningDeletes(snap.readForIds(dvName, idCol, ids), idCol)
        .select(col(idCol))
      // ≤ |ids| rows by construction — always a broadcast
      base.join(broadcast(dead), Seq(idCol), "left_anti")
    }
  }

  /** Change feed over the LOGICAL state (files ∖ vector) — the
    * DV-aware CDF Delta ships as "change data feed with deletion
    * vectors". [[ManifestStore.fileDiff]] alone sees files, so a
    * DV-only delete commit is invisible to it and a later
    * [[materialize]] looks like mass deletes; the LOGICAL feed fixes
    * both ends: a row's change is announced when its logical state
    * changes — deletion at the DV commit (payload served from the
    * pre-delete version), NOTHING at materialization (the physical
    * rewrite of already-dead rows is noise, exactly like the
    * byte-equal rewrites the file feed already silences).
    *
    * O(changed) by construction: candidates are rows of the
    * added/removed files plus the rows of the DV-diff ids — the
    * latter fetched through [[ManifestStore.Snapshot.readForIds]]'s
    * zone-map candidate files (sorted-id binary-search screening; an
    * `isin` or broadcast semi-join residual — no O(ids) plan
    * literals, no O(files × ids) driver CPU, so a mass delete of
    * millions of scattered ids feeds at candidate-scan cost).
    * Version diffs still TELESCOPE (the classification depends only
    * on the two endpoint logical states); a consumer tailing many
    * hops passes cached [[DvView]]s so each endpoint vector is read
    * once, not once per hop.
    */
  /** One snapshot's deletion vector, read ONCE and held in both the
    * shapes the feed needs: a broadcastable local frame (the
    * anti-join / semi-join side — never plan literals) and the sorted
    * id array (metadata file screening + driver-side set algebra). A
    * consumer tailing many hops builds one view per ENDPOINT snapshot
    * via [[dvView]] and reuses it across hops — without the cache,
    * every hop re-derived both endpoint vectors (two `exceptAll` jobs
    * + a collect each), which was most of cdc21's cost.
    */
  final case class DvView(ids: DataFrame, sorted: Array[Long])

  /** Read `s`'s deletion vector into a [[DvView]] (empty when the
    * snapshot has no vector). One Spark job; the collected array is
    * O(vector) driver memory — bytes per deleted id, the same order
    * as the manifest's own file metadata.
    */
  def dvView(
      s: ManifestStore.Snapshot,
      table: String = ManifestStore.MAIN,
      idCol: String = "doc_id"
  ): DvView = {
    val dvName = dvTable(table)
    val sorted: Array[Long] =
      if (!s.hasTable(dvName)) Array.empty
      else liveIds(s, table, idCol).collect().map(_.getLong(0)).sorted
    import s.spark.implicits._
    DvView(sorted.toSeq.toDF(idCol), sorted)
  }

  /** Symmetric difference of two sorted-distinct arrays — one driver
    * merge pass, no Spark job.
    */
  private[sources] def symDiff(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { i += 1; j += 1 }
      else if (a(i) < b(j)) { out += a(i); i += 1 }
      else { out += b(j); j += 1 }
    }
    while (i < a.length) { out += a(i); i += 1 }
    while (j < b.length) { out += b(j); j += 1 }
    out.result()
  }

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
    import org.apache.spark.sql.functions.{lit, when}
    val va = dvAView.getOrElse(dvView(a, table, idCol))
    val vb = dvBView.getOrElse(dvView(b, table, idCol))
    // ids whose VECTOR membership changed — a driver merge of the two
    // sorted views, no job; fetched through the zone-map screen, so a
    // mass delete of millions of ids costs O(candidate files) scan +
    // one broadcast semi-join, never O(ids) plan literals
    val changedSorted = symDiff(va.sorted, vb.sorted)
    val (added, removed) = ManifestStore.fileDiff(a, b, table)
    def readDelta(s: ManifestStore.Snapshot, files: Seq[ManifestStore.FileEntry]): DataFrame = {
      val st = s.state(table)
      val schema = ManifestStore.withFieldIds(
        org.apache.spark.sql.types.StructType.fromDDL(st.schemaDdl),
        st.fieldIds)
      val paths = files.map(f => root + "/" + f.path)
      if (paths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(paths: _*)
    }
    def side(s: ManifestStore.Snapshot, files: Seq[ManifestStore.FileEntry],
        dv: DvView): DataFrame = {
      val fromFiles = readDelta(s, files)
      val fromDv =
        if (changedSorted.isEmpty) fromFiles.limit(0)
        else s.readForIds(table, idCol, changedSorted)
      fromFiles.unionByName(fromDv)
        .select((idCol +: payloadCol +: extraCols).distinct.map(col): _*)
        // one value per id per version (a row can be both in a
        // changed file and a changed vector)
        .dropDuplicates(idCol)
        // LOGICAL state: vector-dead rows do not exist on this side
        .join(broadcast(dv.ids), Seq(idCol), "left_anti")
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
      // rows in neither a changed file nor the changed vector are
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
    * the surviving delete records (each at its own winning seq, so
    * later appends still supersede correctly). One commit, O(live
    * vector) bytes; dead records (revived ids, superseded runs) fall
    * out, and the superseded run files fall to vacuum. Returns the
    * new version.
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
    val live = winningDeletes(snap.read(dvName), idCol)
    ManifestStore.commit(spark, root, Seq(
      ManifestStore.stage(live.coalesce(1).sortWithinPartitions(idCol),
        root, dvName, Seq.empty, ManifestStore.Replace)),
      expectedVersion = snap.version)
  }

  /** Apply the vector physically and clear it, in ONE commit: rewrite
    * only the partitions whose manifest zone maps admit a deleted id
    * (a partition none of whose files' (min, max) covers any deleted
    * id provably holds none — its files are not even read), anti-join
    * the vector out, and Replace the DV table with empty. The
    * candidate set is conservative (a covering range may still hold
    * no deleted row — that partition rewrites byte-equal, which the
    * change feed silences), never lossy. Requires an integral key
    * with footer stats and ≤1 CURRENT partition column (zero columns
    * = whole-table rewrite); a table carrying older specs is handled
    * — see the staging-mode note below. Returns the new version.
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
    val dv = liveIds(snap, table, idCol)
    // the vector is k rows by contract — a metadata-sized read, the
    // same discipline as the store's other audited collect sites;
    // sorted so partition screening binary-searches (O(groups·log k))
    val ids = dv.collect().map(_.getLong(0)).sorted
    // clear with the RECORD schema, so post-materialize appends stay
    // shape-compatible with the pile's contract
    val emptyDv = snap.read(dvName).limit(0)
    val dvStage = ManifestStore.stage(
      emptyDv, root, dvName, Seq.empty, ManifestStore.Replace)
    if (st.partitionCols.isEmpty) {
      val kept = snap.read(table).join(broadcast(dv), Seq(idCol), "left_anti")
      ManifestStore.commit(spark, root, Seq(
        ManifestStore.stage(kept, root, table, Seq.empty,
          ManifestStore.Replace),
        dvStage
      ), expectedVersion = snap.version)
    } else {
      val deleted = ManifestStore.Bound.IdSet(idCol, ids)
      val touched = st.partitions.collect {
        case (key, p) if p.files.exists(f =>
          ManifestStore.groupsOf(f).exists(ManifestStore.admits(_, deleted))) => key
      }.toSeq.sorted
      if (touched.isEmpty)
        // nothing to rewrite — still clear the vector (all ids absent)
        ManifestStore.commit(spark, root, Seq(dvStage),
          expectedVersion = snap.version)
      else {
        val kept = snap.readPartitionKeys(table, touched)
          .join(broadcast(dv), Seq(idCol), "left_anti")
        // EVERY touched partition is first dropped, then re-added by
        // whatever the survivors' write staged: a partition whose rows
        // were ALL deleted stages nothing (Spark's partitioned write
        // emits no directory for an empty frame), and without the
        // explicit drop an all-rows-deleted partition would silently
        // keep its superseded files while the same commit clears the
        // vector. The staged merge is APPEND + drops (migrateSpec's
        // composition), NOT Upsert: on a mixed-spec table a touched
        // old-spec partition's survivors restage under the CURRENT
        // spec and may land on a key an UNTOUCHED entry already holds
        // — Append merges the files into that entry, where Upsert's
        // whole-entry replace would silently drop the untouched files
        ManifestStore.commit(spark, root, Seq(
          ManifestStore.stage(kept, root, table, st.partitionCols,
            ManifestStore.Append).copy(drops = touched),
          dvStage
        ), expectedVersion = snap.version)
      }
    }
  }
}
