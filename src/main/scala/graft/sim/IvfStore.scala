package graft.sim

import graft.sources.ManifestStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF index as a STORAGE LAYOUT: vectors written to parquet
  * partitioned by their nearest-centroid cell, served by reading ONLY
  * the probed cells' files — `sim06` turns its cell routing into
  * manifest pruning, the serving shape every vector store uses (FAISS
  * IVF lists, Milvus segments: the list IS the file).
  *
  * Build: one broadcast-assign pass (K·D integer multiply-adds per
  * vector — the sim18/sim23 exact micro-unit discipline) and one
  * partitioned write committed through
  * [[graft.sources.ManifestStore]]. Serve: the query's nProbe nearest
  * cells come from a K-row driver computation (the sanctioned tiny
  * collect — the centroid table is the index's only driver-resident
  * state), and the probed cells prune at the MANIFEST — the reader
  * never lists, let alone opens, any other cell's files (spec-pinned
  * via inputFiles) — so a 1000-cell store reads nProbe/1000 of its
  * bytes per query. Scoring inside probed cells is exact integer L2
  * (bit-reproducible); results are exactly brute force restricted to
  * the probed cells, and nProbe = K is exhaustive by construction.
  *
  * At 100 TB: cells are also the UPSERT unit — a re-embedded batch
  * rewrites only its touched cells, and every maintenance action
  * (build, upsert, delete, rebalance) publishes the store AND its
  * id→cell sidecar as ONE atomic manifest commit: a reader mid-rewrite
  * resolves the previous complete version, and a crash between the
  * staged store write and the staged sidecar write leaves the old,
  * mutually-consistent pair visible (the transactional guarantee the
  * reference's per-CRUD `@Transactional` gives its row store —
  * quarkus_cloud_run/.../MessageResource.java:19 — re-expressed for
  * multi-file analytical rewrites).
  */
object IvfStore {

  private def quant(c: Column): Column = IntVec.quant(c)
  private def dist2(a: Column, b: Column): Column = IntVec.dist2(a, b)

  /** Manifest table names under one store root: the inverted lists,
    * the id→cell sidecar, and the sidecar's routing modulus. One
    * manifest covers all three — they can only change together.
    */
  private val STORE = ManifestStore.MAIN
  private val INDEX = "index"
  private val META = "meta"

  /** Deterministic stride-sampled centroid table (cell 1..k), the
    * sim06/sim23 seeding: (cell, qc: array<long>).
    */
  def centroids(embeddings: DataFrame, k: Int, stride: Int): DataFrame =
    IntVec.strideSeeds(
      embeddings.select(col("vec_id"), IntVec.quant(col("embedding")).as("qe")),
      stride,
      k,
      "cell",
      "qc"
    )

  /** Nearest-centroid assignment: (vec_id, embedding) → (vec_id,
    * embedding, carry..., cell), exact integer L2, ties on the lower
    * cell id. Shared by the initial build, the incremental upsert
    * path, and the rebalance pass (which carries each vector's OLD
    * cell through, so old-vs-new comparison costs no extra join) —
    * one routing rule, so the paths cannot drift.
    */
  def assign(
      embeddings: DataFrame,
      cents: DataFrame,
      carry: Seq[String] = Nil
  ): DataFrame =
    embeddings
      .select(
        (Seq(col("vec_id"), col("embedding")) ++ carry.map(col) :+
          quant(col("embedding")).as("qe")): _*
      )
      .crossJoin(broadcast(cents))
      // dims guard (the sim11 fail-loudly contract): a ragged vector
      // must ABORT the build, not silently vanish from the index — a
      // store built with a dropped row would serve from an incomplete
      // corpus with no error anywhere. raise_error is non-foldable,
      // so the optimizer keeps the check.
      .filter(
        when(size(col("qe")) === size(col("qc")), lit(true)).otherwise(
          raise_error(
            concat(
              lit("IvfStore.assign: embedding dimensionality mismatch at vec_id="),
              col("vec_id").cast("string")
            )
          ).cast("boolean")
        )
      )
      .select(
        (Seq(col("vec_id"), col("embedding")) ++ carry.map(col) :+
          col("cell") :+ dist2(col("qe"), col("qc")).as("__d")): _*
      )
      .groupBy(
        (Seq(col("vec_id"), col("embedding")) ++ carry.map(col)): _*
      )
      .agg(min(struct(col("__d"), col("cell"))).as("__a"))
      .select(
        (Seq(col("vec_id"), col("embedding")) ++ carry.map(col) :+
          col("__a.cell").as("cell")): _*
      )

  /** DEFAULT hash-bucket count for the id→cell sidecar index. A
    * deployment sizes this at [[build]] so one bucket is a few
    * hundred MB (the fixture default stays small — each maintenance
    * batch pays one file per touched bucket, so the constant is
    * listing overhead at toy scale); the chosen count is PERSISTED
    * in the `meta` table and read back by every maintenance and
    * serving path, so a store built at any B maintains correctly
    * (IvfMaintainSpec pins B=7).
    */
  private[graft] val INDEX_BUCKETS = 4

  private def ibucket(id: Column, buckets: Int): Column =
    pmod(graft.functions.PortableHash.h32(id.cast("string")),
      lit(buckets.toLong))

  /** The bucket count the store was BUILT with — the persisted `meta`
    * row. Hash routing must use the store's own count, never the
    * caller's: a probe at the wrong modulus reads the wrong buckets
    * and silently misses live cells.
    */
  private def storedIndexBuckets(snap: ManifestStore.Snapshot): Int =
    if (snap.hasTable(META))
      snap.read(META).head.getAs[Int]("index_buckets")
    else INDEX_BUCKETS

  private def readIndex(snap: ManifestStore.Snapshot): DataFrame =
    snap
      .read(INDEX)
      .select(
        col("vec_id"),
        col("cell").cast("long").as("cell"),
        col("ibucket").cast("long").as("ibucket")
      )

  /** The sidecar's full content — the cdc16 gate and the maintenance
    * specs read the index AS A TABLE through the same manifest
    * resolution every probe uses.
    */
  def readIndexTable(spark: SparkSession, path: String): DataFrame =
    readIndex(ManifestStore.snapshot(spark, path))

  /** The index buckets `ids` hash into — a ≤buckets-row driver read
    * (bucket domain, not batch size).
    */
  private def bucketsOf(ids: DataFrame, buckets: Int): Seq[Long] =
    ids
      .select(ibucket(col("vec_id"), buckets).as("b"))
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toSeq

  /** Assign every vector to its nearest centroid and write the store
    * partitioned by cell (one file set per inverted list) — optionally
    * with the id→cell sidecar, all tables in ONE manifest commit. The
    * sidecar is a STORE property, auto-detected by the maintenance
    * ops: with it, old-cell lookups prune to the batch's hash buckets
    * (the shape for stores whose id column alone is too big to scan);
    * without it, lookups fall back to the column-pruned store id
    * scan, which is the cheaper choice until that crossover — at
    * fixture scale the sidecar's extra write paths cost more than
    * the scan they avoid, so cdc15 replays in scan mode and cdc16
    * replays the SAME churn indexed (gating the sidecar's content);
    * IvfMaintainSpec additionally pins indexed incremental ≡ full
    * rebuild frame equality.
    */
  def build(
      embeddings: DataFrame,
      cents: DataFrame,
      path: String,
      indexed: Boolean = false,
      indexBuckets: Int = INDEX_BUCKETS
  ): Unit = {
    val spark = embeddings.sparkSession
    if (!indexed) {
      ManifestStore.commit(path, Seq(
        ManifestStore.stage(assign(embeddings, cents), path, STORE,
          Seq("cell"), ManifestStore.Replace)
      ))
    } else {
      require(indexBuckets > 0, s"indexBuckets must be positive: $indexBuckets")
      val assigned = assign(embeddings, cents).localCheckpoint(true)
      import spark.implicits._
      // store + sidecar + routing modulus appear TOGETHER or not at
      // all — the single-commit contract from the first version on
      ManifestStore.commit(path, Seq(
        ManifestStore.stage(assigned, path, STORE, Seq("cell"),
          ManifestStore.Replace),
        ManifestStore.stage(
          assigned.select(
            col("vec_id"),
            col("cell"),
            ibucket(col("vec_id"), indexBuckets).as("ibucket")
          ),
          path, INDEX, Seq("ibucket"), ManifestStore.Replace),
        ManifestStore.stage(
          Seq(indexBuckets).toDF("index_buckets").coalesce(1),
          path, META, Seq.empty, ManifestStore.Replace)
      ))
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(assigned)
    }
  }

  /** Old-cell probe without a sidecar: semi-join the batch against
    * the store's id column (column-pruned — vectors never read).
    * O(store ids); right below the sidecar crossover.
    */
  private def cellsByScan(
      snap: ManifestStore.Snapshot,
      ids: DataFrame
  ): DataFrame =
    snap
      .read(STORE)
      .join(ids.select("vec_id"), Seq("vec_id"), "left_semi")
      .select(col("cell").cast("long").as("cell"))

  /** Cells currently holding any of `ids`, from the sidecar index
    * with the scan pruned to the ids' pre-computed hash buckets
    * (`bkts`) — O(touched index buckets), never O(store): the probe
    * that makes upsert/delete maintenance partition-granular on BOTH
    * the read and write side. Shared by upsert (unions it with the
    * new cells) and delete (distinct-collects it).
    */
  private def cellsByIndex(
      snap: ManifestStore.Snapshot,
      ids: DataFrame,
      bkts: Seq[Long]
  ): DataFrame =
    snap
      .readPartitions(INDEX, bkts)
      .join(ids.select("vec_id"), Seq("vec_id"), "left_semi")
      .select(col("cell").cast("long").as("cell"))

  /** Validated rewrite of the `ids`-touched index buckets, NOT yet
    * written: current entries of those buckets minus `ids`, plus
    * `entries` (the batch's new (vec_id, cell) rows; empty for a
    * delete), eagerly materialized. With `guardEmpty`, fails loudly
    * if a bucket that HELD rows would end empty — the same resurrect
    * hazard as [[validatedCellRewrite]] (a batch id hashing into a
    * never-populated bucket is NOT a drop, so the guard compares
    * against the buckets' pre-rewrite occupancy, not `bkts`). An
    * upserted bucket can never empty (every batch id re-inserts a
    * row into its own bucket), so only the delete path pays the
    * guard jobs. Validation runs BEFORE anything is staged or
    * committed — a guard abort leaves the manifest untouched, so the
    * pair stays consistent by construction.
    */
  private def preparedIndexRewrite(
      snap: ManifestStore.Snapshot,
      ids: DataFrame,
      bkts: Seq[Long],
      entries: DataFrame,
      guardEmpty: Boolean,
      buckets: Int
  ): Option[DataFrame] =
    if (bkts.isEmpty) None
    else {
      val current = snap
        .readPartitions(INDEX, bkts)
        .select(
          col("vec_id"),
          col("cell").cast("long").as("cell"),
          col("ibucket").cast("long").as("ibucket")
        )
      val rewritten = current
        .join(ids.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(
          entries.select(
            col("vec_id"),
            col("cell"),
            ibucket(col("vec_id"), buckets).as("ibucket")
          )
        )
        .localCheckpoint(true)
      if (guardEmpty) {
        val before = current
          .select(col("ibucket"))
          .distinct()
          .collect()
          .map(_.getLong(0))
          .toSet
        val kept = rewritten
          .select(col("ibucket"))
          .distinct()
          .collect()
          .map(_.getLong(0))
          .toSet
        val emptied = before.diff(kept)
        require(
          emptied.isEmpty,
          s"IvfStore: index bucket(s) ${emptied.toSeq.sorted.mkString(",")} " +
            "would empty: an upsert-mode commit keeps absent partitions, " +
            "so the emptied bucket would resurrect its old entries"
        )
      }
      Some(rewritten)
    }

  /** The check half of a cell rewrite: eagerly materialize it and
    * fail loudly if a touched cell would end empty — an absent
    * partition in an Upsert commit keeps its current files, so an
    * emptied cell would silently resurrect its old rows (stale rows
    * after a move-away, deleted rows after a delete). The manifest
    * layer COULD express a partition drop; the store keeps the guard
    * as policy — every cell the centroid table routes to must stay
    * addressable, and emptying one means the centroids collapsed and
    * the store wants a rebuild. Validation is split from the write so
    * a caller can check BOTH the store and index rewrites before
    * staging either.
    */
  private def validatedCellRewrite(
      rewritten: DataFrame,
      touched: Seq[Long]
  ): DataFrame = {
    val frame = rewritten.localCheckpoint(true)
    val kept = frame
      .select(col("cell").cast("long"))
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toSet
    val emptied = touched.filterNot(kept)
    require(
      emptied.isEmpty,
      s"IvfStore: rewrite would empty cell(s) ${emptied.sorted.mkString(",")}: " +
        "an upsert-mode commit keeps absent partitions, so the emptied " +
        "cell would resurrect its old rows"
    )
    frame
  }

  /** Stage the validated store rewrite and (when present) the
    * validated index rewrite, publish BOTH in one atomic manifest
    * commit, and release the checkpoints. Every maintenance path
    * funnels through here — the store/sidecar pair has exactly one
    * commit point, and the commit is PINNED to the manifest version
    * the maintenance read resolved (compare-and-swap): maintenance is
    * read-modify-write over the touched cells, so a concurrent commit
    * landing in between would be silently overwritten — instead the
    * CAS throws with nothing published and the caller re-runs against
    * the fresh manifest (the Compaction.execute discipline).
    */
  private def commitRewrites(
      spark: SparkSession,
      path: String,
      baseVersion: Long,
      storeFrame: DataFrame,
      idxFrame: Option[DataFrame]
  ): Unit = {
    val staged =
      Seq(ManifestStore.stage(storeFrame, path, STORE, Seq("cell"),
        ManifestStore.Upsert)) ++
        idxFrame.map(f =>
          ManifestStore.stage(f, path, INDEX, Seq("ibucket"),
            ManifestStore.Upsert))
    ManifestStore.commit(path, staged, expectedVersion = baseVersion)
    org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(storeFrame)
    idxFrame.foreach(
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(_))
  }

  /** Incremental upsert: re-embedded (or newly inserted) vectors move
    * to their new nearest cell; ONLY the touched partitions — each
    * vector's old cell (from the sidecar index, O(touched index
    * buckets)) and its new cell — are read and rewritten, so BOTH
    * sides of the maintenance are O(touched), never O(store): the
    * untouched inverted lists keep their files BY IDENTITY (the
    * manifest re-points only the touched cells' entries), and the
    * pruned store read never lists them. Store and sidecar publish as
    * one commit.
    */
  def upsert(
      spark: SparkSession,
      path: String,
      cents: DataFrame,
      batch: DataFrame
  ): Unit = {
    val snap = ManifestStore.snapshot(spark, path)
    val assigned = assign(batch, cents).localCheckpoint(true)
    // every downstream id probe/join reads the CHECKPOINTED batch ids
    // — the caller's batch lineage (possibly an expensive pipeline)
    // runs exactly once, in assign
    val ids = assigned.select("vec_id")
    val indexed = snap.hasTable(INDEX)
    val buckets = if (indexed) storedIndexBuckets(snap) else 0
    val bkts = if (indexed) bucketsOf(ids, buckets) else Seq.empty[Long]
    val oldCells =
      if (indexed) cellsByIndex(snap, ids, bkts)
      else cellsByScan(snap, ids)
    // old cells ∪ new cells (assigned), in ONE driver job
    val touched = oldCells
      .unionByName(assigned.select("cell"))
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toSeq
    val rewritten = snap
      .readPartitions(STORE, touched)
      .join(ids, Seq("vec_id"), "left_anti")
      .unionByName(assigned)
    // validate BOTH rewrites (each eagerly materialized) before
    // staging either: an abort must leave store and index consistent
    val storeFrame = validatedCellRewrite(rewritten, touched)
    val idxFrame =
      if (indexed)
        preparedIndexRewrite(snap, ids, bkts,
          assigned.select("vec_id", "cell"), guardEmpty = false, buckets)
      else None
    commitRewrites(spark, path, snap.version, storeFrame, idxFrame)
    org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(assigned)
  }

  /** Incremental delete: rewrite only the cells holding the deleted
    * ids, without them (see [[validatedCellRewrite]] for the
    * emptied-cell contract); the holding cells come from the index,
    * pruned to the ids' hash buckets. Store and sidecar publish as
    * one commit.
    */
  def delete(
      spark: SparkSession,
      path: String,
      delIds: DataFrame
  ): Unit = {
    val snap = ManifestStore.snapshot(spark, path)
    // one materialization of the caller's id lineage for the 3-4
    // probes/joins below
    val ids = delIds.select("vec_id").localCheckpoint(true)
    try {
      val indexed = snap.hasTable(INDEX)
      val buckets = if (indexed) storedIndexBuckets(snap) else 0
      val bkts = if (indexed) bucketsOf(ids, buckets) else Seq.empty[Long]
      val touched =
        (if (indexed) cellsByIndex(snap, ids, bkts)
         else cellsByScan(snap, ids))
          .distinct()
          .collect()
          .map(_.getLong(0))
          .toSeq
      if (touched.nonEmpty) {
        val rewritten = snap
          .readPartitions(STORE, touched)
          .join(ids, Seq("vec_id"), "left_anti")
        // validate BOTH rewrites before staging either — a delete that
        // trips an empty-partition guard must leave index ≡ store
        val storeFrame = validatedCellRewrite(rewritten, touched)
        val idxFrame =
          if (indexed)
            preparedIndexRewrite(snap, ids, bkts,
              // no new entries on a delete: an empty (vec_id, cell)
              // frame, built without touching the index files
              ids.select(col("vec_id"), lit(0L).as("cell")).limit(0),
              guardEmpty = true, buckets)
          else None
        commitRewrites(spark, path, snap.version, storeFrame, idxFrame)
      }
    } finally
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(ids)
  }

  /** Lloyd retraining of the centroid table over the LIVE store's
    * vectors — the drift answer: under embedding drift (re-embedded
    * corpus, new domains) the build-time centroids go stale, cells
    * unbalance, and nprobe recall decays (exactly the failure sim25's
    * curve surfaces). Seeded from the CURRENT centroids so the new
    * table is the drift-corrected version of the same cell id space,
    * each round assigns every vector to its nearest centroid (the
    * sim23 exact BIGINT micro-unit argmin) and recomputes each
    * centroid as the per-dimension floor-divided mean — integer-grid
    * centroids, so the whole trajectory is bit-reproducible. Cells
    * that lose all members KEEP their previous centroid (a store cell
    * must stay addressable — sim23's drop-empty rule is for free
    * clustering, not for an index whose cells are partitions).
    *
    * Shape at scale: per round one broadcast map-side scan of the
    * store (K·D multiply-adds per vector) + one dense (cell, dim)
    * aggregation; only the K-row centroid frame is checkpointed per
    * round (superseded rounds released). Returns the new K-row
    * centroid table, checkpoint-materialized — the caller owns its
    * release.
    */
  def retrain(
      spark: SparkSession,
      path: String,
      cents: DataFrame,
      iters: Int
  ): DataFrame = {
    val vecs = ManifestStore
      .read(spark, path)
      .select(col("vec_id"), quant(col("embedding")).as("qe"))
    var cur = cents.select(col("cell"), col("qc")).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val assigned = vecs
        .crossJoin(broadcast(cur))
        .filter(size(col("qe")) === size(col("qc")))
        .select(
          col("vec_id"),
          col("qe"),
          col("cell"),
          dist2(col("qe"), col("qc")).as("__d")
        )
        .groupBy(col("vec_id"), col("qe"))
        .agg(min(struct(col("__d"), col("cell"))).as("__a"))
        .select(col("vec_id"), col("qe"), col("__a.cell").as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("qe")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("sd"), count(lit(1)).as("nd"))
        .select(
          col("cell"),
          struct(col("pos"), expr("sd div nd").as("v")).as("pv")
        )
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(col("pv"))).as("pvs"))
        .select(col("cell"), expr("transform(pvs, p -> p.v)").as("qc"))
      val next = means
        .unionByName(
          cur.join(means.select("cell"), Seq("cell"), "left_anti")
        )
        .localCheckpoint(true)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(cur)
      cur = next
    }
    cur
  }

  /** What [[rebalance]] did: corpus size, how many vectors actually
    * moved cells, and which cells were rewritten — the numbers that
    * prove the rewrite was partition-granular (movedFraction ≪ 1,
    * touchedCells ≪ K after mild drift).
    */
  final case class RebalanceStats(
      total: Long,
      moved: Long,
      touchedCells: Seq[Long]
  ) {
    def movedFraction: Double =
      if (total == 0) 0.0 else moved.toDouble / total.toDouble
  }

  /** Re-route the store onto a retrained centroid table, rewriting
    * ONLY the cells whose membership changed: one map-side
    * reassignment pass carries each vector's old cell through
    * [[assign]] (no extra join), the moved set is checkpointed
    * (O(moved)), and the store rewrite touches exactly
    * old-cells ∪ new-cells of moved vectors — untouched inverted
    * lists keep their files BY IDENTITY in the manifest. The sidecar
    * is part of the SAME commit (the cdc16 discipline, upgraded from
    * lockstep-validated to atomic). A cell whose members ALL leave
    * fails the emptied-cell guard ([[validatedCellRewrite]]'s
    * contract); reaching that means the retrain collapsed a cell and
    * the store wants a rebuild. The corpus size in the stats is read
    * from the manifest's per-partition row counts — metadata, not a
    * store scan.
    */
  def rebalance(
      spark: SparkSession,
      path: String,
      newCents: DataFrame
  ): RebalanceStats = {
    val snap = ManifestStore.snapshot(spark, path)
    val store = snap.read(STORE)
    val total = snap.totalRows(STORE)
    val moved = assign(
      store.select(col("vec_id"), col("embedding"),
        col("cell").as("old_cell")),
      newCents,
      carry = Seq("old_cell")
    )
      .filter(col("cell") =!= col("old_cell"))
      .localCheckpoint(true)
    try {
      val nMoved = moved.count()
      if (nMoved == 0) return RebalanceStats(total, 0L, Nil)
      val touched = moved
        .select(col("old_cell").as("cell"))
        .unionByName(moved.select("cell"))
        .distinct()
        .collect()
        .map(_.getLong(0))
        .toSeq
      val ids = moved.select("vec_id")
      val rewritten = snap
        .readPartitions(STORE, touched)
        .join(ids, Seq("vec_id"), "left_anti")
        .unionByName(moved.select("vec_id", "embedding", "cell"))
      val storeFrame = validatedCellRewrite(rewritten, touched)
      val indexed = snap.hasTable(INDEX)
      val buckets = if (indexed) storedIndexBuckets(snap) else 0
      val idxFrame =
        if (indexed)
          preparedIndexRewrite(snap, ids, bucketsOf(ids, buckets),
            moved.select("vec_id", "cell"), guardEmpty = false, buckets)
        else None
      commitRewrites(spark, path, snap.version, storeFrame, idxFrame)
      RebalanceStats(total, nMoved, touched)
    } finally
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(moved)
  }

  /** Point-fetch stored vectors BY ID — the "get embedding for this
    * doc" serving path. On an indexed store the ids' hash buckets
    * prune the sidecar read and the resolved cells prune the store
    * read (both at the MANIFEST — no other file is even listed), so a
    * B-id fetch costs O(B index buckets + holding cells), never
    * O(store); without the sidecar it falls back to the column-pruned
    * full id scan. Returns (vec_id, cell, embedding) for the ids
    * present; absent ids are simply absent (a point lookup, not a
    * validation — callers needing fail-on-missing anti-join the
    * result against their request).
    */
  def fetch(spark: SparkSession, path: String, ids: DataFrame): DataFrame = {
    val snap = ManifestStore.snapshot(spark, path)
    if (!snap.hasTable(INDEX))
      snap
        .read(STORE)
        .join(ids.select("vec_id"), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("embedding"))
    else {
      val bkts = bucketsOf(ids, storedIndexBuckets(snap))
      val cells = cellsOf(snap, ids, bkts)
      snap
        .readPartitions(STORE, cells)
        .join(ids.select("vec_id"), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("embedding"))
    }
  }

  /** Cells currently holding any of `ids` — [[cellsByIndex]] as the
    * ≤K-row driver read the write paths and [[fetch]] share.
    */
  private def cellsOf(
      snap: ManifestStore.Snapshot,
      ids: DataFrame,
      bkts: Seq[Long]
  ): Seq[Long] =
    cellsByIndex(snap, ids, bkts)
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toSeq

  /** The query's nProbe nearest cells, computed driver-side over the
    * K-row centroid table (deterministic tie-break on cell id).
    */
  def probeCells(cents: DataFrame, query: Seq[Float], nProbe: Int): Seq[Long] = {
    val q = query.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    cents
      .collect()
      .map { r =>
        val cell = r.getAs[Long]("cell")
        val qc = r.getAs[scala.collection.Seq[Long]]("qc")
        val d =
          if (qc.length != q.length) Long.MaxValue
          else q.iterator.zip(qc.iterator).map { case (a, b) =>
            val t = a - b; t * t
          }.sum
        (d, cell)
      }
      .sortBy(identity)
      .take(nProbe)
      .map(_._2)
      .toSeq
  }

  /** Batched serving face: serve a query TABLE against the store in
    * one composition — route every query to its nProbe nearest cells
    * against the broadcast K-row centroid table (one relational pass
    * for ALL queries, per-query WindowGroupLimit on (distance,
    * cell)), read the UNION of probed cells ONCE (manifest-pruned),
    * and take per-query top-k with one more WindowGroupLimit.
    * Per-query results ≡ the single-query [[topK]] (IvfServeSpec pins
    * the equivalence query by query; the gated sim26 row pins the
    * verdicts against the from-scratch relational oracle).
    *
    * Shape at scale: the routing join is queries × broadcast(K
    * centroids) — map-side, no shuffle of the query table; the only
    * driver read is the probed-cell union (≤ K rows, the bucket
    * domain); each probed cell's files are read once no matter how
    * many queries probe it, and each stored vector is scored only
    * against the queries probing its cell (equi-join on the dense
    * cell key against the broadcast route table), so total scoring
    * work equals the sum of the single-query calls while the store
    * I/O collapses from Σ_q |probed(q)| cell reads to |∪_q
    * probed(q)|. Routing parity with [[probeCells]]: same integer
    * micro-unit distance, same (distance, cell) tie-break, and a
    * dims-mismatched query ranks a cell last (never above a real
    * candidate cell).
    */
  def topKBatch(
      spark: SparkSession,
      path: String,
      cents: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window
      .partitionBy(col("query_id"))
      .orderBy(col("__d").asc, col("cell").asc)
    val routesPlan = queries
      .select(col("query_id"), quant(col("qv")).as("qq"))
      .crossJoin(broadcast(cents))
      .select(
        col("query_id"),
        col("qq"),
        col("cell"),
        when(size(col("qq")) === size(col("qc")), dist2(col("qq"), col("qc")))
          .otherwise(lit(Long.MaxValue))
          .as("__d")
      )
      .withColumn("__r", row_number().over(wProbe))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("qq"), col("cell"))
    // materialized ONCE to the driver: the caller's query lineage
    // (possibly an expensive pipeline) must not re-run for the
    // cell-union read below AND the scoring join. The route table is
    // broadcast into the scoring join anyway, so it is driver-sized
    // BY CONSTRUCTION (batch × nProbe rows) — rebuilding it as a
    // local relation keeps one lineage execution with NOTHING cached
    // (no localCheckpoint to leak across serve calls).
    val routeRows = routesPlan.collect()
    val routes = spark.createDataFrame(
      java.util.Arrays.asList(routeRows: _*),
      routesPlan.schema
    )
    // the probed-cell UNION: derived from the same driver read
    val cells = routeRows.map(_.getLong(2)).distinct.toSeq
    val wRank = Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("vec_id").asc)
    ManifestStore
      .snapshot(spark, path)
      .readPartitions(STORE, cells)
      .join(broadcast(routes), Seq("cell"))
      // per-query dims contract, mirroring topK's scan filter
      .filter(size(col("embedding")) === size(col("qq")))
      .select(
        col("query_id"),
        col("vec_id"),
        col("cell"),
        dist2(quant(col("embedding")), col("qq")).as("dist2")
      )
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cell"), col("dist2"),
        col("rank"))
  }

  /** Exact top-k within the probed cells: only the probed cells'
    * files resolve through the manifest, scoring is exact integer L2,
    * ties break on vec_id.
    */
  def topK(
      spark: SparkSession,
      path: String,
      cents: DataFrame,
      query: Seq[Float],
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val cells = probeCells(cents, query, nProbe)
    val q = query.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val qLit = array(q.map(lit(_)): _*)
    ManifestStore
      .snapshot(spark, path)
      .readPartitions(STORE, cells)
      // dims contract (the sim07/sim11 discipline): a ragged row would
      // score NULL and NULLS-FIRST would rank it ABOVE every real hit
      .filter(size(col("embedding")) === lit(query.length))
      .select(
        col("vec_id"),
        col("cell"),
        dist2(quant(col("embedding")), qLit).as("dist2")
      )
      .orderBy(col("dist2"), col("vec_id"))
      .limit(k)
  }
}
