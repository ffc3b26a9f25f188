package graft.ops

import graft.Tables
import graft.sources.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 storage rows: the manifest log as a REAL Structured
  * Streaming source (`stream27`) and multi-column partition-spec
  * probes (`q123`) — the next table-format surface on top of the
  * round-11 lakehouse verbs. Same discipline as [[StorageQueries]]:
  * every row builds a scratch store from the fixture, exercises the
  * mechanism end to end, and emits ONLY fixture-derivable columns so
  * the DuckDB oracle gates the whole path.
  */
object StorageQueries3 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  private def h32l(c: org.apache.spark.sql.Column) =
    graft.functions.PortableHash.h32(c.cast("string")).cast("long")

  private def baseDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))

  /** stream27: the manifest log consumed through
    * `spark.readStream.format("graft-manifest")` gated — the source
    * registered in [[graft.sources.GraftManifestSource]] feeding an
    * ORDINARY sink with the engine's own checkpoints, the shape
    * stream26's library tail cannot give (its cursor needs a target
    * ManifestStore; this one runs anywhere a writeStream runs). The
    * store lives the stream26 history — corpus (v1), bucket-0 payload
    * shift + re-keyed inserts (v2), a DV delete of every 97th doc
    * (v3), its logically-SILENT materialization (v4) — but the
    * consumer is a LIVE streaming query started when only v1 exists:
    * batch 0 is the baseline-as-inserts, each later commit arrives as
    * its own micro-batch feed (the query is drained between commits),
    * and the memory sink accumulates raw feed rows. Because per-hop
    * feeds are DELTAS between consecutive logical states, the
    * additive fold over ALL accumulated rows telescopes to the final
    * state — emitted beside the one-hop skip-level fold and the head
    * recompute (the stream26 three-way gate). A source that re-emits
    * the baseline, double-applies a hop, announces the
    * materialization, or loses the DV deletes diverges.
    * GraftManifestSourceSpec pins kill-and-restart on the ENGINE
    * checkpoint and the vacuumed-history error.
    */
  private val manifestSource: Q = (s, dir) => {
    import graft.sources.DeletionVectors
    val docs = baseDocs(s, dir).drop("lang")
      .withColumn("bucket", expr("CAST(doc_id DIV 100 AS BIGINT)"))
    def fold(rows: DataFrame): DataFrame =
      rows.select(col("source"),
        when(col("op") === "insert", lit(1L))
          .when(col("op") === "delete", lit(-1L))
          .otherwise(lit(0L)).as("dd"),
        (coalesce(col("payload_new"), lit(0L)) -
          coalesce(col("payload_old"), lit(0L))).as("dc"))
        .groupBy(col("source"))
        .agg(sum(col("dd")).as("n_docs"), sum(col("dc")).as("chars_sum"))
    graft.sources.Scratch.withTempDir("graft-stream27") { path =>
      val src = path + "/src"
      ManifestStore.write(docs, src, Seq("bucket"))                  // v1
      val q = s.readStream.format("graft-manifest")
        .option("root", src).option("extraCols", "source")
        .load()
        .writeStream.format("memory").queryName("graft_stream27")
        .option("checkpointLocation", path + "/ckpt")
        .outputMode("append")
        .start()
      try {
        q.processAllAvailable() // batch 0: baseline at v1
        ManifestStore.upsertPartitions(                               // v2
          docs.filter(col("bucket") === 0)
            .withColumn("n_chars", col("n_chars") + lit(1000000L))
            .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 0)
              .withColumn("doc_id", col("doc_id") + lit(7000L))
              .withColumn("bucket", expr("CAST(doc_id DIV 100 AS BIGINT)"))),
          src, Seq("bucket"))
        q.processAllAvailable() // the v2 hop
        DeletionVectors.delete(s, src, ManifestStore.MAIN, "doc_id",  // v3
          docs.filter(pmod(col("doc_id"), lit(97)) === 0)
            .select(col("doc_id")))
        q.processAllAvailable() // the DV hop
        DeletionVectors.materialize(s, src, ManifestStore.MAIN,       // v4
          "doc_id")
        q.processAllAvailable() // the silent hop
        val streamed = fold(s.table("graft_stream27"))
          .select(col("source"), col("n_docs").as("n_stream"),
            col("chars_sum").as("chars_stream"))
        val s1 = ManifestStore.snapshotAt(s, src, 1)
        val s4 = ManifestStore.snapshotAt(s, src, 4)
        val skip = fold(
          DeletionVectors.read(s1)
            .select(col("doc_id"), col("n_chars").as("payload_new"),
              lit(null).cast("long").as("payload_old"),
              lit("insert").as("op"), col("source"))
            .unionByName(DeletionVectors.logicalFeed(s, src, s1, s4,
              extraCols = Seq("source"))
              .select(col("doc_id"), col("payload_new"),
                col("payload_old"), col("op"), col("source"))))
          .select(col("source"), col("n_docs").as("n_skip"),
            col("chars_sum").as("chars_skip"))
        val full = DeletionVectors.read(s4)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_full"), sum(col("n_chars")).as("chars_full"))
        streamed.join(skip, Seq("source"))
          .join(full, Seq("source"))
          .orderBy("source")
          .localCheckpoint(true)
      } finally {
        q.stop()
        s.catalog.dropTempView("graft_stream27")
      }
    }
  }

  /** q123: MULTI-COLUMN partition-spec probes gated — spec evolution
    * into a COMPOUND layout (`source` alone → `source` × `lang`,
    * Iceberg's add-a-partition-field move) with per-spec pruning over
    * value BOXES, the surface q120's single-column probes cannot
    * reach. The even-id half commits under `(source)` (v1); the spec
    * evolves to `(source, lang)` — metadata-only (v2); the odd half
    * upserts under the compound spec (v3). Probes at v3:
    * `p1_box` prunes a (source0, lang0) box — compound-spec entries
    * prune on BOTH axes, old-spec entries prune on their own `source`
    * axis (sound per axis: an entry keyed by a column provably holds
    * only that value) and keep the `lang` residual; `p2_lang` probes
    * `lang` alone — old-spec entries lack the axis and scan
    * conservatively. Then [[graft.sources.ManifestStore.migrateSpec]]
    * rewrites the old generation into the compound spec (v4) and
    * `p3_migrated` re-probes the box on the now single-spec table —
    * pure metadata prune, no residual (MultiColSpecSpec pins the
    * no-residual plan and the probe soundness). Censuses ride the
    * one-file-per-partition-per-write stage contract; the oracle
    * re-derives every census from DISTINCT counts and the aggregates
    * from parity arithmetic.
    */
  private val multiColSpec: Q = (s, dir) => {
    val docs = baseDocs(s, dir)
    graft.sources.Scratch.withTempDir("graft-q123") { path =>
      val gen1 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val gen2 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      ManifestStore.write(gen1, path, Seq("source"))                 // v1
      ManifestStore.evolvePartitionSpec(s, path,
        ManifestStore.MAIN, Seq("source", "lang"))                   // v2
      ManifestStore.upsertPartitions(gen2, path,
        Seq("source", "lang"))                                       // v3
      val src0 = docs.select(min(col("source"))).head.getString(0)
      val lang0 = docs.select(min(col("lang"))).head.getString(0)
      def probe(name: String, snap: ManifestStore.Snapshot,
          box: Seq[(String, Seq[Any])]) = {
        val (kept, total) = snap.partitionProbeFilesBox(ManifestStore.MAIN,
          box.map { case (c, vs) => (c, vs.map(_.toString).toSet) })
        snap.readPartitionBox(ManifestStore.MAIN, box)
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars_sum"),
            sum(h32l(col("doc_id"))).as("doc_fp"))
          .select(lit(name).as("probe"),
            lit(total.toLong).as("files_total"),
            lit(kept.length.toLong).as("files_kept"),
            col("n_docs"), col("chars_sum"), col("doc_fp"))
      }
      val v3 = ManifestStore.snapshot(s, path)
      val p1 = probe("p1_box", v3,
        Seq("source" -> Seq(src0), "lang" -> Seq(lang0)))
      val p2 = probe("p2_lang", v3, Seq("lang" -> Seq(lang0)))
      ManifestStore.migrateSpec(s, path)                             // v4
      val v4 = ManifestStore.snapshot(s, path)
      val p3 = probe("p3_migrated", v4,
        Seq("source" -> Seq(src0), "lang" -> Seq(lang0)))
      p1.unionByName(p2).unionByName(p3)
        .orderBy("probe")
        .localCheckpoint(true)
    }
  }

  /** cdc23: the log-structured deletion vector's LIFECYCLE gated —
    * the r12 redesign end to end: three keyed MERGE batches (each
    * REDELIVERED — the at-least-once schedule) interleave deletes,
    * updates, and re-inserts of previously-deleted keys, every batch
    * APPENDING one O(batch) record run to the `__dv` sidecar
    * (sequence-scoped records that kill only older copies, reduced to
    * the max per id on read — no batch ever rewrites the vector,
    * MergeIntoSpec's churn arm pins the bytes);
    * [[graft.sources.DeletionVectors.compactDv]] collapses the pile
    * mid-history to ONE sorted run WITHOUT touching a data file, and
    * a further merge lands on top of the compacted vector (its new
    * records still supersede — seq ordering survives compaction).
    * The gated row emits the final per-source state plus the version
    * arithmetic (redeliveries mint nothing) and the vector's file
    * census after compaction (1) and at head (2) — an engine whose
    * compaction loses a re-insert, resurrects a delete, or whose merge
    * rewrites instead of appending diverges. The oracle derives the
    * final state from modulus arithmetic with batch precedence
    * applied (a key both re-inserted and deleted WITHIN a batch
    * follows the batch's (ts, seq) order).
    */
  private val dvCompact: Q = (s, dir) => {
    import graft.sources.{DeletionVectors, MergeInto}
    val docs = baseDocs(s, dir).drop("lang")
    graft.sources.Scratch.withTempDir("graft-cdc23") { path =>
      ManifestStore.write(docs, path, Seq("source"))               // v1
      val k = col("doc_id")
      def ev(df: DataFrame, op: String, ts: Long, seq: Long) =
        df.select(col("doc_id"), col("source"), col("n_chars"),
          lit(op).as("op"), lit(ts).as("ts"), lit(seq).as("seq"))
      val b1 = ev(docs.filter(pmod(k, lit(5)) === 1)
        .withColumn("n_chars", col("n_chars") + lit(1000000L)), "U", 1, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(7)) === 2), "D", 1, 2))
      val b2 = ev(docs.filter(pmod(k, lit(7)) === 2 && pmod(k, lit(2)) === 1)
        .withColumn("n_chars", col("n_chars") + lit(300000L)), "I", 2, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(9)) === 4), "D", 2, 2))
      val b3 = ev(docs.filter(pmod(k, lit(11)) === 5), "D", 3, 1)
        .unionByName(ev(
          docs.filter(pmod(k, lit(9)) === 4 && pmod(k, lit(2)) === 0)
            .withColumn("n_chars", col("n_chars") + lit(700000L)), "I", 3, 2))
      Seq((b1, 0L), (b2, 1L)).foreach { case (b, id) =>
        MergeInto.merge(s, path, b, "cdc23", id)
        MergeInto.merge(s, path, b, "cdc23", id) // redelivery: no-op
      }
      DeletionVectors.compactDv(s, path, ManifestStore.MAIN, "doc_id") // v4
      val dvName = DeletionVectors.dvTable(ManifestStore.MAIN)
      val filesAfterCompact = ManifestStore.snapshot(s, path)
        .state(dvName).partitions.values.map(_.files.length).sum
      MergeInto.merge(s, path, b3, "cdc23", 2L)                    // v5
      MergeInto.merge(s, path, b3, "cdc23", 2L)
      val snap = ManifestStore.snapshot(s, path)
      val filesFinal = snap.state(dvName).partitions.values
        .map(_.files.length).sum
      DeletionVectors.read(snap)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"),
          sum(h32l(col("doc_id"))).as("doc_fp"))
        .withColumn("version", lit(snap.version))
        .withColumn("dv_files_compacted", lit(filesAfterCompact.toLong))
        .withColumn("dv_files_final", lit(filesFinal.toLong))
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  val queries: Map[String, Q] = named(
    "stream27_manifest_source" -> manifestSource,
    "q123_multicol_spec" -> multiColSpec,
    "cdc23_dv_compact" -> dvCompact
  )

  private def h = graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")

  val oracle: Map[String, String] = named(
    // the stream26 history drained through the streaming source: the
    // final per-source state once, emitted three ways
    "stream27_manifest_source" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(n_chars AS BIGINT) AS c FROM documents),
         |fin AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id < 100 THEN c + 1000000 ELSE c END AS c
         |  FROM d WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id + 7000, source, c FROM d WHERE doc_id % 5 = 0)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_stream,
         |  CAST(SUM(c) AS BIGINT) AS chars_stream,
         |  CAST(COUNT(*) AS BIGINT) AS n_skip,
         |  CAST(SUM(c) AS BIGINT) AS chars_skip,
         |  CAST(COUNT(*) AS BIGINT) AS n_full,
         |  CAST(SUM(c) AS BIGINT) AS chars_full
         |FROM fin GROUP BY source ORDER BY source""".stripMargin,
    // censuses from DISTINCT counts (one file per partition value per
    // staged write), aggregates from parity arithmetic. v3 files:
    // ns1 old-spec source entries + np2 compound entries. p1 keeps
    // 1 source-spec file (source axis prunes the old generation) +
    // the (src0,lang0) compound file if the odd half has that pair;
    // its ROWS are source=src0 AND lang=lang0 across BOTH halves —
    // the residual filters the old generation. p2 keeps ALL old-spec
    // files (no lang axis) + the lang0 compound files. After
    // migrateSpec every entry is compound: files = distinct pairs
    // over odd + distinct pairs over even (migrated files append
    // beside the odd generation's); p3 keeps the pair's <=2 files
    // with no residual.
    "q123_multicol_spec" ->
      s"""WITH d AS (SELECT doc_id, source, lang,
         |    CAST(n_chars AS BIGINT) AS n_chars FROM documents),
         |g1 AS (SELECT * FROM d WHERE doc_id % 2 = 0),
         |g2 AS (SELECT * FROM d WHERE doc_id % 2 = 1),
         |ns1 AS (SELECT COUNT(DISTINCT source) AS n FROM g1),
         |np2 AS (SELECT COUNT(*) AS n FROM
         |  (SELECT DISTINCT source, lang FROM g2)),
         |np1 AS (SELECT COUNT(*) AS n FROM
         |  (SELECT DISTINCT source, lang FROM g1)),
         |pr AS (SELECT (SELECT MIN(source) FROM d) AS src0,
         |    (SELECT MIN(lang) FROM d) AS lang0),
         |hit2 AS (SELECT COUNT(*) AS n FROM
         |  (SELECT DISTINCT source, lang FROM g2), pr
         |  WHERE source = src0 AND lang = lang0),
         |hit1 AS (SELECT COUNT(*) AS n FROM
         |  (SELECT DISTINCT source, lang FROM g1), pr
         |  WHERE source = src0 AND lang = lang0),
         |l2 AS (SELECT COUNT(*) AS n FROM
         |  (SELECT DISTINCT source, lang FROM g2), pr WHERE lang = lang0),
         |r AS (
         |  SELECT 'p1_box' AS probe, ns1.n + np2.n AS ft,
         |    1 + hit2.n AS fk,
         |    (SELECT COUNT(*) FROM d, pr
         |      WHERE source = src0 AND lang = lang0) AS n,
         |    (SELECT SUM(n_chars) FROM d, pr
         |      WHERE source = src0 AND lang = lang0) AS cs,
         |    (SELECT SUM($h) FROM d, pr
         |      WHERE source = src0 AND lang = lang0) AS fp
         |  FROM ns1, np2, hit2
         |  UNION ALL
         |  SELECT 'p2_lang', ns1.n + np2.n, ns1.n + l2.n,
         |    (SELECT COUNT(*) FROM d, pr WHERE lang = lang0),
         |    (SELECT SUM(n_chars) FROM d, pr WHERE lang = lang0),
         |    (SELECT SUM($h) FROM d, pr WHERE lang = lang0)
         |  FROM ns1, np2, l2
         |  UNION ALL
         |  SELECT 'p3_migrated', np1.n + np2.n, hit1.n + hit2.n,
         |    (SELECT COUNT(*) FROM d, pr
         |      WHERE source = src0 AND lang = lang0),
         |    (SELECT SUM(n_chars) FROM d, pr
         |      WHERE source = src0 AND lang = lang0),
         |    (SELECT SUM($h) FROM d, pr
         |      WHERE source = src0 AND lang = lang0)
         |  FROM np1, np2, hit1, hit2)
         |SELECT probe,
         |  CAST(ft AS BIGINT) AS files_total,
         |  CAST(fk AS BIGINT) AS files_kept,
         |  CAST(n AS BIGINT) AS n_docs,
         |  CAST(cs AS BIGINT) AS chars_sum,
         |  CAST(fp AS BIGINT) AS doc_fp
         |FROM r ORDER BY probe""".stripMargin,
    // the final state from modulus arithmetic with batch precedence:
    // b3's even 9th≡4 reinserts beat everything (incl. the same
    // batch's 11th≡5 delete, by seq); then b3 deletes, b2 deletes
    // (odd 9th≡4 stays dead), b2's odd revivals of b1's 7th≡2
    // deletes, b1's deletes (which beat the same batch's updates by
    // seq), b1's updates; redeliveries mint nothing (version 5), the
    // compacted vector is ONE run, head holds compacted + b3's run
    "cdc23_dv_compact" ->
      s"""WITH d AS (SELECT doc_id AS k, source,
         |    CAST(n_chars AS BIGINT) AS c FROM documents),
         |fin AS (
         |  SELECT k AS doc_id, source,
         |    CASE
         |      WHEN k % 9 = 4 AND k % 2 = 0 THEN c + 700000
         |      WHEN k % 7 = 2 AND k % 2 = 1 AND k % 11 <> 5
         |        AND k % 9 <> 4 THEN c + 300000
         |      WHEN k % 5 = 1 THEN c + 1000000
         |      ELSE c
         |    END AS n_chars
         |  FROM d
         |  WHERE (k % 9 = 4 AND k % 2 = 0)
         |     OR (k % 11 <> 5 AND k % 9 <> 4
         |         AND (k % 7 <> 2 OR k % 2 = 1)))
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         |  CAST(SUM($h) AS BIGINT) AS doc_fp,
         |  CAST(5 AS BIGINT) AS version,
         |  CAST(1 AS BIGINT) AS dv_files_compacted,
         |  CAST(2 AS BIGINT) AS dv_files_final
         |FROM fin GROUP BY source ORDER BY source""".stripMargin
  )
}
