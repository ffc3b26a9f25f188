package graft.ops

import graft.Tables
import graft.sources.ManifestStore
import graft.sources.ManifestStore.Bound
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 storage rows: partition-spec evolution, keyed MERGE, the
  * live manifest tail, row-group zone maps, column mapping — the
  * remaining table-format surface a production lakehouse runs daily
  * on top of the [[graft.sources.ManifestStore]] core (q112–q119).
  * Same discipline as [[StorageQueries]]: every row builds a scratch
  * store from the fixture, exercises the mechanism end to end, and
  * emits ONLY fixture-derivable columns so the DuckDB oracle gates the
  * whole path.
  */
object StorageQueries2 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  private def h32l(c: org.apache.spark.sql.Column) =
    graft.functions.PortableHash.h32(c.cast("string")).cast("long")

  private def baseDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))

  /** q120: PARTITION-SPEC EVOLUTION gated — re-partitioning a live
    * table WITHOUT rewriting it (Iceberg's spec evolution; the
    * alternative at 100 TB is a full-store Replace). Inside a scratch
    * root: (v1) the even-id half commits partitioned by `source`;
    * (v2) [[graft.sources.ManifestStore.evolvePartitionSpec]] flips
    * the current spec to `lang` — a METADATA-ONLY commit, not one
    * file moved; (v3) the odd-id half upserts under the NEW spec and
    * lands beside the old generation. Three probes then pin the
    * read surface: a `source`-value probe (prunes the source-spec
    * generation to one entry, conservatively keeps every lang-spec
    * entry — per-spec pruning, Iceberg's rule), a `lang`-value probe
    * (the mirror image), and a time-travel read of v1 (the old spec,
    * old generation only). Each probe reports the manifest's
    * total/kept file census plus count / payload sum / Σ h32 from the
    * pruned scan; the oracle re-derives the censuses from distinct
    * counts and the aggregates from parity arithmetic — a probe that
    * prunes an other-spec file (unsound), forgets the residual
    * filter, or lets the generations collide diverges at the gate.
    * PartitionSpecEvolutionSpec pins the metadata-only property, the
    * spec-qualified partition keys, and the single-spec
    * no-residual-filter plan.
    */
  private val specEvolution: Q = (s, dir) => {
    val docs = baseDocs(s, dir)
    graft.sources.Scratch.withTempDir("graft-q120") { path =>
      val gen1 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val gen2 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      ManifestStore.write(gen1, path, Seq("source"))                // v1
      ManifestStore.evolvePartitionSpec(s, path,
        ManifestStore.MAIN, Seq("lang"))                            // v2
      ManifestStore.upsertPartitions(gen2, path, Seq("lang"))      // v3
      val v3 = ManifestStore.snapshot(s, path)
      val src0 = docs.select(min(col("source"))).head.getString(0)
      val lang0 = docs.select(min(col("lang"))).head.getString(0)
      def probe(name: String, colName: String, value: String) = {
        val (kept, total) = v3.partitionProbeFilesBox(
          ManifestStore.MAIN, Seq(colName -> Set(value)))
        v3.readPartitionBox(ManifestStore.MAIN, Seq(colName -> Seq(value)))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars_sum"),
            sum(h32l(col("doc_id"))).as("doc_fp"))
          .select(lit(name).as("probe"),
            lit(total.toLong).as("files_total"),
            lit(kept.length.toLong).as("files_kept"),
            col("n_docs"), col("chars_sum"), col("doc_fp"))
      }
      val v1 = ManifestStore.snapshotAt(s, path, 1)
      val pre = v1.read()
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"),
          sum(h32l(col("doc_id"))).as("doc_fp"))
        .select(lit("p3_pre_evolve").as("probe"),
          lit(v1.filePaths().length.toLong).as("files_total"),
          lit(v1.filePaths().length.toLong).as("files_kept"),
          col("n_docs"), col("chars_sum"), col("doc_fp"))
      probe("p1_source", "source", src0)
        .unionByName(probe("p2_lang", "lang", lang0))
        .unionByName(pre)
        .orderBy("probe")
        .localCheckpoint(true)
    }
  }

  /** cdc22: keyed MERGE INTO gated — the writer that joins the repo's
    * two halves: [[graft.cdc.Materializer]]'s latest-wins semantics
    * (cdc01/cdc05) and the manifest store's atomic commit (q112+).
    * Two change batches hit the corpus store, EACH DELIVERED TWICE
    * (the foreachBatch at-least-once schedule): batch 1 updates every
    * 5th doc (+1e6), deletes every 7th≡3, inserts re-keyed copies of
    * every 11th≡0; batch 2 deletes every 10th≡0 and RE-INSERTS the
    * odd half of batch 1's deletes (+5e5) — the op every naive
    * DV design breaks on (the vector must not kill the new row).
    * [[graft.sources.MergeInto]] lands each batch as ONE
    * merge-on-read commit: the upsert rows appended as new files, one
    * sequence-scoped vector run that kills only the keys' older
    * copies, ledger-gated exactly-once (the version column pins that
    * redeliveries mint nothing). The oracle derives the final state from modulus
    * arithmetic — within-batch latest-wins included (a doc both
    * updated and deleted in batch 1 dies; its odd half returns at
    * +5e5). MergeIntoSpec pins merge ≡ one-shot materialize, the
    * stale-row-resurrection guard, and emptied-partition drops at
    * materialization.
    */
  private val mergeInto: Q = (s, dir) => {
    import graft.sources.{DeletionVectors, MergeInto}
    val docs = baseDocs(s, dir).drop("lang")
    graft.sources.Scratch.withTempDir("graft-cdc22") { path =>
      ManifestStore.write(docs, path, Seq("source"))               // v1
      val k = col("doc_id")
      def ev(df: DataFrame, op: String, ts: Long, seq: Long) =
        df.select(col("doc_id"), col("source"), col("n_chars"),
          lit(op).as("op"), lit(ts).as("ts"), lit(seq).as("seq"))
      val b1 = ev(docs.filter(pmod(k, lit(5)) === 0)
        .withColumn("n_chars", col("n_chars") + lit(1000000L)), "U", 1, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(7)) === 3), "D", 1, 2))
        .unionByName(ev(docs.filter(pmod(k, lit(11)) === 0)
          .withColumn("doc_id", k + lit(10000L)), "I", 1, 3))
      val b2 = ev(docs.filter(pmod(k, lit(10)) === 0), "D", 2, 1)
        .unionByName(ev(
          docs.filter(pmod(k, lit(7)) === 3 && pmod(k, lit(2)) === 1)
            .withColumn("n_chars", col("n_chars") + lit(500000L)), "I", 2, 2))
      Seq((b1, 0L), (b2, 1L)).foreach { case (b, id) =>
        MergeInto.merge(s, path, b, "cdc22", id)
        MergeInto.merge(s, path, b, "cdc22", id) // redelivery: no-op
      }
      val snap = ManifestStore.snapshot(s, path)
      DeletionVectors.read(snap)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"),
          sum(h32l(col("doc_id"))).as("doc_fp"))
        .withColumn("version", lit(snap.version))
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  /** stream26: the LIVE manifest tail gated — the store as a
    * streaming CDC source end to end, the consume-side twin of
    * stream24's exactly-once ingest and the live form of stream25's
    * batch replay. The source lives four commits (corpus; bucket-0
    * payload shift + re-keyed inserts; a DV delete of every 97th doc;
    * its materialization — logically SILENT), and
    * [[graft.streaming.StreamManifestTail]] drains it rate-limited to
    * 2 hops per poll into a per-source (count, payload-sum) view
    * committed to the consumer's OWN store, cursor = the target
    * ledger's highest applied source version — persisted state riding
    * the same atomic swap as the view (kill-and-restart and
    * independent-sinks pinned in StreamManifestTailSpec). The gated
    * row emits the drained view beside the one-hop skip-level fold
    * (telescoping) and the head recompute; the oracle derives the
    * final state once from fixture arithmetic and emits it three
    * times — a tail that double-applies a hop, re-announces the
    * materialization, or loses the DV deletes diverges at the gate.
    */
  private val manifestTail: Q = (s, dir) => {
    import graft.sources.DeletionVectors
    import graft.streaming.StreamManifestTail
    val docs = baseDocs(s, dir).drop("lang")
      .withColumn("bucket", expr("CAST(doc_id DIV 100 AS BIGINT)"))
    def init(state: DataFrame): DataFrame =
      state.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_sum"))
    def fold(view: DataFrame, feed: DataFrame): DataFrame = {
      val deltas = feed.select(col("source"),
        when(col("op") === "insert", lit(1L))
          .when(col("op") === "delete", lit(-1L))
          .otherwise(lit(0L)).as("dd"),
        (coalesce(col("payload_new"), lit(0L)) -
          coalesce(col("payload_old"), lit(0L))).as("dc"))
        .groupBy(col("source"))
        .agg(sum(col("dd")).as("dd"), sum(col("dc")).as("dc"))
      view.join(deltas, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("n_docs"), lit(0L)) +
            coalesce(col("dd"), lit(0L))).as("n_docs"),
          (coalesce(col("chars_sum"), lit(0L)) +
            coalesce(col("dc"), lit(0L))).as("chars_sum"))
    }
    graft.sources.Scratch.withTempDir("graft-stream26") { path =>
      val src = path + "/src"
      val tgt = path + "/tgt"
      ManifestStore.write(docs, src, Seq("bucket"))                 // v1
      ManifestStore.upsertPartitions(                                // v2
        docs.filter(col("bucket") === 0)
          .withColumn("n_chars", col("n_chars") + lit(1000000L))
          .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 0)
            .withColumn("doc_id", col("doc_id") + lit(7000L))
            .withColumn("bucket", expr("CAST(doc_id DIV 100 AS BIGINT)"))),
        src, Seq("bucket"))
      DeletionVectors.delete(s, src, ManifestStore.MAIN, "doc_id",  // v3
        docs.filter(pmod(col("doc_id"), lit(97)) === 0)
          .select(col("doc_id")))
      DeletionVectors.materialize(s, src, ManifestStore.MAIN,       // v4
        "doc_id")
      // DELTA-FOLD maintenance: the view store is partitioned by
      // `source`, each hop upserts only the partitions its feed
      // touches — O(changed partitions) per hop, not O(view)
      StreamManifestTail.tailToEnd(s, src, tgt, "stream26",
        maxVersions = 2, extraCols = Seq("source"),
        viewPartitionCols = Seq("source"))(init, fold)
      val tail = ManifestStore.read(s, tgt)
        .select(col("source"), col("n_docs").as("n_tail"),
          col("chars_sum").as("chars_tail"))
      val s1 = ManifestStore.snapshotAt(s, src, 1)
      val s4 = ManifestStore.snapshotAt(s, src, 4)
      val skip = fold(init(DeletionVectors.read(s1)),
        DeletionVectors.logicalFeed(s, src, s1, s4,
          extraCols = Seq("source")))
        .select(col("source"), col("n_docs").as("n_skip"),
          col("chars_sum").as("chars_skip"))
      val full = init(DeletionVectors.read(s4))
        .select(col("source"), col("n_docs").as("n_full"),
          col("chars_sum").as("chars_full"))
      tail.join(skip, Seq("source"))
        .join(full, Seq("source"))
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  /** q121: ROW-GROUP zone maps gated — intra-file skipping on a
    * COMPACTED store, the granularity q114/q116's file-level stats
    * lose the moment [[graft.sources.Compaction]] produces large
    * multi-row-group files. The corpus (40 shifted copies — 20k
    * docs with their text payloads) compacts into ONE id-sorted file
    * written with a fixed row count per row group; the commit's footer
    * pass records each ROW GROUP's (rows, doc_id bounds) into the
    * manifest ([[graft.sources.ManifestStore.RowGroupStat]] — only
    * for multi-group files, single-group files pay nothing). A
    * quartile range probe then reads through
    * [[graft.sources.ManifestStore.Snapshot.readBox]]: the
    * group-level census proves most of the file skips without
    * opening it (`intra_skip`), and the pushed-down residual makes
    * the scan itself read only the intersecting groups
    * (RowGroupStatsSpec pins rows-scanned < file rows via scan
    * metrics, plus the range-in-gap file drop and the exactness ≡
    * plain filter). The oracle re-derives the range aggregates from
    * the same 40-copy expansion; the census flags gate as 1/0
    * columns — a store that lands single-group, or a census that
    * cannot skip, diverges.
    */
  private val rowGroupSkipping: Q = (s, dir) => {
    // the 40 shifted copies in ONE scan (explode over the copy index)
    // — the r11 40-arm unionByName paid 40 separate parquet
    // schema-inference jobs plus a 40-leaf plan to analyze, ~4 s of
    // q121's 6.2 s at sf0.1 for the same row multiset
    val wide = Tables(s, dir).documents
      .select(col("doc_id"), col("text"),
        col("n_chars").cast("long").as("n_chars"))
      .select(explode(sequence(lit(0L), lit(39L))).as("__i"),
        col("doc_id"), col("text"), col("n_chars"))
      .select((col("doc_id") + lit(500L) * col("__i")).as("doc_id"),
        col("text"), col("n_chars"))
    graft.sources.Scratch.withTempDir("graft-q121") { path =>
      // repartition(1) + sortWithinPartitions: the scan/explode map
      // side runs parallel, only the final sort + single-file write is
      // one task (the fixture needs ONE id-clustered multi-group
      // file; the r11 coalesce(1) pulled the whole pipeline into that
      // one task). 2,000 rows per row group keeps the file
      // multi-group whatever its payloads weigh (10 groups at 500
      // documents, 100 at 5,000); a byte-sized block did not.
      ManifestStore.commit(path, Seq(ManifestStore.stage(
        wide.repartition(1).sortWithinPartitions("doc_id"),
        path, ManifestStore.MAIN, Seq.empty, ManifestStore.Replace,
        writerOptions = Map(
          "parquet.block.row.count.limit" -> "2000",
          "parquet.page.size" -> (64 * 1024).toString))))
      val snap = ManifestStore.snapshot(s, path)
      val bounds = Seq(Bound.LongRange("doc_id", 5000L, 7499L))
      val sc = snap.screen(ManifestStore.MAIN, bounds)
      snap.readBox(ManifestStore.MAIN, bounds)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"),
          sum(h32l(col("doc_id"))).as("doc_fp"))
        .select(col("n_docs"), col("chars_sum"), col("doc_fp"),
          lit(if (sc.groupsTotal > 1) 1L else 0L).as("multi_group"),
          lit(if (sc.groupsKept < sc.groupsTotal && sc.rowsKept < sc.rowsTotal) 1L
            else 0L).as("intra_skip"))
        .localCheckpoint(true)
    }
  }

  /** q122: COLUMN MAPPING gated — rename without rewrite (Delta's
    * id-based column mapping / Iceberg field ids), the schema
    * evolution q110's additive path cannot give: every data file
    * carries its columns' STABLE field ids in the parquet schema
    * (written at stage time), reads resolve by id, so
    * [[graft.sources.ManifestStore.renameColumn]] is one metadata
    * commit after which the OLD generation's files serve the NEW name
    * byte-for-byte. The scenario: the even half commits with a
    * `content` column (v1); `content` renames to `body` (v2 — not a
    * file moved, ColumnMappingSpec pins filePaths equality); the odd
    * half appends under `body` (v3). The gated row reads BOTH
    * generations at head under `body` (per-parity counts, payload
    * sums, Σ h32 of the TEXT — a by-name fallback would null the old
    * generation's column and zero its fingerprint) plus the
    * time-travel read at v1 under the ORIGINAL name. The oracle
    * derives all three from fixture parity arithmetic.
    * ColumnMappingSpec additionally pins id stability across rename /
    * Replace, no-id-recycling after a drop, partition-column refusal,
    * checkpoint round-trip, and the feed across a rename.
    */
  private val columnMapping: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
      .select(col("doc_id"), col("source"), col("text").as("content"),
        col("n_chars").cast("long").as("n_chars"))
    graft.sources.Scratch.withTempDir("graft-q122") { path =>
      val gen1 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val gen2 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .withColumnRenamed("content", "body")
      ManifestStore.write(gen1, path, Seq("source"))                // v1
      ManifestStore.renameColumn(s, path,
        ManifestStore.MAIN, "content", "body")                      // v2
      ManifestStore.append(gen2, path, Seq("source"))               // v3
      val head = ManifestStore.read(s, path)
      def probe(name: String, df: DataFrame, textCol: String) =
        df.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"),
          sum(h32l(col(textCol))).as("text_fp"))
          .select(lit(name).as("probe"),
            col("n_docs"), col("chars_sum"), col("text_fp"))
      probe("g1_head_even",
        head.filter(pmod(col("doc_id"), lit(2)) === 0), "body")
        .unionByName(probe("g2_head_odd",
          head.filter(pmod(col("doc_id"), lit(2)) === 1), "body"))
        .unionByName(probe("g3_v1_content",
          ManifestStore.snapshotAt(s, path, 1).read(), "content"))
        .orderBy("probe")
        .localCheckpoint(true)
    }
  }

  val queries: Map[String, Q] = named(
    "q120_spec_evolution" -> specEvolution,
    "cdc22_merge_into" -> mergeInto,
    "stream26_manifest_tail" -> manifestTail,
    "q121_rowgroup_skipping" -> rowGroupSkipping,
    "q122_column_mapping" -> columnMapping
  )

  private def h = graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")

  val oracle: Map[String, String] = named(
    // censuses from distinct counts (1 file per partition value — the
    // stage contract), aggregates from parity arithmetic: the source
    // probe keeps 1 source file + every lang file (other-spec files
    // cannot be pruned by a source value), the lang probe mirrors it,
    // and the pre-evolve read sees the even generation only
    "q120_spec_evolution" ->
      s"""WITH d AS (SELECT doc_id, source, lang,
         |    CAST(n_chars AS BIGINT) AS n_chars FROM documents),
         |g1 AS (SELECT * FROM d WHERE doc_id % 2 = 0),
         |g2 AS (SELECT * FROM d WHERE doc_id % 2 = 1),
         |ns AS (SELECT COUNT(DISTINCT source) AS n FROM g1),
         |nl AS (SELECT COUNT(DISTINCT lang) AS n FROM g2),
         |pr AS (SELECT (SELECT MIN(source) FROM d) AS src0,
         |    (SELECT MIN(lang) FROM d) AS lang0),
         |r AS (
         |  SELECT 'p1_source' AS probe, ns.n + nl.n AS ft, nl.n + 1 AS fk,
         |    (SELECT COUNT(*) FROM d, pr WHERE source = src0) AS n,
         |    (SELECT SUM(n_chars) FROM d, pr WHERE source = src0) AS cs,
         |    (SELECT SUM($h) FROM d, pr WHERE source = src0) AS fp
         |  FROM ns, nl
         |  UNION ALL
         |  SELECT 'p2_lang', ns.n + nl.n, ns.n + 1,
         |    (SELECT COUNT(*) FROM d, pr WHERE lang = lang0),
         |    (SELECT SUM(n_chars) FROM d, pr WHERE lang = lang0),
         |    (SELECT SUM($h) FROM d, pr WHERE lang = lang0)
         |  FROM ns, nl
         |  UNION ALL
         |  SELECT 'p3_pre_evolve', ns.n, ns.n,
         |    (SELECT COUNT(*) FROM g1),
         |    (SELECT SUM(n_chars) FROM g1),
         |    (SELECT SUM($h) FROM g1)
         |  FROM ns)
         |SELECT probe,
         |  CAST(ft AS BIGINT) AS files_total,
         |  CAST(fk AS BIGINT) AS files_kept,
         |  CAST(n AS BIGINT) AS n_docs,
         |  CAST(cs AS BIGINT) AS chars_sum,
         |  CAST(fp AS BIGINT) AS doc_fp
         |FROM r ORDER BY probe""".stripMargin,
    // the merged state from modulus arithmetic, latest-wins applied:
    // dead = every 10th≡0 (batch 2) plus the even every-7th≡3 (batch
    // 1 delete, not reinserted); a surviving 7th≡3 is odd and carries
    // the +5e5 reinsert payload (beating the same batch's +1e6 update
    // by seq); other 5th≡0 survivors carry +1e6; re-keyed inserts of
    // every 11th≡0 live untouched; version = 3 (redeliveries mint no
    // commit)
    "cdc22_merge_into" ->
      s"""WITH d AS (SELECT doc_id AS k, source,
         |    CAST(n_chars AS BIGINT) AS c FROM documents),
         |fin AS (
         |  SELECT k AS doc_id, source,
         |    CASE WHEN k % 7 = 3 THEN c + 500000
         |         WHEN k % 5 = 0 THEN c + 1000000
         |         ELSE c END AS n_chars
         |  FROM d
         |  WHERE NOT (k % 10 = 0 OR (k % 7 = 3 AND k % 2 = 0))
         |  UNION ALL
         |  SELECT k + 10000, source, c FROM d WHERE k % 11 = 0)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         |  CAST(SUM($h) AS BIGINT) AS doc_fp,
         |  CAST(3 AS BIGINT) AS version
         |FROM fin GROUP BY source ORDER BY source""".stripMargin,
    // the drained state once, emitted three ways: bucket-0 docs
    // (ids < 100) shifted +1e6, every 5th re-keyed at +7000 with its
    // original payload, every 97th ORIGINAL id logically deleted —
    // the materialize commit contributes nothing
    "stream26_manifest_tail" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(n_chars AS BIGINT) AS c FROM documents),
         |fin AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id < 100 THEN c + 1000000 ELSE c END AS c
         |  FROM d WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id + 7000, source, c FROM d WHERE doc_id % 5 = 0)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_tail,
         |  CAST(SUM(c) AS BIGINT) AS chars_tail,
         |  CAST(COUNT(*) AS BIGINT) AS n_skip,
         |  CAST(SUM(c) AS BIGINT) AS chars_skip,
         |  CAST(COUNT(*) AS BIGINT) AS n_full,
         |  CAST(SUM(c) AS BIGINT) AS chars_full
         |FROM fin GROUP BY source ORDER BY source""".stripMargin,
    // range aggregates over the same 40-copy expansion; the census
    // flags are gated constants — a single-group landing or a
    // skip-less census reads 0 and diverges
    "q121_rowgroup_skipping" ->
      s"""WITH w AS (SELECT d.doc_id + 500 * t.i AS doc_id,
         |    CAST(d.n_chars AS BIGINT) AS c
         |  FROM documents d CROSS JOIN range(0, 40) t(i)),
         |sel AS (SELECT COUNT(*) AS n, SUM(c) AS cs, SUM($h) AS fp
         |  FROM w WHERE doc_id BETWEEN 5000 AND 7499)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  CAST(cs AS BIGINT) AS chars_sum,
         |  CAST(fp AS BIGINT) AS doc_fp,
         |  CAST(1 AS BIGINT) AS multi_group,
         |  CAST(1 AS BIGINT) AS intra_skip
         |FROM sel""".stripMargin,
    // parity arithmetic over the fixture text: the head serves BOTH
    // generations' text under the renamed column (an engine that
    // falls back to by-name matching nulls the even generation's
    // text and zeroes g1's fingerprint), v1 serves the original name
    "q122_column_mapping" -> {
      val ht = graft.functions.PortableHash.sqlH32("text")
      s"""WITH d AS (SELECT doc_id, text,
         |    CAST(n_chars AS BIGINT) AS c FROM documents),
         |r AS (
         |  SELECT 'g1_head_even' AS probe, COUNT(*) AS n, SUM(c) AS cs,
         |    SUM($ht) AS fp FROM d WHERE doc_id % 2 = 0
         |  UNION ALL
         |  SELECT 'g2_head_odd', COUNT(*), SUM(c), SUM($ht)
         |  FROM d WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT 'g3_v1_content', COUNT(*), SUM(c), SUM($ht)
         |  FROM d WHERE doc_id % 2 = 0)
         |SELECT probe, CAST(n AS BIGINT) AS n_docs,
         |  CAST(cs AS BIGINT) AS chars_sum,
         |  CAST(fp AS BIGINT) AS text_fp
         |FROM r ORDER BY probe""".stripMargin
    }
  )
}
