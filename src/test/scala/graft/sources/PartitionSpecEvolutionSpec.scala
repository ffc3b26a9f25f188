package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Partition-spec evolution (Iceberg's spec-id discipline at its
  * minimum): [[ManifestStore.evolvePartitionSpec]] is metadata-only —
  * old entries keep their spec and files, new writes land under the
  * new spec beside them, reads union the generations, pruning applies
  * PER SPEC, and time travel across the evolution reads each
  * version's own spec.
  */
class PartitionSpecEvolutionSpec extends SparkSpec {

  private def docs =
    Tables(spark, sfDir).documents
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("evolve is metadata-only; both generations read back; pruning " +
    "applies per spec; time travel crosses the evolution") {
    val root = Scratch.tempDir("graft-specevo")
    try {
      val gen1 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val gen2 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      ManifestStore.write(gen1, root, Seq("source"))               // v1
      val v1Files = ManifestStore.snapshot(spark, root).filePaths()
      ManifestStore.evolvePartitionSpec(spark, root,
        ManifestStore.MAIN, Seq("lang"))                           // v2
      val v2 = ManifestStore.snapshot(spark, root)
      // metadata-only: not one data file changed hands
      assert(v2.filePaths() === v1Files)
      assert(v2.state(ManifestStore.MAIN).partitionCols === Seq("lang"))
      // a write in the OLD spec now refuses — the current spec governs
      intercept[IllegalArgumentException] {
        ManifestStore.upsertPartitions(gen2, root, Seq("source"))
      }
      ManifestStore.upsertPartitions(gen2, root, Seq("lang"))      // v3
      val v3 = ManifestStore.snapshot(spark, root)
      // the union of generations, each stored under its own spec
      assert(canon(v3.read()) === canon(gen1.unionByName(gen2)))
      val st = v3.state(ManifestStore.MAIN)
      assert(st.partitions.values.map(_.cols).toSet ===
        Set(Seq("source"), Seq("lang")))

      // per-spec pruning: a lang probe prunes the lang-spec entries
      // to ONE and keeps every source-spec entry (those files have no
      // lang axis — only the residual filter can exonerate their rows)
      val lang0 = docs.select(min(col("lang"))).head.getString(0)
      val nSrc = gen1.select(countDistinct(col("source"))).head.getLong(0)
      val nLang = gen2.select(countDistinct(col("lang"))).head.getLong(0)
      val (keptL, totalL) = v3.partitionProbeFilesBox(
        ManifestStore.MAIN, Seq("lang" -> Set(lang0)))
      assert(totalL === (nSrc + nLang))
      assert(keptL.length === (nSrc + 1).toInt,
        s"lang probe must keep 1 lang file + all $nSrc source files")
      assert(canon(v3.readPartitionBox(ManifestStore.MAIN, Seq("lang" -> Seq(lang0))))
        === canon(docs.filter(col("lang") === lang0)))
      // ...and symmetrically for a source probe
      val src0 = docs.select(min(col("source"))).head.getString(0)
      val (keptS, _) = v3.partitionProbeFilesBox(
        ManifestStore.MAIN, Seq("source" -> Set(src0)))
      assert(keptS.length === (nLang + 1).toInt)
      assert(canon(v3.readPartitionBox(ManifestStore.MAIN, Seq("source" -> Seq(src0))))
        === canon(docs.filter(col("source") === src0)))

      // upserting one lang partition replaces ONLY that lang entry —
      // spec-qualified keys keep the generations from colliding
      ManifestStore.upsertPartitions(                               // v4
        gen2.filter(col("lang") === lang0)
          .withColumn("n_chars", col("n_chars") + lit(1000000L)),
        root, Seq("lang"))
      val v4 = ManifestStore.snapshot(spark, root)
      assert(ManifestStore.changedPartitionKeys(v3, v4) ===
        Set("lang=" + lang0))
      val expect4 = gen1.unionByName(gen2.filter(col("lang") =!= lang0))
        .unionByName(gen2.filter(col("lang") === lang0)
          .withColumn("n_chars", col("n_chars") + lit(1000000L)))
      assert(canon(v4.read()) === canon(expect4))

      // time travel ACROSS the spec change: v1 reads the old spec
      val snap1 = ManifestStore.snapshotAt(spark, root, 1)
      assert(snap1.state(ManifestStore.MAIN).partitionCols === Seq("source"))
      assert(canon(snap1.read()) === canon(gen1))
      assert(canon(snap1.readPartitions(ManifestStore.MAIN, Seq(src0))) ===
        canon(gen1.filter(col("source") === src0)))

      // single-spec discipline retained: a pure-lang probe of v1 (all
      // entries in the source spec) keeps everything — and the
      // single-spec readPartitions plan carries NO residual filter
      val pruned = snap1.readPartitions(ManifestStore.MAIN, Seq(src0))
      assert(!pruned.queryExecution.optimizedPlan.toString.contains("Filter"),
        "a single-spec partition read must stay a pure metadata prune")
    } finally Scratch.deleteRecursively(root)
  }

  test("migrateSpec rewrites ONLY the old-spec entries into the current " +
    "spec; current-spec files keep their identity; MERGE resumes") {
    val root = Scratch.tempDir("graft-specmig")
    try {
      val gen1 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val gen2 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      ManifestStore.write(gen1, root, Seq("source"))                // v1
      ManifestStore.evolvePartitionSpec(spark, root,
        ManifestStore.MAIN, Seq("lang"))                            // v2
      ManifestStore.upsertPartitions(gen2, root, Seq("lang"))       // v3
      // MERGE refuses the mixed-spec table — the seam migrate closes
      import org.apache.spark.sql.functions.{lit => L}
      val change = gen2.limit(1)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), L("U").as("op"), L(1L).as("ts"), L(1L).as("seq"))
      intercept[IllegalArgumentException] {
        MergeInto.merge(spark, root, change, "mig-sink", 0L,
          partitionCol = "lang")
      }
      val before = ManifestStore.snapshot(spark, root)
        .state(ManifestStore.MAIN).partitions
      val langFiles = before.collect {
        case (k, p) if p.cols == Seq("lang") => k -> p.files.map(_.path)
      }
      ManifestStore.migrateSpec(spark, root)                        // v4
      val v4 = ManifestStore.snapshot(spark, root)
      val after = v4.state(ManifestStore.MAIN).partitions
      // single-spec again, rows identical, and every current-spec
      // FILE survived untouched: migrate APPENDS the migrated rows'
      // files into overlapping partitions (never reads or rewrites a
      // current-spec file — the small-file debt falls to compaction)
      assert(after.values.forall(_.cols == Seq("lang")))
      assert(canon(v4.read()) === canon(gen1.unionByName(gen2)))
      langFiles.foreach { case (k, files) =>
        assert(after(k).files.map(_.path).startsWith(files),
          s"current-spec entry $k must keep its original files first")
      }
      // migrate is a no-op on a single-spec table: no new version
      assert(ManifestStore.migrateSpec(spark, root) === v4.version)
      assert(ManifestStore.snapshot(spark, root).version === v4.version)
      // and MERGE now works
      val (_, applied) = MergeInto.merge(spark, root, change, "mig-sink", 0L,
        partitionCol = "lang")
      assert(applied)
      // time travel across evolve + migrate still serves each version
      assert(canon(ManifestStore.snapshotAt(spark, root, 1).read()) ===
        canon(gen1))
      assert(canon(ManifestStore.snapshotAt(spark, root, 3).read()) ===
        canon(gen1.unionByName(gen2)))
    } finally Scratch.deleteRecursively(root)
  }

  test("evolving a missing table or to an unknown column refuses; " +
    "the spec change survives checkpoint replay") {
    val root = Scratch.tempDir("graft-specevo-err")
    try {
      val gen1 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      ManifestStore.write(gen1, root, Seq("source"))
      intercept[IllegalArgumentException] {
        ManifestStore.evolvePartitionSpec(spark, root, "nope", Seq("lang"))
      }
      intercept[IllegalArgumentException] {
        ManifestStore.evolvePartitionSpec(spark, root,
          ManifestStore.MAIN, Seq("no_such_col"))
      }
      ManifestStore.evolvePartitionSpec(spark, root,
        ManifestStore.MAIN, Seq("lang"))
      // drive past a checkpoint boundary and re-resolve through it:
      // the per-entry spec tags must survive serialization
      (0 until ManifestStore.CKPT_EVERY).foreach { i =>
        ManifestStore.append(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1).limit(5)
            .withColumn("doc_id", col("doc_id") + lit(1000000L * (i + 1))),
          root, Seq("lang"))
      }
      ManifestStore.awaitCheckpoints()
      val cur = ManifestStore.snapshot(spark, root)
      assert(cur.state(ManifestStore.MAIN).partitionCols === Seq("lang"))
      assert(cur.state(ManifestStore.MAIN).partitions.values
        .exists(_.cols === Seq("source")),
        "old-spec entries must survive a checkpoint round-trip")
      assert(cur.read().count() ===
        gen1.count() + 5L * ManifestStore.CKPT_EVERY)
    } finally Scratch.deleteRecursively(root)
  }
}
