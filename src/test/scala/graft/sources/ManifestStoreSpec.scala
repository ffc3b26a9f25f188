package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The transactional contract [[ManifestStore]] exists for: commits
  * publish through ONE atomic manifest swap, so a reader sees a
  * complete committed version — old or new, never partial, and never
  * a store/sidecar pair from two different commits; a crash after any
  * subset of staged writes leaves the previous consistent pair
  * visible; superseded files survive until vacuum (reader isolation),
  * then go.
  */
class ManifestStoreSpec extends SparkSpec {

  private def docs =
    Tables(spark, sfDir).documents
      .select(col("doc_id"), col("n_chars"), col("source"))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("round-trip, manifest-level pruning, and stats") {
    val root = Scratch.tempDir("graft-mstore")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val snap = ManifestStore.snapshot(spark, root)
      assert(snap.version === 1L)
      assert(canon(snap.read()) === canon(docs))

      val some = docs.select("source").distinct().limit(1)
        .collect()(0).getString(0)
      val pruned = snap.readPartitions(ManifestStore.MAIN, Seq(some))
      assert(canon(pruned) === canon(docs.filter(col("source") === some)))
      // pruning evidence: the scan's input files are EXACTLY the
      // manifest's files for that partition — pruned before Spark
      // ever listed a directory
      // root-relative comparison: one coalesced write task gives every
      // partition dir the SAME part-file basename
      val wantFiles = snap.state(ManifestStore.MAIN)
        .partitions.values.filter(_.values.head == some)
        .flatMap(_.files.map(_.path)).toSet
      val gotFiles = pruned.inputFiles
        .map(f => f.substring(f.indexOf("_data/"))).toSet
      assert(gotFiles === wantFiles)

      // manifest stats match the data without scanning it
      assert(snap.totalRows() === docs.count())
      val bySource = docs.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      snap.partitionStats().foreach { case (v, nf, rows, bytes) =>
        assert(rows === bySource(v), s"partition $v")
        assert(nf >= 1 && bytes > 0)
      }
    } finally Scratch.deleteRecursively(root)
  }

  test("upsert touches only its partitions; old snapshot stays readable") {
    val root = Scratch.tempDir("graft-mstore-up")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val v1 = ManifestStore.snapshot(spark, root)
      val sources = docs.select("source").distinct().collect()
        .map(_.getString(0)).sorted
      assert(sources.length > 1)
      val target = sources.head
      val batch = docs
        .filter(col("source") === target)
        .withColumn("n_chars", col("n_chars") + 1000000L)
      ManifestStore.upsertPartitions(batch, root, Seq("source"))

      val v2 = ManifestStore.snapshot(spark, root)
      assert(v2.version === 2L)
      // untouched partitions keep the IDENTICAL file paths — stronger
      // than byte-identity: the commit never rewrote them at all
      def untouched(s: ManifestStore.Snapshot) =
        s.state(ManifestStore.MAIN).partitions
          .filter(_._2.values.head != target)
      assert(untouched(v2) === untouched(v1))
      // merged read-back = old ∪ new
      val expect = docs.filter(col("source") =!= target).unionByName(batch)
      assert(canon(v2.read()) === canon(expect))
      // the PRE-commit snapshot still reads the PRE-commit content:
      // superseded files are not deleted at commit — that window IS
      // the mid-rewrite reader's isolation
      assert(canon(v1.read()) === canon(docs))
    } finally Scratch.deleteRecursively(root)
  }

  test("store+sidecar publish as ONE commit; a crash between staged writes leaves the old pair") {
    val root = Scratch.tempDir("graft-mstore-pair")
    try {
      val store0 = docs.withColumn("v", lit(1L))
      val index0 = docs.select(col("doc_id"), col("source"))
        .withColumn("v", lit(1L))
      ManifestStore.commit(root, Seq(
        ManifestStore.stage(store0, root, "store", Seq("source"),
          ManifestStore.Replace),
        ManifestStore.stage(index0, root, "index", Seq("source"),
          ManifestStore.Replace)
      ))

      // "crash" after the store's files hit disk, before the sidecar's:
      // stage without committing — the manifest must still resolve the
      // v=1 pair for BOTH tables
      ManifestStore.stage(store0.withColumn("v", lit(2L)), root, "store",
        Seq("source"), ManifestStore.Upsert)
      val mid = ManifestStore.snapshot(spark, root)
      assert(mid.version === 1L)
      assert(mid.read("store").select("v").distinct().collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
      assert(mid.read("index").select("v").distinct().collect()
        .map(_.getLong(0)).toSeq === Seq(1L))

      // the completed commit swaps both tables at once
      ManifestStore.commit(root, Seq(
        ManifestStore.stage(store0.withColumn("v", lit(2L)), root, "store",
          Seq("source"), ManifestStore.Upsert),
        ManifestStore.stage(index0.withColumn("v", lit(2L)), root, "index",
          Seq("source"), ManifestStore.Upsert)
      ))
      val after = ManifestStore.snapshot(spark, root)
      assert(after.version === 2L)
      Seq("store", "index").foreach { t =>
        assert(after.read(t).select("v").distinct().collect()
          .map(_.getLong(0)).toSeq === Seq(2L), t)
      }
    } finally Scratch.deleteRecursively(root)
  }

  test("a reader racing commits sees one committed version across both tables — never partial") {
    val root = Scratch.tempDir("graft-mstore-race")
    try {
      val base = docs.limit(200).localCheckpoint(true)
      def tagged(v: Long) = base.withColumn("v", lit(v))
      ManifestStore.commit(root, Seq(
        ManifestStore.stage(tagged(1), root, "store", Seq("source"),
          ManifestStore.Replace),
        ManifestStore.stage(tagged(1), root, "index", Seq("source"),
          ManifestStore.Replace)
      ))
      val rounds = 6
      @volatile var done = false
      @volatile var failure: Option[String] = None
      val reader = new Thread(() =>
        try {
          while (!done) {
            val s = ManifestStore.snapshot(spark, root)
            val vs = s.read("store").unionByName(s.read("index"))
              .select("v").distinct().collect().map(_.getLong(0)).toSeq
            if (vs.length != 1)
              failure = Some(s"snapshot v${s.version} mixed versions: $vs")
            if (vs.head != s.version)
              failure = Some(s"manifest v${s.version} served rows v=$vs")
          }
        } catch { case e: Throwable => failure = Some(e.toString) })
      reader.start()
      try
        (2 to rounds).foreach { v =>
          ManifestStore.commit(root, Seq(
            ManifestStore.stage(tagged(v.toLong), root, "store",
              Seq("source"), ManifestStore.Upsert),
            ManifestStore.stage(tagged(v.toLong), root, "index",
              Seq("source"), ManifestStore.Upsert)
          ))
        }
      finally { done = true; reader.join(60000) }
      assert(failure.isEmpty, failure)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(base)
    } finally Scratch.deleteRecursively(root)
  }

  test("append grows the file list; vacuum drops exactly the unreferenced files") {
    val root = Scratch.tempDir("graft-mstore-app")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val filesV1 = ManifestStore.snapshot(spark, root)
        .state(ManifestStore.MAIN).partitions.values.map(_.files.length).sum
      // materialized: limit-without-order must not re-pick rows
      // between the append and the expected-count read below
      val extra = docs.limit(50)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .localCheckpoint(true)
      ManifestStore.append(extra, root, Seq("source"))
      val v2 = ManifestStore.snapshot(spark, root)
      val filesV2 = v2.state(ManifestStore.MAIN)
        .partitions.values.map(_.files.length).sum
      assert(filesV2 > filesV1, "append must add files, not rewrite")
      assert(v2.read().count() === docs.count() + 50)

      // a superseding upsert leaves v2's files on disk...
      val target = docs.select("source").distinct().limit(1)
        .collect()(0).getString(0)
      ManifestStore.upsertPartitions(
        docs.filter(col("source") === target), root, Seq("source"))
      val v3 = ManifestStore.snapshot(spark, root)
      // ...until vacuum removes whatever v3 does not reference
      val removed = ManifestStore.vacuum(spark, root)
      assert(removed > 0, "the superseded upsert files must be collectable")
      assert(v3.read().count() ===
        docs.count() + 50 - extra.filter(col("source") === target).count(),
        "the current version must survive vacuum intact")
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(extra)
    } finally Scratch.deleteRecursively(root)
  }

  test("time travel: every committed version stays readable until vacuumed past") {
    val root = Scratch.tempDir("graft-mstore-tt")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val target = docs.select(min(col("source"))).head.getString(0)
      def shifted(by: Long) = docs.filter(col("source") === target)
        .withColumn("n_chars", col("n_chars") + by)
      // two successive upserts of the SAME partition, so each version
      // holds a target file the next one supersedes — the retention
      // window has real work to do
      ManifestStore.upsertPartitions(shifted(1000000L), root, Seq("source"))
      ManifestStore.upsertPartitions(shifted(2000000L), root, Seq("source"))

      assert(ManifestStore.versions(spark, root) === Seq(1L, 2L, 3L))
      // each version reads back EXACTLY as its commit published it
      val others = docs.filter(col("source") =!= target)
      assert(canon(ManifestStore.snapshotAt(spark, root, 1).read()) ===
        canon(docs))
      val expect2 = others.unionByName(shifted(1000000L))
      assert(canon(ManifestStore.snapshotAt(spark, root, 2).read()) ===
        canon(expect2))
      assert(canon(ManifestStore.snapshotAt(spark, root, 3).read()) ===
        canon(others.unionByName(shifted(2000000L))))

      // retention window 2: v2 survives vacuum READABLE even though v3
      // superseded its target file; v1 (manifest and its only-v1 file)
      // goes
      val removed = ManifestStore.vacuum(spark, root, retainVersions = 2)
      assert(removed > 0, "v1's superseded target file must be collected")
      assert(ManifestStore.versions(spark, root) === Seq(2L, 3L))
      assert(canon(ManifestStore.snapshotAt(spark, root, 2).read()) ===
        canon(expect2), "retained version must survive vacuum readable")
      intercept[IllegalArgumentException] {
        ManifestStore.snapshotAt(spark, root, 1)
      }
    } finally Scratch.deleteRecursively(root)
  }

  test("CAS commit: the losing writer fails with nothing published") {
    val root = Scratch.tempDir("graft-mstore-cas")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val target = docs.select(min(col("source"))).head.getString(0)
      def shifted(by: Long) = docs.filter(col("source") === target)
        .withColumn("n_chars", col("n_chars") + by)
      // both writers read v1 and stage; A swaps first
      val stA = ManifestStore.stage(shifted(1000000L), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Upsert)
      val stB = ManifestStore.stage(shifted(2000000L), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Upsert)
      assert(ManifestStore.commit(root, Seq(stA),
        expectedVersion = 1L) === 2L)
      intercept[ManifestStore.ConcurrentCommitException] {
        ManifestStore.commit(root, Seq(stB), expectedVersion = 1L)
      }
      // the loser published NOTHING: current state is exactly A's
      val cur = ManifestStore.snapshot(spark, root)
      assert(cur.version === 2L)
      assert(canon(cur.read()) ===
        canon(docs.filter(col("source") =!= target).unionByName(shifted(1000000L))))
    } finally Scratch.deleteRecursively(root)
  }

  test("rebase: disjoint partitions re-apply; overlapping refuse the lost update") {
    val root = Scratch.tempDir("graft-mstore-rb")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val sources = docs.select("source").distinct().collect()
        .map(_.getString(0)).sorted
      assert(sources.length > 1)
      val (s1, s2) = (sources.head, sources.last)
      def shifted(src: String, by: Long) = docs.filter(col("source") === src)
        .withColumn("n_chars", col("n_chars") + by)
      // A and B both stage from v1; A lands s1, B holds s2
      val stB = ManifestStore.stage(shifted(s2, 2000000L), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Upsert)
      ManifestStore.upsertPartitions(shifted(s1, 1000000L), root, Seq("source"))
      // disjoint: B's stale-base commit re-applies on top of A's
      assert(ManifestStore.commitRebase(spark, root, Seq(stB),
        baseVersion = 1L) === 3L)
      val expect = docs
        .filter(col("source") =!= s1 && col("source") =!= s2)
        .unionByName(shifted(s1, 1000000L))
        .unionByName(shifted(s2, 2000000L))
      assert(canon(ManifestStore.read(spark, root)) === canon(expect))
      // overlapping: C also staged s1 from v1 — rebasing would publish
      // a lost update over A's s1; it must refuse
      val stC = ManifestStore.stage(shifted(s1, 3000000L), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Upsert)
      intercept[ManifestStore.ConcurrentCommitException] {
        ManifestStore.commitRebase(spark, root, Seq(stC), baseVersion = 1L)
      }
      assert(canon(ManifestStore.read(spark, root)) === canon(expect))
    } finally Scratch.deleteRecursively(root)
  }

  test("batch ledger: a re-delivered foreachBatch batch publishes exactly once") {
    val root = Scratch.tempDir("graft-mstore-ledger")
    try {
      def batch(b: Long) = docs.limit(30)
        .withColumn("doc_id", col("doc_id") + lit(1000000L * (b + 1)))
      def stagedFor(b: Long) = Seq(ManifestStore.stage(batch(b), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Append))
      assert(ManifestStore.commitBatch(root, stagedFor(0),
        "sink", 0L) === ((1L, true)))
      assert(ManifestStore.commitBatch(root, stagedFor(1),
        "sink", 1L) === ((2L, true)))
      val afterTwo = ManifestStore.read(spark, root).count()
      assert(afterTwo === 60L)
      // the crash-redelivery case: batch 1 arrives again — recognized
      // through the manifest's own ledger, NOT re-applied
      assert(ManifestStore.commitBatch(root, stagedFor(1),
        "sink", 1L) === ((2L, false)))
      assert(ManifestStore.read(spark, root).count() === afterTwo)
      assert(ManifestStore.snapshot(spark, root).version === 2L)
      // progress resumes past the redelivery
      assert(ManifestStore.commitBatch(root, stagedFor(2),
        "sink", 2L) === ((3L, true)))
      assert(ManifestStore.read(spark, root).count() === 90L)
      // a DIFFERENT sink's ledger is independent
      assert(ManifestStore.commitBatch(root, stagedFor(10),
        "other", 1L) === ((4L, true)))
    } finally Scratch.deleteRecursively(root)
  }

  test("fileDiff: the change-feed scan set is exactly the changed partition's files") {
    val root = Scratch.tempDir("graft-mstore-cdf")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val target = docs.select(min(col("source"))).head.getString(0)
      ManifestStore.upsertPartitions(
        docs.filter(col("source") === target)
          .withColumn("n_chars", col("n_chars") + 1000000L),
        root, Seq("source"))
      val v1 = ManifestStore.snapshotAt(spark, root, 1)
      val v2 = ManifestStore.snapshotAt(spark, root, 2)
      val (added, removed) = ManifestStore.fileDiff(v1, v2)
      // O(changed), not O(store): the delta is the target partition's
      // old and new files — NOTHING from the untouched partitions
      def targetFiles(s: ManifestStore.Snapshot) =
        s.state(ManifestStore.MAIN).partitions.values
          .filter(_.values.head == target).flatMap(_.files.map(_.path)).toSet
      assert(added.map(_.path).toSet === targetFiles(v2))
      assert(removed.map(_.path).toSet === targetFiles(v1))
      assert(ManifestStore.changedPartitionKeys(v1, v2) ===
        Set("source=" + target))
      // an append-only commit diffs as added-only
      val extra = docs.limit(20)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .localCheckpoint(true)
      ManifestStore.append(extra, root, Seq("source"))
      val v3 = ManifestStore.snapshotAt(spark, root, 3)
      val (a2, r2) = ManifestStore.fileDiff(v2, v3)
      assert(r2.isEmpty, "append removes nothing")
      assert(a2.map(_.rows).sum === 20L)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(extra)
    } finally Scratch.deleteRecursively(root)
  }

  test("stats range read prunes files and matches the full-scan filter") {
    val root = Scratch.tempDir("graft-mstore-skip")
    try {
      // bucket by doc_id range so each file carries a tight (min, max)
      val bucketed = docs.withColumn("bucket", (col("doc_id") / 100).cast("long"))
      ManifestStore.write(bucketed, root, Seq("bucket"))
      val snap = ManifestStore.snapshot(spark, root)
      val (lo, hi) = (150L, 349L)
      val bounds = Seq(ManifestStore.Bound.LongRange("doc_id", lo, hi))
      val sc = snap.screen(ManifestStore.MAIN, bounds)
      val (kept, total) = (sc.files, sc.filesTotal)
      assert(total >= 4, s"fixture too small to demonstrate skipping: $total files")
      assert(kept.nonEmpty && kept.length < total,
        s"range [$lo,$hi] must prune: kept ${kept.length} of $total")
      // result identity: pruned scan + residual filter ≡ full filter
      val ranged = snap.readBox(ManifestStore.MAIN, bounds)
      assert(canon(ranged) ===
        canon(bucketed.filter(col("doc_id") >= lo && col("doc_id") <= hi)))
      // IO evidence: the scan opened ONLY the kept files
      val gotFiles = ranged.inputFiles
        .map(f => f.substring(f.indexOf("_data/"))).toSet
      assert(gotFiles === kept.map(_.path).toSet)
    } finally Scratch.deleteRecursively(root)
  }

  test("q115 asymmetry: the 1-D layout is blind to y where the tiles still skip") {
    val rows = graft.SparkEntry
      .queries("q115_layout_compare")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    val yb = rows("y_band")
    assert(yb.getAs[Long]("files_lin_kept") === yb.getAs[Long]("files_lin_total"),
      "an x-striped layout must keep EVERY file for a y-only band")
    assert(yb.getAs[Long]("files_z_kept") < yb.getAs[Long]("files_z_total"),
      "the Morton tiles must still skip on y")
    val xb = rows("x_band")
    assert(xb.getAs[Long]("files_lin_kept") < xb.getAs[Long]("files_lin_total"))
    assert(xb.getAs[Long]("files_z_kept") < xb.getAs[Long]("files_z_total"))
  }

  test("an empty table reads back as its schema with zero rows") {
    val root = Scratch.tempDir("graft-mstore-empty")
    try {
      ManifestStore.write(docs.limit(0), root, Seq.empty)
      val back = ManifestStore.read(spark, root)
      assert(back.count() === 0L)
      assert(back.schema.fieldNames.toSeq ===
        Seq("doc_id", "n_chars", "source"))
    } finally Scratch.deleteRecursively(root)
  }
}
