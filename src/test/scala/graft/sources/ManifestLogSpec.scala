package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The LOG-STRUCTURED half of the [[ManifestStore]] contract: commits
  * persist O(changed files) delta entries (never a full snapshot),
  * checkpoints bound the replay tail, the commit point is an atomic
  * CREATE-NEW (cross-process safe), footer stats are read on the
  * driver with no Spark job, commit clocks are strictly monotonic for
  * `AS OF TIMESTAMP`, and string zone maps carry sound
  * truncate-and-increment bounds.
  */
class ManifestLogSpec extends SparkSpec {

  private def docs =
    Tables(spark, sfDir).documents
      .select(col("doc_id"), col("n_chars"), col("source"))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def logFiles(root: String, prefix: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(root, "_graft")
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(prefix) && n.endsWith(".json")
    }.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  test("commit cost is O(changed files): a one-partition append's delta " +
    "stays small while the store grows") {
    val root = Scratch.tempDir("graft-mlog-ochanged")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val one = docs.limit(1).localCheckpoint(true)
      // grow the store: several appends, each its own commit
      (1 to 5).foreach { i =>
        ManifestStore.append(
          docs.withColumn("doc_id", col("doc_id") + lit(1000000L * i)),
          root, Seq("source"))
      }
      val before = logFiles(root, "d").map(java.nio.file.Files.size(_))
      // the probe: ONE row into ONE partition
      ManifestStore.append(one, root, Seq("source"))
      val after = logFiles(root, "d").map(java.nio.file.Files.size(_))
      val probeBytes = after.last
      // the monolithic design would serialize ~6 corpora of file
      // entries here; the log writes one file's worth. Bound: the
      // probe delta is smaller than ANY of the full-corpus commits.
      assert(before.forall(probeBytes < _),
        s"probe delta $probeBytes B vs full commits $before B")
      assert(probeBytes < 4096,
        s"one staged file must log O(1) metadata, got $probeBytes B")
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(one)
    } finally Scratch.deleteRecursively(root)
  }

  test("checkpoint + delta tail reconstructs exactly the pure-replay " +
    "state; a late/missing checkpoint only lengthens the replay") {
    val root = Scratch.tempDir("graft-mlog-ckpt")
    try {
      val base = docs.limit(100).localCheckpoint(true)
      (0 until ManifestStore.CKPT_EVERY + 2).foreach { i =>
        ManifestStore.append(
          base.withColumn("doc_id", col("doc_id") + lit(1000000L * i)),
          root, Seq("source"))
      }
      // the checkpoint write is ASYNC (off the commit critical path);
      // BEFORE it lands, the state must already read correctly via
      // pure delta replay — that is exactly what makes async safe
      val viaLate = ManifestStore.snapshot(spark, root)
      val lateState = canon(viaLate.read())
      ManifestStore.awaitCheckpoints()
      val ckpts = logFiles(root, "c")
      assert(ckpts.nonEmpty, "CKPT_EVERY commits must cut a checkpoint")
      val cur = ManifestStore.snapshot(spark, root)
      val viaCkpt = canon(cur.read())
      assert(viaCkpt === lateState,
        "a late checkpoint must not change the observed state")
      // remove the checkpoint: the reader must fall back to replaying
      // the full delta chain and land on the SAME state (drop the
      // resolved-state cache too, so the replay path really runs)
      ckpts.foreach(java.nio.file.Files.delete(_))
      ManifestStore.dropCachedStates(root)
      val viaReplay = ManifestStore.snapshot(spark, root)
      assert(viaReplay.version === cur.version)
      assert(canon(viaReplay.read()) === viaCkpt)
      assert(viaReplay.batches === cur.batches)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(base)
    } finally Scratch.deleteRecursively(root)
  }

  test("every file carries the version that added it, through a " +
    "checkpoint read and a pure delta replay alike") {
    val root = Scratch.tempDir("graft-mlog-seq")
    try {
      val base = docs.limit(40).localCheckpoint(true)
      // v1..v10, each version appending its own id range
      (0 until ManifestStore.CKPT_EVERY + 2).foreach { i =>
        ManifestStore.append(
          base.withColumn("doc_id", col("doc_id") + lit(1000000L * i)),
          root, Seq("source"))
      }
      ManifestStore.awaitCheckpoints()
      assert(logFiles(root, "c").nonEmpty)
      def seqs(): Map[Long, Set[Long]] = {
        val snap = ManifestStore.snapshot(spark, root)
        snap.state(ManifestStore.MAIN).partitions.values.flatMap(_.files)
          .groupBy(_.stats("doc_id")._1 / 1000000L)
          .map { case (i, fs) => i -> fs.map(_.seq).toSet }
      }
      val want = (0 until ManifestStore.CKPT_EVERY + 2)
        .map(i => i.toLong -> Set(i + 1L)).toMap
      ManifestStore.dropCachedStates(root)
      assert(seqs() === want, "via the checkpoint")
      logFiles(root, "c").foreach(java.nio.file.Files.delete(_))
      ManifestStore.dropCachedStates(root)
      assert(seqs() === want, "via pure delta replay")
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(base)
    } finally Scratch.deleteRecursively(root)
  }

  test("the resolved-state cache is inode-validated: a recreated root " +
    "at the same path reads its NEW state, and a vacuumed version " +
    "still errors after being cached") {
    val outer = Scratch.tempDir("graft-mlog-cache")
    val root = outer + "/store" // fixed subpath — reuse it deliberately
    def rawDelete(): Unit = {
      import scala.jdk.CollectionConverters._
      // bypass Scratch.deleteRecursively's cache hygiene on purpose:
      // the fileKey validation alone must catch the recreate
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    try {
      val a = docs.limit(50).localCheckpoint(true)
      val b = docs.limit(80).localCheckpoint(true)
      ManifestStore.write(a, root, Seq("source"))
      // cache v1's state
      assert(ManifestStore.snapshot(spark, root).read().count() === 50L)
      ManifestStore.awaitCheckpoints()
      rawDelete()
      ManifestStore.write(b, root, Seq("source"))
      // same root, same version — the NEW inode must invalidate
      assert(ManifestStore.snapshot(spark, root).read().count() === 80L,
        "a recreated root must never serve the old root's cached state")
      // vacuum: cache a version, vacuum past it, time travel must
      // throw exactly as the uncached replay did
      ManifestStore.append(b.withColumn("doc_id",
        col("doc_id") + lit(1000000L)), root, Seq("source"))
      assert(ManifestStore.snapshotAt(spark, root, 1).read().count() === 80L)
      ManifestStore.vacuum(spark, root, retainVersions = 1)
      val e = intercept[IllegalArgumentException] {
        ManifestStore.snapshotAt(spark, root, 1)
      }
      assert(e.getMessage.contains("vacuumed") ||
        e.getMessage.contains("never committed"))
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(a)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(b)
    } finally Scratch.deleteRecursively(outer)
  }

  test("the commit point is create-new: the version another process " +
    "already linked cannot be re-published, and the winner is untouched") {
    val root = Scratch.tempDir("graft-mlog-race")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      // the losing interleaving, deterministically: both processes
      // read v1; the other one linked d2 first — our link of the SAME
      // version must throw with the winner's bytes intact
      val foreign = """{"version":2,"ts":9999999999999,"actions":[]}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ManifestStore.linkDelta(root, 2L, foreign)
      val ours = intercept[ManifestStore.ConcurrentCommitException] {
        ManifestStore.linkDelta(root, 2L,
          """{"version":2,"ts":1,"actions":[]}""".getBytes)
      }
      assert(ours.getMessage.contains("lost the race"))
      val d2 = java.nio.file.Paths.get(root, "_graft", "d000002.json")
      assert(java.nio.file.Files.readAllBytes(d2).toSeq === foreign.toSeq)
      // no temp dotfile leaked from the losing attempt
      import scala.jdk.CollectionConverters._
      val strays = java.nio.file.Files
        .list(java.nio.file.Paths.get(root, "_graft"))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith(".")).toSeq
      assert(strays.isEmpty, s"losing commit leaked $strays")
      // and the in-JVM CAS path still reports the same contract: a
      // committer that read v1 while v2 exists loses deterministically
      val st = ManifestStore.stage(docs.limit(10), root,
        ManifestStore.MAIN, Seq("source"), ManifestStore.Append)
      intercept[ManifestStore.ConcurrentCommitException] {
        ManifestStore.commit(root, Seq(st), expectedVersion = 1L)
      }
    } finally Scratch.deleteRecursively(root)
  }

  test("a commit of staged dirs runs no Spark job; its footer stats " +
    "equal a default-options derivation") {
    val root = Scratch.tempDir("graft-mlog-footers")
    try {
      // int columns and a non-ASCII string column (BMP, CJK and a
      // supplementary code point), partitioned into several files
      val tagged = docs
        .withColumn("n32", col("n_chars").cast("int"))
        .withColumn("tag", concat(lit("é雪\uD83D\uDE00-"), col("source"),
          lit("-"), col("doc_id")))
      // one id-sorted file with a small block size: many row groups
      val wide = (0 until 20).map { i =>
        docs.withColumn("doc_id", col("doc_id") * 2 + lit(1000L * i))
      }.reduce(_ unionByName _)
      val staged = Seq(
        ManifestStore.stage(tagged, root, ManifestStore.MAIN, Seq("source"),
          ManifestStore.Replace),
        ManifestStore.stage(wide.coalesce(1).sortWithinPartitions("doc_id"),
          root, "wide", Seq.empty, ManifestStore.Replace,
          writerOptions = Map("parquet.block.size" -> (16 * 1024).toString,
            "parquet.page.size" -> (4 * 1024).toString)))
      val (_, probe) = graft.tools.Probe.around(spark) {
        ManifestStore.commit(root, staged)
      }
      assert(probe.jobs.isEmpty,
        s"a commit of staged dirs ran Spark jobs: ${probe.jobs}")

      val snap = ManifestStore.snapshot(spark, root)
      val entries = Seq(ManifestStore.MAIN, "wide").flatMap { t =>
        snap.state(t).partitions.values.flatMap(_.files)
      }
      assert(entries.exists(_.groups.length > 1), "no multi-group file")
      assert(entries.exists(_.strStats.get("tag").exists(_._1.startsWith("é雪"))),
        "no non-ASCII string bounds")
      assert(entries.exists(f => f.stats.contains("n_chars") && f.stats.contains("n32")),
        "no int32 and int64 bounds")
      entries.foreach { f =>
        // the reference derivation: the reader with parquet's default
        // read options, which load a Hadoop configuration
        val abs = new org.apache.hadoop.fs.Path(root + "/" + f.path).toUri.getPath
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          new org.apache.parquet.io.LocalInputFile(java.nio.file.Paths.get(abs)))
        val reference = try {
          val (stats, strStats, groups) = ManifestStore.footerRangeStats(rdr)
          ManifestStore.FileEntry(f.path, java.nio.file.Files.size(
            java.nio.file.Paths.get(abs)), rdr.getRecordCount, stats, strStats,
            if (groups.length > 1) groups else Seq.empty, f.seq)
        } finally rdr.close()
        assert(reference === f, s"stats drifted for ${f.path}")
      }
    } finally Scratch.deleteRecursively(root)
  }

  test("commit clocks are strictly monotonic; AS OF resolves exact, " +
    "between, and pre-history instants") {
    val root = Scratch.tempDir("graft-mlog-asof")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      ManifestStore.append(docs.limit(20), root, Seq("source"))
      ManifestStore.append(docs.limit(10), root, Seq("source"))
      val infos = ManifestStore.versionInfos(spark, root)
      assert(infos.map(_._1) === Seq(1L, 2L, 3L))
      val ts = infos.map(_._2)
      assert(ts === ts.sorted && ts.distinct === ts,
        s"commit clocks must strictly increase: $ts")
      // inclusive boundary: the exact commit instant IS that version
      infos.foreach { case (v, t) =>
        assert(ManifestStore.snapshotAsOf(spark, root, t).version === v)
      }
      // between two commits: the earlier one
      assert(ManifestStore.snapshotAsOf(spark, root, ts(2) - 1).version === 2L)
      // after the newest: the newest
      assert(ManifestStore.snapshotAsOf(spark, root,
        ts(2) + 1000000L).version === 3L)
      // before the first retained commit: no store existed
      intercept[IllegalArgumentException] {
        ManifestStore.snapshotAsOf(spark, root, ts(0) - 1)
      }
    } finally Scratch.deleteRecursively(root)
  }

  test("string bound truncation: prefix lower, incremented upper, sound order") {
    // short strings pass through exact
    assert(ManifestStore.truncLower("src7") === "src7")
    assert(ManifestStore.truncUpper("src7") === Some("src7"))
    // 16-code-point boundary: exactly 16 stays exact
    val b16 = "abcdefghijklmnop"
    assert(ManifestStore.truncLower(b16) === b16)
    assert(ManifestStore.truncUpper(b16) === Some(b16))
    // longer: lower is the prefix (≤ everything with that prefix)
    val long = b16 + "qrstuv"
    assert(ManifestStore.truncLower(long) === b16)
    // upper: prefix with last code point bumped — strictly above
    // EVERY string sharing the prefix
    val up = ManifestStore.truncUpper(long).get
    assert(up === "abcdefghijklmnoq")
    assert(up > long && ManifestStore.truncLower(long) <= long)
    // prefix-equal min/max (the truncation-boundary case): two long
    // strings sharing the 16-prefix still bracket correctly
    val lo = ManifestStore.truncLower(b16 + "aaa")
    val hi = ManifestStore.truncUpper(b16 + "zzz").get
    assert(lo <= b16 + "aaa" && hi > b16 + "zzz" && lo <= hi)
    // non-incrementable tail: carries left
    val ffTail = "ab" + ("￿" * 20)
    assert(ManifestStore.truncUpper(ffTail) === Some("ac"))
    // nothing incrementable at all: no sound bound exists
    assert(ManifestStore.truncUpper("￿" * 20) === None)
  }

  test("string zone maps prune files on long strings without losing rows") {
    val root = Scratch.tempDir("graft-mlog-strskip")
    try {
      // keys 30+ chars so every bound is truncated (id leads, so the
      // 16-code-point prefixes still differ); grouped so each file
      // holds a contiguous key range
      val keyed = docs.select(
        concat(lpad(col("doc_id").cast("string"), 6, "0"),
          lit("-document-key-with-a-long-tail")).as("k"),
        col("doc_id"), col("n_chars"),
        (col("doc_id") / 100).cast("long").as("grp"))
      ManifestStore.write(keyed, root, Seq("grp"))
      val snap = ManifestStore.snapshot(spark, root)
      // bare-id bounds bracket the dash-suffixed keys of [150, 349]
      val (lo, hi) = ("000150", "000350")
      val bounds = Seq(ManifestStore.Bound.StrRange("k", lo, hi))
      val sc = snap.screen(ManifestStore.MAIN, bounds)
      val (kept, total) = (sc.files, sc.filesTotal)
      assert(total >= 4, s"fixture too small to demonstrate skipping: $total")
      assert(kept.nonEmpty && kept.length < total,
        s"truncated bounds must still prune: ${kept.length} of $total")
      assert(canon(snap.readBox(ManifestStore.MAIN, bounds)) ===
        canon(keyed.filter(col("k") >= lo && col("k") <= hi)))
    } finally Scratch.deleteRecursively(root)
  }

  test("tags protect their version through vacuum; dropTag releases it; " +
    "expireOlderThan retains by commit age") {
    val root = Scratch.tempDir("graft-mlog-tags")
    try {
      ManifestStore.write(docs, root, Seq("source"))                 // v1
      val target = docs.select(min(col("source"))).head.getString(0)
      ManifestStore.upsertPartitions(                                 // v2
        docs.filter(col("source") === target)
          .withColumn("n_chars", col("n_chars") + 1000000L),
        root, Seq("source"))
      ManifestStore.tag(spark, root, "golden", 2L)
      ManifestStore.append(docs.limit(25), root, Seq("source"))      // v3
      ManifestStore.append(docs.limit(10), root, Seq("source"))      // v4
      // tagging an unreadable/unborn version refuses
      intercept[IllegalArgumentException] {
        ManifestStore.tag(spark, root, "later", 9L)
      }
      val expect2 = docs.filter(col("source") =!= target).unionByName(
        docs.filter(col("source") === target)
          .withColumn("n_chars", col("n_chars") + 1000000L))
      ManifestStore.vacuum(spark, root) // default: current only
      // the tag held v2 readable AND its files live; v1/v3 left
      assert(ManifestStore.versions(spark, root).toSet === Set(2L, 4L))
      assert(canon(ManifestStore.snapshotAtTag(spark, root, "golden").read())
        === canon(expect2))
      intercept[IllegalArgumentException] {
        ManifestStore.snapshotAt(spark, root, 3)
      }
      // dropping the ref releases the version at the next vacuum
      ManifestStore.dropTag(spark, root, "golden")
      ManifestStore.vacuum(spark, root)
      assert(ManifestStore.versions(spark, root) === Seq(4L))
      intercept[IllegalArgumentException] {
        ManifestStore.snapshotAt(spark, root, 2)
      }
      // age-addressed retention: expire strictly-older commits
      val root2 = Scratch.tempDir("graft-mlog-age")
      try {
        ManifestStore.write(docs, root2, Seq("source"))
        ManifestStore.append(docs.limit(20), root2, Seq("source"))
        ManifestStore.append(docs.limit(10), root2, Seq("source"))
        val ts = ManifestStore.versionInfos(spark, root2).toMap
        ManifestStore.expireOlderThan(spark, root2, ts(2L))
        assert(ManifestStore.versions(spark, root2).toSet === Set(2L, 3L))
        intercept[IllegalArgumentException] {
          ManifestStore.snapshotAt(spark, root2, 1)
        }
        assert(ManifestStore.snapshot(spark, root2).read().count() ===
          docs.count() + 30)
      } finally Scratch.deleteRecursively(root2)
    } finally Scratch.deleteRecursively(root)
  }

  test("vacuum sweeps orphaned temp dotfiles past the grace window, " +
    "spares a fresh in-flight temp, and keeps the window readable") {
    val root = Scratch.tempDir("graft-mlog-vac")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      ManifestStore.append(docs.limit(10), root, Seq("source"))
      // a crashed commit's orphan (older than the grace window) and a
      // concurrent process's IN-FLIGHT commit temp (fresh) — the sweep
      // must distinguish them by age: deleting the fresh one would
      // fail that process's valid commit with NoSuchFileException
      // instead of ConcurrentCommitException
      val stray = java.nio.file.Paths.get(root, "_graft", ".d-crashed.json")
      java.nio.file.Files.write(stray, "{}".getBytes)
      java.nio.file.Files.setLastModifiedTime(stray,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ManifestStore.DOTFILE_GRACE_MS - 60000))
      val inflight = java.nio.file.Paths.get(root, "_graft", ".d-inflight.json")
      java.nio.file.Files.write(inflight, "{}".getBytes)
      ManifestStore.vacuum(spark, root, retainVersions = 1)
      assert(!java.nio.file.Files.exists(stray),
        "an orphan older than the grace window must be swept")
      assert(java.nio.file.Files.exists(inflight),
        "a fresh dotfile may be another process's in-flight commit temp")
      java.nio.file.Files.delete(inflight)
      assert(ManifestStore.versions(spark, root) === Seq(2L))
      assert(ManifestStore.snapshot(spark, root).read().count() ===
        docs.count() + 10)
    } finally Scratch.deleteRecursively(root)
  }

  test("reading version 0 (or below the first commit) errors instead of " +
    "serving an empty store") {
    val root = Scratch.tempDir("graft-mlog-v0")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      intercept[IllegalArgumentException] {
        ManifestStore.snapshotAt(spark, root, 0L)
      }
      intercept[IllegalArgumentException] {
        ManifestStore.snapshotAt(spark, root, -3L)
      }
    } finally Scratch.deleteRecursively(root)
  }

  test("string bounds merge and probe by code point, not UTF-16 code " +
    "units: supplementary vs U+E000..U+FFFF values cannot mis-prune") {
    // U+10000 (surrogate pair "𐀀") < U+E000 by code point,
    // but Java code-unit order says the OPPOSITE (0xD800 < 0xE000 is
    // true... the inversion bites on the min side: "" <
    // "𐀀" by code unit). cpCompare must order by code point.
    val supp = new String(Character.toChars(0x10000))
    val priv = ""
    assert(ManifestStore.cpCompare(priv, supp) < 0,
      "U+E000 precedes U+10000 by code point")
    assert(priv.compareTo(supp) > 0,
      "Java code-unit order inverts the pair (the bug being pinned)")
    // probe: a file holding both values has bounds (min=privE000,
    // max=supp); a query for the supplementary value must keep it
    val root = Scratch.tempDir("graft-mlog-cp")
    try {
      import org.apache.spark.sql.functions.lit
      val two = docs.limit(2).select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(priv))
          .otherwise(lit(supp)).as("k"))
      ManifestStore.write(two, root, Seq.empty)
      val snap = ManifestStore.snapshot(spark, root)
      val bounds = Seq(ManifestStore.Bound.StrRange("k", supp, supp))
      val sc = snap.screen(ManifestStore.MAIN, bounds)
      assert(sc.filesTotal === 1 && sc.files.length === 1,
        "code-unit probing would drop the file that holds the match")
      assert(snap.readBox(ManifestStore.MAIN, bounds).count() === 1L)
    } finally Scratch.deleteRecursively(root)
  }
}
