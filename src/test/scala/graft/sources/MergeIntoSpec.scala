package graft.sources

import graft.{SparkSpec, Tables}
import graft.cdc.Materializer
import graft.tools.Probe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE INTO's defining equivalence: applying a change log through
  * [[MergeInto.merge]] batch by batch (each batch REDELIVERED — the
  * at-least-once schedule) lands on exactly the state
  * [[graft.cdc.Materializer]] computes from the whole log at once —
  * plus the storage-level properties batch materialization cannot
  * show: a merge appends new rows and sequence-scoped vector records
  * and rewrites nothing, a stale copy stays dead under the newer
  * record, a merge staged from a superseded version publishes
  * nothing, redeliveries publish nothing, and the job budget holds.
  */
class MergeIntoSpec extends SparkSpec {

  private def docs =
    Tables(spark, sfDir).documents
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))

  private def canon(df: DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def ev(df: DataFrame, op: String, ts: Long, seq: Long) =
    df.select(col("doc_id"), col("source"), col("n_chars"),
      lit(op).as("op"), lit(ts).as("ts"), lit(seq).as("seq"))

  /** `df`'s rows re-spread over `parts` input partitions — the shape
    * a streaming batch arrives in, one partition per producer write.
    */
  private def spread(df: DataFrame, parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(df.collect().toSeq, parts), df.schema)

  /** (the stages of every job started, widest stage's task count)
    * while `body` runs, read from a [[graft.tools.Probe]] around it.
    */
  private def jobBudget(body: => Unit): (Seq[String], Int) = {
    val (_, probe) = Probe.around(spark)(body)
    (probe.jobs.map(_.stages.map(_._1).mkString(" + ")),
      probe.stages.map(_.tasks).foldLeft(0)(math.max))
  }

  /** The ids of the records one commit appended to the vector. */
  private def recordsAt(snap: ManifestStore.Snapshot): Seq[Long] =
    snap.read(DeletionVectors.dvTable(ManifestStore.MAIN))
      .filter(col(DeletionVectors.SEQ_COL) === snap.version)
      .collect().map(_.getLong(0)).sorted.toSeq

  /** The ids among `ids` that read back live at `snap`. */
  private def liveAmong(snap: ManifestStore.Snapshot, ids: Seq[Long]): Set[Long] =
    DeletionVectors.readForIds(snap, ManifestStore.MAIN, "doc_id", ids)
      .collect().map(_.getLong(0)).toSet

  test("merge batches + redeliveries ≡ one-shot materialize; deletes " +
    "are vector entries; reinserts clear them") {
    val root = Scratch.tempDir("graft-merge-eq")
    try {
      ManifestStore.write(docs, root, Seq("source"))               // v1
      val k = col("doc_id")
      val b0 = ev(docs.filter(pmod(k, lit(5)) === 0)
        .withColumn("n_chars", col("n_chars") + lit(1000000L)), "U", 1, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(7)) === 3), "D", 1, 2))
        .unionByName(ev(docs.filter(pmod(k, lit(11)) === 0)
          .withColumn("doc_id", k + lit(10000L)), "I", 1, 3))
      // b1: reinsert some deleted keys, move some keys to a new
      // partition value, delete more
      val b1 = ev(docs.filter(pmod(k, lit(7)) === 3 && pmod(k, lit(2)) === 1)
        .withColumn("n_chars", col("n_chars") + lit(500000L)), "I", 2, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(13)) === 1)
          .withColumn("source", lit("moved")), "U", 2, 2))
        .unionByName(ev(docs.filter(pmod(k, lit(10)) === 0), "D", 2, 3))
      Seq((b0, 0L), (b1, 1L)).foreach { case (b, id) =>
        val (_, first) = MergeInto.merge(spark, root, b, "sink-a", id)
        assert(first, s"first delivery of batch $id must publish")
        val (_, again) = MergeInto.merge(spark, root, b, "sink-a", id)
        assert(!again, s"redelivery of batch $id must be a no-op")
      }
      val snap = ManifestStore.snapshot(spark, root)
      assert(snap.version === 3L,
        "redeliveries must not mint versions: v1 + 2 merges")
      // the semantic oracle: the whole log reduced at once over the
      // base treated as epoch-zero inserts
      val base = ev(docs, "I", 0, 0)
      val expect = graft.cdc.Materializer.materialize(
        base.unionByName(b0).unionByName(b1), keyCol = "doc_id")
      assert(canon(DeletionVectors.read(snap)) === canon(expect))
      // time travel still serves every intermediate state
      assert(canon(DeletionVectors.read(
        ManifestStore.snapshotAt(spark, root, 1))) === canon(docs))
    } finally Scratch.deleteRecursively(root)
  }

  test("a reinsert of a DV-dead key serves only the new row — the " +
    "stale copy stays on disk, dead under the newer record") {
    val root = Scratch.tempDir("graft-merge-stale")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val victim = docs.orderBy("doc_id").limit(1)
        .localCheckpoint(true)
      val vid = victim.head.getLong(0)
      // DV-delete OUTSIDE merge (an RTBF path): the physical row stays
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        victim.select(col("doc_id")))
      // now MERGE a reinsert of the same key with a NEW payload
      val reins = ev(victim.withColumn("n_chars", lit(424242L)), "I", 9, 1)
      MergeInto.merge(spark, root, reins, "sink-b", 0L)
      val snap = ManifestStore.snapshot(spark, root)
      val got = DeletionVectors.read(snap)
        .filter(col("doc_id") === vid).collect()
      assert(got.length === 1, "exactly one live row for the reinserted key")
      assert(got.head.getAs[Long]("n_chars") === 424242L,
        "the stale pre-delete payload must not resurrect")
      // nothing was rewritten: both physical copies exist, and the
      // point lookup serves the new one
      assert(snap.readForIds(ManifestStore.MAIN, "doc_id", Seq(vid))
        .count() === 2L)
      assert(DeletionVectors.readForIds(snap, ManifestStore.MAIN, "doc_id",
        Seq(vid)).collect().map(_.getAs[Long]("n_chars")).toSeq === Seq(424242L))
      // materialization drops the stale copy and keeps the new one
      DeletionVectors.materialize(spark, root, ManifestStore.MAIN, "doc_id")
      assert(ManifestStore.snapshot(spark, root).read()
        .filter(col("doc_id") === vid).collect()
        .map(_.getAs[Long]("n_chars")).toSeq === Seq(424242L))
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(victim)
    } finally Scratch.deleteRecursively(root)
  }

  test("N-batch churn: each merge APPENDS O(batch) vector bytes while " +
    "the vector grows — no O(|DV|) rewrite; compactDv collapses the pile") {
    val root = Scratch.tempDir("graft-merge-churn")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val dvName = DeletionVectors.dvTable(ManifestStore.MAIN)
      // seed a LARGE vector: 1/3 of the corpus DV-dead before the
      // churn starts — the r11 design re-wrote all of it every batch
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("doc_id")))
      val seeded = ManifestStore.snapshot(spark, root)
        .read(dvName).count()
      assert(seeded >= 100L, s"fixture too small to seed a vector ($seeded)")
      // five fixed-size delete batches (40 fresh ids each) through MERGE
      val perBatch = (0 until 5).map { i =>
        val prev = ManifestStore.snapshot(spark, root)
        val b = ev(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .orderBy("doc_id").limit(200).filter(
            pmod(col("doc_id"), lit(5)) === (i % 5).toLong), "D", 10 + i, 1)
        MergeInto.merge(spark, root, b, "churn", i.toLong)
        val cur = ManifestStore.snapshot(spark, root)
        val (added, removed) = ManifestStore.fileDiff(prev, cur, dvName)
        assert(removed.isEmpty,
          s"batch $i rewrote ${removed.map(_.path)} — the vector must " +
            "only be appended to")
        added.map(_.bytes).sum
      }
      // flat: every batch's appended run is batch-sized, not
      // vector-sized (the seeded vector alone is 10x a batch)
      assert(perBatch.max <= perBatch.min * 2 + 1024,
        s"per-batch DV bytes must stay flat at fixed batch size, got " +
          perBatch.mkString(","))
      // the pile collapses without touching data; reads are unchanged
      val before = canon(DeletionVectors.read(
        ManifestStore.snapshot(spark, root)))
      val dataBefore = ManifestStore.snapshot(spark, root).filePaths()
      DeletionVectors.compactDv(spark, root, ManifestStore.MAIN, "doc_id")
      val snap = ManifestStore.snapshot(spark, root)
      assert(snap.filePaths() === dataBefore,
        "compactDv must not touch one data file")
      assert(snap.state(dvName).partitions.values
        .map(_.files.length).sum === 1,
        "the compacted vector is one sorted run")
      assert(canon(DeletionVectors.read(snap)) === before)
      // appends after compaction still supersede: revive one victim
      val vic = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .orderBy("doc_id").limit(1).localCheckpoint(true)
      MergeInto.merge(spark, root,
        ev(vic.withColumn("n_chars", lit(777L)), "I", 99, 1), "churn", 99L)
      val got = DeletionVectors.read(ManifestStore.snapshot(spark, root))
        .filter(col("doc_id") === vic.head.getLong(0)).collect()
      assert(got.length === 1 && got.head.getAs[Long]("n_chars") === 777L)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(vic)
    } finally Scratch.deleteRecursively(root)
  }

  test("a partition emptied by moves is dropped from the manifest") {
    val root = Scratch.tempDir("graft-merge-empty")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val src0 = docs.select(min(col("source"))).head.getString(0)
      // move EVERY row of the smallest source elsewhere
      val move = ev(docs.filter(col("source") === src0)
        .withColumn("source", lit("elsewhere")), "U", 1, 1)
      MergeInto.merge(spark, root, move, "sink-c", 0L)
      val expect = docs.withColumn("source",
        when(col("source") === src0, lit("elsewhere"))
          .otherwise(col("source")))
      // the merge rewrites nothing: the emptied partition's rows are
      // dead under the move's records, and it serves none of them
      val merged = ManifestStore.snapshot(spark, root)
      assert(canon(DeletionVectors.read(merged)) === canon(expect))
      assert(DeletionVectors.read(merged)
        .filter(col("source") === src0).count() === 0L)
      // materialization, which folds the vector into the data, drops it
      DeletionVectors.materialize(spark, root, ManifestStore.MAIN, "doc_id")
      val snap = ManifestStore.snapshot(spark, root)
      assert(!snap.state(ManifestStore.MAIN).partitions.values
        .exists(_.values == Seq(src0)),
        "the emptied source partition must leave the manifest")
      assert(canon(DeletionVectors.read(snap)) === canon(expect))
    } finally Scratch.deleteRecursively(root)
  }

  test("an applied merge of a 64-partition batch runs ONE Spark job of " +
    "one task: mixed, above ISIN_MAX keys, pure deletes and fresh inserts") {
    val root = Scratch.tempDir("graft-merge-budget")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val k = col("doc_id")
      val dvName = DeletionVectors.dvTable(ManifestStore.MAIN)
      // a vector already exists: the merge's records pile on it
      val killed = docs.filter(pmod(k, lit(9)) === 4)
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        killed.select(k))
      val mixed = ev(docs.filter(pmod(k, lit(6)) === 0)
        .withColumn("n_chars", col("n_chars") + lit(7L)), "U", 1, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(8)) === 1), "D", 1, 2))
        .unionByName(ev(killed.filter(pmod(k, lit(2)) === 0)
          .withColumn("n_chars", lit(5L)), "I", 1, 3))
        .unionByName(ev(docs.filter(pmod(k, lit(10)) === 3)
          .withColumn("doc_id", k + lit(50000L)), "I", 1, 4))
      // more upserted keys than ISIN_MAX, every one held by an older file
      val wide = ev(docs.filter(pmod(k, lit(3)) =!= 0)
        .withColumn("n_chars", col("n_chars") + lit(3L)), "U", 2, 1)
      assert(wide.count() > ManifestStore.ISIN_MAX)
      // deletes only: no upsert file; fresh inserts only, above every
      // file's max key: no vector run
      val deletes = ev(docs.filter(pmod(k, lit(11)) === 5), "D", 3, 1)
      val fresh = ev(docs.filter(pmod(k, lit(10)) === 7)
        .withColumn("doc_id", k + lit(90000L)), "I", 4, 1)
      Seq(mixed -> "mixed", wide -> "wide", deletes -> "deletes", fresh -> "fresh")
        .zipWithIndex.foreach { case ((b, name), id) =>
          val batch = spread(b, 64)
          assert(batch.rdd.getNumPartitions === 64)
          val pre = ManifestStore.snapshot(spark, root)
          val (jobs, widest) = jobBudget {
            val (_, applied) = MergeInto.merge(spark, root, batch, "budget", id.toLong)
            assert(applied)
          }
          assert(jobs.size === 1, s"applied merge $name ran ${jobs.size} Spark " +
            jobs.mkString("jobs:\n", "\n", ""))
          assert(widest === 1, s"a stage of merge $name ran $widest tasks")
          val post = ManifestStore.snapshot(spark, root)
          val data = ManifestStore.fileDiff(pre, post, ManifestStore.MAIN)._1
          val runs = ManifestStore.fileDiff(pre, post, dvName)._1
          assert(data.nonEmpty === (name != "deletes"), s"$name: upsert files $data")
          assert(runs.size === (if (name == "fresh") 0 else 1), s"$name: vector runs $runs")
        }
      val expect = Materializer.materialize(
        ev(docs, "I", 0, 0).unionByName(ev(killed, "D", 0, 1))
          .unionByName(mixed).unionByName(wide).unionByName(deletes)
          .unionByName(fresh), keyCol = "doc_id")
      assert(canon(DeletionVectors.read(ManifestStore.snapshot(spark, root)))
        === canon(expect))
    } finally Scratch.deleteRecursively(root)
  }

  test("a merge-staged file has the parquet schema, field ids, codec and " +
    "Spark footer metadata a DataFrameWriter writes for the same rows") {
    val root = Scratch.tempDir("graft-merge-files")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val k = col("doc_id")
      val dvName = DeletionVectors.dvTable(ManifestStore.MAIN)
      val b = ev(docs.filter(pmod(k, lit(5)) === 0)
        .withColumn("n_chars", col("n_chars") + lit(1L)), "U", 1, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(7)) === 3), "D", 1, 2))
      val pre = ManifestStore.snapshot(spark, root)
      MergeInto.merge(spark, root, b, "files", 0L)
      val post = ManifestStore.snapshot(spark, root)
      val Seq(run) = ManifestStore.fileDiff(pre, post, dvName)._1
      val data = ManifestStore.fileDiff(pre, post, ManifestStore.MAIN)._1
      assert(data.nonEmpty)
      val out = Scratch.tempDir("graft-merge-files-ref")
      // the reference: the same rows, as the frame the table's stage
      // path tags and hands a DataFrameWriter
      def written(df: DataFrame, table: String, name: String) = {
        ManifestStore.tagForStage(df, root, table).coalesce(1)
          .write.parquet(s"$out/$name")
        new java.io.File(s"$out/$name").listFiles()
          .filter(_.getName.endsWith(".parquet")).head.getPath
      }
      val schema = post.state(ManifestStore.MAIN).schemaDdl
      val cast = org.apache.spark.sql.types.StructType.fromDDL(schema).fields
        .map(f => col(f.name).cast(f.dataType)).toSeq
      data.foreach { f =>
        val part = MergeIntoSpec.footer(s"$root/${f.path}")
        val src = spark.read.parquet(s"$root/${f.path}").select("source").head().getString(0)
        val ref = MergeIntoSpec.footer(written(b.filter(col("op") =!= "D" &&
          col("source") === src).select(cast: _*), ManifestStore.MAIN, src))
        assert(part === ref, s"upsert file ${f.path}")
      }
      val killed = recordsAt(post)
      import spark.implicits._
      val ref = MergeIntoSpec.footer(written(killed.map(_ -> post.version)
        .toDF("doc_id", DeletionVectors.SEQ_COL), dvName, "dv"))
      assert(MergeIntoSpec.footer(s"$root/${run.path}") === ref, s"vector run ${run.path}")
      Scratch.deleteRecursively(out)
    } finally Scratch.deleteRecursively(root)
  }

  test("a failed task attempt's files are never committed: the " +
    "redelivered batch reads back ≡ Materializer") {
    val root = Scratch.tempDir("graft-merge-attempt")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val k = col("doc_id")
      val b = ev(docs.filter(pmod(k, lit(4)) === 1)
        .withColumn("n_chars", col("n_chars") + lit(1L)), "U", 1, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(4)) === 3), "D", 1, 2))
      // the same batch with its greatest upserted key moved to a
      // partition value too long for a directory name: the task has
      // written the upsert files of lower keys when that open fails
      val last = b.filter(col("op") === "U").agg(max(k)).head().getLong(0)
      val bad = b.withColumn("source",
        when(k === last, lit("x" * 300)).otherwise(col("source")))
      intercept[Exception](MergeInto.merge(spark, root, bad, "attempt", 0L))
      val committed = ManifestStore.snapshot(spark, root)
      assert(committed.version === 1L, "the failed merge must publish nothing")
      def onDisk = {
        import scala.jdk.CollectionConverters._
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "_data"))
        try w.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSet
        finally w.close()
      }
      def referenced(s: ManifestStore.Snapshot) =
        (s.filePaths() ++ (if (s.hasTable(DeletionVectors.dvTable(ManifestStore.MAIN)))
          s.filePaths(DeletionVectors.dvTable(ManifestStore.MAIN)) else Nil))
          .map(p => new java.io.File(s"$root/$p").getCanonicalPath).toSet
      val left = onDisk.map(p => new java.io.File(p).getCanonicalPath) -- referenced(committed)
      assert(left.nonEmpty, "the failed attempt left no file behind")
      val (_, applied) = MergeInto.merge(spark, root, b, "attempt", 0L)
      assert(applied)
      val snap = ManifestStore.snapshot(spark, root)
      assert((referenced(snap) intersect left).isEmpty,
        s"committed a failed attempt's files: ${referenced(snap) intersect left}")
      assert(left.forall(p => new java.io.File(p).exists))
      assert(canon(DeletionVectors.read(snap)) === canon(Materializer.materialize(
        ev(docs, "I", 0, 0).unionByName(b), keyCol = "doc_id")))
    } finally Scratch.deleteRecursively(root)
  }

  test("re-inserts of compacted, older, revived and never-deleted keys " +
    "read back exactly, below and above ISIN_MAX upserted keys") {
    val root = Scratch.tempDir("graft-merge-revive")
    try {
      import spark.implicits._
      ManifestStore.write(docs, root, Seq("source"))
      val k = col("doc_id")
      val Array(compacted, older, revived, never) =
        docs.orderBy("doc_id").limit(4).collect().map(_.getLong(0))
      def kill(ids: Long*) = DeletionVectors.delete(spark, root,
        ManifestStore.MAIN, "doc_id", ids.toDF("doc_id"))
      def rows(ids: Seq[Long]) = docs.filter(k.isin(ids: _*))
      // compacted: its delete record is folded into the compacted run;
      // older: deleted after compactDv, in a run later runs pile on;
      // revived: deleted, then already revived by an earlier merge;
      // never: never deleted
      kill(compacted)
      DeletionVectors.compactDv(spark, root)
      kill(older)
      kill(revived)
      val reins = ev(rows(Seq(revived)).withColumn("n_chars", lit(11L)), "I", 2, 1)
      MergeInto.merge(spark, root, reins, "revive", 0L)
      val log0 = ev(docs, "I", 0, 0)
        .unionByName(ev(rows(Seq(compacted, older, revived)), "D", 1, 0))
        .unionByName(reins)

      val four = Seq(compacted, older, revived, never)
      val b1 = ev(rows(four).withColumn("n_chars", lit(99L)), "U", 3, 1)
      assert(liveAmong(ManifestStore.snapshot(spark, root), four)
        === Set(revived, never))
      MergeInto.merge(spark, root, b1, "revive", 1L)
      val s1 = ManifestStore.snapshot(spark, root)
      assert(recordsAt(s1) === four.sorted,
        "one record per upserted key an older file holds, whatever its state")
      assert(liveAmong(s1, four) === four.toSet)
      val log1 = log0.unionByName(b1)
      assert(canon(DeletionVectors.read(s1))
        === canon(Materializer.materialize(log1, keyCol = "doc_id")))

      // more upserted keys than ISIN_MAX, over a vector holding some of
      // them: the read side's point lookups and scans stay exact
      kill(docs.filter(pmod(k, lit(5)) === 2).collect().map(_.getLong(0)).toSeq: _*)
      val log2 = log1.unionByName(ev(docs.filter(pmod(k, lit(5)) === 2), "D", 4, 0))
      val wide = docs.filter(pmod(k, lit(3)) =!= 0)
      val b2 = ev(wide.withColumn("n_chars", col("n_chars") + lit(3L)), "U", 5, 1)
      val wideIds = wide.collect().map(_.getLong(0)).toSet
      assert(wideIds.size > ManifestStore.ISIN_MAX)
      val dead2 = wideIds -- liveAmong(ManifestStore.snapshot(spark, root),
        wideIds.toSeq)
      assert(dead2.nonEmpty)
      MergeInto.merge(spark, root, b2, "revive", 2L)
      val s2 = ManifestStore.snapshot(spark, root)
      assert(recordsAt(s2) === wideIds.toSeq.sorted)
      assert(liveAmong(s2, wideIds.toSeq) === wideIds)
      assert(canon(DeletionVectors.read(s2)) === canon(
        Materializer.materialize(log2.unionByName(b2), keyCol = "doc_id")))
    } finally Scratch.deleteRecursively(root)
  }

  test("a merge staged from a superseded version publishes nothing: " +
    "an interleaved commit fails it naming both versions") {
    val root = Scratch.tempDir("graft-merge-stale-base")
    try {
      ManifestStore.write(docs, root, Seq("source"))               // v1
      val k = col("doc_id")
      val src0 = docs.select(min(col("source"))).head.getString(0)
      val b = ev(docs.filter(col("source") === src0 && pmod(k, lit(4)) === 0)
        .withColumn("n_chars", col("n_chars") + lit(9L)), "U", 1, 1)
      // the other writer's rows land in the partition the merge updates
      val other = docs.filter(col("source") === src0)
        .withColumn("doc_id", k + lit(70000L))
      MergeIntoSpec.Gate.reset()
      val gate = udf { (id: Long) => MergeIntoSpec.Gate.pass(); id }
        .asNondeterministic()
      // one input partition: only one core waits at the gate
      val gated = spread(b, 1).withColumn("doc_id", gate(k))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val merging = Future(MergeInto.merge(spark, root, gated, "stale", 0L))
      assert(MergeIntoSpec.Gate.entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "the merge never reached its first job")
      // the merge has taken its snapshot (v1); another writer commits v2
      ManifestStore.append(other, root, Seq("source"))
      MergeIntoSpec.Gate.release.countDown()
      val e = intercept[ManifestStore.ConcurrentCommitException] {
        Await.result(merging, 5.minutes)
      }
      assert(e.getMessage.contains("version 1") && e.getMessage.contains("found 2"),
        e.getMessage)
      val snap = ManifestStore.snapshot(spark, root)
      assert(snap.version === 2L, "the stale merge must publish nothing")
      assert(!snap.batches.contains("stale"))
      // the redelivery stages from v2 and keeps the other writer's rows
      val (_, applied) = MergeInto.merge(spark, root, b, "stale", 0L)
      assert(applied)
      val expect = Materializer.materialize(ev(docs, "I", 0, 0)
        .unionByName(ev(other, "I", 0, 1)).unionByName(b), keyCol = "doc_id")
      assert(canon(DeletionVectors.read(ManifestStore.snapshot(spark, root)))
        === canon(expect))
    } finally Scratch.deleteRecursively(root)
  }

  test("findById and findAll on a merged store with a vector run at " +
    "most 3 Spark jobs each") {
    val root = Scratch.tempDir("graft-merge-reads")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val k = col("doc_id")
      MergeInto.merge(spark, root, ev(docs.filter(pmod(k, lit(4)) === 1)
        .withColumn("n_chars", col("n_chars") + lit(1L)), "U", 1, 1)
        .unionByName(ev(docs.filter(pmod(k, lit(7)) === 2), "D", 1, 2)),
        "reads", 0L)
      val snap = ManifestStore.snapshot(spark, root)
      assert(snap.hasTable(DeletionVectors.dvTable(ManifestStore.MAIN)))
      val ids = docs.orderBy("doc_id").limit(4).collect().map(_.getLong(0)).toSeq
      val expect = Materializer.materialize(ev(docs, "I", 0, 0)
        .unionByName(ev(docs.filter(pmod(k, lit(4)) === 1)
          .withColumn("n_chars", col("n_chars") + lit(1L)), "U", 1, 1))
        .unionByName(ev(docs.filter(pmod(k, lit(7)) === 2), "D", 1, 2)),
        keyCol = "doc_id")
      var point: Seq[Seq[Any]] = Seq.empty
      var all: Seq[Seq[Any]] = Seq.empty
      val (pointJobs, _) = jobBudget {
        point = canon(DeletionVectors.readForIds(snap, ManifestStore.MAIN,
          "doc_id", ids))
      }
      val (allJobs, _) = jobBudget { all = canon(DeletionVectors.read(snap)) }
      assert(pointJobs.size <= 3, pointJobs.mkString("findById jobs:\n", "\n", ""))
      assert(allJobs.size <= 3, allJobs.mkString("findAll jobs:\n", "\n", ""))
      assert(point === canon(expect.filter(k.isin(ids: _*))))
      assert(all === canon(expect))
    } finally Scratch.deleteRecursively(root)
  }

  test("seeded random I/U/D histories with compactDv and materialize " +
    "interleaved: every version reads ≡ Materializer, every hop's " +
    "logicalFeed ≡ the diff of consecutive Materializer states") {
    import spark.implicits._
    val nType = docs.schema("n_chars").dataType
    Seq(11L, 29L).foreach { seed =>
      val root = Scratch.tempDir(s"graft-merge-prop$seed")
      try {
        val rng = new scala.util.Random(seed)
        val base = docs.orderBy("doc_id").limit(60).localCheckpoint(true)
        ManifestStore.write(base, root, Seq("source"))             // v1
        val baseIds = base.collect().map(_.getLong(0)).toSeq
        val sources = base.select("source").distinct().collect()
          .map(_.getString(0)).toSeq :+ "moved"
        val fresh = baseIds.max + 1
        // a small key pool: same-key events inside a batch, deletes
        // followed by re-inserts, fresh keys above every file's max
        val pool = baseIds.take(24) ++ (fresh until fresh + 8)
        var log = ev(base, "I", 0, 0)
        val logs = scala.collection.mutable.Map(1L -> log)
        var batch = 0L
        // five merges, one compactDv and one materialize, in a seeded
        // order after a first merge
        val steps = "merge" +: rng.shuffle(Seq.fill(4)("merge") ++
          Seq("compact", "materialize"))
        steps.foreach { step =>
          val hasDv = ManifestStore.snapshot(spark, root)
            .hasTable(DeletionVectors.dvTable(ManifestStore.MAIN))
          step match {
            case "compact" if hasDv =>
              DeletionVectors.compactDv(spark, root)
            case "materialize" if hasDv =>
              DeletionVectors.materialize(spark, root, ManifestStore.MAIN, "doc_id")
            case _ =>
              val evs = (1 to 12).map { i =>
                val op = Seq("I", "U", "D")(rng.nextInt(3))
                (pool(rng.nextInt(pool.length)), sources(rng.nextInt(sources.length)),
                  rng.nextInt(1000).toLong, op, batch + 1, i.toLong)
              }
              val b = evs.toDF("doc_id", "source", "n_chars", "op", "ts", "seq")
                .withColumn("n_chars", col("n_chars").cast(nType))
                .localCheckpoint(true)
              MergeInto.merge(spark, root, b, "prop", batch)
              log = log.unionByName(b)
              batch += 1
          }
          logs(ManifestStore.snapshot(spark, root).version) = log
        }
        val versions = logs.keys.toSeq.sorted
        assert(versions === (1L to versions.max), "one version per step")
        def state(v: Long): Map[Long, Any] =
          Materializer.materialize(logs(v), keyCol = "doc_id")
            .select("doc_id", "n_chars").collect()
            .map(r => r.getLong(0) -> r.get(1)).toMap
        def snap(v: Long) = ManifestStore.snapshotAt(spark, root, v)
        versions.foreach { v =>
          assert(canon(DeletionVectors.read(snap(v)))
            === canon(Materializer.materialize(logs(v), keyCol = "doc_id")),
            s"seed $seed: read at v$v")
        }
        versions.sliding(2).foreach { case Seq(a, b) =>
          val (sa, sb) = (state(a), state(b))
          val diff = (sa.keySet ++ sb.keySet).toSeq.flatMap { id =>
            (sa.get(id), sb.get(id)) match {
              case (None, Some(n))                => Some((id, n, null, "insert"))
              case (Some(o), None)                => Some((id, null, o, "delete"))
              case (Some(o), Some(n)) if o != n   => Some((id, n, o, "update"))
              case _                              => None
            }
          }.map(_.productIterator.toSeq).sortBy(_.mkString("|"))
          assert(canon(DeletionVectors.logicalFeed(spark, root, snap(a), snap(b)))
            === diff, s"seed $seed: feed v$a -> v$b")
        }
      } finally Scratch.deleteRecursively(root)
    }
  }
}

object MergeIntoSpec {

  /** What a parquet file's footer says of how it was written: its
    * schema (field ids included), every column chunk's codec, its
    * key-value metadata keys and the schema Spark stored in them.
    */
  def footer(path: String): (String, Set[String], Set[String], String) = {
    import scala.jdk.CollectionConverters._
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(java.nio.file.Paths.get(path)))
    try {
      val meta = rdr.getFooter.getFileMetaData
      val kv = meta.getKeyValueMetaData.asScala
      (meta.getSchema.toString,
        rdr.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .map(_.getCodec.name).toSet,
        kv.keySet.toSet,
        kv.getOrElse("org.apache.spark.sql.parquet.row.metadata", ""))
    } finally rdr.close()
  }

  /** A latch pair a UDF inside a merge's first job waits on, so a test
    * can commit between the merge's snapshot and its publish.
    */
  object Gate {
    @volatile var entered = new java.util.concurrent.CountDownLatch(1)
    @volatile var release = new java.util.concurrent.CountDownLatch(1)
    def reset(): Unit = {
      entered = new java.util.concurrent.CountDownLatch(1)
      release = new java.util.concurrent.CountDownLatch(1)
    }
    def pass(): Unit = {
      entered.countDown()
      release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}
