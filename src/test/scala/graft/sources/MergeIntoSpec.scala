package graft.sources

import graft.{SparkSpec, Tables}
import graft.cdc.Materializer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShims

/** MERGE INTO's defining equivalence: applying a change log through
  * [[MergeInto.merge]] batch by batch (each batch REDELIVERED — the
  * at-least-once schedule) lands on exactly the state
  * [[graft.cdc.Materializer]] computes from the whole log at once —
  * plus the storage-level properties batch materialization cannot
  * show: deletes are O(k) vector entries, a reinsert clears its
  * vector entry AND rewrites the stale row's partition, a partition
  * emptied by moves is dropped, and redeliveries publish nothing.
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

  /** (the call site of every job started, widest stage's task count)
    * while `body` runs. The bus is drained before the listener joins,
    * so no earlier event is counted, and again before the counters
    * are read.
    */
  private def jobBudget(body: => Unit): (Seq[String], Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val widest = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(" + "))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        widest.accumulateAndGet(e.stageInfo.numTasks, math.max)
    }
    GraftSqlShims.drainListeners(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      GraftSqlShims.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    (jobs.asScala.toSeq, widest.get)
  }

  /** The records one commit appended to the vector, as (id, delete). */
  private def recordsAt(snap: ManifestStore.Snapshot): Seq[(Long, Boolean)] =
    snap.read(DeletionVectors.dvTable(ManifestStore.MAIN))
      .filter(col(DeletionVectors.SEQ_COL) === snap.version)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sorted.toSeq

  private def deadIds(snap: ManifestStore.Snapshot): Set[Long] =
    DeletionVectors.liveIds(snap).collect().map(_.getLong(0)).toSet

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

  test("a DV-dead row's partition is rewritten on reinsert — the stale " +
    "physical row cannot resurrect when the vector entry clears") {
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
      val got = DeletionVectors.read(ManifestStore.snapshot(spark, root))
        .filter(col("doc_id") === vid).collect()
      assert(got.length === 1, "exactly one live row for the reinserted key")
      assert(got.head.getAs[Long]("n_chars") === 424242L,
        "the stale pre-delete payload must not resurrect")
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
      val snap = ManifestStore.snapshot(spark, root)
      assert(!snap.state(ManifestStore.MAIN).partitions.values
        .exists(_.values == Seq(src0)),
        "the emptied source partition must leave the manifest")
      val expect = docs.withColumn("source",
        when(col("source") === src0, lit("elsewhere"))
          .otherwise(col("source")))
      assert(canon(DeletionVectors.read(snap)) === canon(expect))
    } finally Scratch.deleteRecursively(root)
  }

  test("an applied merge of a 64-partition batch runs at most 9 Spark " +
    "jobs and no stage wider than one task per core") {
    val root = Scratch.tempDir("graft-merge-budget")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val k = col("doc_id")
      // a vector already exists: the revive screen and the append run
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
      val batch = spread(mixed, 64)
      assert(batch.rdd.getNumPartitions === 64)
      val (jobs, widest) = jobBudget {
        val (_, applied) = MergeInto.merge(spark, root, batch, "budget", 0L)
        assert(applied)
      }
      val cores = spark.sparkContext.defaultParallelism
      assert(jobs.size <= 9, s"an applied merge ran ${jobs.size} Spark " +
        jobs.mkString("jobs:\n", "\n", ""))
      assert(widest <= cores,
        s"a merge stage ran $widest tasks on $cores cores")
      val expect = Materializer.materialize(
        ev(docs, "I", 0, 0).unionByName(ev(killed, "D", 0, 1))
          .unionByName(mixed), keyCol = "doc_id")
      assert(canon(DeletionVectors.read(ManifestStore.snapshot(spark, root)))
        === canon(expect))
    } finally Scratch.deleteRecursively(root)
  }

  test("the revive screen revives exactly the currently-dead upserted " +
    "keys, through both readForIds residual shapes") {
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
      val dead1 = deadIds(ManifestStore.snapshot(spark, root))
      assert(dead1.intersect(four.toSet) === Set(compacted, older))
      MergeInto.merge(spark, root, b1, "revive", 1L)
      val s1 = ManifestStore.snapshot(spark, root)
      assert(recordsAt(s1) === Seq(compacted, older).sorted.map(_ -> false),
        "one revive record per currently-dead key, none for live keys")
      val log1 = log0.unionByName(b1)
      assert(canon(DeletionVectors.read(s1))
        === canon(Materializer.materialize(log1, keyCol = "doc_id")))

      // more upserted keys than ISIN_MAX: the sidecar probe semi-joins
      // a broadcast id frame instead of an isin list
      kill(docs.filter(pmod(k, lit(5)) === 2).collect().map(_.getLong(0)).toSeq: _*)
      val log2 = log1.unionByName(ev(docs.filter(pmod(k, lit(5)) === 2), "D", 4, 0))
      val wide = docs.filter(pmod(k, lit(3)) =!= 0)
      val b2 = ev(wide.withColumn("n_chars", col("n_chars") + lit(3L)), "U", 5, 1)
      val wideIds = wide.collect().map(_.getLong(0)).toSet
      assert(wideIds.size > ManifestStore.ISIN_MAX)
      val dead2 = deadIds(ManifestStore.snapshot(spark, root)).intersect(wideIds)
      assert(dead2.nonEmpty)
      MergeInto.merge(spark, root, b2, "revive", 2L)
      val s2 = ManifestStore.snapshot(spark, root)
      assert(recordsAt(s2) === dead2.toSeq.sorted.map(_ -> false))
      assert(canon(DeletionVectors.read(s2)) === canon(
        Materializer.materialize(log2.unionByName(b2), keyCol = "doc_id")))
    } finally Scratch.deleteRecursively(root)
  }
}
