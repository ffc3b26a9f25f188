package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The merge-on-read delete contract: an RTBF delete of k docs
  * commits O(k) bytes (no data file touched), reads back identically
  * to the copy-on-write answer, survives time travel, and
  * materialization rewrites ONLY zone-map-candidate partitions,
  * clears the vector, and leaves the superseded files to vacuum.
  */
class DeletionVectorsSpec extends SparkSpec {

  private def docs =
    Tables(spark, sfDir).documents
      .select(col("doc_id"), col("n_chars"), col("source"))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def lastDeltaBytes(root: String): Long = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(root, "_graft")
    val s = java.nio.file.Files.list(dir)
    val last =
      try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("d") && n.endsWith(".json")
        }
        .toSeq.maxBy(_.getFileName.toString)
      finally s.close()
    java.nio.file.Files.size(last)
  }

  test("a k-doc delete commits O(k) metadata and no data file") {
    val root = Scratch.tempDir("graft-dv-okay")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val v1 = ManifestStore.snapshot(spark, root)
      val dataFiles = v1.filePaths()
      val kill = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id", kill)
      // O(k): the delete's delta is one tiny DV file entry — nowhere
      // near the store's own commit (which listed every partition)
      assert(lastDeltaBytes(root) < 2048,
        s"DV delta must be O(k) bytes, got ${lastDeltaBytes(root)}")
      val v2 = ManifestStore.snapshot(spark, root)
      assert(v2.filePaths() === dataFiles,
        "a DV delete must not touch one data file")
      // merge-on-read ≡ copy-on-write
      val expect = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      assert(canon(DeletionVectors.read(v2)) === canon(expect))
      // idempotent: same ids again, plus absent ids — no row change
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id", kill)
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        kill.withColumn("doc_id", col("doc_id") + lit(90000000L)))
      assert(canon(DeletionVectors.read(ManifestStore.snapshot(spark, root)))
        === canon(expect))
      // time travel reproduces the pre-delete view
      assert(canon(DeletionVectors.read(
        ManifestStore.snapshotAt(spark, root, 1))) === canon(docs))
    } finally Scratch.deleteRecursively(root)
  }

  test("materialize rewrites only zone-map-candidate partitions, " +
    "clears the vector, and vacuum collects the superseded files") {
    val root = Scratch.tempDir("graft-dv-mat")
    try {
      // id-clustered partitions so the zone maps can EXONERATE most
      // of the store: bucket b holds exactly doc_id in [100b, 100b+99]
      val bucketed = docs
        .withColumn("bucket", (col("doc_id") / 100).cast("long"))
      ManifestStore.write(bucketed, root, Seq("bucket"))
      // all deletions land in bucket 1
      val kill = bucketed
        .filter(col("doc_id") >= 120 && col("doc_id") <= 140)
        .select(col("doc_id"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id", kill)
      val v2 = ManifestStore.snapshot(spark, root)
      DeletionVectors.materialize(spark, root, ManifestStore.MAIN, "doc_id")
      val v3 = ManifestStore.snapshot(spark, root)
      // rows: materialized ≡ merge-on-read ≡ filter
      val expect = bucketed
        .filter(col("doc_id") < 120 || col("doc_id") > 140)
      assert(canon(v3.read()) === canon(expect))
      // the vector is CLEARED by the same commit
      assert(DeletionVectors.read(v3).count() === v3.read().count())
      assert(v3.read(DeletionVectors.dvTable(ManifestStore.MAIN)).count() === 0L)
      // only the candidate partition's files changed — the zone maps
      // spared every other bucket a rewrite
      val changed = ManifestStore.changedPartitionKeys(v2, v3)
      assert(changed === Set("bucket=1"),
        s"only bucket 1 can hold ids 120..140, rewrote $changed")
      // superseded bucket-1 files + old DV files fall to vacuum
      assert(ManifestStore.vacuum(spark, root) > 0)
      assert(canon(ManifestStore.snapshot(spark, root).read()) ===
        canon(expect), "the current version must survive vacuum intact")
    } finally Scratch.deleteRecursively(root)
  }

  test("materialize of a partition whose rows are ALL deleted removes " +
    "the partition — the empty rewrite cannot resurrect the old files") {
    val root = Scratch.tempDir("graft-dv-allgone")
    try {
      val bucketed = docs
        .withColumn("bucket", (col("doc_id") / 100).cast("long"))
      ManifestStore.write(bucketed, root, Seq("bucket"))
      // kill EVERY row of bucket 2 (ids 200..299) plus a partial slice
      // of bucket 0 — one all-deleted partition, one survivor rewrite
      val kill = bucketed
        .filter((col("doc_id") >= 200 && col("doc_id") <= 299) ||
          (col("doc_id") >= 10 && col("doc_id") <= 19))
        .select(col("doc_id"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id", kill)
      val v2 = ManifestStore.snapshot(spark, root)
      DeletionVectors.materialize(spark, root, ManifestStore.MAIN, "doc_id")
      val v3 = ManifestStore.snapshot(spark, root)
      val expect = bucketed.filter(
        !((col("doc_id") >= 200 && col("doc_id") <= 299) ||
          (col("doc_id") >= 10 && col("doc_id") <= 19)))
      // the RTBF contract: the deleted rows are GONE after materialize
      // (before the fix, bucket 2's old files survived the Upsert
      // while the same commit cleared the vector — silent resurrection)
      assert(canon(v3.read()) === canon(expect))
      // the all-deleted partition left the manifest entirely
      assert(!v3.state(ManifestStore.MAIN).partitions.values
        .exists(_.values == Seq("2")),
        "an all-deleted partition must be dropped, not kept empty")
      // the vector is cleared and the logical feed stays silent across
      // the materialize hop (rows died at the DV commit, not here)
      assert(v3.read(DeletionVectors.dvTable(ManifestStore.MAIN)).count() === 0L)
      assert(DeletionVectors.logicalFeed(spark, root, v2, v3).count() === 0L,
        "materialization of dead rows must announce nothing")
    } finally Scratch.deleteRecursively(root)
  }

  test("materialize on a MIXED-SPEC table merges migrated survivors " +
    "into colliding untouched current-spec entries — no silent drop") {
    val root = Scratch.tempDir("graft-dv-mixedspec")
    try {
      val base = docs.withColumn("grp",
        pmod(col("doc_id"), lit(3)).cast("string"))
      ManifestStore.write(base, root, Seq("source"))               // v1
      ManifestStore.evolvePartitionSpec(spark, root,
        ManifestStore.MAIN, Seq("grp"))                            // v2
      // the UNTOUCHED current-spec generation: fresh ids far above the
      // old generation's zone maps, landing on every grp value
      val shifted = base
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      ManifestStore.upsertPartitions(shifted, root, Seq("grp"))    // v3
      // delete ids that live ONLY in old-spec (source) entries
      val kill = base.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id", kill)
      val v4 = ManifestStore.snapshot(spark, root)
      val newGenFiles = v4.state(ManifestStore.MAIN).partitions.collect {
        case (_, p) if p.cols == Seq("grp") => p.files.map(_.path)
      }.flatten.toSet
      DeletionVectors.materialize(spark, root, ManifestStore.MAIN, "doc_id")
      val v5 = ManifestStore.snapshot(spark, root)
      // the untouched generation's files survive IN the manifest: the
      // migrated old-spec survivors merged into the colliding grp
      // entries instead of replacing them (pre-fix, Upsert dropped
      // every v3 file whose grp value a migrated survivor landed on)
      assert(newGenFiles.subsetOf(v5.filePaths().toSet),
        "untouched current-spec files must survive materialize")
      val expect = base.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .unionByName(shifted)
      assert(canon(v5.read()) === canon(expect))
      assert(v5.read(DeletionVectors.dvTable(ManifestStore.MAIN))
        .count() === 0L)
    } finally Scratch.deleteRecursively(root)
  }

  test("readForIds through the vector: a DV-dead id point-fetch " +
    "returns no row before materialization") {
    val root = Scratch.tempDir("graft-dv-pointfetch")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val two = docs.orderBy("doc_id").limit(2).collect()
      val (dead, alive) = (two(0).getLong(0), two(1).getLong(0))
      import spark.implicits._
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        Seq(dead).toDF("doc_id"))
      val snap = ManifestStore.snapshot(spark, root)
      // the raw physical fetch still surfaces the bytes…
      assert(snap.readForIds(ManifestStore.MAIN, "doc_id", Seq(dead))
        .count() === 1L)
      // …the DV-aware fetch must not
      assert(DeletionVectors.readForIds(snap, ManifestStore.MAIN,
        "doc_id", Seq(dead)).count() === 0L)
      assert(DeletionVectors.readForIds(snap, ManifestStore.MAIN,
        "doc_id", Seq(dead, alive)).select("doc_id").collect()
        .map(_.getLong(0)).toSeq === Seq(alive))
    } finally Scratch.deleteRecursively(root)
  }

  test("read's anti-join is sized by the planner: the bench-sized " +
    "vector executes a broadcast LeftAnti, a disabled broadcast threshold " +
    "runs none, identical rows either way") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other                    => other +: other.children.flatMap(nodes)
    }
    val root = Scratch.tempDir("graft-dv-plan")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(97)) === 0).select("doc_id"))
      val snap = ManifestStore.snapshot(spark, root)
      val expect = canon(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0))
      // rows first: collecting runs the frame's own execution, so its
      // executed plan is the final adaptive one
      val small = DeletionVectors.read(snap)
      assert(canon(small) === expect)
      assert(nodes(small.queryExecution.executedPlan).exists {
        case j: BroadcastHashJoinExec => j.joinType == LeftAnti
        case _                        => false
      }, "the bench-sized vector must execute a BroadcastHashJoin LeftAnti")
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val orig = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        val large = DeletionVectors.read(snap)
        assert(canon(large) === expect)
        val ran = nodes(large.queryExecution.executedPlan)
        assert(!ran.exists(p => p.isInstanceOf[BroadcastHashJoinExec] ||
          p.isInstanceOf[BroadcastNestedLoopJoinExec]),
          "no broadcast join may run when the threshold forbids it")
      } finally spark.conf.set(key, orig)
    } finally Scratch.deleteRecursively(root)
  }

  test("readForIds reduces latest-wins over ONLY the probed ids' " +
    "records: a delete+revive pile answers point lookups exactly") {
    val root = Scratch.tempDir("graft-dv-pointslice")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val three = docs.orderBy("doc_id").limit(3).collect()
      val Array(deadId, revivedId, aliveId) = three.map(_.getLong(0))
      import spark.implicits._
      // pile: delete both, delete revivedId again, then revive it with
      // a new copy committed above its records — the point lookup must
      // reduce revivedId's two records to the max and still keep the
      // newer copy
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        Seq(deadId, revivedId).toDF("doc_id"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        Seq(revivedId).toDF("doc_id"))
      ManifestStore.append(docs.filter(col("doc_id") === revivedId)
        .withColumn("n_chars", lit(4242).cast(docs.schema("n_chars").dataType)),
        root, Seq("source"))
      val snap = ManifestStore.snapshot(spark, root)
      val got = DeletionVectors.readForIds(snap, ManifestStore.MAIN,
        "doc_id", Seq(deadId, revivedId, aliveId))
        .select("doc_id", "n_chars").collect()
        .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).sortBy(_._1).toSeq
      val alive = three.find(_.getLong(0) == aliveId).get
        .getAs[Number]("n_chars").longValue
      assert(got === Seq(revivedId -> 4242L, aliveId -> alive).sortBy(_._1))
    } finally Scratch.deleteRecursively(root)
  }

  test("a ManifestStore Upsert or Replace of a table with a vector " +
    "fails naming the vector, and publishes nothing") {
    val root = Scratch.tempDir("graft-dv-bypass")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val victim = docs.orderBy("doc_id").limit(1).collect().head
      import spark.implicits._
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        Seq(victim.getLong(0)).toDF("doc_id"))
      val v = ManifestStore.snapshot(spark, root).version
      val src = victim.getAs[String]("source")
      // a rewrite of the victim's partition that never read the vector
      val rewrite = docs.filter(col("source") === src)
      Seq[() => Long](
        () => ManifestStore.upsertPartitions(rewrite, root, Seq("source")),
        () => ManifestStore.write(docs, root, Seq("source"))
      ).foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(DeletionVectors.dvTable(ManifestStore.MAIN)),
          e.getMessage)
        val snap = ManifestStore.snapshot(spark, root)
        assert(snap.version === v, "a refused rewrite must publish nothing")
        assert(DeletionVectors.read(snap)
          .filter(col("doc_id") === victim.getLong(0)).count() === 0L,
          "the DV-deleted row stays dead")
      }
      // materialize applies the vector in the same commit as its
      // rewrite; the table is then free to be rewritten again
      DeletionVectors.materialize(spark, root, ManifestStore.MAIN, "doc_id")
      ManifestStore.upsertPartitions(
        rewrite.filter(col("doc_id") =!= victim.getLong(0)), root, Seq("source"))
      assert(ManifestStore.snapshot(spark, root).read()
        .filter(col("doc_id") === victim.getLong(0)).count() === 0L)
    } finally Scratch.deleteRecursively(root)
  }

  test("the DV sidecar and the data publish atomically: a snapshot is " +
    "always a consistent pair") {
    val root = Scratch.tempDir("graft-dv-pair")
    try {
      ManifestStore.write(docs, root, Seq("source"))
      val kill = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id", kill)
      // v1's snapshot has NO vector (not an empty one — none), v2's
      // has exactly the committed ids; both resolve consistently
      val v1 = ManifestStore.snapshotAt(spark, root, 1)
      val v2 = ManifestStore.snapshotAt(spark, root, 2)
      assert(!v1.hasTable(DeletionVectors.dvTable(ManifestStore.MAIN)))
      assert(v2.read(DeletionVectors.dvTable(ManifestStore.MAIN)).count()
        === kill.count())
      assert(DeletionVectors.read(v1).count() === docs.count())
      assert(DeletionVectors.read(v2).count() ===
        docs.count() - kill.count())
    } finally Scratch.deleteRecursively(root)
  }
}
