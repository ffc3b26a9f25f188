package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the physical facts of the executed compaction that the q109
  * oracle cannot see: one parquet file per planned bin, partitions
  * absent from the plan keeping their manifest entries (the same
  * immutable files), and the refuse-partial-plan guard firing BEFORE
  * any commit.
  */
class CompactionExecuteSpec extends SparkSpec {

  private val target = 4000L

  private def plantedDocs =
    graft.ops.Relational10.ingestFiles(spark, sfDir)

  /** Current files per source from the manifest: source → (relative
    * path → bytes). Path identity is byte identity — files are
    * immutable once committed.
    */
  private def listParquet(path: String): Map[String, Map[String, Long]] =
    ManifestStore
      .snapshot(spark, path)
      .state(ManifestStore.MAIN)
      .partitions
      .values
      .map(p => p.values.head -> p.files.map(f => f.path -> f.bytes).toMap)
      .toMap

  private def binPlanFor(path: String) = {
    val files = ManifestStore
      .read(spark, path)
      .groupBy(col("source"), col("file_id"))
      .agg(sum(col("n_chars")).as("bytes"))
    Compaction
      .plan(files, "source", "file_id", "bytes", target)
      .select(col("source"), col("file_id"), col("bin"))
  }

  /** Distinct bins per source in `plan` — a null source keyed by the
    * directory value the partitioned writer gives it, as the manifest
    * lists it.
    */
  private def binsPerSource(plan: org.apache.spark.sql.DataFrame) =
    plan
      .groupBy(col("source"))
      .agg(countDistinct(col("bin")).as("n_bins"))
      .collect()
      .map(r => Option(r.getString(0)).getOrElse("__HIVE_DEFAULT_PARTITION__") ->
        r.getAs[Long]("n_bins"))
      .toMap

  test("OPTIMIZE racing ingest: a stale-base rewrite publishes nothing; re-plan succeeds") {
    Scratch.withTempDir("graft-cx-race") { path =>
      Compaction.writeBinned(plantedDocs, path, "source", "file_id",
        dynamic = false)
      val v1 = ManifestStore.snapshot(spark, path).version
      // the compactor's view of the store, frozen at v1 (a live frame
      // would silently re-read the post-append manifest)
      val stalePlan = binPlanFor(path).localCheckpoint(true)
      val staleFrame = ManifestStore.read(spark, path).drop("bin")
        .join(broadcast(stalePlan), Seq("source", "file_id"))
        .localCheckpoint(true)
      try {
        // ingest lands between the compactor's read and its commit
        val churn = graft.Tables(spark, sfDir).documents
          .filter(pmod(col("doc_id"), lit(7)) === 1)
          .select(
            (col("doc_id") + lit(1000000L)).as("doc_id"),
            col("source"), col("n_chars"),
            lit(1000001L).as("file_id"))
          .withColumn("bin", col("file_id"))
        ManifestStore.append(churn, path, Seq("source"))
        val afterChurn = listParquet(path)
        val churnRows = ManifestStore.snapshot(spark, path).totalRows()

        // CAS arm: the commit pinned at v1 refuses — NOTHING published,
        // the appended files are still the current state
        intercept[ManifestStore.ConcurrentCommitException] {
          Compaction.writeBinned(staleFrame, path, "source", "bin",
            dynamic = true, expectedVersion = v1)
        }
        assert(listParquet(path) === afterChurn,
          "a refused commit must leave the manifest untouched")

        // plan-staleness arm: execute with the v1 plan against the
        // post-churn store — the coverage guard refuses BEFORE any
        // write (the plan does not cover the appended files)
        intercept[IllegalArgumentException] {
          Compaction.execute(spark, path, "source", Seq("file_id"), stalePlan)
        }
        assert(listParquet(path) === afterChurn)

        // recovery: re-plan from the FRESH manifest; the rewrite now
        // covers base ∪ churn and commits at the current version
        Compaction.execute(spark, path, "source", Seq("file_id"),
          binPlanFor(path))
        val snap = ManifestStore.snapshot(spark, path)
        assert(snap.totalRows() === churnRows,
          "compaction must preserve every row including the churn")
        assert(listParquet(path).values.map(_.size).sum <
          afterChurn.values.map(_.size).sum,
          "the re-planned rewrite must still compact")
      } finally {
        org.apache.spark.sql.graftshim.GraftSqlShims
          .unpersistCheckpoint(stalePlan)
        org.apache.spark.sql.graftshim.GraftSqlShims
          .unpersistCheckpoint(staleFrame)
      }
    }
  }

  test("execution lands exactly one physical file per planned bin") {
    Scratch.withTempDir("graft-cx1") { path =>
      Compaction.writeBinned(plantedDocs, path, "source", "file_id",
        dynamic = false)
      val before = listParquet(path)
      val plan = binPlanFor(path)
      val expectedBins = plan
        .groupBy(col("source"))
        .agg(countDistinct(col("bin")).as("n_bins"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Long]("n_bins"))
        .toMap
      val expectedFilesBefore = plan
        .groupBy(col("source"))
        .agg(countDistinct(col("file_id")).as("n_files"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Long]("n_files"))
        .toMap
      // the plant really is one physical file per simulated ingest file
      before.foreach { case (src, fs) =>
        assert(fs.size.toLong === expectedFilesBefore(src), src)
      }
      Compaction.execute(spark, path, "source", Seq("file_id"), plan)
      val after = listParquet(path)
      assert(after.keySet === before.keySet)
      after.foreach { case (src, fs) =>
        assert(fs.size.toLong === expectedBins(src),
          s"$src has ${fs.size} files, planned ${expectedBins(src)} bins")
      }
      // compaction actually shrank the file population somewhere
      assert(after.values.map(_.size).sum < before.values.map(_.size).sum)
    }
  }

  test("partitions absent from the plan keep their manifest entries") {
    Scratch.withTempDir("graft-cx2") { path =>
      Compaction.writeBinned(plantedDocs, path, "source", "file_id",
        dynamic = false)
      val sources = ManifestStore
        .read(spark, path)
        .select(col("source"))
        .distinct()
        .collect()
        .map(_.getString(0))
        .sorted
      val excluded = sources.head
      val beforeEntry = listParquet(path)(excluded)
      val idsBefore = ManifestStore
        .read(spark, path)
        .select(col("doc_id"))
        .collect()
        .map(_.getLong(0))
        .sorted
        .toSeq
      val plan = binPlanFor(path).filter(col("source") =!= excluded)
      Compaction.execute(spark, path, "source", Seq("file_id"), plan)
      assert(listParquet(path)(excluded) === beforeEntry,
        "untouched partition was re-pointed (paths or bytes changed)")
      val idsAfter = ManifestStore
        .read(spark, path)
        .select(col("doc_id"))
        .collect()
        .map(_.getLong(0))
        .sorted
        .toSeq
      assert(idsAfter === idsBefore, "row identity broke across the rewrite")
    }
  }

  test("a plan missing a file of a touched partition is refused before committing") {
    Scratch.withTempDir("graft-cx3") { path =>
      Compaction.writeBinned(plantedDocs, path, "source", "file_id",
        dynamic = false)
      val fullPlan = binPlanFor(path).localCheckpoint(true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("file_id"))
      // drop ONE file from one source's plan — the classic partial plan
      val partial = fullPlan
        .withColumn("rn", row_number().over(w))
        .filter(!(col("rn") === 1 && col("source") === fullPlan
          .select(min(col("source"))).head().getString(0)))
        .drop("rn")
      val beforeFp = listParquet(path)
      val beforeVersion = ManifestStore.snapshot(spark, path).version
      val e = intercept[IllegalArgumentException] {
        Compaction.execute(spark, path, "source", Seq("file_id"), partial)
      }
      assert(e.getMessage.contains("does not cover"))
      assert(listParquet(path) === beforeFp, "refused rewrite still committed")
      assert(ManifestStore.snapshot(spark, path).version === beforeVersion,
        "refused rewrite still published a manifest version")
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(fullPlan)
    }
  }

  test("one file per bin even when the session caps records per file") {
    Scratch.withTempDir("graft-cx-maxrec") { path =>
      Compaction.writeBinned(plantedDocs, path, "source", "file_id",
        dynamic = false)
      val plan = binPlanFor(path)
      val expectedBins = binsPerSource(plan)
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
      try Compaction.execute(spark, path, "source", Seq("file_id"), plan)
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      listParquet(path).foreach { case (src, fs) =>
        assert(fs.size.toLong === expectedBins(src),
          s"$src has ${fs.size} files, planned ${expectedBins(src)} bins")
      }
    }
  }

  test("a null partition value is compacted like any other, rows intact") {
    Scratch.withTempDir("graft-cx-null") { path =>
      // null out the source of a partition that has files to merge
      val multi = plantedDocs.groupBy(col("source"))
        .agg(countDistinct(col("file_id")).as("n"))
        .filter(col("n") > 1).select(min(col("source"))).head().getString(0)
      val planted = plantedDocs.withColumn("source",
        when(col("source") === multi, lit(null).cast("string"))
          .otherwise(col("source")))
      Compaction.writeBinned(planted, path, "source", "file_id",
        dynamic = false)
      val nullKey = "__HIVE_DEFAULT_PARTITION__"
      assert(listParquet(path)(nullKey).size > 1,
        "fixture: the null partition must start with several files")
      def rows = ManifestStore.read(spark, path).drop("bin")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val before = rows
      val plan = binPlanFor(path)
      val expectedBins = binsPerSource(plan)
      Compaction.execute(spark, path, "source", Seq("file_id"), plan)
      val after = listParquet(path)
      assert(after.keySet === expectedBins.keySet)
      after.foreach { case (src, fs) =>
        assert(fs.size.toLong === expectedBins(src),
          s"$src has ${fs.size} files, planned ${expectedBins(src)} bins")
      }
      assert(rows === before, "compaction must keep every row")
    }
  }

  /** A store planted through writeBinned with one DV-deleted doc, and
    * the assertion every vector-bypassing rewrite must leave true: the
    * call fails naming the vector, nothing publishes, the doc stays
    * dead.
    */
  private def refusedOverVector(tag: String)(rewrite: String => Unit): Unit =
    Scratch.withTempDir(tag) { path =>
      Compaction.writeBinned(plantedDocs, path, "source", "file_id",
        dynamic = false)
      val victim = ManifestStore.read(spark, path).orderBy("doc_id")
        .select("doc_id").head.getLong(0)
      import spark.implicits._
      DeletionVectors.delete(spark, path, ManifestStore.MAIN, "doc_id",
        Seq(victim).toDF("doc_id"))
      val v = ManifestStore.snapshot(spark, path).version
      val e = intercept[IllegalArgumentException](rewrite(path))
      assert(e.getMessage.contains(DeletionVectors.dvTable(ManifestStore.MAIN)),
        e.getMessage)
      val snap = ManifestStore.snapshot(spark, path)
      assert(snap.version === v, "a refused rewrite must publish nothing")
      assert(DeletionVectors.read(snap).filter(col("doc_id") === victim)
        .count() === 0L, "the DV-deleted doc stays dead")
    }

  test("execute over a store with a deletion vector fails naming the " +
    "vector; the DV-deleted doc stays dead") {
    refusedOverVector("graft-cx-dv-exec") { path =>
      Compaction.execute(spark, path, "source", Seq("file_id"), binPlanFor(path))
    }
  }

  test("writeBinned over a store with a deletion vector fails naming " +
    "the vector, in both the dynamic and the whole-table form") {
    Seq(true, false).foreach { dynamic =>
      refusedOverVector(s"graft-cx-dv-binned-$dynamic") { path =>
        Compaction.writeBinned(ManifestStore.read(spark, path), path,
          "source", "file_id", dynamic)
      }
    }
  }
}
