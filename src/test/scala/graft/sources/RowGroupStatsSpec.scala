package graft.sources

import graft.{SparkSpec, Tables}
import graft.sources.ManifestStore.Bound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-group-granular zone maps: once compaction produces large
  * multi-row-group files, file-level (min, max) stops helping inside
  * the file — the manifest now carries per-group integral bounds, the
  * group census proves intra-file skipping WITHOUT opening a file,
  * the group-level screen drops files whose range or id-set probe
  * falls in the gaps the file envelope covers, and the pushed-down
  * residual makes the actual scan read only the intersecting groups
  * (pinned via scan metrics).
  */
class RowGroupStatsSpec extends SparkSpec {

  private def canon(df: DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  /** A compacted store: one id-sorted file with a small parquet block
    * size, so the fixture produces many row groups — the shape
    * Compaction.execute manufactures at scale. Ids are even (40
    * shifted copies of `2 · doc_id`), so between any two adjacent
    * groups lies an odd id no group holds although the file's
    * envelope covers it.
    */
  private def buildCompacted(root: String): DataFrame = {
    val wide = (0 until 40).map { i =>
      Tables(spark, sfDir).documents
        .select(col("doc_id"), col("text"),
          col("n_chars").cast("long").as("n_chars"))
        .withColumn("doc_id", col("doc_id") * 2 + lit(1000L * i))
    }.reduce(_ unionByName _).localCheckpoint(true)
    ManifestStore.commit(root, Seq(ManifestStore.stage(
      wide.coalesce(1).sortWithinPartitions("doc_id"),
      root, ManifestStore.MAIN, Seq.empty, ManifestStore.Replace,
      writerOptions = Map(
        "parquet.block.size" -> (64 * 1024).toString,
        "parquet.page.size" -> (8 * 1024).toString))))
    wide
  }

  test("multi-group footers land in the manifest; the census proves " +
    "intra-file skipping; the sharpened read stays exact") {
    val root = Scratch.tempDir("graft-rg")
    try {
      val wide = buildCompacted(root)
      val snap = ManifestStore.snapshot(spark, root)
      val files = snap.state(ManifestStore.MAIN)
        .partitions.values.flatMap(_.files).toSeq
      assert(files.length === 1, "the compacted store is ONE file")
      val f = files.head
      assert(f.groups.length > 1,
        s"fixture must produce multiple row groups, got ${f.groups.length}")
      assert(f.groups.map(_.rows).sum === f.rows,
        "group row counts must partition the file")
      // groups of an id-sorted file carry tight, ordered id bounds
      val bounds = f.groups.map(_.stats("doc_id"))
      assert(bounds.sliding(2).forall {
        case Seq((_, aMax), (bMin, _)) => aMax <= bMin
        case _                         => true
      }, "id-sorted groups must have non-overlapping ascending bounds")

      // a quartile range probe: the census says most groups skip
      val ranges = Seq(Bound.LongRange("doc_id", 5000L, 7499L))
      val sc = snap.screen(ManifestStore.MAIN, ranges)
      val (gk, gt, rk, rt) = (sc.groupsKept, sc.groupsTotal, sc.rowsKept, sc.rowsTotal)
      assert(gt === f.groups.length && rt === f.rows)
      assert(gk < gt && gk > 0, s"probe must skip groups: $gk of $gt kept")
      assert(rk < rt, "rows in kept groups < file rows — intra-file skipping")
      // exactness: the sharpened read ≡ the plain filter
      val got = snap.readBox(ManifestStore.MAIN, ranges)
      assert(canon(got) === canon(
        wide.filter(col("doc_id") >= 5000L && col("doc_id") <= 7499L)))

      // the SCAN actually skipped: pushed-down range + footer bounds
      // mean the reader materializes only the kept groups' rows
      val agg = snap.readBox(ManifestStore.MAIN, ranges)
        .agg(count(lit(1)), sum(col("n_chars")))
      agg.collect()
      val scans = scanNodes(agg.queryExecution.executedPlan)
      assert(scans.nonEmpty, "no parquet scan found in the executed plan")
      val scanned = scans.map(_.metrics("numOutputRows").value).sum
      assert(scanned <= rk,
        s"scan read $scanned rows; kept groups hold $rk — pushdown lost?")
      assert(scanned < rt, "the scan must not read the whole file")
      assert(scans.exists(_.metadata.get("PushedFilters")
        .exists(p => p.contains("GreaterThanOrEqual(doc_id")
          && p.contains("LessThanOrEqual(doc_id"))),
        "the range residual must reach the parquet reader")

      // range-in-gap: a probe BETWEEN two adjacent groups' bounds is
      // exonerated by the group screen even though the file envelope
      // covers it (file-level pruning keeps the file)
      val (lo, hi) = gapsOf(f).head
      val (fMin, fMax) = f.stats("doc_id")
      assert(fMin <= lo && hi <= fMax, "the file envelope covers the gap")
      val gap = Seq(Bound.LongRange("doc_id", lo, hi))
      assert(snap.screen(ManifestStore.MAIN, gap).files.isEmpty,
        "a range in the inter-group gap must drop the file entirely")
      assert(snap.readBox(ManifestStore.MAIN, gap).count() === 0L)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(wide)
    } finally Scratch.deleteRecursively(root)
  }

  test("string row-group bounds: a source-sorted compacted file skips " +
    "groups on a string probe; the sharpened read stays exact") {
    val root = Scratch.tempDir("graft-rg-str")
    try {
      // 40 shifted copies, sorted by SOURCE then id: each row group
      // holds a contiguous source run, so its truncated (min,max)
      // string bounds are tight
      val wide = (0 until 40).map { i =>
        Tables(spark, sfDir).documents
          .select(col("doc_id"), col("source"), col("text"),
            col("n_chars").cast("long").as("n_chars"))
          .withColumn("doc_id", col("doc_id") + lit(500L * i))
      }.reduce(_ unionByName _).localCheckpoint(true)
      ManifestStore.commit(root, Seq(ManifestStore.stage(
        wide.coalesce(1).sortWithinPartitions("source", "doc_id"),
        root, ManifestStore.MAIN, Seq.empty, ManifestStore.Replace,
        writerOptions = Map(
          "parquet.block.size" -> (64 * 1024).toString,
          "parquet.page.size" -> (8 * 1024).toString))))
      val snap = ManifestStore.snapshot(spark, root)
      val f = snap.state(ManifestStore.MAIN)
        .partitions.values.flatMap(_.files).head
      assert(f.groups.length > 1)
      assert(f.groups.forall(_.strStats.contains("source")),
        "every group must carry truncated source bounds")
      val ranges = Seq(Bound.StrRange("source", "src13", "src15"))
      val sc = snap.screen(ManifestStore.MAIN, ranges)
      assert(sc.groupsKept < sc.groupsTotal && sc.groupsKept > 0,
        s"string probe must skip groups: ${sc.groupsKept} of ${sc.groupsTotal}")
      assert(sc.rowsKept < sc.rowsTotal)
      val got = snap.readBox(ManifestStore.MAIN, ranges)
      assert(canon(got) === canon(
        wide.filter(col("source") >= "src13" && col("source") <= "src15")))
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(wide)
    } finally Scratch.deleteRecursively(root)
  }

  test("single-group files carry no group list (zero log overhead) and " +
    "prune identically at group granularity") {
    val root = Scratch.tempDir("graft-rg-single")
    try {
      val docs = Tables(spark, sfDir).documents
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .withColumn("bucket", expr("CAST(doc_id DIV 100 AS BIGINT)"))
      ManifestStore.write(docs, root, Seq("bucket"))
      val snap = ManifestStore.snapshot(spark, root)
      val files = snap.state(ManifestStore.MAIN)
        .partitions.values.flatMap(_.files)
      assert(files.forall(_.groups.isEmpty),
        "small files must not pay per-group bytes in the log")
      val sc = snap.screen(ManifestStore.MAIN,
        Seq(Bound.LongRange("doc_id", 150L, 249L)))
      // the file-level envelope test, written out from FileEntry.stats
      val envelope = files.filter { f =>
        val (mn, mx) = f.stats("doc_id")
        mx >= 150L && mn <= 249L
      }
      assert(sc.files.map(_.path).sorted === envelope.map(_.path).toSeq.sorted)
      assert(sc.filesTotal === files.size)
      assert(sc.groupsTotal === files.size && sc.groupsKept === sc.files.length)
      assert(sc.rowsKept === sc.files.map(_.rows).sum && sc.rowsTotal === docs.count())
    } finally Scratch.deleteRecursively(root)
  }

  test("id-set bounds screen by row group: ids in the gaps between " +
    "groups drop the file; readForIds ≡ a plain isin filter") {
    val root = Scratch.tempDir("graft-rg-ids")
    try {
      val wide = buildCompacted(root)
      val snap = ManifestStore.snapshot(spark, root)
      val f = snap.state(ManifestStore.MAIN)
        .partitions.values.flatMap(_.files).head
      val (fMin, fMax) = f.stats("doc_id")
      // one id inside each inter-group gap: every one lies inside the
      // file's envelope, so a file-level screen would keep the file
      val gapIds = gapsOf(f).map(_._1)
      assert(gapIds.length === f.groups.length - 1)
      assert(gapIds.forall(id => fMin <= id && id <= fMax))
      val gapScreen = snap.screen(ManifestStore.MAIN,
        Seq(Bound.IdSet("doc_id", gapIds.sorted.toArray)))
      assert(gapScreen.files.isEmpty && gapScreen.groupsKept === 0,
        "ids that fall only in inter-group gaps must drop the file")
      assert(snap.readForIds(ManifestStore.MAIN, "doc_id", gapIds).count() === 0L)

      // a mixed probe: the first ids of three groups, gap ids, and ids
      // outside the envelope — exactly the three groups are kept
      val present = f.groups.take(3).map(_.stats("doc_id")._1)
      val mixed = present ++ gapIds.take(5) ++ Seq(fMin - 3, fMax + 7)
      val sc = snap.screen(ManifestStore.MAIN,
        Seq(Bound.IdSet("doc_id", mixed.distinct.sorted.toArray)))
      assert(sc.files.length === 1 && sc.groupsKept === 3)
      def same(ids: Seq[Long]) =
        assert(canon(snap.readForIds(ManifestStore.MAIN, "doc_id", ids)) ===
          canon(wide.filter(col("doc_id").isin(ids: _*))))
      same(mixed)
      // above ISIN_MAX the residual is a broadcast semi-join instead
      val many = (0L until 400L).map(_ * 37L)
      assert(many.length > ManifestStore.ISIN_MAX)
      same(many)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(wide)
    } finally Scratch.deleteRecursively(root)
  }

  /** The (lo, hi) id span strictly between each pair of adjacent row
    * groups of an id-sorted multi-group file.
    */
  private def gapsOf(f: ManifestStore.FileEntry): Seq[(Long, Long)] =
    f.groups.map(_.stats("doc_id")).sliding(2).collect {
      case Seq((_, aMax), (bMin, _)) if bMin > aMax + 1 => (aMax + 1, bMin - 1)
    }.toSeq

  private def scanNodes(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scanNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scanNodes(q.plan)
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scanNodes)
  }
}
