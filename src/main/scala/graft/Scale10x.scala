package graft

import org.apache.spark.sql.functions._

/** Scale-linearity measurement: run the headline pipelines against a
  * generated corpus at 1× and 10× the sf0.1 row counts and record
  * wall time, shuffle bytes (read + write), and spill per query —
  * converting the "survives a 100× scale-up" argument into numbers.
  * Corpora come from the deterministic DSv2 generator (`graft-docs`)
  * plus an h32-derived embeddings table matching the fixture's shape
  * (dim 64, 5 labels), so every doc is distinct — scaling by copying
  * the fixture would plant 10-way exact duplicates and drive the
  * dedup pipelines quadratic by construction, measuring the planted
  * pathology instead of the engine.
  *
  * Output: `scale10x.json` in the working directory (or argv(0)) with
  * per-query `{secs, shuffle_read_mb, shuffle_write_mb, spill_mb}`
  * under `"x1"`/`"x10"` plus a `"ratio"` block (10× / 1×); a ratio
  * near 10 on shuffle bytes and below ~15 on wall time is linear for
  * an n·log n-at-worst pipeline at this scale.
  */
object Scale10x {

  /** Shuffle read/write and spill over the stages `probe` saw since
    * its last reset. */
  private def counters(probe: tools.Probe): Map[String, Double] = {
    val stages = probe.stages
    Map(
      "shuffle_read_mb" -> mb(stages.map(_.shuffleReadBytes).sum),
      "shuffle_write_mb" -> mb(stages.map(_.shuffleWriteBytes).sum),
      "spill_mb" -> mb(stages.map(_.spillBytes).sum))
  }

  private def mb(b: Long): Double = math.round(b / 1048.576) / 1000.0

  private val HEADLINE = Seq(
    "dedup04_minhash_lsh",
    "dedup06_clusters",
    "sim26_ivf_batch_serve",
    "text44_bm25_topk",
    "pipe03_full_pipeline"
  )

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("scale10x.json")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores()
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val probe = tools.Probe.attach(spark)

    val d1 = spark.read.parquet(s"$base/documents.parquet").count()
    val e1 = spark.read.parquet(s"$base/embeddings.parquet").count()

    /** Generate an sf0.1-shaped corpus dir at `mult`× its row counts. */
    def gen(mult: Int): String = {
      val dir = graft.sources.Scratch.tempDir(s"graft-scale${mult}x")
      spark.read
        .format("graft-docs")
        .option("rows", d1 * mult)
        .option("partitions", cpus)
        .option("seed", 7)
        .load()
        .write
        .parquet(s"$dir/documents.parquet")
      spark
        .range(0, e1 * mult, 1, cpus)
        .select(
          col("id").as("vec_id"),
          transform(
            sequence(lit(0), lit(63)),
            j =>
              ((graft.functions.PortableHash.h32(
                concat(lit("e"), col("id").cast("string"), lit("."),
                  j.cast("string"))
              ) % 2001) - 1000).cast("float") / 1000.0f
          ).as("embedding"),
          pmod(
            graft.functions.PortableHash.h32(
              concat(lit("l"), col("id").cast("string"))),
            lit(5)
          ).cast("int").as("label")
        )
        .write
        .parquet(s"$dir/embeddings.parquet")
      dir
    }

    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def measure(dir: String): Map[String, Map[String, Double]] =
      HEADLINE.map { name =>
        runOnce(name, dir) // warm pass: codegen + file listing
        probe.reset()
        val secs = runOnce(name, dir)
        name -> (Map("secs" -> math.round(secs * 1000) / 1000.0) ++
          counters(probe))
      }.toMap

    /** The scale-CORRECT serving arm sim26's gated form can't show:
      * the gated query ties its query batch to the corpus (mod-37
      * slice), so 10× data means 10× queries × 10× per-cell
      * population = 100× scoring work — a measurement artifact, not
      * an engine property. A deployment keeps the query batch
      * independent of corpus size and grows K with the corpus
      * (K ∝ √N keeps per-cell population ∝ √N), so per-query serving
      * work grows as √N·nProbe. This arm measures exactly that: the
      * SAME fixed query table against stores built at K ∝ √N.
      */
    def servingArm(dir: String, mult: Int): Map[String, Double] = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val k = math.max(8, math.round(8 * math.sqrt(mult.toDouble)).toInt)
      val cents = graft.sim.IvfStore.centroids(emb, k, 97).localCheckpoint(true)
      val store = graft.sources.Scratch.tempDir(s"graft-scale-ivf$mult")
      graft.sim.IvfStore.build(emb, cents, store)
      // fixed 1×-sized query batch, present at every scale
      val queries = emb
        .filter(col("vec_id") < e1 && pmod(col("vec_id"), lit(37)) === 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .localCheckpoint(true)
      def serveOnce(): Double = {
        val t0 = System.nanoTime()
        graft.sim.IvfStore
          .topKBatch(spark, store, cents, queries, 10, 2)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      serveOnce() // warm
      probe.reset()
      val secs = serveOnce()
      val r = Map(
        "secs" -> math.round(secs * 1000) / 1000.0,
        "k" -> k.toDouble
      ) ++ counters(probe)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(queries)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(cents)
      graft.sources.Scratch.deleteRecursively(store)
      r
    }

    /** The O(changed)-not-O(store) claim of the change-data-feed read
      * (cdc19), measured: a manifest store built from the corpus takes
      * a FIXED-size appended churn (2000 rows at every scale), and the
      * arm times ONLY the feed — fileDiff between the two versions,
      * scan of the delta files, row-level classification. Flat secs
      * and shuffle bytes from 1× to 10× is the property; a feed that
      * secretly rescans the store shows a ~10× ratio here.
      */
    def cdfArm(dir: String, mult: Int): Map[String, Double] = {
      import graft.sources.ManifestStore
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      val root = graft.sources.Scratch.tempDir(s"graft-scale-cdf$mult")
      ManifestStore.write(docs, root, Seq("source"))
      ManifestStore.append(
        docs.filter(col("doc_id") < 2000)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L)),
        root, Seq("source"))
      val v1 = ManifestStore.snapshotAt(spark, root, 1)
      val v2 = ManifestStore.snapshotAt(spark, root, 2)
      val schema = org.apache.spark.sql.types.StructType
        .fromDDL(v2.state(ManifestStore.MAIN).schemaDdl)
      def rd(fs: Seq[ManifestStore.FileEntry]) =
        if (fs.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.schema(schema).parquet(fs.map(root + "/" + _.path): _*)
      def feedOnce(): Double = {
        val t0 = System.nanoTime()
        val (added, removed) = ManifestStore.fileDiff(v1, v2)
        rd(added).select(col("doc_id"), col("n_chars").as("cn"))
          .join(rd(removed).select(col("doc_id"), col("n_chars").as("co")),
            Seq("doc_id"), "full_outer")
          .withColumn("op",
            when(col("co").isNull, lit("insert"))
              .when(col("cn").isNull, lit("delete"))
              .when(col("cn") =!= col("co"), lit("update")))
          .filter(col("op").isNotNull)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      feedOnce() // warm
      probe.reset()
      val secs = feedOnce()
      val r = Map(
        "secs" -> math.round(secs * 1000) / 1000.0,
        "changed_rows" -> 2000.0
      ) ++ counters(probe)
      graft.sources.Scratch.deleteRecursively(root)
      r
    }

    /** The metadata claims measured the way the data claims are: a
      * store planted at `200·mult` FILES takes a FIXED churn (100
      * rows into one partition), and the arm times the commit (stage
      * excluded — the churn's write cost is the data's, not the
      * log's), the snapshot load, and the version diff. The
      * log-structured manifest makes the commit O(changed files) —
      * flat commit seconds under 10× file counts is the property;
      * the monolithic design this replaced serialized every file
      * entry per commit and shows ~10× here. Snapshot load stays
      * O(store files) by definition (the state IS the file list) and
      * is reported as the honest denominator, as is the planted
      * write's own commit (`plant_commit_secs`: one footer read per
      * planted file, so it grows with the file count by design).
      */
    def manifestArm(dir: String, mult: Int): Map[String, Double] = {
      import graft.sources.ManifestStore
      val nFiles = 200 * mult
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .withColumn("fid", pmod(col("doc_id"), lit(nFiles)).cast("long"))
      val root = graft.sources.Scratch.tempDir(s"graft-scale-man$mult")
      val planted = ManifestStore.stage(
        docs, root, ManifestStore.MAIN, Seq("fid"), ManifestStore.Replace)
      val tp = System.nanoTime()
      ManifestStore.commit(root, Seq(planted))
      val plantSecs = (System.nanoTime() - tp) / 1e9
      val churn = docs.filter(col("fid") === 0).limit(100)
        .withColumn("doc_id", col("doc_id") + lit(2000000000L))
        .localCheckpoint(true)
      // warm the commit path (the stage write, the footer reader classes)
      ManifestStore.commit(root, Seq(ManifestStore.stage(
        churn, root, ManifestStore.MAIN, Seq("fid"), ManifestStore.Append)))
      val staged = ManifestStore.stage(
        churn, root, ManifestStore.MAIN, Seq("fid"), ManifestStore.Append)
      val t0 = System.nanoTime()
      ManifestStore.commit(root, Seq(staged))
      val commitSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val cur = ManifestStore.snapshot(spark, root)
      val snapSecs = (System.nanoTime() - t1) / 1e9
      val v1 = ManifestStore.snapshotAt(spark, root, 1)
      val t2 = System.nanoTime()
      val (added, removed) = ManifestStore.fileDiff(v1, cur)
      val diffSecs = (System.nanoTime() - t2) / 1e9
      val r = Map(
        "files" -> nFiles.toDouble,
        "plant_commit_secs" -> math.round(plantSecs * 10000) / 10000.0,
        "commit_secs" -> math.round(commitSecs * 10000) / 10000.0,
        "snapshot_secs" -> math.round(snapSecs * 10000) / 10000.0,
        "filediff_secs" -> math.round(diffSecs * 10000) / 10000.0,
        "diff_files" -> (added.length + removed.length).toDouble
      )
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(churn)
      graft.sources.Scratch.deleteRecursively(root)
      r
    }

    /** The DV-feed scale claim, measured: a FIXED store (same rows,
      * same files at both scales) takes a DV delete of `2000·mult`
      * scattered ids, and the arm times ONE logicalFeed hop across
      * the delete commit. The feed's cost is the candidate-file scan
      * plus a broadcast semi-join — near-flat seconds under 10× DV
      * size is the property; the literal-expansion design this
      * replaced paid O(ids) plan compilation and O(files × ids)
      * driver screening and grows superlinearly here.
      */
    def dvFeedArm(mult: Int): Map[String, Double] = {
      import graft.sources.{DeletionVectors, ManifestStore}
      val rows = 60000L
      val nIds = 2000L * mult // rows divisible by nIds at both scales
      val root = graft.sources.Scratch.tempDir(s"graft-scale-dv$mult")
      val docs = spark.read
        .format("graft-docs")
        .option("rows", rows)
        .option("partitions", cpus)
        .option("seed", 11)
        .load()
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .withColumn("bucket", expr("CAST(doc_id DIV 500 AS BIGINT)"))
      ManifestStore.write(docs, root, Seq("bucket"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(rows / nIds)) === 0)
          .select(col("doc_id")))
      val v1 = ManifestStore.snapshotAt(spark, root, 1)
      val v2 = ManifestStore.snapshotAt(spark, root, 2)
      def feedOnce(): Double = {
        val t0 = System.nanoTime()
        DeletionVectors.logicalFeed(spark, root, v1, v2)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      feedOnce() // warm
      probe.reset()
      val secs = feedOnce()
      val r = Map(
        "secs" -> math.round(secs * 1000) / 1000.0,
        "dv_ids" -> nIds.toDouble
      ) ++ counters(probe)
      graft.sources.Scratch.deleteRecursively(root)
      r
    }

    /** The DV READ claim, measured (r13): a FIXED store (same rows,
      * same files at both scales) is read through
      * [[graft.sources.DeletionVectors.read]] while the vector holds
      * `2000·mult` ids, plus an 8-id point probe through
      * [[graft.sources.DeletionVectors.readForIds]]. The read is one
      * data scan + one anti-join against the latest-wins reduction
      * (broadcast below the record ceiling, planner-chosen above), and
      * the point probe reduces ONLY the probed ids' records through
      * zone-map screened sidecar candidate files — so near-flat
      * seconds under 10× vector size is the property for both; a read
      * side that re-scans the pile per point probe grows ~10× on
      * `point_secs` here.
      */
    def dvReadArm(mult: Int): Map[String, Double] = {
      import graft.sources.{DeletionVectors, ManifestStore}
      val rows = 60000L
      val nIds = 2000L * mult
      val root = graft.sources.Scratch.tempDir(s"graft-scale-dvr$mult")
      val docs = spark.read
        .format("graft-docs")
        .option("rows", rows)
        .option("partitions", cpus)
        .option("seed", 17)
        .load()
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .withColumn("bucket", expr("CAST(doc_id DIV 500 AS BIGINT)"))
      ManifestStore.write(docs, root, Seq("bucket"))
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(rows / nIds)) === 0)
          .select(col("doc_id")))
      val snap = ManifestStore.snapshot(spark, root)
      def readOnce(): Double = {
        val t0 = System.nanoTime()
        DeletionVectors.read(snap)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // 8 live ids scattered across the key space (≡1 mod 7500)
      val pointIds = (0L until 8L).map(i => i * 7500L + 1L)
      def pointOnce(): Double = {
        val t0 = System.nanoTime()
        DeletionVectors.readForIds(snap, ManifestStore.MAIN, "doc_id", pointIds)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      readOnce(); pointOnce() // warm
      probe.reset()
      val secs = readOnce()
      val pointSecs = pointOnce()
      val r = Map(
        "secs" -> math.round(secs * 1000) / 1000.0,
        "point_secs" -> math.round(pointSecs * 1000) / 1000.0,
        "dv_ids" -> nIds.toDouble
      ) ++ counters(probe)
      graft.sources.Scratch.deleteRecursively(root)
      r
    }

    /** The MERGE churn claim, measured: a FIXED store takes a
      * FIXED-SIZE change batch (500 updates + 500 deletes, keys
      * disjoint from the seeded vector at both scales) while the
      * deletion vector already holds `2000·mult` ids. The r11 design
      * re-wrote the whole vector per batch through one task —
      * O(|DV|); the append-only records land O(batch) bytes whatever
      * the vector holds, so flat seconds AND flat appended-DV bytes
      * under 10× vector size is the property.
      */
    def mergeArm(mult: Int): Map[String, Double] = {
      import graft.sources.{DeletionVectors, ManifestStore, MergeInto}
      val rows = 60000L
      val nIds = 2000L * mult
      val root = graft.sources.Scratch.tempDir(s"graft-scale-mg$mult")
      val docs = spark.read
        .format("graft-docs")
        .option("rows", rows)
        .option("partitions", cpus)
        .option("seed", 13)
        .load()
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .withColumn("bucket", expr("CAST(doc_id DIV 500 AS BIGINT)"))
      ManifestStore.write(docs, root, Seq("bucket"))
      // seed: multiples of rows/nIds (≡0 mod 30 / mod 3); the batch
      // keys below are ≡7 and ≡11 mod 120 — disjoint at both scales
      DeletionVectors.delete(spark, root, ManifestStore.MAIN, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(rows / nIds)) === 0)
          .select(col("doc_id")))
      def batch(upMod: Long, delMod: Long, ts: Long) =
        docs.filter(pmod(col("doc_id"), lit(120)) === upMod)
          .withColumn("n_chars", col("n_chars") + lit(5L))
          .select(col("doc_id"), col("bucket"), col("n_chars"),
            lit("U").as("op"), lit(ts).as("ts"), lit(1L).as("seq"))
          .unionByName(
            docs.filter(pmod(col("doc_id"), lit(120)) === delMod)
              .select(col("doc_id"), col("bucket"), col("n_chars"),
                lit("D").as("op"), lit(ts).as("ts"), lit(2L).as("seq")))
      def mergeOnce(b: org.apache.spark.sql.DataFrame, id: Long): Double = {
        val t0 = System.nanoTime()
        MergeInto.merge(spark, root, b, "scale-mg", id,
          partitionCol = "bucket")
        (System.nanoTime() - t0) / 1e9
      }
      mergeOnce(batch(7, 11, 1), 0L) // warm: same shape, other keys
      val pre = ManifestStore.snapshot(spark, root)
      probe.reset()
      val secs = mergeOnce(batch(31, 53, 2), 1L)
      val post = ManifestStore.snapshot(spark, root)
      val dvName = DeletionVectors.dvTable(ManifestStore.MAIN)
      val (added, _) = ManifestStore.fileDiff(pre, post, dvName)
      val r = Map(
        "secs" -> math.round(secs * 1000) / 1000.0,
        "dv_ids" -> nIds.toDouble,
        "dv_append_kb" -> math.round(added.map(_.bytes).sum / 1.024) / 1000.0
      ) ++ counters(probe)
      graft.sources.Scratch.deleteRecursively(root)
      r
    }

    /** merge_store_scale: ONE fixed 200-row batch — 100 updates, 50
      * deletes, 50 fresh inserts — merged into a `source`-partitioned
      * store of `20000·mult` rows. The merge appends the upsert rows
      * and one vector run and reads nothing from the store, so its
      * seconds and its staged bytes (data plus vector files the commit
      * adds) stay flat at 10× the store; a design that rewrites the
      * touched partitions grows both with the store.
      */
    def mergeStoreArm(mult: Int): Map[String, Double] = {
      import graft.sources.{DeletionVectors, ManifestStore, MergeInto}
      val rows = 20000L * mult
      val root = graft.sources.Scratch.tempDir(s"graft-scale-ms$mult")
      val docs = spark.read
        .format("graft-docs")
        .option("rows", rows)
        .option("partitions", cpus)
        .option("seed", 17)
        .load()
        .select(col("doc_id"), col("source"), col("n_chars"))
      ManifestStore.write(docs, root, Seq("source"))
      def batch(off: Long, ts: Long) = {
        def ev(lo: Long, n: Long, op: String) =
          docs.filter(col("doc_id") >= lo && col("doc_id") < lo + n)
            .select(col("doc_id"), col("source"),
              (col("n_chars") + lit(ts)).as("n_chars"),
              lit(op).as("op"), lit(ts).as("ts"), lit(1L).as("seq"))
        ev(off, 100, "U").unionByName(ev(off + 100, 50, "D"))
          .unionByName(ev(off + 150, 50, "I")
            .withColumn("doc_id", col("doc_id") + lit(rows)))
      }
      def mergeOnce(b: org.apache.spark.sql.DataFrame, id: Long): Double = {
        val t0 = System.nanoTime()
        MergeInto.merge(spark, root, b, "scale-ms", id)
        (System.nanoTime() - t0) / 1e9
      }
      mergeOnce(batch(0, 1), 0L) // warm: same shape, other keys
      val pre = ManifestStore.snapshot(spark, root)
      probe.reset()
      val secs = mergeOnce(batch(1000, 2), 1L)
      val post = ManifestStore.snapshot(spark, root)
      val staged = Seq(ManifestStore.MAIN, DeletionVectors.dvTable(ManifestStore.MAIN))
        .flatMap(t => ManifestStore.fileDiff(pre, post, t)._1).map(_.bytes).sum
      val r = Map(
        "secs" -> math.round(secs * 1000) / 1000.0,
        "store_rows" -> rows.toDouble,
        "staged_kb" -> math.round(staged / 1.024) / 1000.0
      ) ++ counters(probe)
      graft.sources.Scratch.deleteRecursively(root)
      r
    }

    val dir1 = gen(1)
    val x1 = measure(dir1) +
      ("ann_serve_fixed_batch" -> servingArm(dir1, 1)) +
      ("cdf_fixed_churn" -> cdfArm(dir1, 1)) +
      ("manifest_fixed_churn" -> manifestArm(dir1, 1)) +
      ("dv_feed_fixed_store" -> dvFeedArm(1)) +
      ("dv_read_fixed_store" -> dvReadArm(1)) +
      ("merge_fixed_batch" -> mergeArm(1)) +
      ("merge_store_scale" -> mergeStoreArm(1))
    graft.sources.Scratch.deleteRecursively(dir1)
    val dir10 = gen(10)
    val x10 = measure(dir10) +
      ("ann_serve_fixed_batch" -> servingArm(dir10, 10)) +
      ("cdf_fixed_churn" -> cdfArm(dir10, 10)) +
      ("manifest_fixed_churn" -> manifestArm(dir10, 10)) +
      ("dv_feed_fixed_store" -> dvFeedArm(10)) +
      ("dv_read_fixed_store" -> dvReadArm(10)) +
      ("merge_fixed_batch" -> mergeArm(10)) +
      ("merge_store_scale" -> mergeStoreArm(10))
    graft.sources.Scratch.deleteRecursively(dir10)

    def js(m: Map[String, Map[String, Double]]): String =
      m.toSeq.sortBy(_._1).map { case (q, kv) =>
        "\"" + q + "\":" + kv.toSeq.sortBy(_._1).map { case (k, v) =>
          "\"" + k + "\":" + v
        }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    val ratios = x1.keys.toSeq.sorted.map { q =>
      val (a, b) = (x1(q), x10(q))
      def rt(k: String) =
        math.round(b(k) / math.max(a(k), 1e-9) * 100) / 100.0
      q -> (if (a.contains("secs")) Map(
        "secs" -> rt("secs"),
        "shuffle_bytes" -> {
          val ra = a("shuffle_read_mb") + a("shuffle_write_mb")
          val rb = b("shuffle_read_mb") + b("shuffle_write_mb")
          math.round(rb / math.max(ra, 1e-9) * 100) / 100.0
        }
      ) ++ Seq("point_secs", "staged_kb").filter(a.contains)
        .map(k => k -> rt(k))
      else Map( // the manifest arm's metadata timings
        "plant_commit_secs" -> rt("plant_commit_secs"),
        "commit_secs" -> rt("commit_secs"),
        "snapshot_secs" -> rt("snapshot_secs"),
        "filediff_secs" -> rt("filediff_secs")
      ))
    }.toMap
    val doc = s"""{"rows_x1":{"documents":$d1,"embeddings":$e1},""" +
      s""""x1":${js(x1)},"x10":${js(x10)},"ratio":${js(ratios)}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      doc.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    spark.stop()
    println(doc)
  }
}
