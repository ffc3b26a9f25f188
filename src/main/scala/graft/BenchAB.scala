package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interleaved A/B benchmark: the same query alternates between two
  * CLASS TREES (previous round vs current) inside ONE session.
  * README documents same-code drift of ±13% across VM time windows —
  * larger than round-over-round deltas, so sequential whole-suite
  * comparisons are noise-limited; A/B/A/B alternation per query puts
  * both versions inside the SAME window, and per-version medians of
  * interleaved samples cancel the drift instead of averaging over it.
  *
  * The "other" version loads from SPARK_GRAFT_AB_CLASSES through a
  * graft-first classloader: `graft.*` and the `org.apache.spark.sql
  * .graftshim` shim resolve from the other tree; everything else
  * (spark, scala) delegates to this JVM's loader, so both versions
  * share the session, the Dataset/Row types, and the parquet inputs —
  * the only thing that differs is the query-building code under test.
  * Shared-name session registrations (the fused expression UDFs) are
  * bit-identical implementations on both sides, so last-wins
  * registration cannot skew timings.
  *
  * Output: `bench_ab.json` with per-query interleaved medians for
  * both versions and the ratio; stdout gets one headline JSON line.
  *
  * Known seam limits, by design: (1) queries that ship SCALA CLOSURES
  * (typed mapPartitions / zipWithIndex paths) cannot run from the
  * other tree — local-mode task deserialization resolves classes via
  * the executor's loader, which only sees THIS tree — so their old
  * arm reports -1 and they drop from totals (3 of 267 on the r6↔r7
  * run, ~1 s combined; adding the other tree to the task classpath
  * would silently bind same-named classes to the wrong version, which
  * is worse than exclusion). (2) Queries that WRITE scratch stores
  * inside the pair (cdc15-style) give the second-run arm a warmed
  * page cache — their per-pair ratios are flattered, so the headline
  * number to read is the MEDIAN per-query ratio, which such outliers
  * cannot move.
  */
object BenchAB {

  private def graftFirstLoader(classesDir: String): ClassLoader =
    new java.net.URLClassLoader(
      Array(new java.io.File(classesDir).toURI.toURL),
      getClass.getClassLoader
    ) {
      override def loadClass(name: String, resolve: Boolean): Class[_] =
        if (
          name.startsWith("graft.") ||
          name.startsWith("org.apache.spark.sql.graftshim")
        ) synchronized {
          Option(findLoadedClass(name)).getOrElse {
            try findClass(name)
            catch { case _: ClassNotFoundException => super.loadClass(name, resolve) }
          }
        }
        else super.loadClass(name, resolve)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val otherDir = sys.env.getOrElse(
      "SPARK_GRAFT_AB_CLASSES",
      sys.error("SPARK_GRAFT_AB_CLASSES must point at the other class tree")
    )
    val samples = sys.env.getOrElse("SPARK_GRAFT_AB_SAMPLES", "3").toInt
    // fail BEFORE the warm-up passes burn a session; odd counts give
    // the true median (even counts would read the upper middle)
    require(samples >= 1, s"SPARK_GRAFT_AB_SAMPLES must be >= 1: $samples")
    require(samples % 2 == 1, s"use an odd sample count for a true median: $samples")
    // NOTE: both arms share THIS session, so session-level config
    // (incl. engineConfs' filesystem/committer choices) applies to
    // both — the A/B isolates CODE differences between the trees;
    // session-config deltas only show in full Bench-vs-Bench runs.
    val spark = GraftSession.local(GraftSession.envCores())
    spark.sparkContext.setLogLevel("ERROR")

    val loader = graftFirstLoader(otherDir)
    val otherModule = {
      val cls = loader.loadClass("graft.SparkEntry$")
      cls.getField("MODULE$").get(null) -> cls
    }
    val otherQueries = otherModule._2
      .getMethod("queries")
      .invoke(otherModule._1)
      .asInstanceOf[Map[String, (SparkSession, String) => DataFrame]]
    val curQueries = SparkEntry.queries

    val names = (curQueries.keySet & otherQueries.keySet).toSeq.sorted
      .filter(SparkEntry.selected)

    // Failures are logged by name (once per query/arm) and excluded
    // from totals as -1; only NonFatal is caught so a JVM-fatal error
    // (OOM, interrupt) aborts the run instead of reading as exclusion.
    val failed = scala.collection.mutable.Set.empty[String]
    def time(name: String, q: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (failed.add(name)) {
            System.err.println(
              s"[BenchAB] EXCLUDED $name: ${e.getClass.getName}: ${e.getMessage}")
          }
          -1.0
      }
    }

    val t = Tables(spark, sfDir)
    Seq(t.lineitem, t.orders, t.customer, t.events, t.documents, t.embeddings)
      .foreach(_.count())

    def median(vs: Seq[Double]): Double =
      if (vs.exists(_ < 0)) -1.0 else vs.sorted.apply(vs.size / 2)

    val results = names.map { n =>
      // one untimed cold pass per version pays codegen/JIT for BOTH
      // before any timed sample — the interleave must compare warm
      // against warm
      time(s"$n/old", otherQueries(n)); time(s"$n/new", curQueries(n))
      val pairs = (1 to samples).map { _ =>
        (time(s"$n/old", otherQueries(n)), time(s"$n/new", curQueries(n)))
      }
      val old = median(pairs.map(_._1))
      val cur = median(pairs.map(_._2))
      (n, old, cur)
    }
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val detail = results
      .map { case (n, o, c) =>
        val ratio = if (o > 0 && c > 0) fmt(c / o) else "-1"
        s""""$n":{"old":${fmt(o)},"new":${fmt(c)},"ratio":$ratio}"""
      }
      .mkString("{", ",", "}")
    val okRows = results.filter(r => r._2 > 0 && r._3 > 0)
    val totOld = okRows.map(_._2).sum
    val totCur = okRows.map(_._3).sum
    val ratios = okRows.map(r => r._3 / r._2).sorted
    val medRatio = if (ratios.isEmpty) -1.0 else ratios(ratios.size / 2)
    try
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_ab.json"),
        s"""{"queries":$detail,"sf":"$sfDir","samples":$samples,"old_total":${fmt(
            totOld
          )},"new_total":${fmt(totCur)},"total_ratio":${fmt(
            if (totOld > 0) totCur / totOld else -1.0
          )},"median_ratio":${fmt(medRatio)}}""".getBytes(
          java.nio.charset.StandardCharsets.UTF_8
        )
      )
    catch { case _: Throwable => () }
    spark.stop()
    println(
      s"""{"metric":"ab_total_ratio","value":${fmt(
          if (totOld > 0) totCur / totOld else -1.0
        )},"median_ratio":${fmt(medRatio)},"n":${okRows.size},"old_total":${fmt(
          totOld
        )},"new_total":${fmt(totCur)},"sf":"$sfDir"}"""
    )
    System.out.flush()
  }
}
