package graft.tools

import java.io.ByteArrayOutputStream

import graft.{Explain, SparkEntry, SparkSpec, Tables}
import graft.sources.{ManifestStore, Scratch}
import org.apache.spark.sql.functions._

/** [[Probe]] reads: the builder plans `Explain` prints from it, the
  * shuffle figures `Scale10x` sums from its stages, and the job list
  * and call sites `JobProfile` reads right after a query returns.
  */
class ProbeSpec extends SparkSpec {

  private def captured(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  /** Expression and plan ids count what the session built before. */
  private def masked(text: String): String =
    text.replaceAll("#\\d+", "#_").replaceAll("plan_id=\\d+", "plan_id=_")

  /** Files a formatted scan's `Location` lists: the paths it prints plus
    * the `... N entries` it elides. */
  private def locationCount(line: String): Int = {
    val body = line.substring(line.indexOf('[') + 1, line.lastIndexOf(']'))
    val parts = body.split(", ").toSeq
    val elided = """\.\.\. (\d+) entries""".r
    parts.map {
      case elided(n) => n.toInt
      case _ => 1
    }.sum
  }

  test("Explain prints q114's builder scan over exactly its kept files") {
    val name = "q114_data_skipping"
    val text = captured(Explain.section(spark, sfDir, name, executed = false))
    val kept = SparkEntry.queries(name)(spark, sfDir)
      .select("files_kept", "files_total").head
    assert(kept.getLong(0) < kept.getLong(1), "the fixture prunes nothing")
    val builderPlans = text.split("\n-- builder plan ").toSeq.drop(1)
    assert(builderPlans.nonEmpty, text)
    val manifestScans = builderPlans.flatMap { plan =>
      val lines = plan.split("\n").toSeq
      lines.zipWithIndex.collect {
        case (l, i) if l.startsWith("(") && l.contains("Scan parquet graft_manifest_scan") =>
          lines.drop(i).find(_.startsWith("Location:")).map(locationCount)
      }.flatten
    }
    assert(manifestScans.contains(kept.getLong(0).toInt),
      s"no manifest scan lists ${kept.getLong(0)} files: $manifestScans\n$text")
    assert(text.contains(": localCheckpoint --"), text)
  }

  test("a builder that runs no action prints exactly df.explain(formatted)") {
    val name = "q01_pricing_summary"
    val text = captured(Explain.section(spark, sfDir, name, executed = false))
    val expected = captured(
      SparkEntry.queries(name)(spark, sfDir).explain("formatted"))
    assert(!text.contains("-- builder plan"), text)
    assert(masked(text) === masked(s"\n==== $name ====\n" + expected))
  }

  test("a one-shuffle aggregation: shuffle read = write > 0, no spill") {
    val (_, probe) = Probe.around(spark) {
      spark.range(0, 20000, 1, 4)
        .groupBy((col("id") % 97).as("k")).agg(sum("id"))
        .collect()
    }
    val stages = probe.stages
    val write = stages.map(_.shuffleWriteBytes).sum
    assert(write > 0, stages)
    assert(stages.map(_.shuffleReadBytes).sum === write, stages)
    assert(stages.map(_.spillBytes).sum === 0L, stages)
    assert(probe.plans.map(_.action) === Seq("collect"))
  }

  test("plans are the Dataset actions in execution order") {
    val (_, probe) = Probe.around(spark) {
      spark.range(10).collect()
      spark.range(20).count()
      spark.range(30).localCheckpoint(true)
    }
    assert(probe.plans.map(_.action) === Seq("collect", "count", "localCheckpoint"))
    assert(probe.plans.map(_.executionId) === probe.plans.map(_.executionId).sorted)
  }

  test("a job that ends just before a read is counted") {
    val probe = Probe.attach(spark)
    try (1 to 30).foreach { round =>
      probe.reset()
      spark.sparkContext.parallelize(1 to 400, 40).map(_ * 2).count()
      val jobs = probe.jobs
      assert(jobs.size === 1 && jobs.head.end.isDefined,
        s"round $round read $jobs")
      assert(probe.stages.map(_.tasks) === Seq(40), s"round $round")
    }
    finally probe.close()
  }

  test("a job of a SQL execution is named by the execution's site, " +
    "not by the pool thread that submitted it") {
    val root = Scratch.tempDir("graft-probe-site")
    try {
      val docs = Tables(spark, sfDir).documents.select("doc_id", "n_chars", "source")
      val (_, probe) = Probe.around(spark) {
        ManifestStore.stage(docs, root, ManifestStore.MAIN, Seq("source"),
          ManifestStore.Append)
      }
      val sites = probe.jobs.map(_.site)
      assert(sites.nonEmpty)
      assert(!sites.exists(_.contains("CompletableFuture")), sites)
      assert(sites.forall(_.contains("ManifestStore.scala")), sites)
      // AQE stages carry the pool thread's name; their job's site is
      // the line that ran the write
      val stageSites = probe.stages.map(_.site)
      assert(stageSites.nonEmpty)
      assert(stageSites.forall(_.contains("ManifestStore.scala")), probe.stages)
    } finally Scratch.deleteRecursively(root)
  }
}
