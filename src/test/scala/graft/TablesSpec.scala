package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sources.Scratch
import graft.tools.Probe
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** [[Tables]] infers a fixture file's schema once per file identity and
  * parquet settings, and reads it with that schema after that.
  */
class TablesSpec extends SparkSpec {

  private def copy(table: String, dir: String, as: String): Unit =
    Files.copy(Paths.get(sfDir, s"$table.parquet"), Paths.get(dir, s"$as.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  private def jobsOf(body: => Any): Int = Probe.around(spark)(body)._2.jobs.size

  test("a second Tables(spark, dir).documents runs no job before its action") {
    val dir = Scratch.tempDir("graft-tables-once")
    try {
      copy("documents", dir, "documents")
      assert(jobsOf(Tables(spark, dir).documents) >= 1, "the first read infers")
      assert(jobsOf(Tables(spark, dir).documents) === 0)
      assert(Tables(spark, dir).documents.count() === 500L)
    } finally Scratch.deleteRecursively(dir)
  }

  test("a file rewritten at the same path is inferred again") {
    val dir = Scratch.tempDir("graft-tables-rewrite")
    try {
      copy("documents", dir, "x")
      val before = Tables(spark, dir).t("x").schema
      copy("region", dir, "x")
      var after = before
      assert(jobsOf { after = Tables(spark, dir).t("x").schema } >= 1)
      assert(after === spark.read.parquet(s"$sfDir/region.parquet").schema)
      assert(after !== before)
      assert(Tables(spark, dir).t("x").count() === Tables(spark, sfDir).region.count())
    } finally Scratch.deleteRecursively(dir)
  }

  test("a session with other parquet settings does not get another " +
    "session's events schema") {
    assert(Tables(spark, sfDir).t("events").schema("ts").dataType === TimestampType)
    val ntz = spark.newSession()
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert(Tables(ntz, sfDir).t("events").schema("ts").dataType === TimestampNTZType)
    assert(Tables(ntz, sfDir).events.schema("ts").dataType === TimestampType)
    assert(Tables(spark, sfDir).t("events").schema("ts").dataType === TimestampType)
  }
}
