package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** One engine definition: `GraftSession.local` is the only session
  * builder in the program, and the session it builds (the one every
  * spec shares) carries the whole engine — catalog functions, sketch
  * UDAFs, as-of strategy, prefilter rule and every engine conf.
  */
class GraftSessionSpec extends SparkSpec {

  test("SparkSession.builder appears in exactly one file under src/main") {
    val builder = """SparkSession\s*\.builder""".r
    val stream = Files.walk(Paths.get("src/main"))
    val hits =
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
        .map(_.getFileName.toString).toSeq
      finally stream.close()
    assert(hits === Seq("GraftSession.scala"))
  }

  test("tools.Probe holds the only Spark and query-execution listeners") {
    // written so that this file's own source matches none of them
    val listeners = Seq(
      """extends\s+SparkListener\b""", """new\s+SparkListener\b""",
      """\bQueryExecution""" + """Listener\b""").map(_.r)
    val hits = Seq("src/main", "src/test").flatMap { root =>
      val stream = Files.walk(Paths.get(root))
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .flatMap { p =>
          val text = Files.readString(p)
          listeners.filter(_.findFirstIn(text).isDefined)
            .map(l => s"${p.getFileName}: $l")
        }.toList
      finally stream.close()
    }
    assert(hits.map(_.takeWhile(_ != ':')).distinct === Seq("Probe.scala"), hits)
  }

  test("the GraftSession.local session carries the whole engine") {
    val s = spark.asInstanceOf[ClassicSession]
    val registry = s.sessionState.functionRegistry
    val functions = plans.FunctionCatalog.entries.map(_.name) ++
      Seq("graft_hll_distinct", "graft_bloom")
    functions.foreach { f =>
      assert(registry.functionExists(FunctionIdentifier(f)), s"$f not registered")
    }
    assert(s.sessionState.planner.strategies.contains(plans.AsOfJoinStrategy))
    val ruled = s.range(5)
      .selectExpr("CAST(id AS STRING) AS a", "repeat('x', CAST(id AS INT)) AS b")
      .where("levenshtein(a, b) <= 2")
    assert(
      ruled.queryExecution.optimizedPlan.toString.contains("abs((length("),
      "EditDistancePrefilter not active"
    )
    GraftSession.engineConfs.foreach { case (k, v) =>
      assert(s.conf.get(k) === v, k)
    }
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("AQE runs at Spark's defaults: enabled, coalescing, skew join") {
    Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled"
    ).foreach(k => assert(spark.conf.get(k) === "true", k))
  }
}
