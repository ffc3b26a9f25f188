package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.functions.expr

import graft.SparkSpec

/** The cluster-install path: a session built with `GraftExtensions`
  * (what `spark.sql.extensions=graft.GraftExtensions` does at scale)
  * must come up with the as-of strategy in its planner, the prefilter
  * rule, and every `plans.FunctionCatalog` function resolvable in SQL
  * and equal to its Scala entry point — with zero Scala-side
  * registration calls.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("withExtensions session gets the strategy and SQL functions") {
    val shared = spark.asInstanceOf[ClassicSession] // force init, keep handle
    ClassicSession.clearActiveSession()
    ClassicSession.clearDefaultSession()
    try {
      val s2 = ClassicSession
        .builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne shared, "expected a fresh session")
      assert(
        s2.sessionState.planner.strategies.contains(plans.AsOfJoinStrategy),
        "AsOfJoinStrategy not in planner strategies"
      )
      val Array(r) = s2
        .sql(
          """SELECT graft_simhash32('hello world') AS sh,
            |  graft_rolling_fingerprint('hello world') AS fp,
            |  size(graft_shingle_hashes('hello world there')) AS n_shingles,
            |  graft_cosine_similarity(
            |    cast(array(1.0, 0.0) as array<float>),
            |    cast(array(1.0, 0.0) as array<float>)) AS cos
            |""".stripMargin
        )
        .collect()
      assert(r.getLong(0) === plans.TextSketches.simHash32("hello world"))
      assert(r.getDouble(3) === 1.0)
      assert(r.getInt(2) > 0)
      // the UDTF arrives through the same install path
      val nShingles = s2
        .sql(
          """SELECT h FROM (SELECT 'hello world there friend' AS t)
            |LATERAL VIEW graft_shingle_explode(t) g AS h""".stripMargin
        )
        .count()
      assert(nShingles === 2L) // 4 tokens -> 2 distinct 3-shingles
      // the injected optimizer rule fires through this path too:
      // bounded levenshtein over a non-foldable source gains the
      // length-band guard in the optimized plan
      val ruled = s2
        .range(5)
        .selectExpr("CAST(id AS STRING) AS a", "repeat('x', CAST(id AS INT)) AS b")
        .where("levenshtein(a, b) <= 2")
      assert(
        ruled.queryExecution.optimizedPlan.toString.contains("abs((length("),
        "EditDistancePrefilter not active in the extensions-built session"
      )
      // every catalog function resolves in SQL in this session and
      // equals its Scala entry point, evaluated in the shared session
      // (which registers through the kernel's own `apply`)
      val sqlRows = plans.FunctionCatalog.entries.map { e =>
        val (args, _) = samples(e.name)
        e.name -> s2.sql(s"SELECT ${e.name}(${args.mkString(", ")})")
          .collect().map(_.get(0)).toSeq
      }
      ClassicSession.setActiveSession(shared)
      sqlRows.foreach { case (name, got) =>
        val (args, scalaCall) = samples(name)
        val want = shared.range(1)
          .select(scalaCall(shared, args.map(expr)))
          .collect().map(_.get(0)).toSeq
        assert(got.nonEmpty && got === want, s"$name: SQL $got vs Scala $want")
      }
      // do NOT s2.stop(): it shares the JVM-wide SparkContext
    } finally {
      ClassicSession.setDefaultSession(shared)
      ClassicSession.setActiveSession(shared)
    }
  }

  private val text = "'The quick brown fox jumps over the lazy dog'"
  private val vecA = "cast(array(1.0, 2.0, 3.0) as array<float>)"
  private val vecB = "cast(array(3.0, 1.0, 2.0) as array<float>)"

  /** One input per catalog function: SQL argument literals and the
    * Scala entry point that takes them as Columns. */
  private val samples: Map[String, (Seq[String], (SparkSession, Seq[Column]) => Column)] = Map(
    plans.CosineSimilarity.FUNC_NAME ->
      (Seq(vecA, vecB), (s, c) => plans.CosineSimilarity(s, c(0), c(1))),
    plans.ShingleHashes.FUNC_NAME -> (Seq(text), (s, c) => plans.ShingleHashes(s, c(0))),
    plans.ShingleExplode.FUNC_NAME -> (Seq(text), (s, c) => plans.ShingleExplode(s, c(0))),
    plans.SimHash32.FUNC_NAME -> (Seq(text), (s, c) => plans.SimHash32(s, c(0))),
    plans.SimHash64.FUNC_NAME -> (Seq(text), (s, c) => plans.SimHash64(s, c(0))),
    plans.RollingFingerprint.FUNC_NAME ->
      (Seq(text), (s, c) => plans.RollingFingerprint(s, c(0))),
    plans.StringDHash64.FUNC_NAME -> (Seq(text), (s, c) => plans.StringDHash64(s, c(0))),
    plans.VideoFrameDHash.FUNC_NAME ->
      (Seq(s"cast(repeat($text, 3) as binary)", "1L", "40L"),
        (s, c) => plans.VideoFrameDHash(s, c(0), c(1), c(2))),
    plans.FrameFeatures.FUNC_NAME ->
      (Seq(text, "7"), (s, c) => plans.FrameFeatures(s, c(0), c(1)))
  )

  test("a catalog function called with the wrong argument count fails naming it") {
    // register through a kernel's Scala entry point first, then every
    // entry through the helper those entry points share
    plans.CosineSimilarity(spark, expr(vecA), expr(vecB))
    plans.FunctionCatalog.entries.foreach { e =>
      plans.FunctionCatalog.register(spark, e.name)
      Seq(e.arity - 1, e.arity + 1).foreach { n =>
        val args = Seq.fill(n)("NULL").mkString(", ")
        val err = intercept[Exception](spark.sql(s"SELECT ${e.name}($args)").collect())
        val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).toSeq
        assert(
          msgs.exists(_.contains(e.name)),
          s"${e.name} with $n args: no message names it: ${msgs.mkString(" / ")}"
        )
      }
    }
  }
}
