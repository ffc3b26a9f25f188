package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The automatic length-band prefilter for bounded levenshtein
  * predicates: injected where sound, withheld where it would change
  * results, and never result-visible. (Inputs come from the parquet
  * fixture — a LocalRelation would be constant-folded away before the
  * rule could be observed.)
  */
class EditDistancePrefilterSpec extends SparkSpec {

  private def optimizedOf(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** fixture-backed string pairs with varied length differences */
  private def pairs: DataFrame = {
    val p = graft.Tables(spark, sfDir).part
    p.select(
      col("p_name").as("a"),
      // same name with a hash-keyed suffix of 0-7 chars: some pairs
      // are 1-2 edits apart, others far beyond any threshold
      concat(
        col("p_name"),
        substring(
          lit("xxxxxxxx"),
          lit(1),
          pmod(col("p_partkey"), lit(8)).cast("int")
        )
      ).as("b")
    )
  }

  /** run thunk with the rule excluded, restore after */
  private def withoutRule[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, EditDistancePrefilter.ruleName)
    try {
      assert(!optimizedOf(pairs.filter(levenshtein(col("a"), col("b")) <= 2))
        .contains("abs((length("), "rule still active")
      body
    } finally spark.conf.unset(key)
  }

  test("guard appears in the optimized plan and results are unchanged") {
    def q = pairs.filter(levenshtein(col("a"), col("b")) <= 2)
    assert(
      optimizedOf(q).contains("abs((length("),
      s"no length guard injected:\n${optimizedOf(q)}"
    )
    val withRule = q.collect().map(_.toSeq).toSet
    val bare = withoutRule(q.collect().map(_.toSeq).toSet)
    assert(withRule === bare)
    assert(withRule.nonEmpty, "fixture must produce close pairs")
  }

  test("threshold form's != -1 predicate gains the guard") {
    def q = pairs
      .select(col("a"), col("b"), levenshtein(col("a"), col("b"), 3).as("lev"))
      .filter(col("lev") =!= -1)
    assert(
      optimizedOf(q).contains("abs((length("),
      s"no guard for threshold form:\n${optimizedOf(q)}"
    )
    val withRule = q.collect().map(_.toSeq).toSet
    val bare = withoutRule(q.collect().map(_.toSeq).toSet)
    assert(withRule === bare)
  }

  test("threshold form's <= k is NOT rewritten (-1 satisfies it)") {
    // levenshtein(a,b,3) returns -1 past the threshold and -1 <= 2 is
    // true — a guard here would change results, so none may appear
    val q = pairs.filter(levenshtein(col("a"), col("b"), 3) <= 2)
    assert(
      !optimizedOf(q).contains("abs((length("),
      s"unsound guard injected:\n${optimizedOf(q)}"
    )
    // far pairs (-1) survive alongside close ones: more rows than the
    // truly-close set
    val close = pairs.filter(levenshtein(col("a"), col("b")) <= 2).count()
    assert(q.count() > close, "the -1 rows must survive the <= predicate")
  }

  test("predicates under OR are left alone") {
    val q = pairs.filter(
      levenshtein(col("a"), col("b")) <= 1 || length(col("b")) - length(col("a")) === 7
    )
    assert(
      !optimizedOf(q).contains("abs((length("),
      s"guard wrongly injected into OR:\n${optimizedOf(q)}"
    )
  }

  test("hand-written guard is not duplicated") {
    val q = pairs
      .filter(abs(length(col("a")) - length(col("b"))) <= 2)
      .filter(levenshtein(col("a"), col("b")) <= 2)
    val plan = optimizedOf(q)
    val occurrences = "abs\\(\\(length\\(".r.findAllIn(plan).length
    assert(occurrences === 1, s"guard duplicated:\n$plan")
  }
}
