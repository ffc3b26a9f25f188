package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The query registry is the union of its families, and a name two
  * families share fails construction instead of shadowing a query.
  */
class QueryRegistrySpec extends SparkSpec {

  private def family(names: String*): QueryFamily = new QueryFamily {
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      names.map(n => n -> ((s: SparkSession, _: String) =>
        s.range(1).select(lit(n).as("name")))).toMap
    val oracle: Map[String, String] = names.map(n => n -> s"SELECT '$n' AS name").toMap
  }

  test("disjoint families union into both maps") {
    val r = new QueryRegistry(Seq(family("a1", "a2"), family("b1")))
    assert(r.queries.keySet === Set("a1", "a2", "b1"))
    assert(r.oracleSql.keySet === r.queries.keySet)
    assert(r.queries("b1")(spark, "").collect().map(_.getString(0)).toSeq === Seq("b1"))
  }

  test("a name shared by two families fails construction, naming it") {
    val e = intercept[IllegalArgumentException](
      new QueryRegistry(Seq(family("a1", "dup_q"), family("dup_q", "b1")))
    )
    assert(e.getMessage.contains("dup_q"))
    assert(!e.getMessage.contains("a1"))
  }

  test("a name repeated inside one family fails its construction, naming it") {
    val q: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException](new QueryFamily {
      val queries = named("once_q" -> q, "twice_q" -> q, "twice_q" -> q)
      val oracle = named("once_q" -> "SELECT 1", "twice_q" -> "SELECT 2")
    })
    assert(e.getMessage.contains("twice_q"))
    assert(!e.getMessage.contains("once_q"))
  }
}
