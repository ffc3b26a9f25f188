package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family object's named query builders and their DuckDB oracles. */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]

  /** The family's `name -> query` (or `name -> oracle`) pairs as a map.
    * A name given twice fails the family's construction instead of the
    * later pair silently replacing the earlier one.
    */
  protected def named[V](pairs: (String, V)*): Map[String, V] = {
    QueryFamily.requireDistinct(pairs.map(_._1),
      s"name(s) in ${getClass.getSimpleName.stripSuffix("$")}")
    pairs.toMap
  }
}

object QueryFamily {
  private[graft] def requireDistinct(names: Seq[String], what: String): Unit = {
    val dups = names.groupBy(identity).collect {
      case (name, uses) if uses.size > 1 => name
    }
    require(dups.isEmpty, s"duplicate $what: ${dups.toSeq.sorted.mkString(", ")}")
  }
}

/** The union of `families`, built once. A name declared by two families
  * fails construction instead of silently shadowing the other query.
  */
final class QueryRegistry(families: Seq[QueryFamily]) {

  private def union[V](maps: Seq[Map[String, V]], what: String): Map[String, V] = {
    QueryFamily.requireDistinct(maps.flatMap(_.keys), s"$what name(s)")
    maps.foldLeft(Map.empty[String, V])(_ ++ _)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    union(families.map(_.queries), "query")
  val oracleSql: Map[String, String] = union(families.map(_.oracle), "oracle")
}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` is the full operator surface (one entry per implemented
  * operator from SURVEY.md §2 plus the mandated extensions); `oracleSql`
  * holds the DuckDB-equivalent SQL for every SQL-expressible query,
  * with column names aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.queries("q07_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  private val registry = new QueryRegistry(
    Seq(
      ops.Relational, ops.Relational2, ops.Relational3, ops.Relational4,
      ops.Relational5, ops.Relational6, ops.Relational7, ops.Relational8,
      ops.Relational9, ops.Relational10, ops.Relational11,
      ops.BenchAggs, cdc.CdcQueries,
      ops.TextQueries, ops.TextQueries2, ops.TextQueries3,
      ops.DedupQueries, ops.DedupQueries2, ops.DedupQueries3, ops.DedupQueries4,
      ops.SimilarityQueries, ops.SimilarityQueries2, ops.SimilarityQueries3,
      ops.StreamQueries, ops.PrivacyQueries, ops.TimeSeriesQueries,
      ops.MediaQueries, ops.MiscQueries,
      ops.StorageQueries, ops.StorageQueries2, ops.StorageQueries3
    )
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries

  def oracleSql: Map[String, String] = registry.oracleSql

  /** `SPARK_GRAFT_ONLY`: optional comma-separated query-name filter for
    * focused local iteration (the driver never sets it); unset selects
    * every name. Shared by Bench, Verify and BenchAB.
    */
  val selected: String => Boolean = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    name => only.forall(_.contains(name))
  }
}
