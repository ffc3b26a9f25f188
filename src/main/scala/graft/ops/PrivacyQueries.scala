package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Privacy-side curation audits. A training-data pipeline that
  * ingests user-derived records (the reference's `message` table is
  * exactly that) needs re-identification checks before release:
  * text-level PII scrubbing exists (text07/dedup29); these operators
  * cover the STRUCTURED side — k-anonymity / l-diversity over
  * quasi-identifier groups (Sweeney 1997; Machanavajjhala et al.
  * 2007) and the generalization ladder that repairs violations.
  */
object PrivacyQueries extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Minimum group size for k-anonymity. */
  private[ops] val K_ANON = 12

  /** Minimum distinct sensitive values for l-diversity. */
  private[ops] val L_DIV = 3

  /** q91: k-anonymity / l-diversity audit over the customer table.
    * Quasi-identifiers = (nation, market segment) — the columns an
    * attacker can link from outside; sensitive attribute = the
    * account-balance band (floor(acctbal/1000) — bands, not exact
    * values, are what release policies reason over). A group is safe
    * when it hides each member among ≥ K peers AND its sensitive
    * values are ≥ L-diverse (a k-large group all sharing one balance
    * band still leaks the band).
    *
    * Shape at scale: ONE hash aggregation on the QI key computing
    * n + distinct-band together; no row data survives the shuffle
    * beyond the group key and the (small-domain) band. Flags are
    * post-aggregation arithmetic. The QI key count is bounded by the
    * attribute domain (nations × segments), so the result is
    * dashboard-sized at any corpus scale.
    */
  private val kAnonymity: Q = (s, dir) => {
    Tables(s, dir).customer
      .select(
        col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band")
      )
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("band")).as("n_bands")
      )
      .select(
        col("c_nationkey"),
        col("c_mktsegment"),
        col("n"),
        col("n_bands"),
        (col("n") >= K_ANON).as("k_anonymous"),
        (col("n_bands") >= L_DIV).as("l_diverse")
      )
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** q92: generalization-ladder assignment — the repair step for q91
    * violations. Each record is tagged with the COARSEST-grained
    * level of the QI hierarchy at which its group reaches K:
    * level 0 = (nation, segment), level 1 = (nation), level 2 =
    * global (always safe). Releasing each record at its assigned
    * level is the single-dimension Mondrian cut: minimal information
    * loss subject to every released group being k-anonymous.
    *
    * Shape at scale: the two group-size tables are aggregations on
    * bounded-domain keys (≤ nations×segments and ≤ nations rows) —
    * both BROADCAST back onto the record stream, so per-record level
    * assignment is map-side; the records themselves never shuffle.
    */
  private val generalize: Q = (s, dir) => {
    val cust = Tables(s, dir).customer
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    // level-0 sizes materialize ONCE (bounded by the QI domain:
    // nations × segments rows): two consumers follow — the broadcast
    // join and the level-1 rollup — and the hierarchy ladder should
    // cost ONE pass over the fact, not one per level
    val g0 = cust
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n0"))
      .localCheckpoint(true)
    // level-1 sizes roll up from g0 (sum of segment-group counts per
    // nation)
    val g1 = g0.groupBy(col("c_nationkey")).agg(sum(col("n0")).as("n1"))
    cust
      .join(broadcast(g0), Seq("c_nationkey", "c_mktsegment"))
      .join(broadcast(g1), Seq("c_nationkey"))
      .select(
        col("c_custkey"),
        when(col("n0") >= K_ANON, lit(0))
          .when(col("n1") >= K_ANON, lit(1))
          .otherwise(lit(2))
          .as("gen_level")
      )
      .orderBy("c_custkey")
  }

  val queries: Map[String, Q] = named(
    "q91_kanonymity" -> kAnonymity,
    "q92_generalize" -> generalize
  )

  val oracle: Map[String, String] = named(
    "q91_kanonymity" ->
      s"""SELECT c_nationkey, c_mktsegment,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
         |    AS BIGINT) AS n_bands,
         |  COUNT(*) >= $K_ANON AS k_anonymous,
         |  COUNT(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
         |    >= $L_DIV AS l_diverse
         |FROM customer
         |GROUP BY c_nationkey, c_mktsegment
         |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q92_generalize" ->
      s"""WITH g0 AS (SELECT c_nationkey, c_mktsegment,
         |              COUNT(*) AS n0
         |            FROM customer GROUP BY 1, 2),
         |g1 AS (SELECT c_nationkey, COUNT(*) AS n1
         |       FROM customer GROUP BY 1)
         |SELECT c.c_custkey,
         |  CAST(CASE WHEN g0.n0 >= $K_ANON THEN 0
         |            WHEN g1.n1 >= $K_ANON THEN 1
         |            ELSE 2 END AS INTEGER) AS gen_level
         |FROM customer c
         |JOIN g0 ON c.c_nationkey = g0.c_nationkey
         |       AND c.c_mktsegment = g0.c_mktsegment
         |JOIN g1 ON c.c_nationkey = g1.c_nationkey
         |ORDER BY c.c_custkey""".stripMargin
  )
}
