package graft.ops

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Qx._

/** Third batch: outer joins, a time-cell range join (temporal
  * analogue of PairJoins — no nested-loop, shuffle on the time cell),
  * and multimodal frame sampling.
  */
object Relational3 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Left outer with null-aware aggregation: every customer, order
    * stats or zeros. */
  private val leftOuterOrders: Q = (s, dir) => {
    val t = Tables(s, dir)
    val o = t.orders
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_ord"), dsum(col("o_totalprice")).as("spend"))
    t.customer
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        coalesce(col("n_ord"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("total_spend")
      )
      .orderBy("c_custkey")
  }

  /** Full outer join of two keyed aggregates (status F vs O spend per
    * customer), null cells coalesced. */
  private val fullOuterSpend: Q = (s, dir) => {
    val o = Tables(s, dir).orders
    def side(status: String, name: String) =
      o.filter(col("o_orderstatus") === status)
        .groupBy(col("o_custkey").as(s"k_$name"))
        .agg(dsum(col("o_totalprice")).as(name))
    side("F", "spend_f")
      .join(
        side("O", "spend_o"),
        col("k_spend_f") === col("k_spend_o"),
        "full_outer"
      )
      .select(
        coalesce(col("k_spend_f"), col("k_spend_o")).as("o_custkey"),
        coalesce(col("spend_f"), lit(0.0)).as("spend_f"),
        coalesce(col("spend_o"), lit(0.0)).as("spend_o")
      )
      .orderBy("o_custkey")
  }

  /** Time-range join without a nested loop: for each purchase, count
    * the same user's events in the preceding 30 minutes. Both sides
    * bucket into 30-minute cells; a purchase in cell c only matches
    * cells {c-1, c}, so the join is equi on (user, cell) and the
    * range predicate filters joined rows — O(n·w), shuffle-partitioned,
    * skew-safe (same shape as ops.PairJoins, over time).
    */
  private val timeRangeJoin: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val cellUs = 30L * 60 * 1000000
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_id"),
        col("user_id"),
        unix_micros(col("ts")).as("p_us")
      )
      .withColumn(
        "cell",
        explode(
          array(
            expr(s"p_us div $cellUs"),
            expr(s"p_us div $cellUs") - 1L
          )
        )
      )
    val others = ev.select(
      col("event_id").as("e_id"),
      col("user_id"),
      unix_micros(col("ts")).as("e_us")
    ).withColumn("cell", expr(s"e_us div $cellUs"))
    purchases
      .join(others, Seq("user_id", "cell"))
      .filter(col("e_us") >= col("p_us") - cellUs && col("e_us") < col("p_us"))
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_prior_30m"))
      .orderBy("p_id")
  }

  /** Multimodal frame sampling: binary payload sliced into fixed-size
    * chunks, exploded one row per frame with per-frame byte stats —
    * the partitioning/shape of a video frame-sampling pass with the
    * codec stubbed to byte arithmetic.
    */
  private val mediaFrames: Q = (s, dir) => {
    val media = Multimodal.asMediaTable(Tables(s, dir).documents)
      .filter(col("media_id") < 50)
    media
      .select(
        col("media_id"),
        octet_length(col("payload")).as("n_bytes"),
        posexplode(
          Multimodal.frameOffsets(col("payload"), 256)
        ).as(Seq("frame_idx", "frame_off"))
      )
      .select(
        col("media_id"),
        col("frame_idx"),
        col("frame_off"),
        least(lit(256), col("n_bytes") - col("frame_off")).as("frame_len")
      )
      .orderBy("media_id", "frame_idx")
  }

  val queries: Map[String, Q] = named(
    "q28_left_outer" -> leftOuterOrders,
    "q29_full_outer" -> fullOuterSpend,
    "q30_time_range_join" -> timeRangeJoin,
    "mm02_frames" -> mediaFrames
  )

  val oracle: Map[String, String] = named(
    "q28_left_outer" ->
      s"""WITH o AS (SELECT o_custkey, COUNT(*) AS n_ord,
         |             ${sqlDsum("o_totalprice")} AS spend
         |           FROM orders GROUP BY o_custkey)
         |SELECT c_custkey,
         |  COALESCE(n_ord, 0) AS n_orders,
         |  COALESCE(spend, 0.0) AS total_spend
         |FROM customer LEFT JOIN o ON c_custkey = o_custkey
         |ORDER BY c_custkey""".stripMargin,
    "q29_full_outer" ->
      s"""WITH f AS (SELECT o_custkey AS k_f, ${sqlDsum("o_totalprice")} AS spend_f
         |           FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
         |o AS (SELECT o_custkey AS k_o, ${sqlDsum("o_totalprice")} AS spend_o
         |      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey)
         |SELECT COALESCE(k_f, k_o) AS o_custkey,
         |  COALESCE(spend_f, 0.0) AS spend_f,
         |  COALESCE(spend_o, 0.0) AS spend_o
         |FROM f FULL OUTER JOIN o ON k_f = k_o
         |ORDER BY o_custkey""".stripMargin,
    "q30_time_range_join" ->
      """SELECT p.event_id AS p_id, COUNT(*) AS n_prior_30m
        |FROM events p JOIN events e
        |  ON e.user_id = p.user_id
        | AND epoch_us(e.ts) >= epoch_us(p.ts) - 1800000000
        | AND epoch_us(e.ts) < epoch_us(p.ts)
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id ORDER BY p_id""".stripMargin,
    "mm02_frames" ->
      """SELECT media_id, frame_idx, frame_off,
        |  least(256, n_bytes - frame_off) AS frame_len
        |FROM (
        |  SELECT doc_id AS media_id,
        |    octet_length(encode(text)) AS n_bytes,
        |    r.frame_idx AS frame_idx,
        |    r.frame_idx * 256 AS frame_off
        |  FROM documents
        |  CROSS JOIN LATERAL (
        |    SELECT unnest(range(0, (octet_length(encode(text)) + 255) // 256))
        |      AS frame_idx) r
        |  WHERE doc_id < 50)
        |ORDER BY media_id, frame_idx""".stripMargin
  )
}
