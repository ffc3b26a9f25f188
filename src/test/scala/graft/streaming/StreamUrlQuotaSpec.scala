package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Replay ≡ the batch first-arrival spec for ANY split count, and the
  * state bound that makes streaming admission viable: O(quota) rows
  * per domain, never O(seen URLs).
  */
class StreamUrlQuotaSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def urls = graft.ops.Relational11.normalizedUrls(spark, sfDir)

  test("replay lands on the batch first-arrival quota for splits 1, 4, 7") {
    val q = graft.ops.Relational11.URL_QUOTA
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("fe").asc, col("nurl").asc)
    val adm = urls
      .groupBy(col("domain"), col("nurl"))
      .agg(min(col("event_id")).as("fe"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= q)
    val batch = canon(
      urls
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_refs"))
        .join(
          adm
            .groupBy(col("domain"))
            .agg(
              count(lit(1)).as("n_admitted"),
              sum(graft.functions.PortableHash.h32(col("nurl")))
                .as("admitted_fp")
            ),
          Seq("domain"),
          "left"
        )
        .select(
          col("domain"),
          col("n_refs"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(col("admitted_fp"), lit(0L)).as("admitted_fp")
        )
    )
    Seq(1, 4, 7).foreach { n =>
      assert(
        canon(StreamUrlQuota.replay(urls, q, n)) === batch,
        s"splits=$n"
      )
    }
  }

  test("state is O(quota) per domain, not O(seen URLs)") {
    val q = graft.ops.Relational11.URL_QUOTA
    val u = urls.localCheckpoint(true)
    val Array(lo, hi) = u.agg(min(col("event_id")), max(col("event_id")))
      .head() match { case r => Array(r.getLong(0), r.getLong(1)) }
    val span = hi - lo + 1
    val state = StreamUrlQuota.newState(spark)
    (0 until 3).foreach { i =>
      val b0 = lo + span * i / 3
      val b1 = lo + span * (i + 1) / 3
      StreamUrlQuota.ingest(
        state,
        u.filter(col("event_id") >= b0 && col("event_id") < b1),
        q
      )
    }
    val perDomain = state.admitted.value
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(perDomain.nonEmpty)
    perDomain.foreach(r => assert(r.getAs[Long]("n") <= q))
    // the fixture actually saturates the quota somewhere — otherwise
    // the bound is vacuous
    assert(perDomain.exists(_.getAs[Long]("n") === q), "quota never filled")
    // and far more distinct URLs were SEEN than stored
    val seen = u.select(col("domain"), col("nurl")).distinct().count()
    val stored = state.admitted.value.count()
    assert(stored < seen, s"state stored $stored of $seen seen URLs")
    state.close()
  }
}
