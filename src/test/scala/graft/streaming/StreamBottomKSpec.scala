package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The properties that make the bottom-k sample audit-stable: replay
  * ≡ batch for any split count AND any arrival order (min-k is
  * order-free — the property first-arrival admission does not have),
  * state bounded at k rows per source, and the KMV estimate within a
  * sane band of the true per-source cardinality.
  */
class StreamBottomKSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def docs =
    graft.Tables(spark, sfDir).documents.select(col("source"), col("doc_id"))

  test("replay lands on the batch bottom-k for splits 1, 4, 7 — forward and reversed") {
    val batch = canon(StreamBottomK.replay(docs, 1))
    Seq(4, 7).foreach { n =>
      assert(canon(StreamBottomK.replay(docs, n)) === batch, s"splits=$n")
      assert(
        canon(StreamBottomK.replay(Fold.byMod(docs, col("doc_id"), n).reverse)) === batch,
        s"splits=$n reversed — the sample depends on arrival order"
      )
    }
  }

  test("state holds at most k rows per source at every fold") {
    val k = StreamBottomK.SAMPLE_K
    val state = StreamBottomK.newState(spark)
    (0 until 4).foreach { i =>
      StreamBottomK.ingest(state, docs.filter(pmod(col("doc_id"), lit(4)) === i))
      val perSource = state.value
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .collect()
      perSource.foreach(r =>
        assert(r.getAs[Long]("n") <= k, s"fold $i: ${r.mkString(",")}"))
    }
    // the fixture saturates k somewhere, else the bound is vacuous
    val full = state.value
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(full.exists(_.getAs[Long]("n") === k), "no source filled its sample")
    state.close()
  }

  test("the KMV estimate tracks the true per-source cardinality") {
    val res = StreamBottomK.replay(docs, 3)
    val truth = docs
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val joined = res
      .join(truth, Seq("source"))
      .filter(col("n_kept") === StreamBottomK.SAMPLE_K)
      .select(col("source"), col("kmv_est"), col("nd"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val est = r.getAs[Long]("kmv_est").toDouble
      val nd = r.getAs[Long]("nd").toDouble
      // k = 25 gives ~1/sqrt(k-1) ≈ 20% relative error; allow 3σ
      assert(est > nd * 0.4 && est < nd * 2.5,
        s"${r.getString(0)}: est=$est true=$nd")
    }
  }

  test("an undersized source reports its exact count, not the KMV formula") {
    // 3 synthetic sources: two far below k, one far above — the serve
    // read must switch between exact count and the KMV estimator
    import spark.implicits._
    val k = StreamBottomK.SAMPLE_K
    val small = (0L until 3L).map(("tiny", _)) ++
      (100L until 100L + k - 1L).map(("undersized", _)) ++
      (1000L until 5000L).map(("big", _))
    val df = small.toDF("source", "doc_id")
    val state = StreamBottomK.newState(spark)
    StreamBottomK.ingest(state, df)
    val out = StreamBottomK
      .serve(state)
      .collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("kmv_est")))
      .toMap
    state.close()
    assert(out("tiny") === ((3L, 3L)), "kept set IS the population")
    assert(out("undersized")._1 === k - 1L)
    assert(out("undersized")._2 === k - 1L,
      "n_kept < k must report the exact count")
    assert(out("big")._1 === k)
    val est = out("big")._2.toDouble
    assert(est > 4000 * 0.4 && est < 4000 * 2.5,
      s"saturated source must use the KMV formula: est=$est true=4000")
  }
}
