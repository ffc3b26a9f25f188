package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Replay ≡ batch for ANY split count — a hash chain is exactly the
  * structure where batch boundaries must not matter: the fold seeded
  * with the carried tail must land on the one-shot fold bit-for-bit,
  * and the state carried between batches is O(keys), never O(ops).
  */
class StreamHashChainSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("replay lands on batch cdc17 for splits 1, 4, and 7") {
    val log = graft.cdc.CdcQueries.changeLog(spark, sfDir)
    val batch = canon(graft.SparkEntry.queries("cdc17_hash_chain")(spark, sfDir))
    Seq(1, 4, 7).foreach { n =>
      assert(canon(StreamHashChain.replay(log, n)) === batch, s"splits=$n")
    }
  }

  test("state is O(keys): one tail row per key, not per op") {
    val log = graft.cdc.CdcQueries.changeLog(spark, sfDir)
      .withColumn("__ts_us", unix_micros(col("ts")))
      .localCheckpoint(true)
    val Array(lo, hi) = log
      .agg(min(col("__ts_us")), max(col("__ts_us")))
      .head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val span = hi - lo + 1
    val state = StreamHashChain.newState(spark)
    val nKeys = log.select("id").distinct().count()
    val nOps = log.count()
    assert(nOps > nKeys, "fixture must have multi-op keys")
    (0 until 3).foreach { i =>
      val b0 = lo + span * i / 3
      val b1 = lo + span * (i + 1) / 3
      StreamHashChain.ingest(
        state,
        log.filter(col("__ts_us") >= b0 && col("__ts_us") < b1)
      )
    }
    val stateRows = state.value.count()
    assert(stateRows === nKeys, s"state rows $stateRows != keys $nKeys")
    // and the summarized chains agree with the one-shot batch fold
    val got = canon(StreamHashChain.summarize(state.value).orderBy("id"))
    val batch = canon(graft.SparkEntry.queries("cdc17_hash_chain")(spark, sfDir))
    assert(got === batch)
    state.close()
  }

  test("tamper-evidence: a dropped op changes exactly that key's chain") {
    val log = graft.cdc.CdcQueries.changeLog(spark, sfDir).localCheckpoint(true)
    // pick a key with >= 2 ops and drop its FIRST op from a replay
    val victim = log
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .orderBy("id")
      .limit(1)
      .head()
      .getLong(0)
    val firstSeq = log
      .filter(col("id") === victim)
      .orderBy(col("ts"), col("seq"))
      .limit(1)
      .select("seq")
      .head()
      .getLong(0)
    val tampered = log.filter(!(col("id") === victim && col("seq") === firstSeq))
    val clean = StreamHashChain.replay(log, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dirty = StreamHashChain.replay(tampered, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(clean(victim) !== dirty(victim), "dropped op left the chain intact")
    (clean.keySet - victim).foreach { k =>
      assert(clean(k) === dirty(k), s"untouched key $k changed")
    }
  }
}
