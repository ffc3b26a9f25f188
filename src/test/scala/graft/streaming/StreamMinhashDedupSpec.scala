package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamMinhashDedupSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch ingest flags duplicates on arrival; re-sends are idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val (q, handle) = StreamMinhashDedup.dedupQuery(
      in.toDF().toDF("doc_id", "text"),
      checkpoint = java.nio.file.Files
        .createTempDirectory("mh_dedup_ck")
        .toString
    )
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val otherText = "completely different content about distributed query engines"

    in.addData((1L, dupText), (2L, otherText))
    q.processAllAvailable()
    assert(handle.pairs.count() === 0)

    in.addData((3L, dupText), (4L, null))
    q.processAllAvailable()
    val afterB2 = handle.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterB2 === Set((1L, 3L)))

    // another copy pairs with BOTH priors; re-sent doc 3 adds nothing
    in.addData((5L, dupText), (3L, dupText))
    q.processAllAvailable()
    q.stop()
    val afterB3 = handle.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterB3 === Set((1L, 3L), (1L, 5L), (3L, 5L)))
  }

  test("a doc repeated WITHIN one batch neither self-pairs nor double-enters state") {
    val state = StreamMinhashDedup.newState(spark, cap = 1024)
    val text = "at least once delivery repeats this very document in one batch"
    val b0 = Seq((1L, text), (1L, text), (2L, text))
      .toDF("doc_id", "text")
    val pairs = StreamMinhashDedup
      .ingest(state, b0, 0L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs === Set((1L, 2L)))
    val memberships = state.bands
      .groupBy("band", "band_sig", "doc_id")
      .count()
      .agg(max("count"))
      .collect()
      .head
      .getLong(0)
    assert(memberships === 1L)
  }

  test("replay over micro-batches equals the one-pass batch candidate set") {
    val docs = graft.Tables(spark, sfDir).documents
    val streamed = StreamMinhashDedup
      .replay(docs, splits = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val batch = graft.dedup.Dedup
      .lshCandidatePairs(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(streamed === batch)
  }

  test("bucket cap bounds state but over-cap arrivals still flag against kept members") {
    val state = StreamMinhashDedup.newState(spark, cap = 2)
    val same = "identical boilerplate text shared by every single document here"
    val b0 = Seq((1L, same), (2L, same)).toDF("doc_id", "text")
    StreamMinhashDedup.ingest(state, b0, 0L)
    // cap reached; a third copy still pairs against the 2 kept members
    val p1 = StreamMinhashDedup
      .ingest(state, Seq((3L, same)).toDF("doc_id", "text"), 1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(p1 === Set((1L, 3L), (2L, 3L)))
    // ...but was NOT added: a fourth copy pairs only with the kept 2
    val p2 = StreamMinhashDedup
      .ingest(state, Seq((4L, same)).toDF("doc_id", "text"), 2L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(p2 === Set((1L, 4L), (2L, 4L)))
    val perBucket = state.bands
      .groupBy("band", "band_sig")
      .agg(count(lit(1)).as("n"))
      .agg(max("n"))
      .collect()
      .head
      .getLong(0)
    assert(perBucket <= 2L)
  }

  test("re-ingest of an over-cap doc is suppressed, not re-paired") {
    val state = StreamMinhashDedup.newState(spark, cap = 2)
    val same = "identical boilerplate text shared by every single document here"
    StreamMinhashDedup.ingest(state, Seq((1L, same), (2L, same)).toDF("doc_id", "text"), 0L)
    val first = StreamMinhashDedup
      .ingest(state, Seq((3L, same)).toDF("doc_id", "text"), 1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(first === Set((1L, 3L), (2L, 3L)))
    // doc 3 never got a cap slot, but its membership is logged
    // (kept=false) — an at-least-once re-send must emit NOTHING
    // (pre-log-structured state re-emitted both pairs here)
    val again = StreamMinhashDedup
      .ingest(state, Seq((3L, same)).toDF("doc_id", "text"), 2L)
      .count()
    assert(again === 0L)
    val overCap = state.log
      .filter(!col("kept"))
      .select("doc_id")
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(overCap === Set(3L))
  }

  test("a batch appends O(batch) membership rows; compaction bounds the log") {
    val state = StreamMinhashDedup.newState(spark, cap = 1024, compactEvery = 4)
    val big = (0L until 400L)
      .map(i => (i, s"unique document number $i carrying its own distinct words $i"))
      .toDF("doc_id", "text")
    StreamMinhashDedup.ingest(state, big, 0L)
    val stateRows = state.segments.head.value.count()
    assert(stateRows >= 400L)
    // a tiny late batch must materialize ONLY its own segment — the
    // big resident state is not rewritten (the O(state)-per-batch
    // rewrite was round 4's scale flag on this operator)
    StreamMinhashDedup.ingest(
      state, Seq((9001L, "tiny late arrival document")).toDF("doc_id", "text"), 1L)
    assert(state.segments.size === 2)
    assert(state.segments.last.value.count() <= 8L) // one doc x 8 bands
    // two more appends hit compactEvery=4: the log collapses to one
    // segment with every membership row preserved
    StreamMinhashDedup.ingest(
      state, Seq((9002L, "another tiny arrival document")).toDF("doc_id", "text"), 2L)
    StreamMinhashDedup.ingest(
      state, Seq((9003L, "yet another tiny arrival document")).toDF("doc_id", "text"), 3L)
    assert(state.segments.size === 1)
    val compacted = state.log.count()
    assert(compacted >= stateRows + 3L)
    state.close()
  }
}
