package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The library's public API exercised exactly as an adopting user
  * would call it — compile-checked documentation: every block below
  * is a copy-pasteable recipe built ONLY from public surface
  * (`graft.cdc.*`, `graft.dedup.*`, `graft.sim.*`, `graft.plans
  * .AsOfJoin`, `graft.streaming.*`, `graft.functions.*`).
  */
class ApiUsageSpec extends SparkSpec {
  import spark.implicits._

  test("CDC: materialize a change log, then merge a late delta") {
    val log = Seq(
      ("I", 1L, "a", Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      ("U", 1L, "a2", Timestamp.valueOf("2024-01-01 00:01:00"), 2L),
      ("I", 2L, "b", Timestamp.valueOf("2024-01-01 00:02:00"), 3L),
      ("D", 2L, null, Timestamp.valueOf("2024-01-01 00:03:00"), 4L)
    ).toDF("op", "id", "content", "ts", "seq")
    val state = cdc.Materializer.materialize(log)
    assert(
      state.select("id", "content").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "a2"))
    )
  }

  test("CDC: batch key assignment issues a dense DB-sequence range") {
    val existing = Seq((1L, "x"), (7L, "y")).toDF("id", "content")
    val inserts = Seq(
      ("n1", Timestamp.valueOf("2024-01-01 00:00:02"), 2L),
      ("n0", Timestamp.valueOf("2024-01-01 00:00:01"), 1L)
    ).toDF("content", "ts", "seq")
    val assigned = cdc.Materializer.assignIds(inserts, existing)
    assert(
      assigned.select("id", "content").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        === Set((8L, "n0"), (9L, "n1"))
    )
  }

  test("joins: as-of with tolerance, inner semantics") {
    val trades = Seq((1L, 100L, "t1"), (1L, 205L, "t2")).toDF("k", "t", "trade")
    val quotes = Seq((1L, 95L, 9.5), (1L, 199L, 9.9)).toDF("qk", "qt", "px")
    val matched = plans.AsOfJoin
      .joinAsOf(trades, quotes, Seq("k"), Seq("qk"), "t", "qt",
        tolerance = Some(6L), inner = true)
      .select("trade", "px")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .toSet
    // t1@100 matches 95 (5 back, within the 6-tick tolerance);
    // t2@205 matches 199 (6 back, inclusive)
    assert(matched === Set(("t1", 9.5), ("t2", 9.9)))
  }

  test("similarity: brute-force cosine top-k over an embedding column") {
    val corpus = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val top = sim.Similarity
      .bruteForceTopK(corpus, corpus.filter($"vec_id" === 0L), "vec_id", "embedding", 1)
      .select("neighbor_id")
      .collect()
      .map(_.getLong(0))
    assert(top.toSeq === Seq(1L))
  }

  test("similarity: IVF store — build cells once, serve top-k from probed directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-ivf").toString
    val corpus = Seq(
      (0L, Array(1f, 0f)), (97L, Array(0.9f, 0.1f)),
      (194L, Array(0f, 1f)), (3L, Array(0.1f, 0.95f))
    ).toDF("vec_id", "embedding")
    val cents = sim.IvfStore.centroids(corpus, k = 2, stride = 97)
    sim.IvfStore.build(corpus, cents, dir)
    val hits = sim.IvfStore
      .topK(spark, dir, cents, Seq(0f, 1f), k = 2, nProbe = 1)
      .collect()
      .map(_.getAs[Long]("vec_id"))
    // the probed cell holds the y-axis vectors; both come back, best first
    assert(hits.toSeq === Seq(194L, 3L))
  }

  test("dedup: LSH candidates -> Jaccard verify -> clusters -> canonical keep list") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "an entirely different document about query engines")
    ).toDF("doc_id", "text")
    val pairs = dedup.Dedup.lshCandidatePairs(docs, "doc_id", "text")
    val clusters = dedup.Clusters
      .connectedComponents(docs.select($"doc_id".as("id")), pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("text: quality scoring and reproducible train/eval split") {
    val docs = Seq((1L, "a solid sentence with several plain words"), (2L, "x"))
      .toDF("doc_id", "text")
    val withSplit = docs.select(
      $"doc_id",
      functions.TextFunctions.tokenCount($"text").as("n_tokens"),
      when(
        pmod(functions.PortableHash.h32($"doc_id".cast("string")), lit(100L)) < 90,
        lit("train")
      ).otherwise(lit("eval")).as("split")
    )
    val rows = withSplit.collect()
    assert(rows.length === 2 && rows.forall(r => Set("train", "eval")(r.getString(2))))
  }

  test("dedup: star-contraction components for diameter-unbounded graphs") {
    val nodes = (0L until 6L).toDF("id")
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = dedup.Clusters
      .connectedComponentsStars(nodes, chain)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 4L))
  }

  test("streaming: incremental near-dup detection with sink-owned state") {
    val state = streaming.StreamMinhashDedup.newState(spark, cap = 64)
    val day1 = Seq((1L, "same text repeated across ingestion days here")).toDF("doc_id", "text")
    val day2 = Seq((2L, "same text repeated across ingestion days here")).toDF("doc_id", "text")
    assert(streaming.StreamMinhashDedup.ingest(state, day1, 0L).count() === 0L)
    val flagged = streaming.StreamMinhashDedup
      .ingest(state, day2, 1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(flagged === Set((1L, 2L)))
  }

  test("streaming: CDC upsert stream — foreachBatch latest-wins into a state handle") {
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[Schemas.ChangeEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-api-cdc").toString
    val (q, handle) = streaming.CdcStream
      .upsertQuery(events.toDS(), Seq(Schemas.Message(1L, "seed")).toDS().toDF(), ckpt)
    events.addData(
      Schemas.ChangeEvent("U", 1L, Some("seed2"), Timestamp.valueOf("2024-01-01 00:00:01"), 1),
      Schemas.ChangeEvent("I", 2L, Some("two"), Timestamp.valueOf("2024-01-01 00:00:02"), 2)
    )
    q.processAllAvailable()
    q.stop()
    val state = streaming.CdcStream.asMessages(spark, handle)
      .collect().map(m => m.id -> m.content).toMap
    assert(state === Map(1L -> "seed2", 2L -> "two"))
  }

  test("streaming: LSH near-dup on ingest — an arrival pairs with earlier batches") {
    implicit val sqlCtx = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val q = streaming.StreamLshDedup
      .candidates(docs.toDF().toDF("doc_id", "text"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("api_lsh_dedup")
      .start()
    val text = "the quick brown fox jumps over the lazy dog again and again"
    docs.addData((1L, text))
    q.processAllAvailable()
    docs.addData((2L, text))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("api_lsh_dedup").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
  }

  test("sketches: HLL distinct estimate and Bloom membership, mergeable") {
    // HLL: one 64-byte register array per group, merged like any
    // partial aggregate; estimate is deterministic (no libm)
    val hll = udaf(
      sim.HllAggregator.distinctEstimate,
      org.apache.spark.sql.Encoders.scalaLong
    )
    val est = Seq.tabulate(2000)(i => ("g", functions.PortableHash.h32Local(s"u$i")))
      .toDF("g", "h")
      .groupBy("g")
      .agg(hll(col("h")).as("est"))
      .head()
      .getDouble(1)
    assert(math.abs(est - 2000) / 2000 < 0.4)
    // Bloom: build over one column, probe another — one-sided error
    val bits = Seq.tabulate(100)(i => functions.PortableHash.h32Local(s"k$i"))
      .foldLeft(sim.BloomAggregator.sketch.zero)(sim.BloomAggregator.sketch.reduce)
    assert(sim.BloomAggregator.contains(bits, functions.PortableHash.h32Local("k7")))
  }

  test("CDC: state as of a timestamp, and what changed since") {
    val log = Seq(
      ("I", 1L, "a", Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      ("U", 1L, "a2", Timestamp.valueOf("2024-01-03 00:00:00"), 2L),
      ("I", 2L, "b", Timestamp.valueOf("2024-01-04 00:00:00"), 3L)
    ).toDF("op", "id", "content", "ts", "seq")
    // time travel = materialize over the log restricted to the cutoff
    val asOf = cdc.Materializer
      .materialize(log.filter(col("ts") <= lit("2024-01-02 00:00:00").cast("timestamp")))
    assert(asOf.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a")))
  }

  test("governance: column lineage of any DataFrame, edges or report") {
    // which parquet columns feed each output column — driver-side
    // plan analysis, no data read
    val df = Tables(spark, sfDir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("total_qty"))
    val rep = graft.info.ColumnLineage
      .report(spark, df)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toMap
    assert(rep("total_qty") === "lineitem.l_quantity")
    assert(rep("l_returnflag") === "lineitem.l_returnflag")
  }

  test("optimizer: bounded levenshtein gets its length guard for free") {
    // no manual abs(length-length) prefilter needed — the
    // EditDistancePrefilter rule injects it where sound
    val close = Tables(spark, sfDir).part
      .select(col("p_name").as("a"), concat(col("p_name"), lit("zz")).as("b"))
      .filter(levenshtein(col("a"), col("b")) <= 2)
    assert(
      close.queryExecution.optimizedPlan.toString.contains("abs((length(")
    )
    assert(close.count() > 0)
  }

  test("streaming: CRDT segment flags — ingest in any order, read cells") {
    val st = streaming.StreamSegments.newState(spark)
    streaming.StreamSegments.ingest(st, Tables(spark, sfDir).events)
    val cells = streaming.StreamSegments.cells(st)
    assert(cells.count() > 0)
  }

  test("property: assignIds is dense and gapless across chained batches") {
    val genBatchSizes = Gen.listOfN(3, Gen.choose(0, 8))
    val prop = Prop.forAll(genBatchSizes, Gen.choose(0L, 50L)) { (sizes, base) =>
      var state = (1L to base).map(i => (i, s"seed$i")).toDF("id", "content")
      var next = base
      sizes.zipWithIndex.foreach { case (n, b) =>
        val batch = (0 until n)
          .map(i => (s"b$b-$i", Timestamp.valueOf(f"2024-01-01 00:0$b:${i}%02d"), i.toLong))
          .toDF("content", "ts", "seq")
        val assigned = cdc.Materializer.assignIds(batch, state)
        state = state.unionByName(assigned.select("id", "content"))
        next += n
      }
      val ids = state.select("id").collect().map(_.getLong(0)).sorted
      ids.sameElements(1L to next)
    }
    val res =
      SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }
}
