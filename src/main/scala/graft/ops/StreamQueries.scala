package graft.ops

import graft.Tables
import graft.streaming.WindowedEvents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Qx._

/** Event-time window semantics, oracle-checked in batch (Structured
  * Streaming's unified model guarantees the same results for the
  * streaming execution of the same transforms — the streaming path
  * itself is exercised in CdcStreamSpec/WindowedStreamSpec with
  * MemoryStream).
  */
object StreamQueries extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  final case class SessEv(user_id: Long, event_id: Long, ts_us: Long, value: Double)

  /** The imperative per-key form of stream03's session_window, as a
    * BOUNDED-MEMORY sort-based pass: hash-shuffle on user_id, sort
    * each partition by (user_id, ts_us, event_id) with Spark's
    * spill-safe SortExec, then one streaming fold per partition
    * holding O(1) state (current user + open-session accumulators) —
    * the same merge discipline as AsOfJoinExec. A groupByKey/
    * flatMapGroups form would buffer each user's full history
    * (`it.toArray`): a hot key (bot user, 10⁸ events) OOMs the task,
    * while this pass never materializes a group.
    * Session split at gap ≥ 30 min, end = last event + gap; sums
    * replicate Qx.dsum exactly (per-value HALF_UP decimal(18,2)
    * quantization, exact decimal addition — order-independent, so any
    * fold order equals the SQL aggregate bit-for-bit).
    */
  private val sessionsTyped: Q = (s, dir) => {
    import s.implicits._
    val gapUs = 1800L * 1000000L
    val ev = Tables(s, dir).events
      .select(
        col("user_id"),
        col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("value")
      )
      .as[SessEv]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
    ev.mapPartitions { it =>
      def dec(v: Double) =
        java.math.BigDecimal
          .valueOf(v)
          .setScale(2, java.math.RoundingMode.HALF_UP)
      new Iterator[(Long, Long, Long, Long, Double)] {
        private var pending: (Long, Long, Long, Long, Double) = _
        private var uid = 0L
        private var start = 0L
        private var prev = 0L
        private var n = 0L
        private var sum = java.math.BigDecimal.ZERO

        private def closeSession(): Unit = {
          pending = (start, prev + gapUs, uid, n, sum.doubleValue())
          n = 0
          sum = java.math.BigDecimal.ZERO
        }

        private def advance(): Unit = {
          while (pending == null && it.hasNext) {
            val e = it.next()
            if (n > 0 && (e.user_id != uid || e.ts_us - prev >= gapUs))
              closeSession()
            if (n == 0) { uid = e.user_id; start = e.ts_us }
            n += 1
            sum = sum.add(dec(e.value))
            prev = e.ts_us
          }
          if (pending == null && !it.hasNext && n > 0) closeSession()
        }

        override def hasNext: Boolean = {
          if (pending == null) advance()
          pending != null
        }

        override def next(): (Long, Long, Long, Long, Double) = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending
          pending = null
          r
        }
      }
    }
      .toDF("start_us", "end_us", "uid", "n_events", "sum_value")
      .select(
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("uid").as("user_id"),
        col("n_events"),
        col("sum_value")
      )
      .orderBy("user_id", "session_start")
  }

  private val tumbling: Q = (s, dir) =>
    WindowedEvents
      .tumblingByType(Tables(s, dir).events)
      .orderBy("window_start", "event_type")

  private val sliding: Q = (s, dir) =>
    WindowedEvents
      .slidingByType(Tables(s, dir).events)
      .orderBy("window_start", "event_type")

  private val sessions: Q = (s, dir) =>
    WindowedEvents
      .sessionsByUser(Tables(s, dir).events)
      .orderBy("user_id", "session_start")

  /** stream11: per-window top-k leaderboard — the streaming rank
    * pattern. The STREAM maintains only the per-(window, event_type)
    * counts (stream01's aggregate — ranking after an aggregate is a
    * second stateful stage Structured Streaming won't run in update
    * mode); the top-k is [[WindowedEvents.rankWindows]], a read-time
    * view over the sink. This query pins the composed semantics in
    * batch; StreamTopkSpec replays it through MemoryStream and ranks
    * the actual sink table.
    */
  private val windowTopk: Q = (s, dir) =>
    WindowedEvents
      .rankWindows(WindowedEvents.tumblingByType(Tables(s, dir).events), 3)
      .orderBy("window_start", "rank")

  /** Batch execution of the stream-stream interval join
    * (StreamJoins.purchaseAttribution): every purchase paired with
    * each signup of the same user within the preceding hour. The
    * streaming path (watermarks + state eviction) is exercised in
    * StreamJoinSpec with MemoryStream; this oracle pins the join's
    * event-time semantics. `ts` is µs-truncated on the Spark side
    * (Tables.events), so the oracle compares in epoch_us.
    */
  private val intervalJoin: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val pu = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event"),
        col("value")
      )
    val su = ev
      .filter(col("event_type") === "signup")
      .select(
        col("user_id").as("s_user"),
        col("ts").as("signup_ts"),
        col("event_id").as("signup_event")
      )
    graft.streaming.StreamJoins
      .purchaseAttribution(pu, su)
      .select(
        col("user_id"),
        col("signup_ts"),
        col("signup_event"),
        col("purchase_ts"),
        col("purchase_event"),
        col("value")
      )
      .orderBy("user_id", "signup_event", "purchase_event")
  }

  /** Batch execution of StreamAsOf.enrich over the fixture (signups
    * = dimension, purchases = facts): in batch, one "micro-batch" is
    * the whole history, so the fold computes the exact backward
    * as-of — oracle-checked against the q47-style window form with
    * IGNORE NULLS last_value carrying the signup's payload.
    */
  private val asofEnrich: Q = (s, dir) => {
    import s.implicits._
    val tagged = Tables(s, dir).events
      .filter(col("event_type").isin("signup", "purchase"))
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id").as("seq"),
        when(col("event_type") === "signup", lit("dim"))
          .otherwise(lit("fact"))
          .as("kind"),
        col("value")
      )
      .as[graft.streaming.StreamAsOf.Tagged]
    graft.streaming.StreamAsOf
      .enrich(tagged)
      .toDF()
      .select(
        col("user_id"),
        col("ts_us").as("purchase_us"),
        col("seq").as("purchase_event"),
        col("value"),
        col("dim_ts_us").as("signup_us"),
        col("dim_value").as("signup_value")
      )
      .orderBy("purchase_event")
  }

  /** Deterministic replay of the foreachBatch MinHash-dedup ingest
    * (StreamMinhashDedup) in 5 micro-batches: the accumulated pair
    * stream must equal the one-pass batch candidate set (dedup04's
    * pairs CTE) — pinning arrival-order independence and exactly-once
    * pair emission. The live streaming path runs in
    * StreamMinhashDedupSpec with MemoryStream.
    */
  private val minhashIngest: Q = (s, dir) =>
    graft.streaming.StreamMinhashDedup
      .replay(
        Tables(s, dir).documents
          .repartition(s.sparkContext.defaultParallelism)
      )
      .orderBy("id_a", "id_b")

  /** Streaming incremental aggregate maintenance: replay the fixture
    * change log in seq-sliced micro-batches through
    * [[graft.streaming.StreamAggMaintain]]; the accumulated view must
    * equal batch cdc08's aggregate (same oracle), and the spec
    * additionally pins the REVERSED (out-of-order) replay to the same
    * result.
    */
  private val aggMaintainIngest: Q = (s, dir) =>
    graft.streaming.StreamAggMaintain
      .replay(graft.cdc.CdcQueries.changeLog(s, dir))
      .orderBy("content")

  /** Streaming funnel CEP: replay the fixture events in time-sliced
    * micro-batches through [[graft.streaming.StreamFunnel]]'s per-user
    * state machine; the accumulated stage counts must equal batch
    * q64's funnel (same oracle). The live mapGroupsWithState path
    * runs in StreamFunnelSpec with MemoryStream.
    */
  private val funnelIngest: Q = (s, dir) =>
    graft.streaming.StreamFunnel.replay(Tables(s, dir).events)

  /** Streaming exact-dedup ingest: replay the documents in doc_id-
    * sliced micro-batches through [[graft.streaming.StreamExactDedup]];
    * survivors must be exactly min(doc_id) per normalized-content
    * fingerprint — the batch dedup01 identity. The live
    * dropDuplicatesWithinWatermark path runs in StreamExactDedupSpec.
    */
  private val exactDedupIngest: Q = (s, dir) =>
    graft.streaming.StreamExactDedup
      .replay(Tables(s, dir).documents)
      .orderBy("doc_id")

  /** cdc12: incremental near-dup maintenance under CDC churn — the
    * composition that keeps a corpus's near-dup pair view current
    * WITHOUT re-running dedup over the whole corpus per snapshot:
    * inserts flow through the stream07 band-state ingest (per-batch
    * incremental candidate generation), deletes and re-inserts are a
    * latest-wins CDC materialization of the live-key set
    * ([[graft.cdc.Materializer]]), and the served pair view is the
    * accumulated pair log semi-joined to liveness on BOTH endpoints.
    *
    * Why deletes never touch band state: a membership row only ever
    * GENERATES candidate pairs; a pair with a dead endpoint is
    * filtered at read time, and if the doc is later re-inserted
    * (at-least-once delivery, backfills) its pairs — including any
    * discovered against docs that arrived while it was dead — are
    * already in the log, so the view is correct under any
    * insert/delete/re-insert interleaving. The replay here pins that:
    * 4 insert slices, a delete wave (doc_id ≡ 3 mod 17), a re-insert
    * of half of it (doc_id ≡ 3 mod 34, suppressed by the state
    * anti-join), and the result must equal batch candidate pairs over
    * exactly the live docs. Band state grows with total-ever-inserted
    * until compacted against liveness — the cdc11 retention story;
    * the pair log is append-only and dense (two longs per row).
    */
  private val neardupMaintain: Q = (s, dir) => {
    import graft.streaming.{Fold, StreamMinhashDedup}
    val docs = Tables(s, dir).documents
    val log = docs
      .select(col("doc_id"), lit("I").as("op"), lit(0L).as("ts"),
        col("doc_id").as("seq"))
      .unionByName(
        docs.filter(pmod(col("doc_id"), lit(17)) === 3)
          .select(col("doc_id"), lit("D").as("op"), lit(1L).as("ts"),
            col("doc_id").as("seq")))
      .unionByName(
        docs.filter(pmod(col("doc_id"), lit(34)) === 3)
          .select(col("doc_id"), lit("I").as("op"), lit(2L).as("ts"),
            col("doc_id").as("seq")))
    val live = graft.cdc.Materializer
      .materialize(log, keyCol = "doc_id")
      .select("doc_id")
    val state = StreamMinhashDedup.newState(s)
    val reinsert = docs.filter(pmod(col("doc_id"), lit(34)) === 3)
    Fold.replay(Fold.byMod(docs, col("doc_id"), 4) :+ reinsert, state)(
      (b, i) => StreamMinhashDedup.ingest(state, b, i.toLong))(
      state.pairs
        .join(live.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
        .join(live.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi"))
      .orderBy("id_a", "id_b")
  }

  /** cdc13: incremental materialized JOIN-view maintenance — replay
    * the fixture change log in 5 seq-sliced micro-batches through
    * [[graft.streaming.StreamJoinMaintain]]'s delta-join algebra; the
    * maintained `live state ⋈ group count` view must equal the batch
    * recompute (the oracle's plain join). The reversed-slice replay
    * and the touched-rows bound are pinned in StreamJoinMaintainSpec.
    */
  private val joinMaintain: Q = (s, dir) =>
    graft.streaming.StreamJoinMaintain
      .replay(graft.cdc.CdcQueries.changeLog(s, dir))
      .orderBy("id")

  /** Left-rotate an embedding by `n` (the deterministic "re-embedding"
    * transform for cdc15's churn fixture: dims preserved, cell
    * assignment plausibly moves).
    */
  private def rot(c: org.apache.spark.sql.Column, n: Int) =
    concat(slice(c, lit(n + 1), size(c) - n), slice(c, lit(1), lit(n)))

  /** cdc15: streaming IVF index maintenance under churn — the
    * composition the r5 verdict named: [[graft.sim.IvfStore]]'s
    * partition-granular upsert/delete driven by the deterministic
    * [[withIvfChurn]] replay, with the gate pinning the STORE's final
    * cell state against the from-scratch assignment spec (and
    * IvfMaintainSpec pinning incremental ≡ full-rebuild frame
    * equality in Spark; cdc16 gates the sidecar index the same way).
    *
    * Shape at scale: every batch costs O(touched cells) dynamic
    * partition overwrites — the untouched lists keep their files
    * byte-for-byte ([[graft.sources.PartitionedStore]]); the only
    * driver state is the K-row centroid table and the ≤K touched-cell
    * sets.
    */
  /** cdc18: compaction as ONGOING MAINTENANCE — the OPTIMIZE cadence
    * a continuously-ingesting store actually runs, tying q109's
    * one-shot execution into the churn-replay family. Inside a
    * scratch [[graft.sources.PartitionedStore]]: (1) the base corpus
    * lands one physical file per simulated ingest file; (2) three
    * append-mode micro-batches each add ONE small file per source —
    * the exact small-file pathology q86 diagnoses, created the way
    * streaming ingest creates it (append, not overwrite); (3) the
    * bin-pack plan is derived from the REAL post-churn manifest
    * (store readback, not fixture arithmetic) and
    * [[graft.sources.Compaction.execute]] rewrites every source —
    * validated dynamic overwrite, one file per bin. The gated row
    * reads the compacted store back: per source, doc count, file
    * counts before/after, payload bytes, and the order-free
    * Σ h32(doc_id) identity fingerprint over base ∪ churn — a
    * maintenance pass that loses an appended row, duplicates a base
    * row, or mis-bins diverges at the gate.
    * CompactionMaintainSpec pins the pathology→cure shape the oracle
    * cannot see: churn grew the physical file population by exactly
    * batches×sources, compaction collapsed it to the planned bins.
    */
  private val compactionMaintain: Q = (s, dir) => {
    // per-source contiguous ingest files (the shared q109 model)
    val base = Relational10.ingestFiles(s, dir)
    graft.sources.Scratch.withTempDir("graft-cdc18") { path =>
      graft.sources.Compaction
        .writeBinned(base, path, "source", "file_id", dynamic = false)
      (1 to 3).foreach { b =>
        val batch = Tables(s, dir).documents
          .filter(pmod(col("doc_id"), lit(7)) === b)
          .select(
            (col("doc_id") + lit(1000000L * b)).as("doc_id"),
            col("source"),
            col("n_chars"),
            lit(1000000L + b).as("file_id")
          )
          .withColumn("bin", col("file_id"))
        // one small file per source per batch, appended through an
        // atomic manifest commit: the ingest pathology, created the
        // way a transactional ingest actually creates it
        graft.sources.ManifestStore.append(batch, path, Seq("source"))
      }
      val store = graft.sources.ManifestStore.read(s, path)
      val files = store
        .groupBy(col("source"), col("file_id"))
        .agg(sum(col("n_chars")).as("bytes"))
      val binPlan = graft.sources.Compaction
        .plan(files, "source", "file_id", "bytes", Relational10.COMPACT_TARGET)
        .select(col("source"), col("file_id"), col("bin"))
      graft.sources.Compaction
        .execute(s, path, "source", Seq("file_id"), binPlan)
      graft.sources.ManifestStore
        .read(s, path)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("file_id")).as("n_files_before"),
          countDistinct(col("bin")).as("n_files_after"),
          sum(col("n_chars")).as("bytes"),
          sum(
            graft.functions.PortableHash
              .h32(col("doc_id").cast("string"))
              .cast("long")
          ).as("doc_fp")
        )
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  private val ivfMaintain: Q = (s, dir) =>
    withIvfChurn(s, dir, indexed = false) { path =>
      graft.sources.ManifestStore
        .read(s, path)
        .select(
          col("vec_id"),
          col("cell").cast("long").as("cell"),
          element_at(graft.sim.IntVec.quant(col("embedding")), 1).as("q1")
        )
        .orderBy("vec_id")
    }

  /** cdc16: the same churn replay in INDEXED mode, with the result
    * read from the id→cell SIDECAR itself — the index that makes the
    * old-cell probe O(touched buckets) is oracle-checked as content,
    * not only spec-pinned: after any interleaving it must equal the
    * from-scratch assignment of the final live state (cdc15's spec)
    * plus each id's hash bucket. A stale or dropped index entry is a
    * changed gated row, the same exact↔companion discipline as
    * q37/q98 and dedup35/dedup37.
    */
  private val ivfIndexMaintain: Q = (s, dir) =>
    withIvfChurn(s, dir, indexed = true) { path =>
      graft.sim.IvfStore
        .readIndexTable(s, path)
        .orderBy("vec_id")
    }

  /** The cdc15/cdc16 churn fixture (one shared replay so the store
    * gate and the index gate cannot drift): build from the full
    * snapshot; a re-embedding wave (vec_id ≡ 1 mod 7, one rotation)
    * moves vectors BETWEEN cells; a deletion wave (vec_id ≡ 2 mod 5)
    * rewrites only the holding cells; a second re-embedding
    * (vec_id ≡ 1 mod 14, two rotations) overlaps the first (latest
    * wins) AND intersects the deletes (upsert = insert-or-update, so
    * those vectors resurrect with the newest embedding) — the full
    * any-interleaving contract. The codebook stays fixed (standard
    * IVF: lists churn, centroids retrain offline). `read` runs
    * against the scratch store path and is materialized
    * (localCheckpoint) before the directory is removed.
    */
  private def withIvfChurn(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      indexed: Boolean
  )(read: String => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.sim.IvfStore
    val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    val cents = IvfStore.centroids(emb, 8, 97).localCheckpoint(true)
    val path = graft.sources.Scratch.tempDir("graft-cdc-ivf")
    try {
      IvfStore.build(emb, cents, path, indexed)
      IvfStore.upsert(
        s,
        path,
        cents,
        emb
          .filter(pmod(col("vec_id"), lit(7)) === 1)
          .select(col("vec_id"), rot(col("embedding"), 1).as("embedding"))
      )
      IvfStore.delete(
        s,
        path,
        emb.filter(pmod(col("vec_id"), lit(5)) === 2).select("vec_id")
      )
      IvfStore.upsert(
        s,
        path,
        cents,
        emb
          .filter(pmod(col("vec_id"), lit(14)) === 1)
          .select(col("vec_id"), rot(col("embedding"), 2).as("embedding"))
      )
      val out = read(path).localCheckpoint(true)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(cents)
      out
    } finally {
      // the result is materialized; the on-disk store is scratch
      graft.sources.Scratch.deleteRecursively(path)
    }
  }

  /** stream13: stream-static broadcast enrichment — the stateless
    * Structured Streaming join shape (each micro-batch joins the
    * arriving facts against the static dim snapshot; zero join
    * state). Batch face of [[graft.streaming.StreamStaticEnrich]];
    * the MemoryStream replay and the per-micro-batch
    * BroadcastHashJoin plan are pinned in StreamStaticEnrichSpec.
    */
  private val staticEnrich: Q = (s, dir) => {
    val t = Tables(s, dir)
    graft.streaming.StreamStaticEnrich
      .nationRollup(t.events, t.customer, t.nation)
  }

  /** stream15: stream-stream LEFT OUTER interval join — stream05's
    * attribution with the unmatched signups KEPT (null-padded once
    * the watermark proves no purchase can still arrive — see
    * [[graft.streaming.StreamJoins.purchaseAttributionOuter]]). In
    * batch the watermark is a no-op and the plan is the plain left
    * join this oracle states; the live null-padding-after-eviction
    * behavior runs in StreamOuterJoinSpec.
    */
  private val outerJoin: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val pu = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event"),
        col("value")
      )
    val su = ev
      .filter(col("event_type") === "signup")
      .select(
        col("user_id").as("s_user"),
        col("ts").as("signup_ts"),
        col("event_id").as("signup_event")
      )
    graft.streaming.StreamJoins
      .purchaseAttributionOuter(pu, su)
      .select(
        col("s_user").as("uid"),
        col("signup_ts"),
        col("signup_event"),
        col("purchase_ts"),
        col("purchase_event"),
        col("value")
      )
      .orderBy(
        col("uid"),
        col("signup_event"),
        col("purchase_event").asc_nulls_last
      )
  }

  /** stream17: stream-stream FULL OUTER interval join — both sides
    * preserved (unmatched signups AND unattributed purchases emit
    * null-padded at watermark-proven completeness); the batch face is
    * the plain full join. Completes the join-mode matrix: inner
    * stream05, left stream15, full here.
    */
  private val fullOuterJoin: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val pu = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event"),
        col("value")
      )
    val su = ev
      .filter(col("event_type") === "signup")
      .select(
        col("user_id").as("s_user"),
        col("ts").as("signup_ts"),
        col("event_id").as("signup_event")
      )
    graft.streaming.StreamJoins
      .purchaseAttributionFull(pu, su)
      .select(
        coalesce(col("s_user"), col("user_id")).as("uid"),
        col("signup_ts"),
        col("signup_event"),
        col("purchase_ts"),
        col("purchase_event"),
        col("value")
      )
      .orderBy(
        col("uid"),
        col("signup_event").asc_nulls_last,
        col("purchase_event").asc_nulls_last
      )
  }

  /** stream16: streaming grouped quantiles — the HDR bucket-count
    * sketch as additively-merged sink state
    * ([[graft.streaming.StreamHdrQuantiles]]); replay the value feed
    * in 5 event_id-sliced micro-batches, then read (group, p, rank,
    * bucket-lower-bound estimate) off the accumulated sketch — must
    * equal the same sketch read computed from all events at once
    * (count addition is associative+commutative, so any slicing
    * lands on the same sketch).
    */
  private val hdrIngest: Q = (s, dir) =>
    graft.streaming.StreamHdrQuantiles
      .replay(
        Tables(s, dir).events
          .filter(col("value") >= 0)
          .select(
            col("event_type"),
            round(col("value") * 100).cast("long").as("v"),
            col("event_id")
          ),
        groupCols = Seq("event_type"),
        sliceCol = "event_id"
      )
      .orderBy("event_type", "p")

  /** stream14: streaming per-window HLL distinct users — replay the
    * feed in 5 event_id-sliced micro-batches through
    * [[graft.streaming.StreamWindowHll]]'s register state (O(windows
    * × 64) longs regardless of cardinality; per-register MAX merge is
    * associative + commutative + idempotent, so any slicing, order,
    * or re-delivery lands on the same registers); estimates use q79's
    * oracle-checked α·m²·2²⁷/T formula, audited here against the
    * exact batch COUNT(DISTINCT) per window.
    */
  private val windowHll: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val est = graft.streaming.StreamWindowHll
      .replay(ev, Relational9.hllM, Relational9.hllMaxRho)
    val exact = ev
      .filter(col("user_id").isNotNull)
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("window_start")
      )
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    exact
      .join(est, Seq("window_start"))
      .withColumn(
        "rel_err",
        (col("hll_est") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double")
      )
      .select(
        col("window_start"),
        col("exact_distinct"),
        col("zero_registers"),
        col("t_sum"),
        col("hll_est"),
        col("rel_err")
      )
      .orderBy("window_start")
  }

  /** stream12: the late-data quarantine's deterministic replay face —
    * see [[graft.streaming.StreamLateQuarantine]] (no-silent-drop
    * watermark discipline; the live foreachBatch runner is proved
    * equal to this in StreamLateQuarantineSpec).
    */
  private val lateQuarantine: Q = (s, dir) =>
    graft.streaming.StreamLateQuarantine.quarantined(Tables(s, dir).events)

  val queries: Map[String, Q] = named(
    "stream12_late_quarantine" -> lateQuarantine,
    "cdc12_neardup_maintain" -> neardupMaintain,
    "cdc13_join_maintain" -> joinMaintain,
    "cdc15_ivf_maintain" -> ivfMaintain,
    "cdc18_compaction_maintain" -> compactionMaintain,
    "cdc16_ivf_index_maintain" -> ivfIndexMaintain,
    "stream10_exact_dedup" -> exactDedupIngest,
    // per-user O(1) latest-touch state; accumulated attribution ≡
    // batch q104 (same oracle)
    "stream19_last_touch" -> ((s, dir) =>
      graft.streaming.StreamLastTouch.replay(Tables(s, dir).events)),
    // per-key O(1) chain-tail state updated AT INGEST; maintained
    // chains ≡ batch cdc17 (same oracle)
    "stream20_hash_chain" -> ((s, dir) =>
      graft.streaming.StreamHashChain
        .replay(graft.cdc.CdcQueries.changeLog(s, dir))),
    // O(quota)-state per-domain first-arrival URL admission; replay
    // ≡ the batch first-arrival spec on q107's normalized stream
    "stream21_url_admission" -> ((s, dir) =>
      graft.streaming.StreamUrlQuota
        .replay(Relational11.normalizedUrls(s, dir), Relational11.URL_QUOTA)),
    // bounded per-(series, bucket) sketch state maintained at ingest,
    // exact cuts read at serve time; replay ≡ batch q106 (same oracle)
    "stream22_winsor_clip" -> ((s, dir) =>
      graft.streaming.StreamWinsorClip
        .replay(Relational11.winsorCents(s, dir))),
    // O(k·sources) bottom-k-hash sample state; arrival-order- and
    // slicing-invariant, replay ≡ the batch per-source bottom-k
    "stream23_bottomk_sample" -> ((s, dir) =>
      graft.streaming.StreamBottomK
        .replay(Tables(s, dir).documents.select(col("source"), col("doc_id")))),
    "stream09_funnel" -> funnelIngest,
    "stream08_agg_maintain" -> aggMaintainIngest,
    "stream07_minhash_ingest" -> minhashIngest,
    "stream06_asof_enrich" -> asofEnrich,
    "stream01_tumbling" -> tumbling,
    "stream02_sliding" -> sliding,
    "stream03_sessions" -> sessions,
    "stream04_sessions_typed" -> sessionsTyped,
    "stream05_interval_join" -> intervalJoin,
    "stream11_window_topk" -> windowTopk,
    "stream13_static_enrich" -> staticEnrich,
    "stream14_window_hll" -> windowHll,
    "stream15_outer_join" -> outerJoin,
    "stream16_hdr_ingest" -> hdrIngest,
    "stream17_full_outer" -> fullOuterJoin,
    // CRDT segment flags: OR-merged per-user state — order-free,
    // duplicate-tolerant; final cells ≡ batch q96
    "stream18_segments" -> ((s, dir) =>
      graft.streaming.StreamSegments.replay(Tables(s, dir).events))
  )

  /** µs-precision epoch arithmetic mirrors of Spark's window():
    * start = floor(epoch/slide)*slide (minus k·slide for the sliding
    * hops); make_timestamp keeps the naive-UTC type.
    */
  val oracle: Map[String, String] = named(
    // the one-pass sketch read the sliced additive merge must equal
    "stream16_hdr_ingest" -> {
      val S = Relational10.HDR_S
      s"""WITH v AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events WHERE value >= 0),
         |rows_b AS (SELECT event_type, v,
         |    v - v % (CAST(1 AS BIGINT) << GREATEST(length(bin(v)) - 1 - $S, 0))
         |      AS bucket
         |  FROM v),
         |c AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM rows_b GROUP BY 1, 2),
         |cum AS (SELECT event_type, bucket,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
         |      AS BIGINT) AS cum
         |  FROM c),
         |n AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM c GROUP BY 1),
         |p(p) AS (VALUES (25), (50), (75), (90), (99)),
         |r AS (SELECT n.event_type, p.p,
         |    CAST((n.n * p.p + 99) // 100 AS BIGINT) AS r
         |  FROM p, n)
         |SELECT r.event_type, r.p, r.r, MIN(cum.bucket) AS est
         |FROM r JOIN cum ON cum.event_type = r.event_type
         |  AND cum.cum >= r.r
         |GROUP BY 1, 2, 3
         |ORDER BY r.event_type, r.p""".stripMargin
    },
    "stream17_full_outer" ->
      s"""SELECT COALESCE(s.user_id, p.user_id) AS uid, s.ts AS signup_ts,
         |  s.event_id AS signup_event,
         |  p.ts AS purchase_ts, p.event_id AS purchase_event, p.value
         |FROM (SELECT * FROM events WHERE event_type = 'signup') s
         |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
         |  ON p.user_id = s.user_id
         | AND epoch_us(p.ts) >= epoch_us(s.ts)
         | AND epoch_us(p.ts) <= epoch_us(s.ts) + CAST(3600 AS BIGINT) * 1000000
         |ORDER BY uid, signup_event NULLS LAST,
         |  purchase_event NULLS LAST""".stripMargin,
    "stream15_outer_join" ->
      s"""SELECT s.user_id AS uid, s.ts AS signup_ts,
         |  s.event_id AS signup_event,
         |  p.ts AS purchase_ts, p.event_id AS purchase_event, p.value
         |FROM (SELECT * FROM events WHERE event_type = 'signup') s
         |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
         |  ON p.user_id = s.user_id
         | AND epoch_us(p.ts) >= epoch_us(s.ts)
         | AND epoch_us(p.ts) <= epoch_us(s.ts) + CAST(3600 AS BIGINT) * 1000000
         |ORDER BY uid, signup_event, purchase_event NULLS LAST""".stripMargin,
    // q79's register reconstruction, windowed — the replay's sliced
    // MAX-merge must equal the one-pass registers over all events
    "stream14_window_hll" -> {
      import Relational9.{hllM, hllMaxRho}
      val pows = (0 to hllMaxRho).map(1L << _).mkString("[", ",", "]")
      val emptyReg = 1L << hllMaxRho
      val h = graft.functions.PortableHash
        .sqlH32("concat('u:', CAST(user_id AS VARCHAR))")
      s"""WITH e AS (SELECT
         |    make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT)
         |      * 3600 * 1000000) AS window_start,
         |    user_id, $h AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT window_start, h % $hllM AS bucket,
         |    MAX(CASE WHEN h // $hllM = 0 THEN $hllMaxRho
         |        ELSE $hllMaxRho - len(bin(h // $hllM)) END) AS rho
         |  FROM e GROUP BY 1, 2),
         |agg AS (SELECT window_start,
         |    CAST(COUNT(*) AS BIGINT) AS n_present,
         |    CAST(SUM(($pows)[$hllMaxRho + 1 - rho]) AS BIGINT)
         |      AS t_present
         |  FROM r GROUP BY 1),
         |ex AS (SELECT window_start,
         |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
         |  FROM e GROUP BY 1)
         |SELECT ex.window_start, ex.exact_distinct,
         |  CAST($hllM - agg.n_present AS BIGINT) AS zero_registers,
         |  CAST(agg.t_present + ($hllM - agg.n_present) * $emptyReg
         |    AS BIGINT) AS t_sum,
         |  0.709 * 549755813888.0 / CAST(agg.t_present
         |    + ($hllM - agg.n_present) * $emptyReg AS DOUBLE) AS hll_est,
         |  (0.709 * 549755813888.0 / CAST(agg.t_present
         |      + ($hllM - agg.n_present) * $emptyReg AS DOUBLE)
         |    - CAST(ex.exact_distinct AS DOUBLE))
         |    / CAST(ex.exact_distinct AS DOUBLE) AS rel_err
         |FROM ex JOIN agg USING (window_start)
         |ORDER BY ex.window_start""".stripMargin
    },
    "stream13_static_enrich" ->
      s"""SELECT n.n_name, c.c_mktsegment,
         |  COUNT(*) AS n_purchases, ${sqlDsum("e.value")} AS revenue
         |FROM events e
         |JOIN customer c ON e.user_id = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |WHERE e.event_type = 'purchase'
         |GROUP BY n.n_name, c.c_mktsegment
         |ORDER BY n.n_name, c.c_mktsegment""".stripMargin,
    "stream12_late_quarantine" -> {
      import graft.streaming.StreamLateQuarantine.{DELAY_US, JITTER_US, SPAN_US}
      val h = graft.functions.PortableHash.sqlH32("CAST(event_id AS VARCHAR)")
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
         |        epoch_us(ts) + ($h % CAST($JITTER_US AS BIGINT)) AS arr
         |      FROM events),
         |mn AS (SELECT min(arr) AS m FROM e),
         |b AS (SELECT event_id, user_id, us,
         |        (arr - m) // CAST($SPAN_US AS BIGINT) AS batch
         |      FROM e, mn),
         |bm AS (SELECT batch, max(us) AS bmax FROM b GROUP BY batch),
         |wm AS (SELECT batch,
         |         max(bmax) OVER (ORDER BY batch
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           - CAST($DELAY_US AS BIGINT) AS wm
         |       FROM bm)
         |SELECT event_id, user_id, us AS ts_us, batch,
         |  wm - us AS lateness_us
         |FROM b JOIN wm USING (batch)
         |WHERE wm IS NOT NULL AND us < wm
         |ORDER BY event_id""".stripMargin
    },
    // the oracle states the SPEC: batch candidate pairs over exactly
    // the LIVE docs (insert − delete + re-insert), which the
    // incremental band-state + liveness-filter composition must equal
    "cdc12_neardup_maintain" ->
      s"""SELECT id_a, id_b FROM (${DedupQueries.candidatePairsOracle})
         |WHERE (id_a % 17 <> 3 OR id_a % 34 = 3)
         |  AND (id_b % 17 <> 3 OR id_b % 34 = 3)
         |ORDER BY id_a, id_b""".stripMargin,
    "stream10_exact_dedup" -> {
      val fp = graft.functions.PortableHash.sqlH32(
        """regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"""
      )
      s"""WITH f AS (SELECT doc_id, $fp AS fp FROM documents)
         |SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, fp
         |FROM f GROUP BY fp ORDER BY doc_id""".stripMargin
    },
    // the oracle RECOMPUTES the join from scratch — passing means the
    // incremental delta-join path ≡ full `state ⋈ group count` rejoin
    "cdc13_join_maintain" ->
      s"""WITH s AS (${graft.cdc.CdcQueries.latestSql})
         |SELECT s.id, s.content, s.value, g.group_n
         |FROM s JOIN (SELECT content, CAST(COUNT(*) AS BIGINT) AS group_n
         |             FROM s GROUP BY content) g USING (content)
         |ORDER BY s.id""".stripMargin,
    // the from-scratch spec of the maintained store: final live set
    // (deletes minus resurrections) with latest-wins embeddings,
    // routed to the nearest fixed centroid by exact integer L2 (the
    // sim18 oracle pattern); q1 pins the stored embedding VERSION
    "cdc15_ivf_maintain" ->
      s"""$ivfFinalStateCtes
         |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, q.qe[1] AS q1
         |FROM a JOIN q USING (vec_id) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    // the SIDECAR's from-scratch spec: same final assignment plus
    // each id's hash bucket (the portable-md5 h32 mod INDEX_BUCKETS)
    "cdc16_ivf_index_maintain" ->
      s"""$ivfFinalStateCtes
         |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
         |  CAST(${graft.functions.PortableHash
              .sqlH32("CAST(a.vec_id AS VARCHAR)")} %
         |    ${graft.sim.IvfStore.INDEX_BUCKETS} AS BIGINT) AS ibucket
         |FROM a WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    // the maintained view must land on the batch recompute exactly
    "stream08_agg_maintain" ->
      graft.cdc.CdcQueries.oracle("cdc08_agg_maintain"),
    // the state machine must land on batch q64's funnel exactly
    "stream09_funnel" -> Relational7.oracle("q64_funnel"),
    // replay ≡ batch: the streaming fold must land on q104's table
    "stream19_last_touch" -> Relational11.oracle("q104_last_touch"),
    // replay ≡ batch: the sink-state sketch + serve-time exact read
    // must land on q106's audit table exactly
    "stream22_winsor_clip" -> Relational11.oracle("q106_winsorize_sketch"),
    // the batch spec of the bottom-k sample: per-source rank by the
    // seeded hash, keep rank <= k, read the KMV estimate off max(h);
    // an undersized source's kept set IS the population → exact count
    "stream23_bottomk_sample" -> {
      val k = graft.streaming.StreamBottomK.SAMPLE_K
      val h = graft.functions.PortableHash
        .sqlH32("CAST(doc_id AS VARCHAR)", graft.streaming.StreamBottomK.SEED)
      s"""WITH d AS (SELECT source, doc_id, $h AS h FROM documents),
         |rk AS (SELECT source, doc_id, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
         |  FROM d),
         |kk AS (SELECT * FROM rk WHERE rn <= $k)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  MIN(h) AS min_h,
         |  MAX(h) AS max_h,
         |  CAST(SUM(h) AS BIGINT) AS sample_fp,
         |  CAST(CASE WHEN COUNT(*) < $k THEN COUNT(*)
         |    ELSE CAST(($k - 1) * 4294967296 AS BIGINT) // MAX(h)
         |    END AS BIGINT) AS kmv_est
         |FROM kk GROUP BY source ORDER BY source""".stripMargin
    },
    // base ∪ churn re-derived from first principles with the same
    // binning; the readback must reproduce the union's identity
    "cdc18_compaction_maintain" -> {
      val h = graft.functions.PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")
      val dpf = Relational10.DOCS_PER_FILE
      val tgt = Relational10.COMPACT_TARGET
      s"""WITH base AS (
         |  SELECT doc_id, source, n_chars,
         |    (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
         |      // $dpf AS file_id
         |  FROM documents),
         |ch AS (
         |  SELECT doc_id + 1000000 * t.b AS doc_id, source, n_chars,
         |    CAST(1000000 + t.b AS BIGINT) AS file_id
         |  FROM documents, (VALUES (1), (2), (3)) t(b)
         |  WHERE doc_id % 7 = t.b),
         |allr AS (SELECT * FROM base UNION ALL SELECT * FROM ch),
         |f AS (SELECT source, file_id,
         |    CAST(SUM(n_chars) AS BIGINT) AS bytes,
         |    CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM allr GROUP BY 1, 2),
         |p AS (SELECT source, file_id, bytes, nd,
         |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source
         |      ORDER BY file_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM f),
         |b2 AS (SELECT source, file_id, nd, bytes,
         |    cum_before // $tgt AS bin FROM p),
         |fp AS (SELECT source, CAST(SUM($h) AS BIGINT) AS doc_fp
         |       FROM allr GROUP BY 1)
         |SELECT b2.source,
         |  CAST(SUM(nd) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT file_id) AS BIGINT) AS n_files_before,
         |  CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_files_after,
         |  CAST(SUM(bytes) AS BIGINT) AS bytes,
         |  MIN(fp.doc_fp) AS doc_fp
         |FROM b2 JOIN fp ON fp.source = b2.source
         |GROUP BY b2.source ORDER BY b2.source""".stripMargin
    },
    // replay ≡ batch: the ingest-time chain fold must land on cdc17's
    // exact chains — any dropped/duplicated/reordered op diverges
    "stream20_hash_chain" -> graft.cdc.CdcQueries.oracle("cdc17_hash_chain"),
    // the batch spec of first-arrival admission: rank each domain's
    // distinct normalized URLs by (first event_id, nurl), admit rank
    // <= quota; the fingerprint is the order-free admitted-set hash
    "stream21_url_admission" ->
      s"""WITH ${Relational11.urlNormCtes},
         |fe AS (SELECT domain, nurl, MIN(event_id) AS fe
         |       FROM norm GROUP BY 1, 2),
         |adm AS (SELECT domain, nurl FROM (
         |    SELECT domain, nurl, ROW_NUMBER() OVER (PARTITION BY domain
         |      ORDER BY fe, nurl) AS rn FROM fe)
         |  WHERE rn <= ${Relational11.URL_QUOTA}),
         |a AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_admitted,
         |        CAST(SUM(${graft.functions.PortableHash.sqlH32("nurl")}) AS BIGINT) AS admitted_fp
         |      FROM adm GROUP BY 1),
         |refs AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_refs
         |         FROM norm GROUP BY 1)
         |SELECT refs.domain, refs.n_refs,
         |  COALESCE(a.n_admitted, CAST(0 AS BIGINT)) AS n_admitted,
         |  COALESCE(a.admitted_fp, CAST(0 AS BIGINT)) AS admitted_fp
         |FROM refs LEFT JOIN a USING (domain)
         |ORDER BY domain""".stripMargin,
    "stream18_segments" -> Relational11.oracle("q96_segment_overlap"),
    "stream07_minhash_ingest" -> DedupQueries.candidatePairsOracle,
    "stream01_tumbling" ->
      s"""SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000)
         |    AS window_start,
         |  event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "stream02_sliding" ->
      s"""SELECT make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - k.k) * 900 * 1000000)
         |    AS window_start,
         |  event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events CROSS JOIN (VALUES (0), (1)) k(k)
         |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "stream11_window_topk" ->
      s"""WITH w AS (
         |  SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT)
         |      * 3600 * 1000000) AS window_start,
         |    event_type, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |r AS (
         |  SELECT window_start, event_type, n,
         |    row_number() OVER (PARTITION BY window_start
         |      ORDER BY n DESC, event_type ASC) AS rank
         |  FROM w)
         |SELECT window_start, rank, event_type, n
         |FROM r WHERE rank <= 3
         |ORDER BY window_start, rank""".stripMargin,
    "stream03_sessions" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts, event_id, value,
         |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM flagged)
         |SELECT min(ts) AS session_start,
         |  make_timestamp(CAST(epoch_us(max(ts)) AS BIGINT) + 1800 * 1000000)
         |    AS session_end,
         |  user_id, COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    // identical truth to stream03 — the typed flatMapGroups pass must
    // reproduce session_window + dsum exactly
    "stream04_sessions_typed" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts, event_id, value,
         |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM flagged)
         |SELECT min(ts) AS session_start,
         |  make_timestamp(CAST(epoch_us(max(ts)) AS BIGINT) + 1800 * 1000000)
         |    AS session_end,
         |  user_id, COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    "stream05_interval_join" ->
      s"""SELECT p.user_id, s.ts AS signup_ts, s.event_id AS signup_event,
         |  p.ts AS purchase_ts, p.event_id AS purchase_event, p.value
         |FROM events p JOIN events s
         |  ON s.user_id = p.user_id
         | AND p.event_type = 'purchase' AND s.event_type = 'signup'
         | AND epoch_us(p.ts) >= epoch_us(s.ts)
         | AND epoch_us(p.ts) <= epoch_us(s.ts) + CAST(3600 AS BIGINT) * 1000000
         |ORDER BY p.user_id, s.event_id, p.event_id""".stripMargin,
    "stream06_asof_enrich" ->
      """SELECT user_id, purchase_us, purchase_event, value,
        |  signup_us, signup_value
        |FROM (
        |  SELECT user_id, epoch_us(ts) AS purchase_us,
        |    event_id AS purchase_event, value, event_type,
        |    max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
        |      OVER w AS signup_us,
        |    last_value(CASE WHEN event_type = 'signup' THEN value END
        |      IGNORE NULLS) OVER w AS signup_value
        |  FROM events
        |  WHERE event_type IN ('purchase', 'signup')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_event""".stripMargin
  )

  /** The ONE SQL spec of [[withIvfChurn]]'s final state, shared by
    * the cdc15 (store) and cdc16 (sidecar index) gates so the two
    * cannot drift: final live set (deletes minus resurrections) with
    * latest-wins embeddings (`fin`), integer-quantized (`q`), the
    * fixed stride-97 codebook (`c`), exact integer L2 distances
    * (`d`), and the nearest-cell assignment with the lower-cell
    * tie-break (`a`, rn = 1).
    */
  private def ivfFinalStateCtes: String =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings),
      |fin AS (SELECT vec_id,
      |    CASE WHEN vec_id % 14 = 1
      |           THEN list_concat(embedding[3:], embedding[1:2])
      |         WHEN vec_id % 7 = 1
      |           THEN list_concat(embedding[2:], embedding[1:1])
      |         ELSE embedding END AS emb
      |  FROM base
      |  WHERE vec_id % 5 <> 2 OR vec_id % 14 = 1),
      |q AS (SELECT vec_id, list_transform(emb, x ->
      |    CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
      |  FROM fin),
      |c AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell,
      |        list_transform(embedding, x ->
      |          CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
      |          AS qc
      |      FROM base WHERE vec_id % 97 = 0
      |      ORDER BY vec_id LIMIT 8),
      |d AS (SELECT q.vec_id, c.cell,
      |        CAST(SUM((q.qe[i] - c.qc[i]) * (q.qe[i] - c.qc[i]))
      |          AS BIGINT) AS dist
      |      FROM q, c, range(1, 1000) t(i)
      |      WHERE i <= len(q.qe) AND len(q.qe) = len(c.qc)
      |      GROUP BY q.vec_id, c.cell),
      |a AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY dist, cell) AS rn
      |      FROM d)""".stripMargin
}
