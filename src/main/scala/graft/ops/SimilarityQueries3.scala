package graft.ops

import graft.Tables
import graft.functions.PortableHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third similarity batch: binary-quantized retrieval — the
  * bandwidth-extreme end of the quantization spectrum the inventory
  * already walks (float32 sim01 → int8 sim11 → 1 bit here). Sign-bit
  * signatures pack a whole vector into ONE BIGINT, candidate search
  * is XOR + popcount (Hamming), and a float rerank restores ranking
  * quality on the shortlist — the binary-passage-retrieval pattern
  * (Yamada et al. 2021, BPR).
  */
object SimilarityQueries3 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Sign bits per signature (hyperplanes 0..P−1, the sim04 weight
    * family). 48 of the 63 expressible bits: at 64 fixture dims more
    * planes than dims adds correlated bits, and 48 keeps the whole
    * signature in one BIGINT with headroom.
    */
  private[ops] val BITS = 48

  /** Embedding dimensionality (fixture contract, as sim01-sim23). */
  private val DIMS = 64

  /** Query stride (the sim17 budget device) and shortlist/result sizes. */
  private val STRIDE = 25L
  private[ops] val SHORTLIST = 20
  private[ops] val TOPK = 5

  /** sim24: binary top-k = Hamming shortlist + exact rerank. Stage 1
    * scores EVERY corpus row against every query with one XOR and one
    * popcount over packed sign bits (64 bytes of float → 6 bytes on
    * the wire, integer ALU ops instead of FMA); stage 2 re-scores
    * only the SHORTLIST with true cosine. Integer Hamming ties and
    * float rerank both break on neighbor_id, so the result is exact
    * under any partitioning.
    *
    * Shape at scale: signatures are a fused-codegen map-side
    * expression ([[graft.plans.HyperplaneBands]], one table);
    * queries broadcast; the shortlist window ships ONLY
    * (query_id, neighbor_id, hamming) triples — WindowGroupLimit
    * prunes to per-partition top-C before the exchange — and the
    * rerank joins the C·Q-row shortlist (broadcast) back to the
    * corpus for embeddings, so full vectors never enter a shuffle.
    */
  private val binaryTopK: Q = (s, dir) => {
    val sig = Tables(s, dir).embeddings
      .select(
        col("vec_id"),
        col("embedding"),
        element_at(
          graft.plans.HyperplaneBands(s, col("embedding"), 1, BITS, DIMS),
          1
        ).as("sig")
      )
    val queries = sig
      .filter(pmod(col("vec_id"), lit(STRIDE)) === 0)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        col("sig").as("qsig")
      )
    val wH = Window
      .partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val shortlist = sig
      .select(col("vec_id"), col("sig"))
      // materialization barrier (the dedup36 lesson): HyperplaneBands
      // codegens, so the fused nested-loop stage would re-derive the
      // 48-plane signature per (corpus, query) PAIR without an
      // exchange between the projection and the join; the shuffle
      // ships only (vec_id, sig) — two longs a row
      .repartition(col("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("qsig"))),
        col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        expr("CAST(bit_count(sig ^ qsig) AS INT)").as("hamming")
      )
      .withColumn("__rh", row_number().over(wH))
      .filter(col("__rh") <= SHORTLIST)
      .select("query_id", "neighbor_id", "hamming")
    val wC = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    Tables(s, dir).embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .select(
        col("query_id"),
        col("neighbor_id"),
        col("hamming"),
        graft.plans.CosineSimilarity(s, col("qv"), col("embedding")).as("cos_sim")
      )
      .withColumn("rank", row_number().over(wC).cast("int"))
      .filter(col("rank") <= TOPK)
      .select("query_id", "rank", "neighbor_id", "hamming", "cos_sim")
      .orderBy("query_id", "rank")
  }

  /** Lloyd rounds for sim27's retrain (unrolled identically in the
    * oracle — the sim23 discipline). Two rounds show the corrected
    * geometry at fixture cost; production iterates to the sim23
    * plateau signal.
    */
  private[ops] val RETRAIN_ITERS = 2

  /** sim27: centroid RETRAINING + rebalance over the live IVF store —
    * the last fixed-forever assumption closed: under embedding drift
    * the build-time centroids go stale and nprobe recall decays
    * (sim25's curve), so the store retrains its K centroids with
    * [[graft.sim.IvfStore.retrain]] (Lloyd rounds over the STORE's
    * vectors, seeded from the current table, keep-old for emptied
    * cells) and [[graft.sim.IvfStore.rebalance]] moves ONLY the
    * reassigned vectors — partition-granular rewrite of
    * old ∪ new cells of the moved set, sidecar updated in lockstep
    * (the cdc15/cdc16 touched-cell discipline). The gated row READS
    * BACK the rebalanced store and reports per cell: membership
    * before/after, moved in/out, the order-free Σ h32(vec_id)
    * membership fingerprint, and the exact integer inertia at the new
    * centroids. The oracle re-derives the whole trajectory from first
    * principles (stride seeds → two unrolled keep-old Lloyd rounds →
    * final assignment), so the readback ≡ a from-scratch build at the
    * new centroids — any vector the rebalance failed to move, moved
    * twice, or dropped diverges at the gate. IvfRetrainSpec pins what
    * the oracle cannot see: untouched-cell file identity, the
    * moved-fraction ≪ store, and store ≡ sidecar after the rebalance.
    */
  private val ivfRetrain: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    val cents = graft.sim.IvfStore
      .centroids(emb, SimilarityQueries2.IVF_K, SimilarityQueries2.IVF_STRIDE)
      .localCheckpoint(true)
    try
      graft.sources.Scratch.withTempDir("graft-sim27") { path =>
        graft.sim.IvfStore.build(emb, cents, path, indexed = true)
        val before = graft.sources.ManifestStore
          .read(s, path)
          .select(col("vec_id"), col("cell").cast("long").as("cell_before"))
          .localCheckpoint(true)
        val newCents =
          graft.sim.IvfStore.retrain(s, path, cents, RETRAIN_ITERS)
        try {
          graft.sim.IvfStore.rebalance(s, path, newCents)
          val after = graft.sources.ManifestStore
            .read(s, path)
            .withColumn("cell", col("cell").cast("long"))
          val afterStats = after
            .select(
              col("cell"),
              col("vec_id"),
              graft.sim.IntVec.quant(col("embedding")).as("qe")
            )
            .join(broadcast(newCents), Seq("cell"))
            .groupBy(col("cell"))
            .agg(
              count(lit(1)).as("n_after"),
              sum(PortableHash.h32(col("vec_id").cast("string")).cast("long"))
                .as("cell_fp"),
              sum(graft.sim.IntVec.dist2(col("qe"), col("qc")))
                .as("inertia_after")
            )
          val beforeStats = before
            .groupBy(col("cell_before"))
            .agg(count(lit(1)).as("n_before"))
            .withColumnRenamed("cell_before", "cell")
          val movedRows = before
            .join(after.select(col("vec_id"), col("cell")), Seq("vec_id"))
            .filter(col("cell") =!= col("cell_before"))
          val movedIn =
            movedRows.groupBy(col("cell")).agg(count(lit(1)).as("moved_in"))
          val movedOut = movedRows
            .groupBy(col("cell_before"))
            .agg(count(lit(1)).as("moved_out"))
            .withColumnRenamed("cell_before", "cell")
          val out = newCents
            .select(col("cell"))
            .join(beforeStats, Seq("cell"), "left")
            .join(afterStats, Seq("cell"), "left")
            .join(movedIn, Seq("cell"), "left")
            .join(movedOut, Seq("cell"), "left")
            .select(
              col("cell"),
              coalesce(col("n_before"), lit(0L)).as("n_before"),
              coalesce(col("n_after"), lit(0L)).as("n_after"),
              coalesce(col("moved_in"), lit(0L)).as("moved_in"),
              coalesce(col("moved_out"), lit(0L)).as("moved_out"),
              coalesce(col("cell_fp"), lit(0L)).as("cell_fp"),
              coalesce(col("inertia_after"), lit(0L)).as("inertia_after")
            )
            .orderBy("cell")
            .localCheckpoint(true)
          org.apache.spark.sql.graftshim.GraftSqlShims
            .unpersistCheckpoint(before)
          out
        } finally
          org.apache.spark.sql.graftshim.GraftSqlShims
            .unpersistCheckpoint(newCents)
      }
    finally
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(cents)
  }

  /** sim28 drift geometry: every 5th vector re-embeds with a +0.25
    * offset per dimension (exactly representable in float32, so the
    * drifted corpus is bit-identical across engines), queries are the
    * drifted slice's 125-stride sample, and serving probes 2 of the
    * cells at top-10.
    */
  private[ops] val DRIFT_MOD = 5L
  private[ops] val DRIFT_REM = 2L
  private[ops] val DRIFT_QMOD = 125L
  private[ops] val DRIFT_TOPK = 10
  private[ops] val DRIFT_NPROBE = 2

  /** sim28: the drift→decay→retrain→recovery story END TO END — the
    * production scenario sim27's machinery exists for, measured: a
    * store is built at the original corpus' centroids, a re-embedded
    * batch (+0.25/dim — new domain territory) is UPSERTED (assignments
    * stay exact, but the build-time centroids no longer describe the
    * corpus), and nprobe serving quality is measured against the
    * brute-force truth BEFORE and AFTER `retrain` + `rebalance`. On
    * the fixture recall@10 reads 0.9 before and 1.0 after (the decay
    * sim25's curve predicts, and its cure). The gated row carries per
    * query: truth size, hits from probing the STALE centroids, hits
    * from probing the RETRAINED ones — the oracle re-derives the
    * whole pipeline (drifted corpus, stale assignment, both probe
    * routings, two unrolled keep-old Lloyd rounds, final assignment)
    * from first principles, so every moving part of the story is
    * oracle-checked, not narrated.
    */
  private val driftRecovery: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    val cents = graft.sim.IvfStore
      .centroids(emb, SimilarityQueries2.IVF_K, SimilarityQueries2.IVF_STRIDE)
      .localCheckpoint(true)
    try
      graft.sources.Scratch.withTempDir("graft-sim28") { path =>
        graft.sim.IvfStore.build(emb, cents, path)
        val drifted = emb
          .filter(pmod(col("vec_id"), lit(DRIFT_MOD)) === DRIFT_REM)
          .select(
            col("vec_id"),
            transform(
              col("embedding"),
              x => (x.cast("double") + 0.25).cast("float")
            ).as("embedding")
          )
        graft.sim.IvfStore.upsert(s, path, cents, drifted)
        val queries = drifted
          .filter(pmod(col("vec_id"), lit(DRIFT_QMOD)) === DRIFT_REM)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
          .localCheckpoint(true)
        // brute-force truth over the LIVE store contents
        val live = graft.sources.ManifestStore
          .read(s, path)
          .select(
            col("vec_id"),
            graft.sim.IntVec.quant(col("embedding")).as("qe")
          )
          .localCheckpoint(true)
        val wT = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("vec_id").asc)
        val truth = live
          .crossJoin(
            broadcast(
              queries.select(
                col("query_id"),
                graft.sim.IntVec.quant(col("qv")).as("qq")
              )
            )
          )
          .filter(size(col("qe")) === size(col("qq")))
          .select(
            col("query_id"),
            col("vec_id"),
            graft.sim.IntVec.dist2(col("qe"), col("qq")).as("dist")
          )
          .withColumn("__rn", row_number().over(wT))
          .filter(col("__rn") <= DRIFT_TOPK)
          .select(col("query_id"), col("vec_id"))
          .localCheckpoint(true)
        def hits(res: DataFrame, name: String) =
          res
            .select(col("query_id"), col("vec_id"))
            .join(truth, Seq("query_id", "vec_id"))
            .groupBy(col("query_id"))
            .agg(count(lit(1)).as(name))
        val before = graft.sim.IvfStore
          .topKBatch(s, path, cents, queries, DRIFT_TOPK, DRIFT_NPROBE)
        val hb = hits(before, "hits_before").localCheckpoint(true)
        val newCents =
          graft.sim.IvfStore.retrain(s, path, cents, RETRAIN_ITERS)
        try {
          graft.sim.IvfStore.rebalance(s, path, newCents)
          val after = graft.sim.IvfStore
            .topKBatch(s, path, newCents, queries, DRIFT_TOPK, DRIFT_NPROBE)
          val out = queries
            .select(col("query_id"))
            .join(hb, Seq("query_id"), "left")
            .join(hits(after, "hits_after"), Seq("query_id"), "left")
            .select(
              col("query_id"),
              lit(DRIFT_TOPK.toLong).as("n_true"),
              coalesce(col("hits_before"), lit(0L)).as("hits_before"),
              coalesce(col("hits_after"), lit(0L)).as("hits_after")
            )
            .orderBy("query_id")
            .localCheckpoint(true)
          Seq(queries, live, truth, hb).foreach(
            org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(_)
          )
          out
        } finally
          org.apache.spark.sql.graftshim.GraftSqlShims
            .unpersistCheckpoint(newCents)
      }
    finally
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(cents)
  }

  /** sim29 shapes: filtered top-k size, the post-filter arm's
    * unfiltered shortlist multiplier, and the query stride.
    */
  private[graft] val FILT_TOPK = 5
  private[ops] val FILT_SHORTLIST_X = 3
  private[ops] val FILT_QSTRIDE = 40L

  /** sim29: METADATA-FILTERED vector search — the "top-k WHERE label
    * = X" query every retrieval stack actually runs, gated as the
    * strategy comparison that decides an architecture: PRE-FILTER
    * (restrict candidates to the predicate first, then exact-rank —
    * always correct, the plan Catalyst builds when the filter pushes
    * into the scan) versus POST-FILTER (take the UNFILTERED top
    * k·[[FILT_SHORTLIST_X]], then apply the predicate and truncate —
    * what a filter-blind ANN index forces, with recall loss whenever
    * fewer than k of the shortlist match). Per query: the exact
    * filtered top-k size, the post-filter arm's hit count against it,
    * and the shortlist's matching-row count — the numbers that say
    * how much shortlist inflation a filter-blind index needs at this
    * selectivity (labels are ~1/|labels| selective, so k·3 is usually
    * NOT enough — the gated rows show real misses, the reason
    * filter-aware serving (the IVF store's cell predicate) exists.
    *
    * Shape at scale: both arms are one broadcast of the Q-row query
    * table against one corpus scan (the sanctioned sim01 BNLJ),
    * WindowGroupLimit per-query ranks, integer micro-unit distances;
    * the filtered arm's predicate rides INTO the scan (pushed
    * filter), which is the pre-filter strategy's whole point.
    */
  private val filteredAnn: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
      .select(col("vec_id"), col("embedding"), col("label"))
    val queries = emb
      .filter(pmod(col("vec_id"), lit(FILT_QSTRIDE)) === 0)
      .select(
        col("vec_id").as("query_id"),
        graft.sim.IntVec.quant(col("embedding")).as("qq"),
        col("label").as("qlabel")
      )
    val scored = emb
      .select(
        col("vec_id"),
        col("label"),
        graft.sim.IntVec.quant(col("embedding")).as("qe")
      )
      .crossJoin(broadcast(queries))
      .filter(size(col("qe")) === size(col("qq")))
      .select(
        col("query_id"),
        col("qlabel"),
        col("vec_id"),
        col("label"),
        graft.sim.IntVec.dist2(col("qe"), col("qq")).as("dist")
      )
    val wQ = Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    // exact pre-filter arm: predicate BEFORE the rank
    val exact = scored
      .filter(col("label") === col("qlabel"))
      .withColumn("__rn", row_number().over(wQ))
      .filter(col("__rn") <= FILT_TOPK)
      .select(col("query_id"), col("vec_id"))
    // post-filter arm: unfiltered shortlist, predicate AFTER
    val shortlist = scored
      .withColumn("__rn", row_number().over(wQ))
      .filter(col("__rn") <= FILT_TOPK * FILT_SHORTLIST_X)
    val post = shortlist
      .filter(col("label") === col("qlabel"))
      .withColumn("__rf", row_number().over(wQ))
      .filter(col("__rf") <= FILT_TOPK)
      .select(col("query_id"), col("vec_id"))
    queries
      .select(col("query_id"))
      .join(
        exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact")),
        Seq("query_id"),
        "left"
      )
      .join(
        post
          .join(exact, Seq("query_id", "vec_id"))
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("post_hits")),
        Seq("query_id"),
        "left"
      )
      .join(
        shortlist
          .filter(col("label") === col("qlabel"))
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("shortlist_matches")),
        Seq("query_id"),
        "left"
      )
      .select(
        col("query_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("post_hits"), lit(0L)).as("post_hits"),
        coalesce(col("shortlist_matches"), lit(0L)).as("shortlist_matches")
      )
      .orderBy("query_id")
  }

  val queries: Map[String, Q] = named(
    "sim24_binary_topk" -> binaryTopK,
    "sim27_ivf_retrain" -> ivfRetrain,
    "sim28_drift_recovery" -> driftRecovery,
    "sim29_filtered_ann" -> filteredAnn
  )

  /** Mirror of the BITS sign-bit signature (independent re-derivation
    * of the same portable-hash plane weights, as sim04/sim08).
    */
  private def sigSql(v: String): String =
    (0 until BITS)
      .map { g =>
        val w =
          s"(CAST(${PortableHash.sqlH32(s"concat('${g}_', CAST(i AS VARCHAR))")} % 1000 AS DOUBLE) / 1000.0 - 0.5)"
        s"""(CASE WHEN list_aggregate(list_transform(range(0, len($v)),
           |  i -> CAST($v[i+1] AS DOUBLE) * $w), 'sum') >= 0.0
           |  THEN CAST(${1L << g} AS BIGINT) ELSE 0 END)""".stripMargin
      }
      .mkString("(", " + ", ")")

  private def dotSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"""(CASE WHEN (${dotSql(a, a)}) = 0.0 OR (${dotSql(b, b)}) = 0.0
       |  THEN 0.0
       |  ELSE (${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))
       |  END)""".stripMargin

  /** One keep-old Lloyd round for the sim27 oracle: assignment at
    * kc{i-1}, per-dimension floor-div means for populated cells, and
    * the previous centroid carried for any cell that emptied (the
    * STORE's rule — a cell must stay addressable — vs sim23's
    * drop-empty rule for free clustering).
    */
  private def retrainRoundSql(i: Int, corpus: String = "q"): String = {
    val prev = s"kc${i - 1}"
    s"""d$i AS MATERIALIZED (
       |  SELECT $corpus.vec_id, $prev.cell,
       |    CAST(SUM(($corpus.qe[t.i] - $prev.qc[t.i])
       |           * ($corpus.qe[t.i] - $prev.qc[t.i])) AS BIGINT) AS dist
       |  FROM $corpus, $prev, range(1, 1000) t(i)
       |  WHERE t.i <= len($corpus.qe) AND len($corpus.qe) = len($prev.qc)
       |  GROUP BY $corpus.vec_id, $prev.cell),
       |a$i AS MATERIALIZED (
       |  SELECT vec_id, cell, dist FROM
       |    (SELECT *, row_number() OVER (PARTITION BY vec_id
       |       ORDER BY dist ASC, cell ASC) AS r FROM d$i)
       |  WHERE r = 1),
       |u$i AS MATERIALIZED (
       |  SELECT a.cell, t.i AS pos,
       |    CAST(SUM($corpus.qe[t.i]) AS BIGINT) AS sd, COUNT(*) AS nd
       |  FROM a$i a JOIN $corpus USING (vec_id), range(1, 1000) t(i)
       |  WHERE t.i <= len($corpus.qe)
       |  GROUP BY a.cell, t.i),
       |m$i AS MATERIALIZED (
       |  SELECT cell, list(sd // nd ORDER BY pos) AS qc
       |  FROM u$i GROUP BY cell),
       |kc$i AS MATERIALIZED (
       |  SELECT cell, qc FROM m$i
       |  UNION ALL
       |  SELECT p.cell, p.qc FROM $prev p
       |  WHERE p.cell NOT IN (SELECT cell FROM m$i))""".stripMargin
  }

  val oracle: Map[String, String] = named(
    // both filtering strategies replayed from first principles: the
    // same scored pair table, predicate-before-rank vs
    // rank-then-predicate-then-truncate, hits = intersection counts
    "sim29_filtered_ann" -> {
      val sln = FILT_TOPK * FILT_SHORTLIST_X
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |      AS qe
         |  FROM embeddings),
         |qs AS (SELECT vec_id AS query_id, qe AS qq, label AS qlabel
         |       FROM e WHERE vec_id % $FILT_QSTRIDE = 0),
         |sc AS MATERIALIZED (
         |  SELECT qs.query_id, qs.qlabel, e.vec_id, e.label,
         |    CAST(SUM((e.qe[t.i] - qs.qq[t.i]) * (e.qe[t.i] - qs.qq[t.i]))
         |      AS BIGINT) AS dist
         |  FROM e, qs, range(1, 1000) t(i)
         |  WHERE t.i <= len(e.qe) AND len(e.qe) = len(qs.qq)
         |  GROUP BY qs.query_id, qs.qlabel, e.vec_id, e.label),
         |ex AS (SELECT query_id, vec_id FROM
         |    (SELECT *, row_number() OVER (PARTITION BY query_id
         |       ORDER BY dist ASC, vec_id ASC) AS rn
         |     FROM sc WHERE label = qlabel)
         |  WHERE rn <= $FILT_TOPK),
         |short AS MATERIALIZED (
         |  SELECT query_id, vec_id, label, qlabel, dist
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY dist ASC, vec_id ASC) AS rn FROM sc)
         |  WHERE rn <= $sln),
         |post AS (SELECT query_id, vec_id FROM
         |    (SELECT *, row_number() OVER (PARTITION BY query_id
         |       ORDER BY dist ASC, vec_id ASC) AS rf
         |     FROM short WHERE label = qlabel)
         |  WHERE rf <= $FILT_TOPK),
         |ne AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
         |       FROM ex GROUP BY 1),
         |ph AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS post_hits
         |       FROM post JOIN ex USING (query_id, vec_id) GROUP BY 1),
         |sm AS (SELECT query_id, CAST(COUNT(*) AS BIGINT)
         |         AS shortlist_matches
         |       FROM short WHERE label = qlabel GROUP BY 1)
         |SELECT qs.query_id,
         |  COALESCE(ne.n_exact, 0) AS n_exact,
         |  COALESCE(ph.post_hits, 0) AS post_hits,
         |  COALESCE(sm.shortlist_matches, 0) AS shortlist_matches
         |FROM qs
         |LEFT JOIN ne USING (query_id)
         |LEFT JOIN ph USING (query_id)
         |LEFT JOIN sm USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    // the whole drift story from first principles: drifted corpus
    // (float32-exact +0.25), stale assignment (a1 at the original
    // seeds), probe routing + top-10 at BOTH centroid tables, two
    // unrolled keep-old Lloyd rounds, final assignment (a3), and the
    // truth-intersection hit counts
    "sim28_drift_recovery" -> {
      val r = RETRAIN_ITERS
      val fin = r + 1
      val rounds = (1 to r).map(retrainRoundSql(_, "live")).mkString(",\n")
      val last = s"kc$r"
      s"""WITH qorig AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |      AS qe
         |  FROM embeddings),
         |live AS MATERIALIZED (SELECT vec_id,
         |    CASE WHEN vec_id % $DRIFT_MOD = $DRIFT_REM THEN
         |      list_transform(embedding, x ->
         |        CAST(floor(CAST(CAST(CAST(x AS DOUBLE) + 0.25 AS FLOAT)
         |          AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |    ELSE
         |      list_transform(embedding, x ->
         |        CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |    END AS qe
         |  FROM embeddings),
         |kc0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT)
         |      AS cell,
         |    qe AS qc
         |  FROM qorig WHERE vec_id % ${SimilarityQueries2.IVF_STRIDE} = 0
         |  ORDER BY vec_id LIMIT ${SimilarityQueries2.IVF_K}),
         |$rounds,
         |d$fin AS MATERIALIZED (
         |  SELECT live.vec_id, $last.cell,
         |    CAST(SUM((live.qe[t.i] - $last.qc[t.i])
         |           * (live.qe[t.i] - $last.qc[t.i])) AS BIGINT) AS dist
         |  FROM live, $last, range(1, 1000) t(i)
         |  WHERE t.i <= len(live.qe) AND len(live.qe) = len($last.qc)
         |  GROUP BY live.vec_id, $last.cell),
         |a$fin AS MATERIALIZED (
         |  SELECT vec_id, cell FROM
         |    (SELECT *, row_number() OVER (PARTITION BY vec_id
         |       ORDER BY dist ASC, cell ASC) AS r FROM d$fin)
         |  WHERE r = 1),
         |qs AS MATERIALIZED (SELECT vec_id AS query_id, qe AS qq
         |  FROM live WHERE vec_id % $DRIFT_QMOD = $DRIFT_REM),
         |td AS MATERIALIZED (
         |  SELECT qs.query_id, live.vec_id,
         |    CAST(SUM((live.qe[t.i] - qs.qq[t.i])
         |           * (live.qe[t.i] - qs.qq[t.i])) AS BIGINT) AS dist
         |  FROM live, qs, range(1, 1000) t(i)
         |  WHERE t.i <= len(live.qe) AND len(live.qe) = len(qs.qq)
         |  GROUP BY qs.query_id, live.vec_id),
         |truth AS MATERIALIZED (SELECT query_id, vec_id FROM
         |    (SELECT *, row_number() OVER (PARTITION BY query_id
         |       ORDER BY dist ASC, vec_id ASC) AS rn FROM td)
         |  WHERE rn <= $DRIFT_TOPK),
         |rb AS (SELECT query_id, cell FROM
         |    (SELECT qs.query_id, c.cell,
         |       row_number() OVER (PARTITION BY qs.query_id ORDER BY
         |         (SELECT CAST(SUM((qs.qq[t.i] - c.qc[t.i])
         |                 * (qs.qq[t.i] - c.qc[t.i])) AS BIGINT)
         |          FROM range(1, 1000) t(i) WHERE t.i <= len(qs.qq))
         |         ASC, c.cell ASC) AS r
         |     FROM qs, kc0 c)
         |  WHERE r <= $DRIFT_NPROBE),
         |ra AS (SELECT query_id, cell FROM
         |    (SELECT qs.query_id, c.cell,
         |       row_number() OVER (PARTITION BY qs.query_id ORDER BY
         |         (SELECT CAST(SUM((qs.qq[t.i] - c.qc[t.i])
         |                 * (qs.qq[t.i] - c.qc[t.i])) AS BIGINT)
         |          FROM range(1, 1000) t(i) WHERE t.i <= len(qs.qq))
         |         ASC, c.cell ASC) AS r
         |     FROM qs, $last c)
         |  WHERE r <= $DRIFT_NPROBE),
         |resb AS (SELECT query_id, vec_id FROM
         |    (SELECT td.query_id, td.vec_id,
         |       row_number() OVER (PARTITION BY td.query_id
         |         ORDER BY td.dist ASC, td.vec_id ASC) AS rn
         |     FROM td
         |     JOIN a1 ON a1.vec_id = td.vec_id
         |     JOIN rb ON rb.query_id = td.query_id AND rb.cell = a1.cell)
         |  WHERE rn <= $DRIFT_TOPK),
         |resa AS (SELECT query_id, vec_id FROM
         |    (SELECT td.query_id, td.vec_id,
         |       row_number() OVER (PARTITION BY td.query_id
         |         ORDER BY td.dist ASC, td.vec_id ASC) AS rn
         |     FROM td
         |     JOIN a$fin ON a$fin.vec_id = td.vec_id
         |     JOIN ra ON ra.query_id = td.query_id AND ra.cell = a$fin.cell)
         |  WHERE rn <= $DRIFT_TOPK),
         |hb AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS hits
         |       FROM resb JOIN truth USING (query_id, vec_id) GROUP BY 1),
         |ha AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS hits
         |       FROM resa JOIN truth USING (query_id, vec_id) GROUP BY 1)
         |SELECT qs.query_id,
         |  CAST($DRIFT_TOPK AS BIGINT) AS n_true,
         |  COALESCE(hb.hits, 0) AS hits_before,
         |  COALESCE(ha.hits, 0) AS hits_after
         |FROM qs
         |LEFT JOIN hb USING (query_id)
         |LEFT JOIN ha USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    // the whole retrain+rebalance trajectory from first principles:
    // stride seeds (the build centroids), RETRAIN_ITERS unrolled
    // keep-old Lloyd rounds, final assignment at the retrained table
    // — vs the Spark side's physical readback of the rebalanced store
    "sim27_ivf_retrain" -> {
      val r = RETRAIN_ITERS
      val fin = r + 1
      val rounds = (1 to r).map(retrainRoundSql(_)).mkString(",\n")
      val prev = s"kc$r"
      val h = PortableHash.sqlH32("CAST(vec_id AS VARCHAR)")
      s"""WITH q AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |      AS qe
         |  FROM embeddings),
         |kc0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT)
         |      AS cell,
         |    qe AS qc
         |  FROM q WHERE vec_id % ${SimilarityQueries2.IVF_STRIDE} = 0
         |  ORDER BY vec_id LIMIT ${SimilarityQueries2.IVF_K}),
         |$rounds,
         |d$fin AS MATERIALIZED (
         |  SELECT q.vec_id, $prev.cell,
         |    CAST(SUM((q.qe[t.i] - $prev.qc[t.i])
         |           * (q.qe[t.i] - $prev.qc[t.i])) AS BIGINT) AS dist
         |  FROM q, $prev, range(1, 1000) t(i)
         |  WHERE t.i <= len(q.qe) AND len(q.qe) = len($prev.qc)
         |  GROUP BY q.vec_id, $prev.cell),
         |a$fin AS MATERIALIZED (
         |  SELECT vec_id, cell, dist FROM
         |    (SELECT *, row_number() OVER (PARTITION BY vec_id
         |       ORDER BY dist ASC, cell ASC) AS r FROM d$fin)
         |  WHERE r = 1),
         |nb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_before
         |       FROM a1 GROUP BY 1),
         |na AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_after,
         |         CAST(SUM($h) AS BIGINT) AS cell_fp,
         |         CAST(SUM(dist) AS BIGINT) AS inertia_after
         |       FROM a$fin GROUP BY 1),
         |mv AS (SELECT a1.cell AS oldc, a$fin.cell AS newc
         |       FROM a1 JOIN a$fin USING (vec_id)
         |       WHERE a1.cell <> a$fin.cell),
         |mi AS (SELECT newc AS cell, CAST(COUNT(*) AS BIGINT) AS moved_in
         |       FROM mv GROUP BY 1),
         |mo AS (SELECT oldc AS cell, CAST(COUNT(*) AS BIGINT) AS moved_out
         |       FROM mv GROUP BY 1)
         |SELECT $prev.cell,
         |  COALESCE(nb.n_before, 0) AS n_before,
         |  COALESCE(na.n_after, 0) AS n_after,
         |  COALESCE(mi.moved_in, 0) AS moved_in,
         |  COALESCE(mo.moved_out, 0) AS moved_out,
         |  COALESCE(na.cell_fp, 0) AS cell_fp,
         |  COALESCE(na.inertia_after, 0) AS inertia_after
         |FROM $prev
         |LEFT JOIN nb USING (cell)
         |LEFT JOIN na USING (cell)
         |LEFT JOIN mi USING (cell)
         |LEFT JOIN mo USING (cell)
         |ORDER BY cell""".stripMargin
    },
    "sim24_binary_topk" ->
      s"""WITH sig AS (SELECT vec_id, embedding,
         |               ${sigSql("embedding")} AS sig
         |             FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, sig AS qsig
         |      FROM sig WHERE vec_id % $STRIDE = 0),
         |p AS (SELECT q.query_id, s.vec_id AS neighbor_id,
         |        CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) AS hamming
         |      FROM sig s JOIN q ON s.vec_id <> q.query_id),
         |c AS (SELECT query_id, neighbor_id, hamming,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY hamming ASC, neighbor_id ASC) AS rh
         |      FROM p),
         |r AS (SELECT c.query_id, c.neighbor_id, c.hamming,
         |        ${cosSql("e.embedding", "q.qv")} AS cos_sim
         |      FROM c
         |      JOIN embeddings e ON c.neighbor_id = e.vec_id
         |      JOIN q ON c.query_id = q.query_id
         |      WHERE c.rh <= $SHORTLIST)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank,
         |  neighbor_id, hamming, cos_sim
         |FROM r
         |QUALIFY rank <= $TOPK
         |ORDER BY query_id, rank""".stripMargin
  )
}
