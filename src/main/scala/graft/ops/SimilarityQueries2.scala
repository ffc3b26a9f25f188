package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second similarity batch: product quantization — the compressed
  * ANN family (IVF-PQ) one step past [[SimilarityQueries]]'s int8
  * scalar quantizer. PQ splits each vector into M subvectors, maps
  * each to its nearest entry in a per-subspace codebook, and scores
  * candidates against a query through a precomputed distance TABLE
  * (asymmetric distance computation, ADC) — per candidate, M table
  * lookups instead of a length-D dot product. At 100 TB of
  * embeddings this is the operator that makes an exhaustive scan
  * affordable: M·log2(K) bits per vector (here 4·3 = 12 bits vs
  * 64·32 fp32 bits) and the scan touches codes, not floats.
  */
object SimilarityQueries2 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  private val QUERY_IDS = Seq(0L, 1L, 2L)
  private val TOPK = 5
  private[ops] val PQ_M = 4 // subspaces
  private[ops] val PQ_K = 8 // codebook entries per subspace
  private[ops] val SUBDIM = 16 // dims per subspace (fixture: 64 total)
  private[ops] val PQ_STRIDE = 53 // seed sampling stride

  /** sim19: PQ encode + ADC top-k, bit-reproducible end to end (the
    * sim18 discipline): vectors quantize to integer micro-units once,
    * per-subspace distances are exact BIGINT sums of squared integer
    * diffs, code assignment argmins tiebreak on code_id via
    * struct-min, and the ADC score is an exact BIGINT sum of M table
    * entries — no float ever enters, so the ranking is identical on
    * any engine and any partitioning. The codebook is a deterministic
    * stride sample of the corpus (the standard sample-init; sim18 is
    * the Lloyd refinement step that would iterate it).
    *
    * Shape at scale: the codebook (K rows) broadcasts for a map-side
    * encode pass (M·K·SUBDIM integer ops per vector — one-time index
    * build); the per-query distance tables (M·K BIGINTs per query)
    * build on the tiny query×codebook cross and broadcast as maps
    * embedded in the plan; candidate scoring is a map-side scan of
    * (neighbor_id, codes) — 12 bits of payload per corpus vector on
    * the wire, and the only shuffle is the per-query top-k
    * (WindowGroupLimit pushes the heap below it). Encode once, serve
    * every query from the code table: the IVF-PQ serving shape.
    */
  /** Integer micro-unit quantization of the embedding table — the
    * shared [[graft.sim.IntVec]] substrate (one grid definition for
    * the whole sim family, incl. IvfStore).
    */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .select(col("vec_id"), graft.sim.IntVec.quant(col("embedding")).as("qe"))

  /** Deterministic stride-sampled codebook/centroid table: the lowest
    * `k` quantized vectors with vec_id % stride == 0, numbered 1..k.
    */
  private def strideSeeds(
      quant: DataFrame,
      stride: Int,
      k: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = graft.sim.IntVec.strideSeeds(quant, stride, k, idCol, vecCol)

  /** Whole-vector squared-L2 distance: one exact BIGINT. */
  private def dist2(a: Column, b: Column): Column =
    graft.sim.IntVec.dist2(a, b)

  /** Per-subspace squared-L2 distances: array of PQ_M exact BIGINTs. */
  private def subDists(a: Column, b: Column): Column =
    transform(
      sequence(lit(0), lit(PQ_M - 1)),
      m =>
        aggregate(
          zip_with(
            slice(a, m * lit(SUBDIM) + lit(1), lit(SUBDIM)),
            slice(b, m * lit(SUBDIM) + lit(1), lit(SUBDIM)),
            (x, y) => (x - y) * (x - y)
          ),
          lit(0L),
          (acc, x) => acc + x
        )
    )

  /** PQ code assignment: (vec_id, codes array) via struct-min argmin
    * per subspace against the broadcast codebook.
    */
  private def pqCodes(quant: DataFrame, codebook: DataFrame): DataFrame = {
    val enc = quant
      .crossJoin(broadcast(codebook))
      // dims guard (sim11/sim18 discipline): drop ragged vectors the
      // same way the oracle's len() equality does
      .filter(size(col("qe")) === size(col("qc")))
      .select(col("vec_id"), col("code_id"), subDists(col("qe"), col("qc")).as("ds"))
      .groupBy(col("vec_id"))
      .agg(
        min(struct(element_at(col("ds"), 1), col("code_id"))).as("a0"),
        (1 until PQ_M).map(m =>
          min(struct(element_at(col("ds"), m + 1), col("code_id"))).as(s"a$m")
        ): _*
      )
    enc.select(
      col("vec_id"),
      array((0 until PQ_M).map(m => col(s"a$m.code_id")): _*).as("codes")
    )
  }

  /** Per-query ADC tables: query_id -> (m -> (code_id -> dist)),
    * built on the tiny query×codebook cross, for broadcast.
    */
  private def adcTables(qs: DataFrame, codebook: DataFrame): DataFrame =
    qs.crossJoin(broadcast(codebook))
      .filter(size(col("qq")) === size(col("qc")))
      .select(
        col("query_id"),
        col("code_id"),
        posexplode(subDists(col("qq"), col("qc")))
      )
      .groupBy(col("query_id"), col("pos"))
      .agg(
        map_from_entries(collect_list(struct(col("code_id"), col("col"))))
          .as("dm")
      )
      .groupBy(col("query_id"))
      .agg(
        map_from_entries(collect_list(struct(col("pos"), col("dm"))))
          .as("dt")
      )

  /** ADC score of a codes array against the broadcast table map. */
  private def adcScore: Column =
    (0 until PQ_M)
      .map(m =>
        element_at(
          element_at(col("dt"), lit(m)),
          element_at(col("codes"), m + 1)
        )
      )
      .reduce(_ + _)

  private val pqAdc: Q = (s, dir) => {
    val quant = quantized(s, dir)
    val seeds = strideSeeds(quant, PQ_STRIDE, PQ_K, "code_id", "qc")

    val candidates = pqCodes(quant, seeds)
      .withColumnRenamed("vec_id", "neighbor_id")
    val qs = quant
      .filter(col("vec_id").isin(QUERY_IDS: _*))
      .select(col("vec_id").as("query_id"), col("qe").as("qq"))
    val dtab = adcTables(qs, seeds)
    val adc = candidates
      .crossJoin(broadcast(dtab))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        adcScore.as("adc_dist")
      )
    adc
      .withColumn(
        "rank",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
        )
      )
      .filter(col("rank") <= TOPK)
      .select("query_id", "neighbor_id", "rank", "adc_dist")
      .orderBy("query_id", "rank")
  }

  private[ops] val IVF_K = 8 // coarse lists
  private[ops] val IVF_STRIDE = 97 // coarse seed stride (sim18's)
  private[ops] val NPROBE = 2

  /** sim20: IVF-PQ — the production ANN serving shape, composed from
    * this library's own parts: a coarse quantizer routes every vector
    * into one of IVF_K inverted lists (sim18's stride-seeded
    * centroids, integer L2, struct-min ties), vectors store only
    * their PQ codes (sim19), and a query probes its NPROBE nearest
    * lists, scoring just those candidates by ADC table lookups. The
    * recall/cost dial is (nprobe, K): this query is the scale path
    * where even sim19's full code scan is too much — the scan
    * touches |corpus|·nprobe/K candidates.
    *
    * Simplification vs the textbook: codes quantize the RAW vector,
    * not the residual (vector − coarse centroid) — raw-vector codes
    * keep the ADC tables list-independent, the right first form to
    * verify. The residual form is sim21 below.
    *
    * Everything stays in the integer discipline, so the probed-list
    * ranking is bit-identical on both engines; the oracle replays
    * coarse assignment, codes, probes, and ADC in SQL.
    */
  private val ivfPq: Q = (s, dir) => {
    val quant = quantized(s, dir)
    val codebook = strideSeeds(quant, PQ_STRIDE, PQ_K, "code_id", "qc")
    val coarse = strideSeeds(quant, IVF_STRIDE, IVF_K, "list_id", "qv")

    // route every vector to its nearest coarse list (one broadcast
    // scan; the index-build pass)
    val assign = quant
      .crossJoin(broadcast(coarse))
      .filter(size(col("qe")) === size(col("qv")))
      .select(col("vec_id"), col("list_id"), dist2(col("qe"), col("qv")).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("list_id"))).as("a"))
      .select(col("vec_id"), col("a.list_id").as("list_id"))
    val candidates = pqCodes(quant, codebook)
      .join(assign, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("codes"), col("list_id"))

    val qs = quant
      .filter(col("vec_id").isin(QUERY_IDS: _*))
      .select(col("vec_id").as("query_id"), col("qe").as("qq"))
    // probe set: each query's NPROBE nearest coarse lists
    val probes = qs
      .crossJoin(broadcast(coarse))
      .filter(size(col("qq")) === size(col("qv")))
      .select(col("query_id"), col("list_id"), dist2(col("qq"), col("qv")).as("d"))
      .withColumn(
        "pr",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("d").asc, col("list_id").asc)
        )
      )
      .filter(col("pr") <= NPROBE)
      .select(col("query_id"), col("list_id"))
    val dtab = adcTables(qs, codebook)

    // scan ONLY the probed lists (the IVF cut), then ADC-score
    val adc = candidates
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(dtab), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), adcScore.as("adc_dist"))
    adc
      .withColumn(
        "rank",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
        )
      )
      .filter(col("rank") <= TOPK)
      .select("query_id", "neighbor_id", "rank", "adc_dist")
      .orderBy("query_id", "rank")
  }

  /** sim21: residual IVF-PQ — the textbook form sim20's docstring
    * names: codes quantize the RESIDUAL (vector − its coarse
    * centroid), which concentrates the code distribution near zero
    * and buys finer resolution from the same K codes. The price is
    * visible in the plan: the query's residual depends on which list
    * is probed, so ADC tables are per (query, probed list) —
    * nprobe× the table mass of sim20, still broadcast-scale
    * (nprobe·M·K BIGINTs per query).
    *
    * Everything stays exact-integer (micro-unit differences of
    * micro-unit values — BIGINT adds/multiplies), so encode, probe
    * and ranking are engine- and partition-identical, oracle-checked
    * like the rest of the family.
    */
  private val residualPq: Q = (s, dir) => {
    val quant = quantized(s, dir)
    val coarse = strideSeeds(quant, IVF_STRIDE, IVF_K, "list_id", "qv")
    val assign = quant
      .crossJoin(broadcast(coarse))
      .filter(size(col("qe")) === size(col("qv")))
      .select(col("vec_id"), col("list_id"), dist2(col("qe"), col("qv")).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("list_id"))).as("a"))
      .select(col("vec_id"), col("a.list_id").as("list_id"))
    // residual of every vector w.r.t. its OWN assigned centroid
    val res = quant
      .join(assign, Seq("vec_id"))
      .join(broadcast(coarse), Seq("list_id"))
      .select(
        col("vec_id"),
        col("list_id"),
        zip_with(col("qe"), col("qv"), (a, b) => a - b).as("qe")
      )
    // residual codebook: the stride seeds' own residuals
    val codebook = res
      .filter(col("vec_id") % PQ_STRIDE === 0)
      .orderBy("vec_id")
      .limit(PQ_K)
      .withColumn(
        "code_id",
        row_number().over(Window.orderBy(col("vec_id"))).cast("long")
      )
      .select(col("code_id"), col("qe").as("qc"))
    val candidates = pqCodes(res.select(col("vec_id"), col("qe")), codebook)
      .join(assign, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("codes"), col("list_id"))

    val qs = quant
      .filter(col("vec_id").isin(QUERY_IDS: _*))
      .select(col("vec_id").as("query_id"), col("qe").as("qq"))
    val probes = qs
      .crossJoin(broadcast(coarse))
      .filter(size(col("qq")) === size(col("qv")))
      .select(col("query_id"), col("list_id"), dist2(col("qq"), col("qv")).as("d"))
      .withColumn(
        "pr",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("d").asc, col("list_id").asc)
        )
      )
      .filter(col("pr") <= NPROBE)
      .select(col("query_id"), col("list_id"))
    // per-(query, probed list) residuals → ADC tables keyed by both
    val qres = probes
      .join(qs, Seq("query_id"))
      .join(broadcast(coarse), Seq("list_id"))
      .select(
        col("query_id"),
        col("list_id"),
        zip_with(col("qq"), col("qv"), (a, b) => a - b).as("qq")
      )
    val dtab = qres
      .crossJoin(broadcast(codebook))
      .filter(size(col("qq")) === size(col("qc")))
      .select(
        col("query_id"),
        col("list_id"),
        col("code_id"),
        posexplode(subDists(col("qq"), col("qc")))
      )
      .groupBy(col("query_id"), col("list_id"), col("pos"))
      .agg(
        map_from_entries(collect_list(struct(col("code_id"), col("col"))))
          .as("dm")
      )
      .groupBy(col("query_id"), col("list_id"))
      .agg(
        map_from_entries(collect_list(struct(col("pos"), col("dm"))))
          .as("dt")
      )
    val adc = candidates
      .join(broadcast(dtab), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), adcScore.as("adc_dist"))
    adc
      .withColumn(
        "rank",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
        )
      )
      .filter(col("rank") <= TOPK)
      .select("query_id", "neighbor_id", "rank", "adc_dist")
      .orderBy("query_id", "rank")
  }

  private[ops] val JL_D = 64 // fixture embedding dims
  private[ops] val JL_K = 8 // projected dims
  private[ops] val JL_STRIDE = 16 // audit-pair sampling stride

  /** ±1 sign matrix for sim22, row j = projected dim: the standard
    * Achlioptas/JL database-friendly projection with the random bits
    * drawn from the engine-portable hash (PortableHash parity), so
    * BOTH engines rebuild the identical matrix from nothing. Plan
    * literals: K arrays of D signs, evaluated at plan build.
    */
  private def jlSigns(j: Int): Seq[Long] =
    (0 until JL_D).map { i =>
      if (graft.functions.PortableHash.h32Local(s"jl:$j:$i") % 2 == 0) 1L
      else -1L
    }

  /** sim22: Johnson-Lindenstrauss random projection with a distortion
    * audit — the dimensionality-reduction front end for every ANN arm
    * (project 64-d to 8-d, search coarse, rerank full — sim12's
    * matryoshka pattern with a DERIVED coarse embedding for corpora
    * whose embeddings don't come matryoshka-trained).
    *
    * Integer-exact construction: vectors quantize to micro-units ONCE
    * (`floor(x·10⁶+0.5)`, the sim09/sim18 discipline); each projected
    * coordinate is a ±1-signed sum of micro-ints (a plan-literal sign
    * array per output dim — no stored projection matrix, any executor
    * or engine rebuilds it from the hash), so projections, and both
    * squared distances, are exact BIGINTs. The audit: on a stride
    * sample of consecutive-id pairs, compare the projected squared
    * distance against the full-dim squared distance — for ±1 entries
    * E[d²_proj] = K·d²_full, so `ratio = d²_proj / (K·d²_full)`
    * concentrates near 1; the single float op is that final division.
    *
    * Scale: projection is a map-side array expression (no shuffle, no
    * UDF); the audit joins a stride sample only. At 100 TB the
    * projected 8-d vectors are what flows into IVF training — 8× less
    * shuffle bytes for every downstream clustering pass.
    */
  private val jlProject: Q = (s, dir) => {
    val micro = transform(
      col("embedding"),
      x => floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("long")
    )
    val proj = array((0 until JL_K).map { j =>
      aggregate(
        zip_with(col("m"), typedLit(jlSigns(j)), (a, b) => a * b),
        lit(0L),
        (acc, x) => acc + x
      )
    }: _*)
    val vecs = Tables(s, dir).embeddings
      .filter(size(col("embedding")) === JL_D)
      .select(col("vec_id"), micro.as("m"))
      .withColumn("y", proj)
    val a = vecs
      .filter(pmod(col("vec_id"), lit(JL_STRIDE.toLong)) === 0L)
      .select(col("vec_id").as("vec_a"), col("m").as("ma"), col("y").as("ya"))
    val b = vecs
      .select(col("vec_id").as("vec_b"), col("m").as("mb"), col("y").as("yb"))
    def sqDist(u: Column, v: Column): Column =
      aggregate(
        zip_with(u, v, (p, q) => (p - q) * (p - q)),
        lit(0L),
        (acc, x) => acc + x
      )
    a.join(b, col("vec_b") === col("vec_a") + 1)
      .select(
        col("vec_a"),
        col("vec_b"),
        sqDist(col("ma"), col("mb")).as("d2_full"),
        sqDist(col("ya"), col("yb")).as("d2_proj")
      )
      .withColumn(
        "ratio",
        col("d2_proj").cast("double") /
          (lit(JL_K.toDouble) * col("d2_full").cast("double"))
      )
      .orderBy("vec_a")
  }

  /** Lloyd iteration count for sim23, unrolled identically in the
    * oracle (the dedup22 PageRank discipline). Real training runs
    * 10-25 rounds to an inertia plateau; 3 shows the trajectory the
    * plateau test reads (inertia strictly falling, shift collapsing)
    * at fixture cost.
    */
  private[ops] val KM_ITERS = 3
  private[ops] val KM_K = 8 // seed count — matches sim18
  private[ops] val KM_STRIDE = 97 // seed sampling stride — matches sim18

  /** sim23: Lloyd k-means run for [[KM_ITERS]] FULL iterations — the
    * training loop whose single step is sim18, with the full-vector
    * centroid update sim18's first-coordinate report elides. Each
    * round: assign every vector to its nearest centroid (exact BIGINT
    * micro-unit distances, struct-min argmin — the sim18/sim11
    * bit-reproducibility discipline), then recompute each centroid as the
    * per-dimension FLOOR-DIVIDED mean (`sum div n` in BIGINT — keeps
    * centroids on the integer grid, so the next round's assignment is
    * again exact and the whole trajectory is bit-identical on any
    * engine/partitioning; the sub-micro-unit truncation is noise at
    * 10⁻⁶ scale). Output per (iter, cluster): population, exact
    * inertia contribution, and the squared centroid shift — the
    * convergence report a training driver reads to stop (inertia
    * falls monotonically, shifts collapse toward 0). Clusters that
    * lose all members drop out (the standard Lloyd empty-cluster
    * rule), deterministically on both engines.
    *
    * Shape at scale: per round, the K-row centroid table BROADCASTS
    * into the same bandwidth-bound map-side scan as sim18 (K·D
    * multiply-adds/row); assignment is one dense-key aggregation; the
    * centroid update posexplodes assigned vectors to (cluster, dim)
    * — hash partial aggregation reduces that map-side to
    * partitions×K×D rows on the wire, so the explode costs CPU, not
    * shuffle. The corpus is RE-SCANNED each round rather than
    * checkpointed (quantization is a map-side expression; caching
    * 100 TB to save it is a bad trade), while the K-row centroid
    * frame IS checkpointed per round — lineage would otherwise
    * double every iteration — and superseded checkpoints are
    * released (the dedup06/dedup22 round discipline). Per-round
    * reports (K rows) checkpoint eagerly so releasing old centroid
    * rounds cannot orphan their plans.
    */
  private val kmeansIters: Q = (s, dir) => {
    val quant = quantized(s, dir)
    val seeds = strideSeeds(quant, KM_STRIDE, KM_K, "cluster_id", "qc")
    var cents = seeds.localCheckpoint(true)
    val reports = Seq.newBuilder[DataFrame]
    for (it <- 1 to KM_ITERS) {
      val assigned = quant
        .crossJoin(broadcast(cents))
        // dims guard (sim11 discipline): fail closed on ragged vectors
        .filter(size(col("qe")) === size(col("qc")))
        .select(
          col("vec_id"),
          col("qe"),
          col("cluster_id"),
          aggregate(
            zip_with(col("qe"), col("qc"), (a, b) => (a - b) * (a - b)),
            lit(0L),
            (acc, x) => acc + x
          ).as("dist")
        )
        // carrying qe through the argmin groupBy (vs re-joining quant
        // afterwards) moves the same bytes but saves a corpus shuffle
        .groupBy(col("vec_id"), col("qe"))
        .agg(min(struct(col("dist"), col("cluster_id"))).as("a"))
        .select(
          col("vec_id"),
          col("qe"),
          col("a.cluster_id").as("cluster_id"),
          col("a.dist").as("dist")
        )
      val stats = assigned
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia"))
      val newCents = assigned
        .select(col("cluster_id"), posexplode(col("qe")))
        .groupBy(col("cluster_id"), col("pos"))
        .agg(sum(col("col")).as("sd"), count(lit(1)).as("nd"))
        .select(
          col("cluster_id"),
          struct(col("pos"), expr("sd div nd").as("v")).as("pv")
        )
        .groupBy(col("cluster_id"))
        .agg(sort_array(collect_list(col("pv"))).as("pvs"))
        .select(
          col("cluster_id"),
          expr("transform(pvs, p -> p.v)").as("qc")
        )
        .localCheckpoint(true)
      val report = stats
        .join(cents.select(col("cluster_id"), col("qc").as("qo")), Seq("cluster_id"))
        .join(newCents.select(col("cluster_id"), col("qc").as("qn")), Seq("cluster_id"))
        .select(
          lit(it.toLong).as("iter"),
          col("cluster_id"),
          col("n"),
          col("inertia"),
          aggregate(
            zip_with(col("qn"), col("qo"), (a, b) => (a - b) * (a - b)),
            lit(0L),
            (acc, x) => acc + x
          ).as("shift_sq")
        )
        .localCheckpoint(true)
      reports += report
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(cents)
      cents = newCents
    }
    org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(cents)
    reports
      .result()
      .reduce(_.unionByName(_))
      .orderBy("iter", "cluster_id")
  }

  /** sim26 store geometry — the cdc15/cdc16 codebook rule (8 cells
    * from the stride-97 sample) so the store under serve is the same
    * store the maintenance family churns, and the query set is a
    * deterministic corpus slice (vec_id ≡ 3 mod 37, ~3% — a real
    * BATCH, not the 3-row QUERY_IDS probe set).
    */
  private val IVF_NPROBE = 2
  private[ops] val BATCH_QUERY_MOD = 37L
  private[ops] val BATCH_QUERY_REM = 3L

  /** sim26: batched ANN serving over the [[graft.sim.IvfStore]]
    * STORE — the production face of sim06's relational routing: a
    * query TABLE routes to cells in one broadcast pass, the union of
    * probed cells is read ONCE through the store's PartitionFilters
    * pruning, and per-query top-k comes from one WindowGroupLimit
    * (see [[graft.sim.IvfStore.topKBatch]] for the scale shape).
    * The gate pins the verdicts against the from-scratch relational
    * oracle (assignment + routing + rank recomputed in SQL);
    * IvfServeSpec separately pins per-query equality with the
    * single-query `topK` and the pruned-scan plan.
    */
  private val ivfBatchServe: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    val cents =
      graft.sim.IvfStore.centroids(emb, IVF_K, IVF_STRIDE).localCheckpoint(true)
    try
      graft.sources.Scratch.withTempDir("graft-sim26") { path =>
        graft.sim.IvfStore.build(emb, cents, path)
        val queries = emb
          .filter(pmod(col("vec_id"), lit(BATCH_QUERY_MOD)) === BATCH_QUERY_REM)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        graft.sim.IvfStore
          .topKBatch(s, path, cents, queries, TOPK, IVF_NPROBE)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    finally
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(cents)
  }

  val queries: Map[String, Q] = named(
    "sim23_kmeans_iters" -> kmeansIters,
    "sim19_pq_adc" -> pqAdc,
    "sim20_ivf_pq" -> ivfPq,
    "sim21_residual_pq" -> residualPq,
    "sim22_jl_project" -> jlProject,
    "sim26_ivf_batch_serve" -> ivfBatchServe
  )

  private val qIdsSql = QUERY_IDS.mkString("(", ", ", ")")

  val oracle: Map[String, String] = named(
    // the from-scratch relational spec of the SERVED store: integer
    // quantization, stride codebook, nearest-cell assignment (a),
    // per-query probe routing with the (distance, cell) tie-break
    // (routes), and exact integer L2 rank within probed cells — the
    // cdc15 assignment CTEs extended by the serving arm
    "sim26_ivf_batch_serve" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
         |    FROM embeddings),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell,
         |        list_transform(embedding, x ->
         |          CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |          AS qc
         |      FROM embeddings WHERE vec_id % $IVF_STRIDE = 0
         |      ORDER BY vec_id LIMIT $IVF_K),
         |d AS (SELECT q.vec_id, c.cell,
         |        CAST(SUM((q.qe[i] - c.qc[i]) * (q.qe[i] - c.qc[i]))
         |          AS BIGINT) AS dist
         |      FROM q, c, range(1, 1000) t(i)
         |      WHERE i <= len(q.qe) AND len(q.qe) = len(c.qc)
         |      GROUP BY q.vec_id, c.cell),
         |a AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dist, cell) AS rn FROM d),
         |qs AS (SELECT vec_id AS query_id, qe AS qq FROM q
         |       WHERE vec_id % $BATCH_QUERY_MOD = $BATCH_QUERY_REM),
         |pd AS (SELECT qs.query_id, c.cell,
         |        CAST(SUM((qs.qq[i] - c.qc[i]) * (qs.qq[i] - c.qc[i]))
         |          AS BIGINT) AS dist
         |      FROM qs, c, range(1, 1000) t(i)
         |      WHERE i <= len(qs.qq) AND len(qs.qq) = len(c.qc)
         |      GROUP BY qs.query_id, c.cell),
         |routes AS (SELECT query_id, cell FROM (
         |    SELECT query_id, cell, row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist, cell) AS pr FROM pd)
         |  WHERE pr <= $IVF_NPROBE),
         |sc AS (SELECT r.query_id, s.vec_id, sa.cell,
         |        CAST(SUM((s.qe[i] - qs.qq[i]) * (s.qe[i] - qs.qq[i]))
         |          AS BIGINT) AS dist2
         |      FROM routes r, (SELECT vec_id, cell FROM a WHERE rn = 1) sa,
         |        q s, qs, range(1, 1000) t(i)
         |      WHERE sa.cell = r.cell AND s.vec_id = sa.vec_id
         |        AND qs.query_id = r.query_id
         |        AND i <= len(s.qe) AND len(s.qe) = len(qs.qq)
         |      GROUP BY r.query_id, s.vec_id, sa.cell),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY dist2, vec_id) AS rank FROM sc)
         |SELECT query_id, vec_id, CAST(cell AS BIGINT) AS cell, dist2,
         |  CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $TOPK
         |ORDER BY query_id, rank""".stripMargin,
    // rounds unrolled as MATERIALIZED CTEs (the dedup22 discipline);
    // centroid update is the same BIGINT floor-divided per-dim mean,
    // so the full 3-round trajectory is bit-identical
    "sim23_kmeans_iters" -> {
      val rounds = (1 to KM_ITERS).map { i =>
        val prev = s"c${i - 1}"
        s"""d$i AS MATERIALIZED (
           |  SELECT q.vec_id, $prev.cluster_id,
           |    CAST(SUM((q.qe[t.i] - $prev.qc[t.i])
           |           * (q.qe[t.i] - $prev.qc[t.i])) AS BIGINT) AS dist
           |  FROM q, $prev, range(1, 1000) t(i)
           |  WHERE t.i <= len(q.qe) AND len(q.qe) = len($prev.qc)
           |  GROUP BY q.vec_id, $prev.cluster_id),
           |a$i AS MATERIALIZED (
           |  SELECT vec_id, cluster_id, dist FROM
           |    (SELECT *, row_number() OVER (PARTITION BY vec_id
           |       ORDER BY dist ASC, cluster_id ASC) AS r FROM d$i)
           |  WHERE r = 1),
           |s$i AS MATERIALIZED (
           |  SELECT cluster_id, COUNT(*) AS n,
           |    CAST(SUM(dist) AS BIGINT) AS inertia
           |  FROM a$i GROUP BY cluster_id),
           |u$i AS MATERIALIZED (
           |  SELECT a.cluster_id, t.i AS pos,
           |    CAST(SUM(q.qe[t.i]) AS BIGINT) AS sd, COUNT(*) AS nd
           |  FROM a$i a JOIN q USING (vec_id), range(1, 1000) t(i)
           |  WHERE t.i <= len(q.qe)
           |  GROUP BY a.cluster_id, t.i),
           |c$i AS MATERIALIZED (
           |  SELECT cluster_id, list(sd // nd ORDER BY pos) AS qc
           |  FROM u$i GROUP BY cluster_id),
           |r$i AS MATERIALIZED (
           |  SELECT CAST($i AS BIGINT) AS iter, s.cluster_id,
           |    CAST(s.n AS BIGINT) AS n, s.inertia,
           |    CAST(SUM((cn.qc[t.i] - cp.qc[t.i])
           |           * (cn.qc[t.i] - cp.qc[t.i])) AS BIGINT) AS shift_sq
           |  FROM s$i s JOIN $prev cp USING (cluster_id)
           |    JOIN c$i cn USING (cluster_id), range(1, 1000) t(i)
           |  WHERE t.i <= len(cn.qc)
           |  GROUP BY s.cluster_id, s.n, s.inertia)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to KM_ITERS)
        .map(i => s"SELECT * FROM r$i")
        .mkString("\nUNION ALL ")
      s"""WITH q AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |      AS qe
         |  FROM embeddings),
         |c0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT)
         |      AS cluster_id,
         |    qe AS qc
         |  FROM q WHERE vec_id % $KM_STRIDE = 0
         |  ORDER BY vec_id LIMIT $KM_K),
         |$rounds
         |$sel
         |ORDER BY iter, cluster_id""".stripMargin
    },
    "sim22_jl_project" ->
      s"""WITH m AS (SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i,
         |    CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
         |      AS BIGINT) AS xm
         |  FROM embeddings, generate_series(1, $JL_D) t(i)
         |  WHERE len(embedding) = $JL_D),
         |sg AS (SELECT CAST(j.j AS INTEGER) AS j, CAST(i.i AS INTEGER) AS i,
         |    CASE WHEN CAST(concat('0x', substr(md5(
         |        concat('jl:', j.j, ':', i.i)), 1, 8)) AS BIGINT) % 2 = 0
         |      THEN 1 ELSE -1 END AS sg
         |  FROM generate_series(0, ${JL_K - 1}) j(j),
         |       generate_series(0, ${JL_D - 1}) i(i)),
         |pr AS (SELECT m.vec_id, sg.j,
         |    CAST(SUM(m.xm * sg.sg) AS BIGINT) AS y
         |  FROM m JOIN sg ON m.i = sg.i GROUP BY 1, 2),
         |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |  WHERE a.vec_id % $JL_STRIDE = 0
         |    AND len(a.embedding) = $JL_D AND len(b.embedding) = $JL_D),
         |df AS (SELECT p.vec_a, p.vec_b,
         |    CAST(SUM((ma.xm - mb.xm) * (ma.xm - mb.xm)) AS BIGINT)
         |      AS d2_full
         |  FROM pairs p
         |  JOIN m ma ON ma.vec_id = p.vec_a
         |  JOIN m mb ON mb.vec_id = p.vec_b AND mb.i = ma.i
         |  GROUP BY 1, 2),
         |dp AS (SELECT p.vec_a, p.vec_b,
         |    CAST(SUM((pa.y - pb.y) * (pa.y - pb.y)) AS BIGINT)
         |      AS d2_proj
         |  FROM pairs p
         |  JOIN pr pa ON pa.vec_id = p.vec_a
         |  JOIN pr pb ON pb.vec_id = p.vec_b AND pb.j = pa.j
         |  GROUP BY 1, 2)
         |SELECT df.vec_a, df.vec_b, df.d2_full, dp.d2_proj,
         |  CAST(dp.d2_proj AS DOUBLE)
         |    / ($JL_K * CAST(df.d2_full AS DOUBLE)) AS ratio
         |FROM df JOIN dp USING (vec_a, vec_b)
         |ORDER BY vec_a""".stripMargin,
    "sim19_pq_adc" ->
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |      AS qe
         |  FROM embeddings),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) AS code_id,
         |        qe AS qc
         |      FROM q WHERE vec_id % $PQ_STRIDE = 0
         |      ORDER BY vec_id LIMIT $PQ_K),
         |d AS (SELECT q.vec_id, c.code_id, t.m,
         |        CAST(SUM((q.qe[t.m*$SUBDIM+s.i] - c.qc[t.m*$SUBDIM+s.i])
         |               * (q.qe[t.m*$SUBDIM+s.i] - c.qc[t.m*$SUBDIM+s.i]))
         |          AS BIGINT) AS dist
         |      FROM q, c, range(0, $PQ_M) t(m),
         |           range(1, ${SUBDIM + 1}) s(i)
         |      WHERE len(q.qe) = len(c.qc)
         |      GROUP BY q.vec_id, c.code_id, t.m),
         |enc AS (SELECT vec_id, m, code_id,
         |          row_number() OVER (PARTITION BY vec_id, m
         |            ORDER BY dist ASC, code_id ASC) AS r
         |        FROM d),
         |codes AS (SELECT vec_id, m, code_id FROM enc WHERE r = 1),
         |qd AS (SELECT vec_id AS query_id, code_id, m, dist FROM d
         |       WHERE vec_id IN $qIdsSql),
         |adc AS (SELECT qd.query_id, codes.vec_id AS neighbor_id,
         |          CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
         |        FROM codes JOIN qd
         |          ON codes.m = qd.m AND codes.code_id = qd.code_id
         |        WHERE codes.vec_id <> qd.query_id
         |        GROUP BY qd.query_id, codes.vec_id),
         |r AS (SELECT query_id, neighbor_id, adc_dist,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
         |      FROM adc)
         |SELECT query_id, neighbor_id, rank, adc_dist
         |FROM r WHERE rank <= $TOPK
         |ORDER BY query_id, rank""".stripMargin,
    "sim20_ivf_pq" ->
      s"""WITH q AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |      AS qe
         |  FROM embeddings),
         |c AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS code_id, qe AS qc
         |  FROM q WHERE vec_id % $PQ_STRIDE = 0
         |  ORDER BY vec_id LIMIT $PQ_K),
         |cc AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, qe AS qv
         |  FROM q WHERE vec_id % $IVF_STRIDE = 0
         |  ORDER BY vec_id LIMIT $IVF_K),
         |ad AS MATERIALIZED (
         |  SELECT q.vec_id, cc.list_id,
         |    CAST(SUM((q.qe[s.i] - cc.qv[s.i]) * (q.qe[s.i] - cc.qv[s.i]))
         |      AS BIGINT) AS d
         |  FROM q, cc, range(1, 1000) s(i)
         |  WHERE s.i <= len(q.qe) AND len(q.qe) = len(cc.qv)
         |  GROUP BY q.vec_id, cc.list_id),
         |asg AS MATERIALIZED (
         |  SELECT vec_id, list_id FROM (
         |    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d ASC, list_id ASC) AS r
         |    FROM ad) WHERE r = 1),
         |d AS MATERIALIZED (
         |  SELECT q.vec_id, c.code_id, t.m,
         |    CAST(SUM((q.qe[t.m*$SUBDIM+s.i] - c.qc[t.m*$SUBDIM+s.i])
         |           * (q.qe[t.m*$SUBDIM+s.i] - c.qc[t.m*$SUBDIM+s.i]))
         |      AS BIGINT) AS dist
         |  FROM q, c, range(0, $PQ_M) t(m), range(1, ${SUBDIM + 1}) s(i)
         |  WHERE len(q.qe) = len(c.qc)
         |  GROUP BY q.vec_id, c.code_id, t.m),
         |enc AS (SELECT vec_id, m, code_id,
         |          row_number() OVER (PARTITION BY vec_id, m
         |            ORDER BY dist ASC, code_id ASC) AS r
         |        FROM d),
         |codes AS MATERIALIZED (
         |  SELECT vec_id, m, code_id FROM enc WHERE r = 1),
         |qd AS MATERIALIZED (
         |  SELECT vec_id AS query_id, code_id, m, dist FROM d
         |  WHERE vec_id IN $qIdsSql),
         |probes AS MATERIALIZED (
         |  SELECT query_id, list_id FROM (
         |    SELECT vec_id AS query_id, list_id, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d ASC, list_id ASC) AS r
         |    FROM ad WHERE vec_id IN $qIdsSql) WHERE r <= $NPROBE),
         |adc AS (SELECT qd.query_id, codes.vec_id AS neighbor_id,
         |          CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
         |        FROM codes
         |        JOIN asg ON codes.vec_id = asg.vec_id
         |        JOIN probes ON asg.list_id = probes.list_id
         |        JOIN qd ON qd.query_id = probes.query_id
         |          AND codes.m = qd.m AND codes.code_id = qd.code_id
         |        WHERE codes.vec_id <> probes.query_id
         |        GROUP BY qd.query_id, codes.vec_id),
         |r AS (SELECT query_id, neighbor_id, adc_dist,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
         |      FROM adc)
         |SELECT query_id, neighbor_id, rank, adc_dist
         |FROM r WHERE rank <= $TOPK
         |ORDER BY query_id, rank""".stripMargin,
    "sim21_residual_pq" ->
      s"""WITH q AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |      AS qe
         |  FROM embeddings),
         |cc AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, qe AS qv
         |  FROM q WHERE vec_id % $IVF_STRIDE = 0
         |  ORDER BY vec_id LIMIT $IVF_K),
         |ad AS MATERIALIZED (
         |  SELECT q.vec_id, cc.list_id,
         |    CAST(SUM((q.qe[s.i] - cc.qv[s.i]) * (q.qe[s.i] - cc.qv[s.i]))
         |      AS BIGINT) AS d
         |  FROM q, cc, range(1, 1000) s(i)
         |  WHERE s.i <= len(q.qe) AND len(q.qe) = len(cc.qv)
         |  GROUP BY q.vec_id, cc.list_id),
         |asg AS MATERIALIZED (
         |  SELECT vec_id, list_id FROM (
         |    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d ASC, list_id ASC) AS r
         |    FROM ad) WHERE r = 1),
         |res AS MATERIALIZED (
         |  SELECT q.vec_id, asg.list_id,
         |    list_transform(range(1, len(q.qe) + 1),
         |      i -> q.qe[i] - cc.qv[i]) AS re
         |  FROM q JOIN asg ON q.vec_id = asg.vec_id
         |  JOIN cc ON cc.list_id = asg.list_id),
         |cres AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS code_id, re AS rc
         |  FROM res WHERE vec_id % $PQ_STRIDE = 0
         |  ORDER BY vec_id LIMIT $PQ_K),
         |d AS MATERIALIZED (
         |  SELECT res.vec_id, cres.code_id, t.m,
         |    CAST(SUM((res.re[t.m*$SUBDIM+s.i] - cres.rc[t.m*$SUBDIM+s.i])
         |           * (res.re[t.m*$SUBDIM+s.i] - cres.rc[t.m*$SUBDIM+s.i]))
         |      AS BIGINT) AS dist
         |  FROM res, cres, range(0, $PQ_M) t(m), range(1, ${SUBDIM + 1}) s(i)
         |  WHERE len(res.re) = len(cres.rc)
         |  GROUP BY res.vec_id, cres.code_id, t.m),
         |enc AS (SELECT vec_id, m, code_id,
         |          row_number() OVER (PARTITION BY vec_id, m
         |            ORDER BY dist ASC, code_id ASC) AS r
         |        FROM d),
         |codes AS MATERIALIZED (
         |  SELECT vec_id, m, code_id FROM enc WHERE r = 1),
         |probes AS MATERIALIZED (
         |  SELECT query_id, list_id FROM (
         |    SELECT vec_id AS query_id, list_id, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d ASC, list_id ASC) AS r
         |    FROM ad WHERE vec_id IN $qIdsSql) WHERE r <= $NPROBE),
         |qres AS MATERIALIZED (
         |  SELECT p.query_id, p.list_id,
         |    list_transform(range(1, len(q.qe) + 1),
         |      i -> q.qe[i] - cc.qv[i]) AS rq
         |  FROM probes p JOIN q ON q.vec_id = p.query_id
         |  JOIN cc ON cc.list_id = p.list_id),
         |qd AS MATERIALIZED (
         |  SELECT qres.query_id, qres.list_id, cres.code_id, t.m,
         |    CAST(SUM((qres.rq[t.m*$SUBDIM+s.i] - cres.rc[t.m*$SUBDIM+s.i])
         |           * (qres.rq[t.m*$SUBDIM+s.i] - cres.rc[t.m*$SUBDIM+s.i]))
         |      AS BIGINT) AS dist
         |  FROM qres, cres, range(0, $PQ_M) t(m), range(1, ${SUBDIM + 1}) s(i)
         |  WHERE len(qres.rq) = len(cres.rc)
         |  GROUP BY qres.query_id, qres.list_id, cres.code_id, t.m),
         |adc AS (SELECT qd.query_id, codes.vec_id AS neighbor_id,
         |          CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
         |        FROM codes
         |        JOIN asg ON codes.vec_id = asg.vec_id
         |        JOIN qd ON qd.list_id = asg.list_id
         |          AND codes.m = qd.m AND codes.code_id = qd.code_id
         |        WHERE codes.vec_id <> qd.query_id
         |        GROUP BY qd.query_id, codes.vec_id),
         |r AS (SELECT query_id, neighbor_id, adc_dist,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
         |      FROM adc)
         |SELECT query_id, neighbor_id, rank, adc_dist
         |FROM r WHERE rank <= $TOPK
         |ORDER BY query_id, rank""".stripMargin
  )
}
