package graft.ops

import graft.Tables
import graft.functions.PortableHash
import graft.sim.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity-search queries over `embeddings`: brute-force cosine
  * top-k baseline, LSH-bucketed ANN, and embedding near-duplicate
  * pairs — all with exact DuckDB mirrors (double-cast sequential dot
  * products; hyperplanes derived from the portable hash).
  */
object SimilarityQueries extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  private val QUERY_IDS = Seq(0L, 1L, 2L)
  private val TOPK = 5
  private val PLANES = 8
  private val DIMS = 64
  // sim08 band structure: LSH_TABLES independent tables of BAND_PLANES
  // sign bits each (global plane index = tbl * BAND_PLANES + plane).
  private val LSH_TABLES = 4
  private val BAND_PLANES = 16

  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings.filter(col("vec_id").isin(QUERY_IDS: _*))

  /** Top-k over int8-QUANTIZED vectors — the memory-bandwidth form of
    * brute-force search (4× less data moved per candidate than fp32;
    * at 100 TB of embeddings the scan is bandwidth-bound, so this is
    * the production brute-force). Same per-vector symmetric quantizer
    * as sim09; the candidate score is the EXACT integer dot product
    * (BIGINT, order-independent) de-scaled once per pair — float
    * rounding happens in two deterministic multiplies, not in a
    * length-n accumulation, which is what keeps it bit-reproducible
    * across engines AND partitionings.
    *
    * Contract: uniform dimensionality (the fixture's 128). Mixed-length
    * vectors would silently diverge from the oracle — Spark's
    * `aggregate` propagates the NULLs `zip_with` pads, DuckDB's list
    * sum skips them — so the scored pairs carry a raise_error guard: a
    * malformed corpus fails the job loudly instead of shipping NULL
    * scores.
    */
  private val quantizedTopK: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val v = col("embedding")
    val absmax = aggregate(
      v,
      lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double")))
    )
    val qArr = transform(
      v,
      x =>
        floor(x.cast("double") * (lit(127.0) / col("absmax")) + lit(0.5))
          .cast("int")
    )
    val e = Tables(s, dir).embeddings
      .withColumn("absmax", absmax)
      .filter(col("absmax") > 0)
      .withColumn("q", qArr)
      .select(col("vec_id"), col("absmax"), col("q"))
    val qs = e
      .filter(col("vec_id").isin(QUERY_IDS: _*))
      .select(
        col("vec_id").as("query_id"),
        col("absmax").as("qmax"),
        col("q").as("qq")
      )
    val dotInt = aggregate(
      zip_with(col("qq"), col("q"), (a, b) => a.cast("long") * b.cast("long")),
      lit(0L),
      (acc, x) => acc + x
    )
    val scored = e
      .join(broadcast(qs), col("vec_id") =!= col("query_id"))
      // dims guard: fail loudly on ragged vectors (see docstring) —
      // raise_error is non-foldable, so the optimizer keeps the check.
      .filter(
        when(size(col("qq")) === size(col("q")), lit(true)).otherwise(
          raise_error(
            concat(
              lit("sim11: embedding dimensionality mismatch at vec_id="),
              col("vec_id").cast("string")
            )
          ).cast("boolean")
        )
      )
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        ((dotInt.cast("double") * (col("qmax") / lit(127.0)))
          * (col("absmax") / lit(127.0))).as("score")
      )
    scored
      .withColumn(
        "rank",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("neighbor_id"))
        )
      )
      .filter(col("rank") <= TOPK)
      .select("query_id", "neighbor_id", "rank", "score")
      .orderBy("query_id", "rank")
  }

  /** Recall@k evaluation of every ANN arm against the brute-force
    * truth — the query an embedding platform runs before trusting an
    * approximate index (tune planes/probes/pool until recall clears
    * the bar). All four arms are this library's own operators (sim02
    * LSH, sim06 IVF, sim12 prefix-rerank vs sim01 exact top-k); the
    * overlap is a semi-join on (query_id, neighbor_id), all counts
    * exact integers — the fixture shows the spread (prefix ≫ ivf ≫
    * lsh) that motivates the rerank design. At scale the truth arm
    * runs over a SAMPLE of queries: recall is a statistic, so the
    * brute-force cost is bounded by the evaluation budget, not the
    * corpus.
    */
  private val annRecall: Q = (s, dir) => {
    val truth = bruteTopK(s, dir).select(col("query_id"), col("neighbor_id"))
    val arms = Seq(
      "lsh" -> lshTopK(s, dir),
      "ivf" -> ivfTopK(s, dir),
      "prefix" -> prefixRerank(s, dir)
    ).map { case (m, df) =>
      df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    val hits = arms
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("method"), col("query_id"))
      .agg(count(lit(1)).as("n_hit"))
    val grid = Seq("lsh", "ivf", "prefix")
      .map(m => lit(m).as("method"))
      .map(c => truth.select("query_id").distinct().select(c, col("query_id")))
      .reduce(_ unionByName _)
    grid
      .join(hits, Seq("method", "query_id"), "left")
      .select(
        col("method"),
        col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / TOPK).as("recall")
      )
      .orderBy("method", "query_id")
  }

  private val bruteTopK: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    Similarity
      .bruteForceTopK(emb, queriesDf(s, dir), "vec_id", "embedding", TOPK)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("query_id", "rank")
  }

  private val lshTopK: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    Similarity
      .lshTopK(emb, queriesDf(s, dir), "vec_id", "embedding", TOPK, PLANES, DIMS)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("query_id", "rank")
  }

  /** Embedding near-dup: id-windowed candidate pairs above a cosine
    * threshold (the exact-verify stage of an embedding dedup pass).
    * Bucketed equi-join + per-row precomputed norms: the cosine is
    * evaluated per candidate pair, never inside an O(n²) join
    * condition.
    */
  private val nearDup: Q = (s, dir) => {
    val e = Tables(s, dir).embeddings
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val a = e.select(
      col("vec_id").as("id_a"),
      col("embedding").as("va"),
      col("nrm").as("na")
    )
    val b = e.select(
      col("vec_id").as("id_b"),
      col("embedding").as("vb"),
      col("nrm").as("nb")
    )
    PairJoins
      .bucketedWindowJoin(a, b, "id_a", "id_b", 20)
      .select(
        col("id_a"),
        col("id_b"),
        when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
          .otherwise(
            Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))
          )
          .as("cos_sim")
      )
      .filter(col("cos_sim") >= 0.3)
      .orderBy("id_a", "id_b")
  }

  /** Per-label centroid-free "IVF-lite" stats: bucket the corpus by
    * LSH bucket and report occupancy — the partition-pruning side of
    * an IVF/LSH index (which buckets to probe). */
  private val lshBucketStats: Q = (s, dir) =>
    Tables(s, dir).embeddings
      .groupBy(
        Similarity.lshBucketFused(s, col("embedding"), PLANES, DIMS).as("bucket")
      )
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")

  /** Same top-k as sim01 but via the bounded-heap typed Aggregator
    * (map-side partial top-k, O(k) state per partition) instead of a
    * window sort — checked against the identical oracle.
    */
  private val topkViaAggregator: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
    val q = queriesDf(s, dir)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = emb
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        graft.plans
          .CosineSimilarity(s, col("qv"), col("embedding"))
          .as("cos_sim")
      )
      .as[(Long, Long, Double)]
    scored
      .map { case (qid, nid, c) => (qid, graft.sim.TopKAggregator.Scored(nid, c)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.sim.TopKAggregator.topK(TOPK).toColumn.name("topk"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (sc, i) =>
          (qid, sc.id, i + 1, sc.score)
        }
      }
      .toDF("query_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("query_id", "rank")
  }

  /** IVF-lite ANN: coarse lists = the `label` column; each list's
    * representative is its min-id member (deterministic medoid stand-
    * in — a k-means centroid cannot be made bit-reproducible across
    * engines). Probe = 2 nearest representatives to the query, exact
    * cosine rank within the probed lists only. The physical shape of
    * IVF: prune lists first, scan a fraction of the corpus.
    */
  private val ivfTopK: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    val reps = emb
      .groupBy(col("label"))
      .agg(min(col("vec_id")).as("rep_id"))
      .join(
        emb.select(col("vec_id").as("rep_id"), col("embedding").as("rep_vec")),
        "rep_id"
      )
    val q = queriesDf(s, dir)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window
      .partitionBy(col("query_id"))
      .orderBy(col("rep_sim").desc, col("label").asc)
    val probed = q
      .crossJoin(broadcast(reps))
      .select(
        col("query_id"),
        col("qv"),
        col("label"),
        graft.plans.CosineSimilarity(s, col("qv"), col("rep_vec")).as("rep_sim")
      )
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 2)
      .select("query_id", "qv", "label")
    val wRank = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    probed
      .join(emb, Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        graft.plans.CosineSimilarity(s, col("qv"), col("embedding")).as("cos_sim")
      )
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TOPK)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("query_id", "rank")
  }

  /** Per-label vector stats over array columns — element_at / size
    * with only order-independent aggregates (min/max/count), so the
    * float→double widenings are bit-exact on both engines.
    */
  private val vectorStats: Q = (s, dir) =>
    Tables(s, dir).embeddings
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vec"),
        min(size(col("embedding"))).as("dims"),
        min(element_at(col("embedding"), 1).cast("double")).as("first_min"),
        max(element_at(col("embedding"), 1).cast("double")).as("first_max")
      )
      .orderBy("label")

  /** All-pairs embedding near-dup, band-structured LSH: LSH_TABLES
    * independent hyperplane tables of BAND_PLANES sign bits each;
    * candidates are pairs sharing any (table, bucket), deduplicated on
    * (id_a, id_b) BEFORE the cosine verify so each surviving pair is
    * scored once.
    *
    * Bucket-population math (why bands, not one flat table): with P
    * sign bits a table has 2^P buckets, expected population n/2^P, so
    * per-table candidate mass ≈ n²/2^P and total ≈ T·n²/2^P. The old
    * single 8-plane table was n²/256 — quadratic death at corpus
    * scale. At T=4, P=16 the mass is n²/16384 and, critically, P can
    * grow with log₂(n) to hold the per-bucket population (and thus
    * per-bucket quadratic work) CONSTANT while the T-table union keeps
    * recall — the same rows/bands dial `Dedup.lshCandidatePairs` uses.
    * Hot buckets (degenerate embeddings) are the residual risk; cap or
    * salt them at ingest.
    *
    * Shape: one map-side fused-codegen pass emits all T bucket ids
    * (`HyperplaneBands`), posexplode_outer (outer: keeps
    * `InferFiltersFromGenerate` from duplicating the sketch into a
    * pushed filter), ONE shuffle grouping (table, bucket) membership
    * into id lists (`PairJoins.bucketedPairs` — sketch computed once,
    * not once per join side), distinct pairs, then two hash joins
    * re-attach vectors for the verify — vectors never ride through
    * the candidate explosion.
    */
  private val lshNearDup: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    val ex = emb
      .withColumn(
        "bands",
        graft.plans.HyperplaneBands(s, col("embedding"), LSH_TABLES, BAND_PLANES, DIMS)
      )
      .select(col("vec_id"), posexplode_outer(col("bands")).as(Seq("tbl", "bucket")))
    val pairs = PairJoins.bucketedPairs(ex, Seq("tbl", "bucket"), "vec_id")
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        graft.plans.CosineSimilarity(s, col("va"), col("vb")).as("cos_sim")
      )
      .filter(col("cos_sim") >= 0.3)
      .orderBy("id_a", "id_b")
  }

  /** Int8 scalar quantization round-trip: per-vector symmetric scale
    * (127/absmax), floor(x·scale + 0.5) quantizer (identical half-up
    * semantics on both engines, unlike round()), and the sequential
    * L1 reconstruction error. The compression half of the embedding
    * story: 4×-smaller vectors with a measured error budget.
    */
  private val quantize: Q = (s, dir) => {
    val v = col("embedding")
    val absmax = aggregate(
      v,
      lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double")))
    )
    val scale = lit(127.0) / col("absmax")
    val qArr = transform(
      v,
      x => floor(x.cast("double") * scale + lit(0.5)).cast("int")
    )
    val err = aggregate(
      zip_with(
        v,
        col("q"),
        (x, q) => abs(x.cast("double") - q.cast("double") / scale)
      ),
      lit(0.0),
      (acc, x) => acc + x
    )
    Tables(s, dir).embeddings
      .withColumn("absmax", absmax)
      .withColumn("q", when(col("absmax") > 0, qArr))
      .select(
        col("vec_id"),
        col("absmax"),
        when(col("absmax") > 0, err).otherwise(lit(0.0)).as("l1_err")
      )
      .orderBy("vec_id")
  }

  /** Per-label embedding centroids (the k-means/IVF training
    * primitive): posexplode to (label, dim, x), then an
    * order-INDEPENDENT exact mean per cell — each float is quantized
    * to integer micro-units with the engine-portable half-up
    * `floor(x·10⁶ + 0.5)` (plain double sums would be partition-order
    * dependent; decimal casts round differently across engines), and
    * the BIGINT sum is exact. One shuffle on (label, dim) — dense,
    * skew-free keys; the same shape at any corpus size.
    */
  private val centroids: Q = (s, dir) => {
    val ex = Tables(s, dir).embeddings
      // posexplode_outer: keeps InferFiltersFromGenerate from
      // duplicating the generator into a pushed size()>0 filter; the
      // dim-not-null filter then drops the one (NULL, NULL) row outer
      // emits for an empty/null embedding — the oracle's range join
      // generates no row for such a vector
      .select(col("label"), posexplode_outer(col("embedding")).as(Seq("dim", "x")))
      .filter(col("dim").isNotNull)
    ex.groupBy(col("label"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        (sum(floor(col("x").cast("double") * 1e6 + lit(0.5))).cast("double")
          / (count(lit(1)) * 1e6)).as("centroid")
      )
      .orderBy("label", "dim")
  }

  /** Prefix-score + rerank top-k (the matryoshka/truncated-dimension
    * ANN pattern): score every candidate with only the FIRST 16 dims
    * (an 8x cheaper dot product — at 100 TB the brute-force scan is
    * memory-bandwidth-bound, and a production layout stores the
    * prefix as its own column so the coarse pass reads 1/8 of the
    * bytes), pool the top 50 per query by coarse score, then rerank
    * only the pool with the full 128-dim cosine. Same broadcast-query
    * + WindowGroupLimit discipline as sim01; the rerank touches
    * O(pool) rows. Exact-vs-approx recall is the trade the pool size
    * buys back — with pool >> k the full-cosine top-k almost always
    * survives the coarse cut.
    */
  private val PREFIX_DIMS = 16
  private val RERANK_POOL = 50
  private val prefixRerank: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(s, dir).embeddings
    val q = emb
      .filter(col("vec_id").isin(QUERY_IDS: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val coarse = emb
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        col("embedding"),
        col("query_vec"),
        graft.sim.Similarity
          .dot(
            slice(col("query_vec"), 1, PREFIX_DIMS),
            slice(col("embedding"), 1, PREFIX_DIMS)
          )
          .as("coarse")
      )
    val pool = coarse
      .withColumn(
        "crank",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("coarse").desc, col("neighbor_id").asc)
        )
      )
      .filter(col("crank") <= RERANK_POOL)
    pool
      .select(
        col("query_id"),
        col("neighbor_id"),
        graft.plans
          .CosineSimilarity(s, col("query_vec"), col("embedding"))
          .as("cos_sim")
      )
      .withColumn(
        "rank",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
        )
      )
      .filter(col("rank") <= TOPK)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("query_id", "rank")
  }

  /** sim14: leave-one-out k-NN label vote — the downstream-task eval
    * of embedding quality (does cosine neighborhood predict the
    * label?), complementing sim13's index-recall eval. Query set is a
    * hash-free id stride (vec_id mod [[KNN_STRIDE]]) so the eval
    * budget — not the corpus — bounds the brute-force cost at scale;
    * each query's k nearest corpus rows (self excluded) vote, majority
    * wins, ties break to the smaller label (deterministic on both
    * engines). Same broadcast + WindowGroupLimit shape as sim01: one
    * corpus scan, per-partition top-k heaps, then a vote aggregation
    * over k·|queries| rows — negligible at any scale.
    */
  private val KNN_STRIDE = 25L
  private val knnLabelVote: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(s, dir).embeddings
    val q = emb
      .filter(pmod(col("vec_id"), lit(KNN_STRIDE)) === 0)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("query_vec"),
        col("label").as("true_label")
      )
    val topk = emb
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("true_label"),
        col("label").as("n_label"),
        col("vec_id").as("neighbor_id"),
        graft.plans
          .CosineSimilarity(s, col("query_vec"), col("embedding"))
          .as("cos_sim")
      )
      .withColumn(
        "rank",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
        )
      )
      .filter(col("rank") <= TOPK)
    topk
      .groupBy(col("query_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn(
        "vrank",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("votes").desc, col("n_label").asc)
        )
      )
      .filter(col("vrank") === 1)
      .select(
        col("query_id"),
        col("true_label"),
        col("n_label").as("pred_label"),
        col("votes"),
        (col("n_label") === col("true_label")).as("correct")
      )
      .orderBy("query_id")
  }

  /** sim15: per-label embedding diversity — mean pairwise cosine
    * inside each label over a vec_id-stride sample. High intra-label
    * similarity marks a redundant class (dedup/downsample candidate);
    * the complement of sim14's separability eval. Pair count is
    * bounded by the SAMPLE size squared (an eval-budget constant),
    * never the corpus. The mean is engine-exact: each cosine is
    * quantized to pico-units (floor(x·10¹²+0.5), the text20/sim09
    * rule) and summed as exact BIGINTs — a raw double SUM would be
    * partition-order-dependent, and round(x,12) engine-divergent on
    * the half boundary.
    */
  private val DIV_STRIDE = 10L
  private val diversity: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
      .filter(pmod(col("vec_id"), lit(DIV_STRIDE)) === 0)
      .select(col("vec_id"), col("embedding"), col("label"))
    val a = emb.select(
      col("vec_id").as("id_a"),
      col("embedding").as("va"),
      col("label")
    )
    val b = emb.select(
      col("vec_id").as("id_b"),
      col("embedding").as("vb"),
      col("label")
    )
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("label"),
        // pico-unit quantization, not round(x,12) — the text20 class
        floor(
          graft.plans.CosineSimilarity(s, col("va"), col("vb")) * lit(1e12)
            + lit(0.5)
        ).cast("long").as("__cos")
      )
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_pairs"),
        (sum(col("__cos")).cast("double") / lit(1e12) / count(lit(1)))
          .as("mean_cos")
      )
      .orderBy("label")
  }

  /** sim16: semantic dedup (SemDeDup, Abbas et al. 2023 shape) — drop
    * near-identical embeddings WITHIN a coarse cluster cell, keeping
    * one representative per near-dup group. Cells here are the
    * `label` column (the same deterministic k-means stand-in as
    * sim06); the drop rule is the paper's greedy keep-first: vector b
    * is dropped iff some lower-id cell-mate a has cos(a,b) ≥ τ, so
    * the minimum-id member of every dup group survives and verdicts
    * are order- and partitioning-independent (no iterative pass).
    *
    * Shape at scale: ONE equi-shuffle on the cell key; the quadratic
    * term is per-cell and bounded by the coarse-clustering cell cap
    * (pick k ≈ n/10⁴ and a cell is ~10⁴ vectors — the paper's
    * regime), never corpus-quadratic. The semi-join needs only the
    * existence of one dropper, so no pair materialization survives
    * the exchange; verdicts re-attach by vec_id (dense key).
    */
  private val SEM_TAU = 0.3
  private val semDedup: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"), col("label"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("label"))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("label").as("label_a"))
    val droppedIds = b
      .join(
        a,
        col("label") === col("label_a") &&
          col("id_a") < col("id_b") &&
          graft.plans.CosineSimilarity(s, col("va"), col("vb")) >= SEM_TAU,
        "left_semi"
      )
      .select(col("id_b").as("vec_id"), lit(true).as("__dropped"))
    emb
      .select(col("vec_id"), col("label"))
      .join(droppedIds, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("label"),
        coalesce(col("__dropped"), lit(false)).as("dropped")
      )
      .orderBy("vec_id")
  }

  /** sim17: contrastive-pair mining — for each stride-sampled anchor,
    * the hardest positive (highest-cosine same-label neighbor) and the
    * hardest negative (highest-cosine CROSS-label neighbor), plus the
    * margin between them. The batch that feeds metric-learning /
    * embedding-finetune training: small or negative margins mark the
    * anchors worth training on.
    *
    * Shape at scale: the anchor set is a broadcast-size sample (id
    * stride, same budget device as sim14), so scoring is one map-side
    * broadcast join over the corpus — no shuffle touches the corpus
    * rows; per-anchor top-1s are WindowGroupLimit-prunable windows
    * over O(anchors) keys. Margin is a single double subtraction of
    * two exact selections — no accumulation.
    */
  private val HARD_STRIDE = 25L
  private val hardNegatives: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(s, dir).embeddings
    val anchors = emb
      .filter(pmod(col("vec_id"), lit(HARD_STRIDE)) === 0)
      .select(
        col("vec_id").as("anchor_id"),
        col("embedding").as("av"),
        col("label").as("anchor_label")
      )
    val scored = emb
      .join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .select(
        col("anchor_id"),
        col("anchor_label"),
        col("vec_id").as("neighbor_id"),
        (col("label") === col("anchor_label")).as("is_pos"),
        graft.plans.CosineSimilarity(s, col("av"), col("embedding")).as("c")
      )
    val w = Window
      .partitionBy(col("anchor_id"), col("is_pos"))
      .orderBy(col("c").desc, col("neighbor_id").asc)
    // ONE window pass, then fold the two r=1 rows per anchor into
    // columns via conditional agg — a pos/neg self-join would run the
    // broadcast scoring pass (the dominant cost) twice
    val top = scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
    top
      .groupBy(col("anchor_id"), col("anchor_label").as("label"))
      .agg(
        max(when(col("is_pos"), struct(col("c"), col("neighbor_id")))).as("__p"),
        max(when(!col("is_pos"), struct(col("c"), col("neighbor_id")))).as("__n")
      )
      // anchors whose label has no other member (or only members) would
      // leave a null side; inner-join semantics of the pair require both
      .filter(col("__p").isNotNull && col("__n").isNotNull)
      .select(
        col("anchor_id"),
        col("label"),
        col("__p.neighbor_id").as("pos_id"),
        col("__p.c").as("pos_cos"),
        col("__n.neighbor_id").as("neg_id"),
        col("__n.c").as("neg_cos"),
        (col("__p.c") - col("__n.c")).as("margin")
      )
      .orderBy("anchor_id")
  }

  /** sim18: one exact Lloyd (k-means) iteration — the IVF/clustering
    * training step run before [[centroids]]-style assignment serving.
    * K=8 seed centroids are a deterministic stride sample of the
    * corpus (lowest vec_ids with `vec_id % 97 == 0` — spread across
    * the id range, reproducible on any engine); every vector is
    * assigned to its nearest seed by squared L2 distance and the
    * output reports per-cluster population, mean distance (the
    * inertia decomposition that decides whether to iterate again),
    * and the updated first-coordinate centroid mean.
    *
    * Bit-reproducibility (the sim11 discipline, applied to k-means —
    * plain float distances would make cluster assignment
    * partition-order- and engine-dependent): vectors quantize to
    * integer micro-units (`floor(x·10⁶ + 0.5)`) ONCE, distances are
    * exact BIGINT sums of squared integer diffs (max |q| ~2·10⁶ →
    * 4·10¹² per dim, 128 dims ≈ 5·10¹⁴ — no overflow), and the
    * argmin tiebreaks on cluster_id via struct-min. Means divide
    * exact integer sums, so every output double is one deterministic
    * division.
    *
    * Shape at scale: the K-row centroid table broadcasts into a
    * map-side crossJoin score pass (K·dims multiply-adds per row —
    * the same bandwidth-bound scan as brute-force ANN); the argmin is
    * a groupBy on the dense vec_id and the stats a groupBy on K
    * cluster ids. One Lloyd round = two hash aggregations, zero
    * vector re-shuffles; further rounds re-broadcast the K updated
    * centroids — state that never grows with the corpus.
    */
  private val kmeansK = 8
  private val kmeansStride = 97
  private val kmeansStep: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val quant = Tables(s, dir).embeddings
      .select(
        col("vec_id"),
        transform(
          col("embedding"),
          x => floor(x.cast("double") * 1e6 + lit(0.5)).cast("long")
        ).as("qe")
      )
    val seeds = quant
      .filter(col("vec_id") % kmeansStride === 0)
      .orderBy("vec_id")
      .limit(kmeansK)
      .withColumn(
        "cluster_id",
        // long on both sides: DuckDB row_number() is BIGINT
        row_number().over(Window.orderBy(col("vec_id"))).cast("long")
      )
      .select(col("cluster_id"), col("qe").as("qc"))
    val scored = quant
      .crossJoin(broadcast(seeds))
      // dims guard (sim11 discipline): zip_with pads ragged vectors
      // with nulls and the fold would go null — fail closed instead
      .filter(size(col("qe")) === size(col("qc")))
      .select(
        col("vec_id"),
        element_at(col("qe"), 1).as("qe1"),
        col("cluster_id"),
        aggregate(
          zip_with(col("qe"), col("qc"), (a, b) => (a - b) * (a - b)),
          lit(0L),
          (acc, x) => acc + x
        ).as("dist")
      )
    scored
      .groupBy(col("vec_id"), col("qe1"))
      .agg(min(struct(col("dist"), col("cluster_id"))).as("a"))
      .select(
        col("vec_id"),
        col("qe1"),
        col("a.cluster_id").as("cluster_id"),
        col("a.dist").as("dist")
      )
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("dist")).cast("double") / count(lit(1))).as("avg_dist"),
        (sum(col("qe1")).cast("double") / (count(lit(1)) * 1e6)).as("c1_new")
      )
      .orderBy("cluster_id")
  }

  /** sim25's probe-budget grid (saturates harmlessly past the label
    * count — the curve's flat tail IS the "stop paying" signal).
    */
  private val NPROBES = Seq(1, 2, 3, 5, 8, 10)

  /** sim25: the IVF operating curve — recall@K vs nprobe, the
    * calibration table every IVF deployment reads to pick its probe
    * budget (FAISS's nprobe sweep; the dedup27 LSH-curve discipline
    * applied to sim06's index): for each budget p, rank candidates
    * within the p best-probing lists only and measure the overlap
    * with the exact top-K. Because list eligibility is MONOTONE in p,
    * the whole sweep reuses ONE scoring pass: every (query, neighbor)
    * carries its list's probe rank `pr` and its exact rank, the
    * budget grid fans out on those 4-integer rows (map-side, text42's
    * shape), and rank-within-budget is a per-(query, p) window.
    *
    * Output per nprobe: candidates scanned (the COST — rows an IVF
    * reader touches), hits (exact-top-K members the budget retains in
    * its own top-K), and floor-divided recall ppm. Exactly integer:
    * ranks tie-break on neighbor_id, hits/candidates are counts.
    *
    * Scale: the sweep is offline calibration over a query SAMPLE
    * (queries broadcast; one corpus scan scores all lists — the same
    * pass serving at nprobe = max would do); the per-(query, p)
    * windows are bounded by the sampled candidates, never the corpus.
    */
  private val nprobeCurve: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    val reps = emb
      .groupBy(col("label"))
      .agg(min(col("vec_id")).as("rep_id"))
      .join(
        emb.select(col("vec_id").as("rep_id"), col("embedding").as("rep_vec")),
        "rep_id"
      )
    val q = queriesDf(s, dir)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window
      .partitionBy(col("query_id"))
      .orderBy(col("rep_sim").desc, col("label").asc)
    val lists = q
      .crossJoin(broadcast(reps))
      .select(
        col("query_id"),
        col("qv"),
        col("label"),
        graft.plans.CosineSimilarity(s, col("qv"), col("rep_vec")).as("rep_sim")
      )
      .withColumn("pr", row_number().over(wProbe))
      .select("query_id", "qv", "label", "pr")
    val wExact = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val cand = lists
      .join(emb, Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("pr"),
        col("vec_id").as("neighbor_id"),
        graft.plans
          .CosineSimilarity(s, col("qv"), col("embedding"))
          .as("cos_sim")
      )
      .withColumn("exact_rank", row_number().over(wExact))
    val wBudget = Window
      .partitionBy(col("query_id"), col("nprobe"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val swept = cand
      .select(
        col("query_id"),
        col("pr"),
        col("neighbor_id"),
        col("cos_sim"),
        col("exact_rank"),
        explode(typedLit(NPROBES.toList)).as("nprobe")
      )
      .filter(col("pr") <= col("nprobe"))
      .withColumn("budget_rank", row_number().over(wBudget))
    swept
      .groupBy(col("nprobe"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(
          when(
            col("budget_rank") <= TOPK && col("exact_rank") <= TOPK,
            1L
          ).otherwise(0L)
        ).as("hits")
      )
      .select(
        col("nprobe"),
        col("n_candidates"),
        col("hits"),
        expr(s"(hits * 1000000) div (${TOPK.toLong} * ${QUERY_IDS.size.toLong})")
          .as("recall_ppm")
      )
      .orderBy("nprobe")
  }

  val queries: Map[String, Q] = named(
    "sim25_nprobe_curve" -> nprobeCurve,
    "sim18_kmeans" -> kmeansStep,
    "sim17_hardneg" -> hardNegatives,
    "sim16_semdedup" -> semDedup,
    "sim15_diversity" -> diversity,
    "sim14_label_knn" -> knnLabelVote,
    "sim12_prefix_rerank" -> prefixRerank,
    "sim11_quantized_topk" -> quantizedTopK,
    "sim10_centroids" -> centroids,
    "sim09_quantize" -> quantize,
    "sim08_lsh_neardup" -> lshNearDup,
    "sim07_vector_stats" -> vectorStats,
    "sim06_ivf_topk" -> ivfTopK,
    "sim05_topk_aggregator" -> topkViaAggregator,
    "sim13_ann_recall" -> annRecall,
    "sim01_topk_bruteforce" -> bruteTopK,
    "sim02_topk_lsh" -> lshTopK,
    "sim03_near_dup" -> nearDup,
    "sim04_lsh_buckets" -> lshBucketStats
  )

  // ---------------- DuckDB mirrors ----------------

  /** Sequential double dot product a·b (mirror of Similarity.dot). */
  private def dotSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin

  /** Zero-norm inputs pinned to 0.0, mirroring Similarity.cosine /
    * the CosineSimilarity expression — NaN would order differently in
    * DuckDB (NaN sorts greatest, NaN >= x is true) than in Spark. */
  private def cosSql(a: String, b: String): String =
    s"""(CASE WHEN (${dotSql(a, a)}) = 0.0 OR (${dotSql(b, b)}) = 0.0
       |  THEN 0.0
       |  ELSE (${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))
       |  END)""".stripMargin

  /** Mirror of HyperplaneBands for table `tbl`: BAND_PLANES sign bits
    * over global plane indices tbl·BAND_PLANES + p, weights re-derived
    * in SQL from the same portable hash (independent derivation — a
    * drift in `Similarity.planeWeight` would break the gate). */
  private def bandBucketSql(v: String, tbl: Int): String =
    (0 until BAND_PLANES)
      .map { p =>
        val g = tbl * BAND_PLANES + p
        val w = s"(CAST(${PortableHash.sqlH32(s"concat('${g}_', CAST(i AS VARCHAR))")} % 1000 AS DOUBLE) / 1000.0 - 0.5)"
        s"""(CASE WHEN list_aggregate(list_transform(range(0, len($v)),
           |  i -> CAST($v[i+1] AS DOUBLE) * $w), 'sum') >= 0.0
           |  THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)""".stripMargin
      }
      .mkString("(", " + ", ")")

  /** Mirror of Similarity.lshBucket (same hash-derived hyperplanes). */
  private def bucketSql(v: String): String =
    (0 until PLANES)
      .map { p =>
        val w = s"(CAST(${PortableHash.sqlH32(s"concat('${p}_', CAST(i AS VARCHAR))")} % 1000 AS DOUBLE) / 1000.0 - 0.5)"
        s"""(CASE WHEN list_aggregate(list_transform(range(0, len($v)),
           |  i -> CAST($v[i+1] AS DOUBLE) * $w), 'sum') >= 0.0
           |  THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)""".stripMargin
      }
      .mkString("(", " + ", ")")

  private val qIdsSql = QUERY_IDS.mkString("(", ", ", ")")

  /** sim05 shares sim01's oracle: the aggregator must reproduce the
    * window-ranked result exactly. */
  private val bruteOracle =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id IN $qIdsSql),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         ${cosSql("q.qv", "e.embedding")} AS cos_sim
       |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
       |FROM ranked WHERE rank <= $TOPK ORDER BY query_id, rank""".stripMargin

  private val ivfOracle =
    s"""WITH reps AS (
       |  SELECT l.label, e.embedding AS rep_vec
       |  FROM (SELECT label, min(vec_id) AS rep_id FROM embeddings GROUP BY label) l
       |  JOIN embeddings e ON e.vec_id = l.rep_id),
       |q AS (SELECT vec_id AS query_id, embedding AS qv
       |      FROM embeddings WHERE vec_id IN $qIdsSql),
       |probed AS (
       |  SELECT query_id, qv, label FROM (
       |    SELECT q.query_id, q.qv, r.label,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.qv", "r.rep_vec")} DESC, r.label ASC) AS pr
       |    FROM q CROSS JOIN reps r)
       |  WHERE pr <= 2),
       |scored AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |         ${cosSql("p.qv", "e.embedding")} AS cos_sim
       |  FROM probed p JOIN embeddings e ON e.label = p.label
       |  WHERE e.vec_id <> p.query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
       |FROM ranked WHERE rank <= $TOPK ORDER BY query_id, rank""".stripMargin

  private val baseOracle: Map[String, String] = named(
    // one scored pass, probe ranks and exact ranks as integers, the
    // budget grid as a VALUES join, rank-within-budget per (query, p)
    "sim25_nprobe_curve" -> {
      val grid = NPROBES.map(p => s"($p)").mkString(", ")
      s"""WITH reps AS (
         |  SELECT l.label, e.embedding AS rep_vec
         |  FROM (SELECT label, min(vec_id) AS rep_id FROM embeddings
         |        GROUP BY label) l
         |  JOIN embeddings e ON e.vec_id = l.rep_id),
         |q AS (SELECT vec_id AS query_id, embedding AS qv
         |      FROM embeddings WHERE vec_id IN $qIdsSql),
         |lists AS (
         |  SELECT query_id, qv, label, pr FROM (
         |    SELECT q.query_id, q.qv, r.label,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosSql("q.qv", "r.rep_vec")} DESC, r.label ASC)
         |        AS pr
         |    FROM q CROSS JOIN reps r)),
         |cand AS (
         |  SELECT l.query_id, l.pr, e.vec_id AS neighbor_id,
         |         ${cosSql("l.qv", "e.embedding")} AS cos_sim
         |  FROM lists l JOIN embeddings e ON e.label = l.label
         |  WHERE e.vec_id <> l.query_id),
         |er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, neighbor_id ASC) AS exact_rank
         |       FROM cand),
         |sw AS (
         |  SELECT er.*, CAST(g.p AS INT) AS nprobe
         |  FROM er JOIN (VALUES $grid) g(p) ON er.pr <= g.p),
         |br AS (SELECT *, ROW_NUMBER() OVER (
         |         PARTITION BY query_id, nprobe
         |         ORDER BY cos_sim DESC, neighbor_id ASC) AS budget_rank
         |       FROM sw),
         |agg AS (
         |  SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |    CAST(SUM(CASE WHEN budget_rank <= $TOPK
         |      AND exact_rank <= $TOPK THEN 1 ELSE 0 END) AS BIGINT)
         |      AS hits
         |  FROM br GROUP BY 1)
         |SELECT nprobe, n_candidates, hits,
         |  (hits * 1000000) // ${TOPK.toLong * QUERY_IDS.size} AS recall_ppm
         |FROM agg ORDER BY nprobe""".stripMargin
    },
    // the oracle states the SPEC (nearest seed by exact integer
    // squared-L2); the Spark side's broadcast scoring must land on
    // the identical assignment
    "sim18_kmeans" ->
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
         |      AS qe
         |  FROM embeddings),
         |c AS (SELECT row_number() OVER (ORDER BY vec_id) AS cluster_id,
         |        qe AS qc
         |      FROM q WHERE vec_id % $kmeansStride = 0
         |      ORDER BY vec_id LIMIT $kmeansK),
         |d AS (SELECT q.vec_id, q.qe[1] AS qe1, c.cluster_id,
         |        CAST(SUM((q.qe[i] - c.qc[i]) * (q.qe[i] - c.qc[i]))
         |          AS BIGINT) AS dist
         |      FROM q, c, range(1, 1000) t(i)
         |      WHERE i <= len(q.qe) AND len(q.qe) = len(c.qc)
         |      GROUP BY q.vec_id, q.qe[1], c.cluster_id),
         |a AS (SELECT vec_id, qe1, cluster_id, dist,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY dist ASC, cluster_id ASC) AS r
         |      FROM d)
         |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, COUNT(*) AS n,
         |  CAST(SUM(dist) AS DOUBLE) / COUNT(*) AS avg_dist,
         |  CAST(SUM(qe1) AS DOUBLE) / (COUNT(*) * 1000000) AS c1_new
         |FROM a WHERE r = 1
         |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "sim17_hardneg" ->
      s"""WITH a AS (SELECT vec_id AS anchor_id, embedding AS av,
         |             label AS anchor_label
         |           FROM embeddings WHERE vec_id % $HARD_STRIDE = 0),
         |sc AS (SELECT a.anchor_id, a.anchor_label,
         |         e.vec_id AS neighbor_id,
         |         (e.label = a.anchor_label) AS is_pos,
         |         ${cosSql("a.av", "e.embedding")} AS c
         |       FROM a JOIN embeddings e ON e.vec_id <> a.anchor_id),
         |top AS (SELECT * FROM
         |  (SELECT sc.*, row_number() OVER (PARTITION BY anchor_id, is_pos
         |     ORDER BY c DESC, neighbor_id ASC) AS r FROM sc)
         |  WHERE r = 1)
         |SELECT p.anchor_id, p.anchor_label AS label,
         |  p.neighbor_id AS pos_id, p.c AS pos_cos,
         |  n.neighbor_id AS neg_id, n.c AS neg_cos,
         |  p.c - n.c AS margin
         |FROM top p JOIN top n
         |  ON p.anchor_id = n.anchor_id AND p.is_pos AND NOT n.is_pos
         |ORDER BY p.anchor_id""".stripMargin,
    "sim16_semdedup" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |drp AS (SELECT DISTINCT b.vec_id
         |        FROM e b JOIN e a
         |          ON a.label = b.label AND a.vec_id < b.vec_id
         |         AND ${cosSql("a.embedding", "b.embedding")} >= $SEM_TAU)
         |SELECT e.vec_id, e.label, (d.vec_id IS NOT NULL) AS dropped
         |FROM e LEFT JOIN drp d USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin,
    "sim15_diversity" ->
      s"""WITH smp AS (SELECT vec_id, embedding, label FROM embeddings
         |             WHERE vec_id % $DIV_STRIDE = 0),
         |p AS (SELECT a.label,
         |        CAST(floor(${cosSql("a.embedding", "b.embedding")}
         |          * 1000000000000.0 + 0.5) AS BIGINT) AS c
         |      FROM smp a JOIN smp b
         |        ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT label, COUNT(*) AS n_pairs,
         |  CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / 1000000000000.0
         |    / COUNT(*) AS mean_cos
         |FROM p GROUP BY label ORDER BY label""".stripMargin,
    "sim14_label_knn" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |             label AS true_label
         |           FROM embeddings WHERE vec_id % $KNN_STRIDE = 0),
         |scored AS (
         |  SELECT q.query_id, q.true_label, e.label AS n_label,
         |         e.vec_id AS neighbor_id,
         |         ${cosSql("q.qv", "e.embedding")} AS cos_sim
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |topk AS (SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         |    FROM scored) WHERE rank <= $TOPK),
         |votes AS (SELECT query_id, true_label, n_label,
         |            COUNT(*) AS votes
         |          FROM topk GROUP BY query_id, true_label, n_label),
         |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY votes DESC, n_label ASC) AS vrank
         |         FROM votes)
         |SELECT query_id, true_label, n_label AS pred_label, votes,
         |  n_label = true_label AS correct
         |FROM best WHERE vrank = 1 ORDER BY query_id""".stripMargin,
    "sim12_prefix_rerank" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id IN $qIdsSql),
         |coarse AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, q.qv,
         |         e.embedding AS ev,
         |         ${dotSql(s"q.qv[1:$PREFIX_DIMS]", s"e.embedding[1:$PREFIX_DIMS]")}
         |           AS coarse
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |pool AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY coarse DESC, neighbor_id ASC) AS crank
         |         FROM coarse),
         |rr AS (SELECT query_id, neighbor_id, ${cosSql("qv", "ev")} AS cos_sim
         |       FROM pool WHERE crank <= $RERANK_POOL),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         |           FROM rr)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
         |FROM ranked WHERE rank <= $TOPK ORDER BY query_id, rank""".stripMargin,
    "sim11_quantized_topk" ->
      s"""WITH am AS (
         |  SELECT vec_id, embedding,
         |    COALESCE(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max'), 0.0) AS absmax
         |  FROM embeddings),
         |qz AS (
         |  SELECT vec_id, absmax,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / absmax) + 0.5)
         |             AS INT)) AS q
         |  FROM am WHERE absmax > 0),
         |qs AS (SELECT vec_id AS query_id, absmax AS qmax, q AS qq
         |       FROM qz WHERE vec_id IN $qIdsSql),
         |scored AS (
         |  SELECT qs.query_id, e.vec_id AS neighbor_id,
         |    (CAST(CAST(list_aggregate(list_transform(
         |        range(1, len(qs.qq) + 1),
         |        i -> CAST(qs.qq[i] AS BIGINT) * e.q[i]), 'sum')
         |      AS BIGINT) AS DOUBLE)
         |     * (qs.qmax / 127.0)) * (e.absmax / 127.0) AS score
         |  FROM qz e JOIN qs ON e.vec_id <> qs.query_id),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, neighbor_id ASC) AS rank
         |           FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
         |FROM ranked WHERE rank <= $TOPK ORDER BY query_id, rank""".stripMargin,
    "sim10_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS dim, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
        |    AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000) AS centroid
        |FROM embeddings, range(1, 1000) t(i)
        |WHERE i <= len(embedding)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "sim09_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    COALESCE(list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max'), 0.0) AS absmax
        |  FROM embeddings)
        |SELECT vec_id, absmax,
        |  CASE WHEN absmax > 0 THEN
        |    list_aggregate(list_transform(range(1, len(embedding) + 1),
        |      i -> abs(CAST(embedding[i] AS DOUBLE)
        |        - CAST(CAST(floor(CAST(embedding[i] AS DOUBLE)
        |                          * (127.0 / absmax) + 0.5) AS INT) AS DOUBLE)
        |          / (127.0 / absmax))), 'sum')
        |  ELSE 0.0 END AS l1_err
        |FROM m ORDER BY vec_id""".stripMargin,
    "sim08_lsh_neardup" ->
      s"""WITH e AS (SELECT vec_id,
         |  ${(0 until LSH_TABLES).map(t => s"${bandBucketSql("embedding", t)} AS b$t").mkString(",\n  ")}
         |  FROM embeddings),
         |cand AS (
         |  ${(0 until LSH_TABLES)
          .map(t =>
            s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a JOIN e b ON a.b$t = b.b$t AND b.vec_id > a.vec_id"
          )
          .mkString("\n  UNION\n  ")}
         |)
         |SELECT c.id_a, c.id_b,
         |  ${cosSql("ea.embedding", "eb.embedding")} AS cos_sim
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.id_a
         |JOIN embeddings eb ON eb.vec_id = c.id_b
         |WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
    "sim07_vector_stats" ->
      """SELECT label, COUNT(*) AS n_vec,
        |  MIN(len(embedding)) AS dims,
        |  MIN(CAST(embedding[1] AS DOUBLE)) AS first_min,
        |  MAX(CAST(embedding[1] AS DOUBLE)) AS first_max
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "sim06_ivf_topk" -> ivfOracle,
    "sim05_topk_aggregator" -> bruteOracle,
    "sim01_topk_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id IN $qIdsSql),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${cosSql("q.qv", "e.embedding")} AS cos_sim
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         |           FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
         |FROM ranked WHERE rank <= $TOPK ORDER BY query_id, rank""".stripMargin,
    "sim02_topk_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |             ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
         |      FROM e WHERE vec_id IN $qIdsSql),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${cosSql("q.qv", "e.embedding")} AS cos_sim
         |  FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         |           FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
         |FROM ranked WHERE rank <= $TOPK ORDER BY query_id, rank""".stripMargin,
    "sim03_near_dup" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cos_sim
         |FROM embeddings a JOIN embeddings b
         |  ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
    "sim04_lsh_buckets" ->
      s"""SELECT ${bucketSql("embedding")} AS bucket, COUNT(*) AS n_vectors
         |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin
  )

  /** sim13's oracle COMPOSES the four arm oracles verbatim (single
    * source of truth — a drift in any arm's mirror shows up here
    * too): each arm SQL runs as a subquery, overlaps counted per
    * (method, query) over a method×query grid.
    */
  val oracle: Map[String, String] = baseOracle + ("sim13_ann_recall" -> {
    def arm(m: String, name: String) =
      s"SELECT '$m' AS method, query_id, neighbor_id FROM (${baseOracle(name)})"
    s"""WITH btop AS (SELECT query_id, neighbor_id
       |              FROM (${baseOracle("sim01_topk_bruteforce")})),
       |arm AS (${arm("lsh", "sim02_topk_lsh")}
       |  UNION ALL ${arm("ivf", "sim06_ivf_topk")}
       |  UNION ALL ${arm("prefix", "sim12_prefix_rerank")}),
       |hits AS (SELECT method, a.query_id, COUNT(*) AS n_hit
       |         FROM arm a JOIN btop USING (query_id, neighbor_id)
       |         GROUP BY 1, 2),
       |m(method) AS (VALUES ('lsh'), ('ivf'), ('prefix')),
       |qs AS (SELECT DISTINCT query_id FROM btop)
       |SELECT m.method, qs.query_id, COALESCE(h.n_hit, 0) AS n_hit,
       |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / $TOPK AS recall
       |FROM m CROSS JOIN qs
       |LEFT JOIN hits h ON h.method = m.method AND h.query_id = qs.query_id
       |ORDER BY m.method, qs.query_id""".stripMargin
  })
}
