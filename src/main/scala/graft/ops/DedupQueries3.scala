package graft.ops

import graft.Tables
import graft.dedup.Dedup
import graft.functions.{PortableHash, TextFunctions}
import graft.sim.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third dedup batch: winnowed document fingerprints (the MOSS
  * selection discipline) and embedding-space benchmark
  * decontamination — the two nets still missing from the dedup
  * inventory: a POSITION-ROBUST sub-linear fingerprint set with a
  * published detection guarantee, and the SEMANTIC analogue of the
  * n-gram eval-overlap scrub (dedup10/14 catch verbatim leakage;
  * paraphrased eval items only show up in embedding space).
  */
object DedupQueries3 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Gram width in tokens — matches [[DedupQueries2.GRAM]]. */
  private[ops] val GRAM = 3

  /** Winnowing window in gram positions. Guarantee (Schleimer et al.
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting"
    * §3): any shared token run of ≥ W + GRAM − 1 tokens contributes at
    * least one shared fingerprint; nothing shorter than GRAM tokens is
    * ever matched. W=4 binds on the fixture's ~30-token docs; the
    * published setting for real corpora is W≈50 with ~2/(W+1) density.
    */
  private[ops] val WINNOW_W = 4

  /** Positions are packed below this into the hash word for the
    * rightmost-min tie-break; caps document length at 2^20 tokens
    * (a 1M-token ceiling — far above any training document; assert
    * rather than silently mis-rank if a fixture ever exceeds it).
    */
  private val POS_BITS = 20
  private val POS_CAP = 1L << POS_BITS

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.repartition(s.sparkContext.defaultParallelism)

  /** dedup30: winnowed fingerprint pairs. Every doc keeps ~2/(W+1) of
    * its gram hashes — the min of each W-wide window of gram positions,
    * rightmost occurrence on ties (the robust-winnowing rule, encoded
    * arithmetically: key = hash·2^20 + (2^20−1−pos), so windowed MIN
    * picks the smallest hash and, among equal hashes, the largest
    * position — no argmin plumbing, one BIGINT column). Docs pair when
    * they share ≥2 selected hashes; `overlap` is Jaccard over the
    * winnowed hash sets — an estimate of copied-content fraction that
    * costs |fingerprints| ≈ n/(W+1) per doc, not n.
    *
    * Shape at scale: gram hashes are map-side (text never shuffles);
    * the winnow MIN is a doc_id-partitioned ROWS window (bounded by
    * document length); pairing is the standard inverted-index form —
    * one aggregation on the (sub-linear) fingerprint hash emits
    * candidate pairs, one dense (id_a, id_b) count aggregates shared
    * hashes. Compare dedup21/29: those index EVERY gram position; this
    * is the same net at a W+1-fold cheaper index, trading span
    * precision for the detection guarantee above.
    */
  private val winnowing: Q = (s, dir) => {
    val fingerprints = rawWinnowed(docs(s, dir))
    // carry each doc's fingerprint count INSIDE the pairing id (a
    // (doc_id, nfp) struct): joining a separate `counts` table to
    // both pair sides would re-derive the whole scan→window pipeline
    // once per join (dataframe subtrees don't dedupe across joins) —
    // this shape scans the corpus exactly once. Struct ids compare by
    // doc_id first (nfp is a function of doc_id), so the id_b > id_a
    // pair orientation is unchanged.
    val tagged = fingerprints
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("nfp"), col("hs"))
      .select(
        struct(col("doc_id"), col("nfp")).as("idn"),
        explode(col("hs")).as("h")
      )
    PairJoins
      .bucketedPairsSingleMembership(tagged, Seq("h"), "idn")
      // single-membership form is safe here because (doc_id, h) is
      // DISTINCT: each shared hash emits a pair exactly once, so the
      // count below IS the shared-fingerprint count (a distinct would
      // destroy it)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select(
        col("id_a.doc_id").as("id_a"),
        col("id_b.doc_id").as("id_b"),
        col("n_shared"),
        col("id_a.nfp").as("fp_a"),
        col("id_b.nfp").as("fp_b"),
        (col("n_shared").cast("double") /
          (col("id_a.nfp") + col("id_b.nfp") - col("n_shared")).cast("double"))
          .as("overlap")
      )
      .orderBy("id_a", "id_b")
  }

  /** The fingerprint stage of dedup30, exposed for composition and
    * property tests: (doc_id, h) — the DISTINCT winnowed gram hashes
    * of each document in `in` (any frame with `doc_id` and `text`).
    */
  def winnowedFingerprints(in: DataFrame): DataFrame =
    rawWinnowed(in).distinct()

  /** [[winnowedFingerprints]] before the per-doc dedupe: one
    * (doc_id, h) row per SELECTING WINDOW (a hash repeats when
    * adjacent windows pick the same gram). The stream leaves the
    * winnow window still hash-partitioned by doc_id, so callers that
    * aggregate by doc_id (the pairing query) get their dedupe
    * exchange-free via collect_set.
    */
  private def rawWinnowed(in: DataFrame): DataFrame = {
    val d = Dedup.withTokens(in, "text")
    val grams = d
      .filter(size(col("__toks")) >= GRAM)
      .select(
        col("doc_id"),
        (size(col("__toks")) - (GRAM - 1)).cast("long").as("ng"),
        posexplode(
          transform(
            sequence(lit(0), size(col("__toks")) - GRAM),
            i =>
              concat_ws(
                " ",
                (0 until GRAM).map(k => element_at(col("__toks"), i + (k + 1))): _*
              )
          )
        )
      )
      .select(
        col("doc_id"),
        col("ng"),
        col("pos").cast("long").as("pos"),
        (PortableHash.h32(col("col")) * POS_CAP +
          (lit(POS_CAP - 1) -
            when(col("pos") < POS_CAP, col("pos").cast("long"))
              .otherwise(raise_error(lit(s"doc exceeds 2^$POS_BITS tokens")))))
          .as("k")
      )
    val winWindow = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WINNOW_W - 1)
    // one selected key per window START (frame clamps at partition
    // end, so a doc with fewer than W grams winnows its whole set)
    grams
      .withColumn("sk", min(col("k")).over(winWindow))
      .filter(col("pos") <= greatest(col("ng") - WINNOW_W, lit(0L)))
      // `div`: exact integer division (Column./ is double division)
      .select(col("doc_id"), expr(s"sk div ${POS_CAP}L").as("h"))
  }

  /** Eval slice for dedup31: the held-out benchmark is the `label = 9`
    * embedding rows (a data-derived split — no synthesized fixtures).
    */
  private[ops] val EVAL_LABEL = 9

  /** Cosine threshold above which a training vector is "contaminated"
    * by an eval item. 0.95 on real embeddings ≈ paraphrase-level
    * similarity (SemDeDup uses 0.96-0.99 within clusters); the
    * fixture's random vectors top out lower, so the report carries the
    * full max-similarity column and the flag binds on whatever
    * exceeds the line.
    */
  private[ops] val SEM_THRESHOLD = 0.35

  /** dedup31: semantic benchmark decontamination. dedup10/14 remove
    * docs sharing verbatim n-grams with the eval set; a paraphrased
    * eval item shares none. This is the embedding-space net: every
    * corpus vector scores its nearest eval vector by cosine, and rows
    * with max-sim ≥ threshold are flagged for removal. Output is the
    * full audit (one row per corpus vector, nearest eval id + score +
    * verdict) — the artifact a curation run logs, not just the drop
    * list.
    *
    * Shape at scale: the eval set is benchmark-sized (thousands of
    * rows — MBs against a corpus of TBs), so it BROADCASTS and the
    * corpus is scanned exactly once with zero shuffle before the
    * per-vector top-1 (a map-side window over the broadcast-join
    * output would still shuffle; instead the top-1 folds into a
    * groupBy on the DENSE corpus id — one aggregation). Cosines run
    * through [[Similarity.cosine]] (sequential-order double sums —
    * bit-identical to the DuckDB mirror); ties on the float score
    * break on the smaller eval id, so the argmax is deterministic
    * under any partitioning.
    *
    * This is the EXACT form: the N×M cosine sweep is the cost wall
    * once the eval set itself is large. Its scale companion is
    * `dedup36_semantic_decon_sketch` ([[DedupQueries4]]) — 288-bit
    * sign-bit Hamming shortlist + exact rerank, flagged ⊆ this
    * query's flagged by construction, recall pinned ≥ 0.9 against
    * these verdicts in SemanticDeconSketchSpec.
    */
  private val semanticDecontaminate: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    // norms are per-VECTOR, so compute them once per side before the
    // pair join — [[Similarity.cosine]] inline would re-derive both
    // self-dot-products per PAIR (3 dot products instead of 1, the
    // whole-query hot loop). Bit-parity with the oracle holds because
    // the precomputed value is the identical sequential sum + sqrt.
    val eval = emb
      .filter(col("label") === EVAL_LABEL)
      .select(
        col("vec_id").as("eval_id"),
        col("embedding").as("ev"),
        Similarity.norm(col("embedding")).as("ev_norm")
      )
    val corpus = emb
      .filter(col("label") =!= EVAL_LABEL)
      .select(
        col("vec_id"),
        col("embedding"),
        Similarity.norm(col("embedding")).as("c_norm")
      )
    val scored = corpus
      .crossJoin(broadcast(eval))
      .select(
        col("vec_id"),
        col("eval_id"),
        when(col("c_norm") === 0.0 || col("ev_norm") === 0.0, lit(0.0))
          .otherwise(
            Similarity.dot(col("embedding"), col("ev")) /
              (col("c_norm") * col("ev_norm"))
          )
          .as("cos_sim")
      )
    // deterministic argmax: max over (score, −eval_id) pairs — the
    // greatest struct is the best score with the smallest eval id
    scored
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_sim"), (-col("eval_id")).as("neg"))).as("best"))
      .select(
        col("vec_id"),
        (-col("best.neg")).as("nearest_eval"),
        col("best.cos_sim").as("max_sim"),
        (col("best.cos_sim") >= SEM_THRESHOLD).as("contaminated")
      )
      .orderBy("vec_id")
  }

  /** Modulus for the simulated right-to-be-forgotten delete batch:
    * hash("del:" ++ doc_id) % 29 == 0 marks ~3.4 % of the corpus as
    * deletion requests — a deterministic, portable predicate both
    * engines evaluate identically.
    */
  private[graft] val DEL_MOD = 29L

  /** dedup32: leakage-free train/eval split — the CONSTRUCTIVE
    * complement of dedup18's leakage REPORT. q54 hashes doc_id, so two
    * near-duplicate docs can land on opposite sides of the cut and the
    * eval set silently overlaps training data; here the split key is
    * the near-dup CLUSTER id (connected components of the Jaccard-
    * confirmed MinHash graph), so every near-dup family lands wholly
    * in train or wholly in eval — cross-split leakage is zero by
    * construction, not by audit (ClusterSplitDeleteSpec pins this
    * against the dedup04 verified pairs).
    *
    * Shape at scale: one CC pass over the (sliver-sized) dup graph,
    * then the split is a map-side pure function of cluster_id —
    * singleton docs (their own cluster) degenerate to exactly q54's
    * per-doc hash cut, so the 90/10 proportions hold corpus-wide.
    */
  private val clusterSplit: Q = (s, dir) => {
    val edges = DedupQueries
      .minhashVerified(s, dir)
      .filter(col("jac") >= 0.5)
      .select("id_a", "id_b")
    val nodes = docs(s, dir).select(col("doc_id").as("id"))
    val bucket = pmod(
      PortableHash.h32(concat(lit("split:"), col("cluster_id").cast("string"))),
      lit(100L)
    )
    graft.dedup.Clusters
      .connectedComponents(nodes, edges)
      .select(
        col("id").as("doc_id"),
        col("cluster_id"),
        when(bucket < 90, lit("train")).otherwise(lit("eval")).as("split")
      )
      .orderBy("doc_id")
  }

  /** dedup33: delete propagation through the dedup chain — the
    * right-to-be-forgotten path. A batch of deletion requests (the
    * deterministic ~3.4 % DEL_MOD predicate standing in for the real
    * request table) invalidates the docs themselves AND any survivor
    * verdict their clusters produced; the naive response re-runs
    * clustering + survivor selection corpus-wide per delete batch.
    *
    * The incremental identity this query implements and the oracle
    * proves: deletions only REMOVE edges, so post-delete components
    * are a refinement of pre-delete ones — no new doc pair can become
    * connected. Re-running CC inside the touched clusters alone is
    * therefore exact:
    *   - touched = clusters containing ≥1 deleted doc (broadcast-
    *     small: bounded by the delete batch, not the corpus);
    *   - untouched clusters pass their (cluster_id, survivor, keep)
    *     rows through VERBATIM — zero recompute, anti-join only;
    *   - inside touched clusters, CC + struct-max survivor re-run on
    *     the surviving members' sliver subgraph.
    * Output = dedup13's verdict table over the post-delete corpus;
    * the DuckDB oracle recomputes it FROM SCRATCH on the filtered
    * corpus, so gate equality is the incremental ≡ full proof.
    */
  private val deleteProp: Q = (s, dir) => {
    val delPred = pmod(
      PortableHash.h32(concat(lit("del:"), col("doc_id").cast("string"))),
      lit(DEL_MOD)
    ) === 0
    // confirmed dup edges: two longs per pair — checkpointed once,
    // consumed by the full CC pass and the touched-subgraph re-pass
    val edges = DedupQueries
      .minhashVerified(s, dir)
      .filter(col("jac") >= 0.5)
      .select("id_a", "id_b")
      .localCheckpoint(true)
    val nodes = docs(s, dir).select(col("doc_id").as("id"))
    // the maintained state at scale: dedup13's (doc, cluster, tokens)
    // membership table (3 scalars/doc — checkpointed once; consumed by
    // the pre-delete argmax, the touched probe, and both output arms)
    val members = graft.dedup.Clusters
      .connectedComponents(nodes, edges)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .join(
        docs(s, dir).select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")
        ),
        Seq("doc_id")
      )
      .localCheckpoint(true)
    val touched = members
      .filter(delPred)
      .select("cluster_id")
      .distinct()
    val best = members
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("__negid"))).as("__m"))
      .select(col("cluster_id"), (-col("__m.__negid")).as("survivor_id"))
    val untouched = members
      .join(broadcast(touched), Seq("cluster_id"), "left_anti")
      .join(best, Seq("cluster_id"))
    // touched sliver: surviving members of touched clusters, edges
    // restricted to them (clusters are edge-closed, so two semi-joins
    // on the live-member set capture exactly the touched subgraph)
    val liveTouched = members
      .join(broadcast(touched), Seq("cluster_id"))
      .filter(!delPred)
      .select("doc_id", "n_tokens")
      .localCheckpoint(true)
    val subNodes = liveTouched.select(col("doc_id").as("id"))
    val subEdges = edges
      .join(subNodes.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(subNodes.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    val reclustered = graft.dedup.Clusters
      .connectedComponents(subNodes, subEdges)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .join(liveTouched, Seq("doc_id"))
    val rebest = reclustered
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("__negid"))).as("__m"))
      .select(col("cluster_id"), (-col("__m.__negid")).as("survivor_id"))
    val recomputed = reclustered.join(rebest, Seq("cluster_id"))
    untouched
      .unionByName(recomputed)
      .select(
        col("doc_id"),
        col("cluster_id"),
        col("n_tokens"),
        col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("keep")
      )
      .orderBy("doc_id")
  }

  /** dedup34: soft-dedup sampling weights — the down-weight-don't-drop
    * alternative to dedup13's hard survivor cut: every document gets
    * sampling weight 1/|its near-dup family|, so each family
    * contributes expected ONE copy per training epoch while all its
    * phrasings stay in the pool (the hard drop discards that
    * diversity; recent curation work prefers the soft form for
    * high-quality sources). Singletons keep weight 1; the
    * expected-copies invariant Σ weight = #families is spec-pinned.
    *
    * Shape at scale: on top of the dedup06 CC pass this costs ONE
    * shuffle — family size is a COUNT window over cluster_id, so the
    * size attach and the weight ride the same exchange (no agg+join
    * round trip). The weight is a single closing IEEE division of
    * exact BIGINTs, identical on any engine.
    */
  private val softDedupWeights: Q = (s, dir) => {
    val edges =
      DedupQueries.minhashVerified(s, dir).filter(col("jac") >= 0.5)
    val nodes = docs(s, dir).select(col("doc_id").as("id"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    graft.dedup.Clusters
      .connectedComponents(nodes, edges)
      .withColumn("cluster_size", count(lit(1)).over(byCluster).cast("long"))
      .select(
        col("id").as("doc_id"),
        col("cluster_id"),
        col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight")
      )
      .orderBy("doc_id")
  }

  /** dedup35: dedup-corrected corpus length profile — the "what does
    * the corpus look like AFTER down-weighting" report: per source,
    * the EXACT weighted median of document token counts under the
    * dedup34 weights, next to the plain median. The gap between the
    * two columns is the template-inflation bias: a source whose plain
    * median sits far from its weighted median is dominated by
    * near-dup families (boilerplate), and every corpus statistic
    * computed without the weights inherits that bias.
    *
    * Engine-exactness: weights enter as integer ppm
    * (`1000000 div cluster_size`) so every cumulative sum is a
    * BIGINT and the median test `2·cum ≥ tot` is division-free — no
    * float summation order anywhere (a double weight sum would hash-
    * diverge between engines). Both medians are lower medians via the
    * same ROWS-pinned window, ties broken on doc_id.
    *
    * Shape at scale: one dense doc_id join (weights onto token
    * counts), then ONE source-partitioned window — bounded by source
    * size. For mega-sources the same report comes from
    * [[WeightedHdr.weightedMedianBuckets]] — q85's HDR buckets with
    * SUM(weight_ppm) in place of COUNT (mergeable, sketch-first);
    * this query is the exact semantics that approximation is checked
    * against (containment spec in SoftDedupSpec).
    */
  private val weightedProfile: Q = (s, dir) => {
    // Weights come FROM dedup34's query (not a re-statement of its
    // pipeline): the report is defined as "under the dedup34 weights",
    // so any future change to that query's threshold or clustering
    // variant flows through here by construction.
    val wts = softDedupWeights(s, dir)
      .select(col("doc_id"), expr("1000000 div cluster_size").as("wppm"))
    val t = docs(s, dir).select(
      col("doc_id"),
      col("source"),
      // null-guarded: size(NULL) is -1 in Spark vs NULL in DuckDB
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")
    )
    // ONE ordering definition for both medians: bySrc's explicit frame
    // is exactly row_number's required frame, so __cum and __rn share
    // the same spec and cannot desynchronize on a tie-break edit.
    // NULLS LAST is pinned explicitly: Spark's ASC default is NULLS
    // FIRST while DuckDB's is NULLS LAST, so a NULL token count (the
    // case the null-guard above defends) would otherwise shift both
    // medians between engines.
    val bySrc = Window
      .partitionBy(col("source"))
      .orderBy(col("n_tokens").asc_nulls_last, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("source"))
    t.join(wts, Seq("doc_id"))
      .withColumn("__cum", sum(col("wppm")).over(bySrc))
      .withColumn("__tot", sum(col("wppm")).over(whole))
      .withColumn("__rn", row_number().over(bySrc))
      .withColumn("__n", count(lit(1)).over(whole))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("__tot")).as("tot_weight_ppm"),
        min(when(col("__cum") * 2 >= col("__tot"), col("n_tokens")))
          .as("weighted_median_tokens"),
        min(when(col("__rn") * 2 >= col("__n"), col("n_tokens")))
          .as("plain_median_tokens")
      )
      .orderBy("source")
  }

  val queries: Map[String, Q] = named(
    "dedup30_winnowing" -> winnowing,
    "dedup31_semantic_decontaminate" -> semanticDecontaminate,
    "dedup32_cluster_split" -> clusterSplit,
    "dedup33_delete_propagation" -> deleteProp,
    "dedup34_softdedup_weights" -> softDedupWeights,
    "dedup35_weighted_profile" -> weightedProfile
  )

  private val normSql = TextQueriesSqlFragments.normSql

  private[ops] def dotSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin

  private[ops] def cosSql(a: String, b: String): String =
    s"""(CASE WHEN (${dotSql(a, a)}) = 0.0 OR (${dotSql(b, b)}) = 0.0
       |  THEN 0.0
       |  ELSE (${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))
       |  END)""".stripMargin

  val oracle: Map[String, String] = named(
    "dedup35_weighted_profile" ->
      s"""${DedupQueries.clusterCtes},
         |cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size
         |       FROM cl GROUP BY cluster_id),
         |w AS (SELECT cl.id AS doc_id, 1000000 // sz.cluster_size AS wppm
         |      FROM cl JOIN sz USING (cluster_id)),
         |t AS (SELECT doc_id, source,
         |        CAST(len(regexp_split_to_array(trim(text), '\\s+'))
         |          AS BIGINT) AS n_tokens
         |      FROM documents),
         |c AS (SELECT t.source, t.n_tokens,
         |        SUM(w.wppm) OVER (PARTITION BY t.source
         |          ORDER BY t.n_tokens NULLS LAST, t.doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |        SUM(w.wppm) OVER (PARTITION BY t.source) AS tot,
         |        ROW_NUMBER() OVER (PARTITION BY t.source
         |          ORDER BY t.n_tokens NULLS LAST, t.doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY t.source) AS n
         |      FROM t JOIN w USING (doc_id))
         |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
         |  CAST(MAX(tot) AS BIGINT) AS tot_weight_ppm,
         |  CAST(MIN(CASE WHEN 2 * cum >= tot THEN n_tokens END) AS BIGINT)
         |    AS weighted_median_tokens,
         |  CAST(MIN(CASE WHEN 2 * rn >= n THEN n_tokens END) AS BIGINT)
         |    AS plain_median_tokens
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "dedup34_softdedup_weights" ->
      s"""${DedupQueries.clusterCtes},
         |cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |       FROM cl GROUP BY cluster_id)
         |SELECT cl.id AS doc_id, cl.cluster_id, sz.cluster_size,
         |  CAST(1 AS DOUBLE) / CAST(sz.cluster_size AS DOUBLE) AS weight
         |FROM cl JOIN sz USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup30_winnowing" ->
      s"""WITH prep AS (SELECT doc_id, string_split($normSql, ' ') AS toks
         |              FROM documents),
         |g AS (SELECT doc_id,
         |        CAST(len(toks) - ${GRAM - 1} AS BIGINT) AS ng, pos,
         |        ${PortableHash.sqlH32(
          (1 to GRAM).map(k => s"toks[pos+$k]").mkString(" || ' ' || ")
        )} AS h
         |      FROM (SELECT doc_id, toks,
         |              unnest(range(0, len(toks) - ${GRAM - 1})) AS pos
         |            FROM prep WHERE len(toks) >= $GRAM)),
         |k AS (SELECT doc_id, ng, pos,
         |        h * $POS_CAP + (${POS_CAP - 1} - pos) AS k FROM g),
         |sel AS (SELECT doc_id, ng, pos,
         |          min(k) OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN CURRENT ROW
         |            AND ${WINNOW_W - 1} FOLLOWING) AS sk
         |        FROM k),
         |fph AS (SELECT DISTINCT doc_id, sk // $POS_CAP AS h FROM sel
         |        WHERE pos <= greatest(ng - $WINNOW_W, 0)),
         |cnt AS (SELECT doc_id, COUNT(*) AS nfp FROM fph GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |            COUNT(*) AS n_shared
         |          FROM fph a JOIN fph b
         |            ON a.h = b.h AND b.doc_id > a.doc_id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(ca.nfp AS BIGINT) AS fp_a, CAST(cb.nfp AS BIGINT) AS fp_b,
         |  CAST(n_shared AS DOUBLE)
         |    / CAST(ca.nfp + cb.nfp - n_shared AS DOUBLE) AS overlap
         |FROM pairs
         |JOIN cnt ca ON pairs.id_a = ca.doc_id
         |JOIN cnt cb ON pairs.id_b = cb.doc_id
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup31_semantic_decontaminate" ->
      s"""WITH eval AS (SELECT vec_id AS eval_id, embedding AS ev
         |              FROM embeddings WHERE label = $EVAL_LABEL),
         |corpus AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE label <> $EVAL_LABEL),
         |scored AS (SELECT c.vec_id, e.eval_id,
         |             ${cosSql("c.embedding", "e.ev")} AS cos_sim
         |           FROM corpus c CROSS JOIN eval e),
         |best AS (SELECT vec_id, eval_id, cos_sim,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY cos_sim DESC, eval_id ASC) AS rn
         |         FROM scored)
         |SELECT vec_id, CAST(eval_id AS BIGINT) AS nearest_eval,
         |  cos_sim AS max_sim,
         |  cos_sim >= $SEM_THRESHOLD AS contaminated
         |FROM best WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    // both cluster-level mirrors wrap the dedup04 verified-pairs
    // oracle verbatim as a CTE and rebuild components by recursive
    // reachability (same fixpoint as dedup06's oracle)
    "dedup32_cluster_split" ->
      s"""WITH RECURSIVE mv AS (
         |${DedupQueries.minhashVerifiedOracle}
         |),
         |v AS (SELECT id_a, id_b FROM mv WHERE jac >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM v
         |          UNION ALL SELECT id_b, id_a FROM v),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
         |       FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${PortableHash.sqlH32(
          "concat('split:', CAST(cluster_id AS VARCHAR))"
        )} % 100 < 90
         |    THEN 'train' ELSE 'eval' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin,
    // full-recompute mirror on the post-delete corpus: equality with
    // the Spark side's touched-clusters-only recompute IS the
    // incremental ≡ full identity
    "dedup33_delete_propagation" ->
      s"""WITH RECURSIVE mv AS (
         |${DedupQueries.minhashVerifiedOracle}
         |),
         |live AS (SELECT doc_id FROM documents
         |         WHERE NOT (${PortableHash.sqlH32(
          "concat('del:', CAST(doc_id AS VARCHAR))"
        )} % $DEL_MOD = 0)),
         |v AS (SELECT id_a, id_b FROM mv WHERE jac >= 0.5),
         |vl AS (SELECT v.id_a, v.id_b FROM v
         |       JOIN live la ON la.doc_id = v.id_a
         |       JOIN live lb ON lb.doc_id = v.id_b),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM vl
         |          UNION ALL SELECT id_b, id_a FROM vl),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM live
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
         |       FROM reach GROUP BY id),
         |tok AS (SELECT doc_id,
         |          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |            AS n_tokens
         |        FROM documents),
         |t AS (SELECT c.doc_id, c.cluster_id, tok.n_tokens
         |      FROM cl c JOIN tok USING (doc_id)),
         |b AS (SELECT cluster_id, doc_id AS survivor_id FROM
         |        (SELECT cluster_id, doc_id,
         |           ROW_NUMBER() OVER (PARTITION BY cluster_id
         |             ORDER BY n_tokens DESC, doc_id) AS rn
         |         FROM t)
         |      WHERE rn = 1)
         |SELECT t.doc_id, t.cluster_id, t.n_tokens, b.survivor_id,
         |  (t.doc_id = b.survivor_id) AS keep
         |FROM t JOIN b USING (cluster_id) ORDER BY t.doc_id""".stripMargin
  )
}
