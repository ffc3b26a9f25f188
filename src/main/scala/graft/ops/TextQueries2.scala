package graft.ops

import graft.Tables
import graft.functions.PortableHash
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second text batch: data-selection importance weighting (DSIR) and
  * tokenizer-coverage profiling — the curation signals that decide
  * WHICH corpus slices feed a training run, on top of the per-doc
  * quality metrics in [[TextQueries]].
  */
object TextQueries2 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  // keep in lockstep with TextQueries.toksSql (whitespace tokenizer)
  private val toksSql = """regexp_split_to_array(trim(text), '\s+')"""

  /** text22: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every doc by how much its hashed-bigram profile looks like a
    * TARGET distribution (here the fixture's `lang = 'en'` slice)
    * versus the RAW corpus. Features are bigrams hashed into B=256
    * buckets; a doc's weight is Σ over its bigram instances of
    * log2(target-bucket mass) − log2(raw-bucket mass), the log of the
    * importance ratio up to a per-doc-length constant — computed
    * integer-exactly as `(length(bin(tb+1))−1) − (length(bin(rb+1))−1)`
    * (the text16 libm-free floor-log2). The target is a subset of the
    * corpus so every term is ≤ 0; LESS negative = more target-like,
    * and resampling keeps the top of that ranking.
    *
    * Shape at scale: bigrams are a map-side array expression; the
    * bucket histogram is ONE aggregation on a 256-value dense key
    * computing raw and target masses together (conditional agg, not
    * two passes); the histogram broadcasts back onto the instance
    * stream (256 rows — a plan-embedded constant at any corpus size)
    * and the only other shuffle is the dense doc_id aggregate. No
    * text ever shuffles: instances reduce to (doc_id, bucket) ints.
    */
  private[ops] val dsirBuckets = 256
  private val dsir: Q = (s, dir) => {
    val inst = Tables(s, dir).documents
      .select(
        col("doc_id"),
        col("lang"),
        // explode_outer + null filter: InferFiltersFromGenerate would
        // re-inline tokenize+bigrams into an injected size()>0 filter
        // (2× the generator per row); outer skips the rule, and the
        // cheap isNotNull drops the one null row an empty bigram
        // array (single-token doc) would add vs plain explode
        explode_outer(bigramsOf(tokens(col("text")))).as("bg")
      )
      .filter(col("bg").isNotNull)
      .select(
        col("doc_id"),
        col("lang"),
        (PortableHash.h32(col("bg")) % dsirBuckets).as("bucket")
      )
    val hist = inst
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("rb"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tb")
      )
    inst
      .join(broadcast(hist), Seq("bucket"))
      .select(
        col("doc_id"),
        ((length(bin(col("tb") + 1)) - 1) - (length(bin(col("rb") + 1)) - 1))
          .cast("long")
          .as("bits")
      )
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_feat"),
        sum(col("bits")).as("weight_bits")
      )
      .orderBy("doc_id")
  }

  /** text23: out-of-vocabulary rate per source against the corpus
    * top-V vocabulary — the tokenizer-coverage audit run before
    * committing a vocab: a source whose OOV rate is an outlier is
    * either a different register/language or boilerplate the
    * tokenizer will shred into bytes. V=64 binds at fixture scale
    * (real vocabs are 10⁴–10⁵ — still broadcast-size).
    *
    * Shape at scale: ONE (source, token) aggregation stages counts;
    * the corpus frequency table, per-source totals, and the OOV
    * anti-join all derive from that staged aggregate (identical
    * subplans — the shuffle is planned once and REUSED, asserted in
    * OovRateSpec), so raw token instances shuffle exactly once. The
    * vocab cut is top-V with a total-order tiebreak (freq desc, token
    * asc) via TakeOrderedAndProject, and broadcasts into a left-anti
    * probe — OOV detection never shuffles the counts table again.
    */
  private[ops] val oovV = 64
  private val oovRate: Q = (s, dir) => {
    val st = Tables(s, dir).documents
      // explode_outer: barrier against InferFiltersFromGenerate
      // re-inlining the tokenizer (see dsir above); tokens() is never
      // null/empty for non-null text, and the null filter covers
      // null-text rows identically to plain explode
      .select(col("source"), explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val vocab = st
      .groupBy(col("tok"))
      .agg(sum(col("c")).as("cf"))
      .orderBy(col("cf").desc, col("tok").asc)
      .limit(oovV)
      .select("tok")
    val totals = st
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"))
    val oov = st
      .join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_oov"))
    totals
      .join(oov, Seq("source"), "left")
      .select(
        col("source"),
        col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        (coalesce(col("n_oov"), lit(0L)).cast("double") / col("n_tokens"))
          .as("oov_rate")
      )
      .orderBy("source")
  }

  /** text24: Zipf rank–frequency slope over the top-V vocabulary —
    * the one-number corpus-health check (natural text fits
    * log f ≈ −s·log r + c with s ≈ 1; machine-generated or templated
    * corpora bend the curve). Both axes go through the integer
    * floor-log2 (`length(bin(x))−1` — the text16 libm-free
    * discipline), so the least-squares sufficient statistics
    * (n, Σx, Σy, Σxx, Σxy) are exact BIGINT sums and the slope/
    * intercept are each ONE deterministic double division — q63's
    * decimal-moment regression, restated for integer inputs.
    *
    * Shape at scale: one token-key aggregation, a V-row
    * TakeOrderedAndProject cut (total-order tiebreak), and the fit
    * runs on V rows — a driver-free single reduce.
    */
  private[ops] val zipfV = 128
  private val zipf: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val top = Tables(s, dir).documents
      // explode_outer + null filter: same barrier as dsir/oov above
      .select(explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok").asc)
      .limit(zipfV)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("f").desc, col("tok").asc))
      )
      .select(
        (length(bin(col("rank"))) - 1).cast("long").as("x"),
        (length(bin(col("f"))) - 1).cast("long").as("y")
      )
    top
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy")
      )
      .select(
        col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"),
        ((col("sy").cast("double") -
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            col("sx").cast("double")) / col("n").cast("double"))
          .as("intercept")
      )
  }

  /** text25: per-doc shingle novelty — what fraction of a document's
    * distinct 3-gram shingle HASHES appear here FIRST, i.e. in no
    * document with a smaller doc_id. Replayed in ingestion order
    * this is the marginal-information curve a dedup-aware crawler
    * watches: novelty ≈ 1 is fresh text, novelty ≈ 0 is a
    * recombination of already-held n-grams (boilerplate, template
    * spins, near-copies that slipped the pairwise nets). Complements
    * dedup11 (which counts shingles shared with ANY doc, unordered)
    * by attributing each shingle to its first holder.
    *
    * Shape at scale (r4 shape was a self-join over the exploded
    * instance stream, 19.9 s at sf0.1; this form is ~4×): the
    * tokenize→shingle→md5 generator runs ONCE; `n_shingles` is
    * `size(array_distinct(__shh))` — computed map-side, zero
    * shuffle; ownership needs only `groupBy(h).agg(min(doc_id))`,
    * whose map-side partial MIN collapses each hash to one row per
    * map partition before the exchange — the shuffle carries (h,
    * min) pairs, not the instance stream, and there is no window
    * sort. The winners then reduce per owner doc (tiny) and join
    * back per-doc. Working over distinct hashes (not distinct
    * shingle strings) keeps Spark and the oracle identical even if
    * two shingles of one document collide at 32 bits.
    */
  private val novelty: Q = (s, dir) => {
    import graft.dedup.Dedup
    val docs = Dedup
      .withShingleHashes(
        Dedup.withShingles(Dedup.withTokens(Tables(s, dir).documents, "text"))
      )
      .select(col("doc_id"), array_distinct(col("__shh")).as("hs"))
    val novel = docs
      // explode_outer: see minHashSignatureAgg (InferFiltersFromGenerate
      // would re-inline the whole tokenize→shingle→md5 pipeline into an
      // injected size()>0 filter — 2× the generator per row; hs is
      // never null/empty by construction, so outer ≡ inner)
      .select(col("doc_id"), explode_outer(col("hs")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    docs
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles"))
          .as("novelty")
      )
      .orderBy("doc_id")
  }

  /** pipe04: the dataset-card report — one row per source with the
    * headline curation numbers (volume, exact-dup rate, language mix,
    * token mass) a corpus release documents. Everything reduces in
    * ONE pass over `documents`: the only non-trivial aggregate is the
    * exact-dup distinct count on the normalized fingerprint, and the
    * ratios are single divisions of exact BIGINTs (engine-identical).
    *
    * Shape at scale: count-distinct on an md5 fingerprint per source
    * — Spark plans the standard two-phase distinct aggregate (expand
    * + partial), never a driver-side set; token counts are map-side
    * array lengths. K sources → K output rows regardless of corpus
    * size.
    *
    * `hot_buckets` is the near-dup net's SKEW AUDIT: the count of LSH
    * band buckets (dedup04's banding) whose population exceeds
    * [[HOT_BUCKET_REPORT_CAP]] — the buckets
    * [[PairJoins.bucketedPairs]]' `maxBucket` gate would drop rather
    * than let one degenerate signature emit O(population²) candidate
    * pairs. A corpus release documents what its dedup pass skipped;
    * the oracle recomputes the census from the same banding mirror.
    */
  private val corpusReport: Q = (s, dir) => {
    import graft.functions.TextFunctions
    val hot = graft.ops.PairJoins.bucketAudit(
      graft.dedup.Dedup.lshBandBuckets(
        Tables(s, dir).documents, "doc_id", "text"),
      Seq("band", "band_sig"), "doc_id", HOT_BUCKET_REPORT_CAP
    ).count()
    val d = Tables(s, dir).documents
      .select(
        col("source"),
        col("lang"),
        TextFunctions.fingerprintMd5(col("text")).as("fp"),
        tokenCountOf(tokens(col("text"))).cast("long").as("n_toks")
      )
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_uniq"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(col("n_toks")).as("total_tokens")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_uniq"),
        ((col("n_docs") - col("n_uniq")).cast("double") / col("n_docs"))
          .as("dup_rate"),
        col("n_en"),
        (col("n_en").cast("double") / col("n_docs")).as("pct_en"),
        col("total_tokens"),
        (col("total_tokens").cast("double") / col("n_docs")).as("mean_tokens")
      )
      .withColumn("hot_buckets", lit(hot))
      .orderBy("source")
  }

  /** The report threshold for pipe04's hot-bucket audit — a
    * diagnostics bar (populations worth documenting), deliberately
    * far below [[PairJoins.DefaultMaxBucket]]'s enforcement ceiling
    * so the census is a live number on the fixture.
    */
  private[ops] val HOT_BUCKET_REPORT_CAP = 8

  /** Gopher stopword-containment list (Rae et al. 2021 §A1.1): a doc
    * should contain ≥ 2 of these to count as running English prose.
    */
  private[ops] val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** text26: the Gopher rule battery — the published heuristic gate
    * (word-count bounds, mean-word-length band, symbol-to-word ratio,
    * alphabetic-word fraction, stopword containment) that production
    * curation runs BEFORE any model-based scoring, emitted as one
    * fail bitmask per doc so downstream can both filter (keep) and
    * diagnose (which rule fired). Line-shape rules (bullet/ellipsis
    * line fractions) are omitted — the fixture is single-line — and
    * would compose identically over split(text, '\\n').
    *
    * Every metric is an exact integer count with at most one double
    * division, so the flags (double comparisons of identical doubles)
    * are engine-exact. Shape at scale: entirely map-side — one
    * projection, no shuffle but the presentation sort.
    */
  private val gopherRules: Q = (s, dir) => {
    val d = Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        col("text"),
        tokenCountOf(col("__toks")).cast("long").as("n_words"),
        tokenCharCountOf(col("__toks")).as("n_chars"),
        size(filter(col("__toks"), t => t.rlike("[A-Za-z]")))
          .cast("long")
          .as("n_alpha"),
        size(
          array_intersect(
            array_distinct(transform(col("__toks"), t => lower(t))),
            array(gopherStops.map(lit): _*)
          )
        ).cast("long").as("n_stop")
      )
      .select(
        col("doc_id"),
        col("n_words"),
        (col("n_chars").cast("double") / col("n_words")).as("mean_wl"),
        ((length(col("text")) - length(expr("replace(text, '#', '')")) +
          expr(
            "(length(text) - length(replace(text, '...', ''))) div 3"
          )).cast("double") / col("n_words")).as("symbol_ratio"),
        (col("n_alpha").cast("double") / col("n_words")).as("alpha_ratio"),
        col("n_stop")
      )
    d.select(
      col("doc_id"),
      col("n_words"),
      col("mean_wl"),
      col("symbol_ratio"),
      col("alpha_ratio"),
      col("n_stop"),
      (when(col("n_words") < 50 || col("n_words") > 100000, 1L).otherwise(0L) +
        when(col("mean_wl") < 3.0 || col("mean_wl") > 10.0, 2L).otherwise(0L) +
        when(col("symbol_ratio") > 0.1, 4L).otherwise(0L) +
        when(col("alpha_ratio") < 0.8, 8L).otherwise(0L) +
        when(col("n_stop") < 2, 16L).otherwise(0L)).as("fail_mask")
    ).withColumn("keep", col("fail_mask") === 0L)
      .orderBy("doc_id")
  }

  /** text27: CCNet head/middle/tail bucketing (Wenzek et al. 2020) —
    * rank every document WITHIN its source by LM surprisal (text19's
    * integer-bits score, ascending: head = most fluent third) and cut
    * into terciles by rank. This is the published shape for
    * perplexity-based curation: per-SOURCE ranking, because absolute
    * surprisal isn't comparable across registers (code vs prose vs
    * forums), and a global cut would evict whole sources.
    *
    * Bucket = 1 + ⌊(rank−1)·3 / n⌋, all integer. Shape at scale: one
    * window partitioned by source (bounded per-source, never global)
    * over the text19 score pipeline; rank and the per-source count
    * share the partition.
    */
  private val ccnetBuckets: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy(col("source"))
    val scored = TextQueries
      .queries("text19_lm_score")(s, dir)
      .select(col("doc_id"), col("mean_bits"))
      .join(Tables(s, dir).documents.select(col("doc_id"), col("source")), Seq("doc_id"))
    scored
      .withColumn(
        "rk",
        row_number().over(
          bySource.orderBy(col("mean_bits").asc, col("doc_id").asc)
        )
      )
      .withColumn("n", count(lit(1)).over(bySource))
      .select(
        col("doc_id"),
        col("source"),
        col("mean_bits"),
        expr("1 + ((rk - 1) * 3) div n").cast("long").as("bucket")
      )
      .orderBy("doc_id")
  }

  /** text28: hashed-linear quality classifier — the "fastText/LR
    * quality filter" stage of published LLM corpus pipelines (GPT-3's
    * logistic-regression filter against a curated positive class;
    * LLaMA/CCNet's fastText classifier): every token hashes into one
    * of D=64 feature buckets, each bucket carries a fixed weight, and
    * the document's score is the mean bucket weight of its tokens —
    * a linear model applied at scan time. Weights here are
    * deterministic pseudo-random values derived from the portable
    * hash (stand-ins for trained coefficients; the PLUMBING — hashed
    * features, fixed broadcast-free plan-embedded weights, margin
    * threshold — is the production shape, the weights are where a
    * real pipeline drops in its trained vector).
    *
    * Determinism/scale: the dot product is an INTEGER sum via an
    * `aggregate` HOF over the token array (weights are a 64-element
    * plan literal, w ∈ [−2³¹, 2³¹)); margin = num / (n·2³¹) is the
    * only float op — one IEEE division, bit-identical in DuckDB.
    * Fully map-side: zero shuffles except the presentation sort; at
    * 100 TB this is a pure scan-time filter with no exchange at all.
    */
  private[ops] val qcDim = 64
  private[ops] val qcTau = -0.1
  private[ops] val qcWeights: IndexedSeq[Long] =
    (0 until qcDim).map(b => PortableHash.h32Local(s"qw:$b") - (1L << 31))

  private val qualityClassifier: Q = (s, dir) => {
    val w = typedLit(qcWeights)
    Tables(s, dir).documents
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        aggregate(
          col("__toks"),
          lit(0L),
          (acc, t) =>
            acc + element_at(
              w,
              (pmod(PortableHash.h32(t), lit(qcDim)) + 1).cast("int")
            )
        ).as("margin_num")
      )
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("margin_num"),
        (col("margin_num").cast("double") /
          (col("n_tokens").cast("double") * lit(2147483648.0)))
          .as("margin")
      )
      .withColumn("keep", col("margin") > qcTau)
      .orderBy("doc_id")
  }

  /** Fraction of the corpus's total tokens the text29 training mix
    * may keep — the global budget B = frac · Σ tokens.
    */
  private[ops] val WF_FRAC = 0.5

  /** text29: water-filling token-budget allocation across sources —
    * the capping rule behind balanced training mixes ("no source may
    * exceed threshold T; surplus redistributes to the rest"): find T
    * with Σ_i min(size_i, T) = B, allocate each source
    * min(size_i, T). Closed form on the sorted sizes s_1 ≤ … ≤ s_K
    * with prefix sums P: for the unique i with T ∈ [s_{i-1}, s_i],
    * T = (B − P_{i-1}) / (K − i + 1); if B ≥ Σ, nothing is capped.
    *
    * Shape at 100 TB: ONE dense groupBy shuffle on source computes the
    * sizes; everything after runs on K rows (K = source count — tiny
    * by definition), so the deliberate global-ordered window is a
    * K-row single partition, and the resulting per-source allocation
    * is a broadcast-scale table applied map-side by the sampler
    * (text13's per-source quota admission takes exactly this T as its
    * quota). All arithmetic is integer until the final T division,
    * mirrored bit-for-bit in the oracle.
    */
  private def waterFill: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val sizes = Tables(s, dir).documents
      .select(col("source"), tokenCount(col("text")).as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("sz"))
    val bySz = Window.orderBy(col("sz"), col("source"))
    sizes
      .withColumn("__i", row_number().over(bySz))
      .withColumn(
        "__prefix",
        coalesce(
          sum(col("sz")).over(bySz.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L))
      )
      .withColumn("__prev_sz", coalesce(lag(col("sz"), 1).over(bySz), lit(0L)))
      .withColumn("__total", expr("sum(sz) OVER ()"))
      .withColumn("__k", expr("count(*) OVER ()"))
      .withColumn(
        "__t_cand",
        (lit(WF_FRAC) * col("__total").cast("double") -
          col("__prefix").cast("double")) /
          (col("__k") - col("__i") + 1).cast("double")
      )
      .withColumn(
        "__t",
        expr("""min(CASE WHEN CAST(__prev_sz AS DOUBLE) <= __t_cand
               |         AND __t_cand <= CAST(sz AS DOUBLE)
               |        THEN __t_cand END) OVER ()""".stripMargin)
      )
      .select(
        col("source"),
        col("sz").as("n_tokens"),
        when(col("__t").isNull, col("sz").cast("double"))
          .otherwise(least(col("sz").cast("double"), col("__t")))
          .as("alloc")
      )
      .withColumn("kept_frac", col("alloc") / col("n_tokens").cast("double"))
      .orderBy("source")
  }

  /** Per-source quota for text30 — must stay at or under the smallest
    * source's doc count at the gated SFs for a dense round-robin; a
    * source exhausting early just leaves position holes (the order
    * stays total and deterministic either way).
    */
  private[ops] val INTERLEAVE_QUOTA = 20L

  /** text30: deterministic round-robin source interleave — the
    * curriculum ORDER for a balanced training mix. text13/text29
    * decide HOW MUCH of each source to take; this decides the
    * sequence the trainer reads: position (r−1)·K + (s−1) for the
    * r-th doc (by per-source deterministic hash rank) of the s-th
    * source (alphabetical) — sources alternate every K positions, so
    * no gradient window ever sees a single-source run, with no RNG
    * anywhere (re-runs and backfills reproduce the order bit-exactly).
    *
    * Scale: one bounded window per SOURCE partition for the rank
    * (WindowGroupLimit pushes the `r ≤ quota` cut below the shuffle,
    * q55's discipline), a K-row broadcast for source indices, and a
    * closed-form position — never a global sort or a single-reducer
    * window over the corpus.
    */
  private val interleave: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("hk"), col("doc_id"))
    val wIdx = org.apache.spark.sql.expressions.Window.orderBy("source")
    val si = docs
      .select(col("source"))
      .distinct()
      .withColumn("si", row_number().over(wIdx).cast("long"))
    val k = si.agg(count(lit(1)).as("k"))
    docs
      .select(
        col("doc_id"),
        col("source"),
        PortableHash
          .h32(concat(lit("il:"), col("doc_id").cast("string")))
          .as("hk")
      )
      .withColumn("r", row_number().over(wSrc).cast("long"))
      .filter(col("r") <= INTERLEAVE_QUOTA)
      .join(broadcast(si), "source")
      .crossJoin(broadcast(k))
      .select(
        col("doc_id"),
        col("source"),
        col("r"),
        col("si"),
        ((col("r") - 1) * col("k") + col("si") - 1).as("pos")
      )
      .orderBy("pos")
  }

  /** text31: tokenizer fertility report — characters per token and
    * tokens per document by (source, lang), the signal that says how
    * well a tokenizer compresses each corpus slice (a lang whose
    * chars/token collapses toward 1 is being shredded into bytes —
    * the classic under-trained-tokenizer symptom — and its docs cost
    * proportionally more sequence budget per unit of text). Counts
    * are exact BIGINTs off one dense (source, lang) aggregate; the
    * two ratios are single closing IEEE divisions.
    */
  private val fertility: Q = (s, dir) => {
    val d = Tables(s, dir).documents
      .select(
        col("source"),
        col("lang"),
        col("n_chars"),
        tokenCountOf(tokens(col("text"))).cast("long").as("n_toks")
      )
    d.groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_toks")).as("sum_tokens")
      )
      .withColumn(
        "chars_per_token",
        col("sum_chars").cast("double") / col("sum_tokens")
      )
      .withColumn(
        "tokens_per_doc",
        col("sum_tokens").cast("double") / col("n_docs")
      )
      .orderBy("source", "lang")
  }

  val queries: Map[String, Q] = named(
    "text31_fertility" -> fertility,
    "text30_interleave" -> interleave,
    "text29_water_fill" -> waterFill,
    "text28_quality_classifier" -> qualityClassifier,
    "text22_dsir" -> dsir,
    "text23_oov" -> oovRate,
    "text24_zipf" -> zipf,
    "text25_novelty" -> novelty,
    "pipe04_corpus_report" -> corpusReport,
    "text26_gopher_rules" -> gopherRules,
    "text27_ccnet_buckets" -> ccnetBuckets
  )

  val oracle: Map[String, String] = named(
    "text31_fertility" ->
      s"""SELECT source, lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS sum_tokens,
         |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
         |    / CAST(SUM(len($toksSql)) AS BIGINT) AS chars_per_token,
         |  CAST(CAST(SUM(len($toksSql)) AS BIGINT) AS DOUBLE)
         |    / COUNT(*) AS tokens_per_doc
         |FROM documents
         |GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin,
    "text30_interleave" -> {
      val h = PortableHash.sqlH32("concat('il:', CAST(doc_id AS VARCHAR))")
      s"""WITH si AS (SELECT source,
         |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS si
         |  FROM (SELECT DISTINCT source FROM documents)),
         |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM si),
         |r AS (SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY $h, doc_id) AS BIGINT) AS r
         |  FROM documents)
         |SELECT r.doc_id, r.source, r.r, si.si,
         |  (r.r - 1) * k.k + si.si - 1 AS pos
         |FROM r JOIN si USING (source), k
         |WHERE r.r <= $INTERLEAVE_QUOTA
         |ORDER BY pos""".stripMargin
    },
    // same closed form over the sorted sizes; every windowed integer
    // SUM is pinned to BIGINT (HUGEINT lint) and the T division is
    // the only float op on both sides
    "text29_water_fill" ->
      s"""WITH n AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS n_tok
         |           FROM documents),
         |sz AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS sz
         |       FROM n GROUP BY source),
         |o AS (SELECT source, sz,
         |        ROW_NUMBER() OVER w AS i,
         |        CAST(COALESCE(SUM(sz) OVER (ORDER BY sz, source
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS prefix,
         |        COALESCE(LAG(sz, 1) OVER w, 0) AS prev_sz,
         |        CAST(SUM(sz) OVER () AS BIGINT) AS total,
         |        COUNT(*) OVER () AS k
         |      FROM sz WINDOW w AS (ORDER BY sz, source)),
         |t AS (SELECT *,
         |        ($WF_FRAC * CAST(total AS DOUBLE) - CAST(prefix AS DOUBLE))
         |          / CAST(k - i + 1 AS DOUBLE) AS t_cand
         |      FROM o),
         |thr AS (SELECT MIN(CASE WHEN CAST(prev_sz AS DOUBLE) <= t_cand
         |                     AND t_cand <= CAST(sz AS DOUBLE)
         |                    THEN t_cand END) AS t
         |        FROM t)
         |SELECT source, sz AS n_tokens,
         |  CASE WHEN thr.t IS NULL THEN CAST(sz AS DOUBLE)
         |       ELSE least(CAST(sz AS DOUBLE), thr.t) END AS alloc,
         |  CASE WHEN thr.t IS NULL THEN CAST(sz AS DOUBLE)
         |       ELSE least(CAST(sz AS DOUBLE), thr.t) END
         |    / CAST(sz AS DOUBLE) AS kept_frac
         |FROM sz, thr ORDER BY source""".stripMargin,
    "text28_quality_classifier" -> {
      val wlit = qcWeights.mkString("[", ",", "]")
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(list_sum(list_transform(toks,
         |    t -> ($wlit)[CAST(${PortableHash.sqlH32("t")} % $qcDim
         |           AS INT) + 1])) AS BIGINT) AS margin_num
         |  FROM d)
         |SELECT doc_id, n_tokens, margin_num,
         |  CAST(margin_num AS DOUBLE)
         |    / (CAST(n_tokens AS DOUBLE) * 2147483648.0) AS margin,
         |  CAST(margin_num AS DOUBLE)
         |    / (CAST(n_tokens AS DOUBLE) * 2147483648.0) > $qcTau AS keep
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "text22_dsir" ->
      s"""WITH d AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |bg AS (SELECT doc_id, lang,
         |         unnest(list_transform(generate_series(1, len(toks) - 1),
         |                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |       FROM d),
         |i AS (SELECT doc_id, lang,
         |        ${PortableHash.sqlH32("bg")} % $dsirBuckets AS bucket
         |      FROM bg),
         |h AS (SELECT bucket, COUNT(*) AS rb,
         |        CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |          AS BIGINT) AS tb
         |      FROM i GROUP BY bucket),
         |b AS (SELECT i.doc_id,
         |        CAST((len(bin(h.tb + 1)) - 1) - (len(bin(h.rb + 1)) - 1)
         |          AS BIGINT) AS bits
         |      FROM i JOIN h USING (bucket))
         |SELECT doc_id, COUNT(*) AS n_feat,
         |  CAST(SUM(bits) AS BIGINT) AS weight_bits
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text23_oov" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS tok FROM documents),
         |st AS (SELECT source, tok, COUNT(*) AS c FROM t
         |       GROUP BY source, tok),
         |cf AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cf FROM st
         |       GROUP BY tok),
         |v AS (SELECT tok FROM cf ORDER BY cf DESC, tok ASC LIMIT $oovV),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens
         |        FROM st GROUP BY source),
         |o AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_oov FROM st
         |      WHERE tok NOT IN (SELECT tok FROM v) GROUP BY source)
         |SELECT tot.source, tot.n_tokens,
         |  COALESCE(o.n_oov, 0) AS n_oov,
         |  CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / tot.n_tokens AS oov_rate
         |FROM tot LEFT JOIN o USING (source) ORDER BY source""".stripMargin,
    "text24_zipf" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
         |f AS (SELECT tok, COUNT(*) AS f FROM t GROUP BY tok),
         |v AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok ASC)
         |        AS rank
         |      FROM f ORDER BY f DESC, tok ASC LIMIT $zipfV),
         |xy AS (SELECT CAST(len(bin(rank)) - 1 AS BIGINT) AS x,
         |              CAST(len(bin(f)) - 1 AS BIGINT) AS y FROM v),
         |s AS (SELECT COUNT(*) AS n,
         |        CAST(SUM(x) AS BIGINT) AS sx,
         |        CAST(SUM(y) AS BIGINT) AS sy,
         |        CAST(SUM(x * x) AS BIGINT) AS sxx,
         |        CAST(SUM(x * y) AS BIGINT) AS sxy
         |      FROM xy)
         |SELECT n,
         |  CAST(n * sxy - sx * sy AS DOUBLE)
         |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
         |  (CAST(sy AS DOUBLE)
         |    - CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE)
         |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
         |FROM s""".stripMargin,
    "text25_novelty" ->
      s"""WITH prep AS (SELECT doc_id,
         |        ${TextQueriesSqlFragments.normSql} AS norm,
         |        string_split(${TextQueriesSqlFragments.normSql}, ' ') AS toks
         |      FROM documents),
         |sh AS (SELECT doc_id,
         |         unnest(${TextQueriesSqlFragments.shinglesSql}) AS sh
         |       FROM prep),
         |i AS (SELECT DISTINCT doc_id,
         |        ${PortableHash.sqlH32("sh")} AS h FROM sh),
         |f AS (SELECT h, MIN(doc_id) AS doc_id FROM i GROUP BY h),
         |nv AS (SELECT doc_id, COUNT(*) AS n_novel FROM f GROUP BY doc_id),
         |ns AS (SELECT doc_id, COUNT(*) AS n_shingles FROM i GROUP BY doc_id)
         |SELECT ns.doc_id, ns.n_shingles,
         |  CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
         |  CAST(COALESCE(nv.n_novel, 0) AS DOUBLE) / ns.n_shingles AS novelty
         |FROM ns LEFT JOIN nv USING (doc_id)
         |ORDER BY ns.doc_id""".stripMargin,
    "pipe04_corpus_report" ->
      s"""WITH d AS (SELECT source, lang,
         |        md5(${TextQueriesSqlFragments.normSql}) AS fp,
         |        CAST(len($toksSql) AS BIGINT) AS n_toks
         |      FROM documents),
         |a AS (SELECT source, COUNT(*) AS n_docs,
         |        COUNT(DISTINCT fp) AS n_uniq,
         |        CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_en,
         |        CAST(SUM(n_toks) AS BIGINT) AS total_tokens
         |      FROM d GROUP BY source)
         |SELECT source, n_docs, n_uniq,
         |  CAST(n_docs - n_uniq AS DOUBLE) / n_docs AS dup_rate,
         |  n_en, CAST(n_en AS DOUBLE) / n_docs AS pct_en,
         |  total_tokens,
         |  CAST(total_tokens AS DOUBLE) / n_docs AS mean_tokens,
         |  CAST(${DedupQueries.hotBucketCountSql(HOT_BUCKET_REPORT_CAP)}
         |    AS BIGINT) AS hot_buckets
         |FROM a ORDER BY source""".stripMargin,
    "text26_gopher_rules" -> {
      val stopsSql = gopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_words,
         |    CAST(COALESCE(list_aggregate(
         |      list_transform($toksSql, t -> len(t)), 'sum'), 0) AS BIGINT)
         |      AS n_chars,
         |    CAST(len(list_filter($toksSql,
         |      t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(list_intersect(
         |      list_distinct(list_transform($toksSql, t -> lower(t))),
         |      $stopsSql)) AS BIGINT) AS n_stop,
         |    CAST(len(text) - len(replace(text, '#', ''))
         |      + (len(text) - len(replace(text, '...', ''))) // 3
         |      AS BIGINT) AS n_sym
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_words,
         |    CAST(n_chars AS DOUBLE) / n_words AS mean_wl,
         |    CAST(n_sym AS DOUBLE) / n_words AS symbol_ratio,
         |    CAST(n_alpha AS DOUBLE) / n_words AS alpha_ratio,
         |    n_stop
         |  FROM m)
         |SELECT doc_id, n_words, mean_wl, symbol_ratio, alpha_ratio, n_stop,
         |  CAST((CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END)
         |    + (CASE WHEN mean_wl < 3.0 OR mean_wl > 10.0 THEN 2 ELSE 0 END)
         |    + (CASE WHEN symbol_ratio > 0.1 THEN 4 ELSE 0 END)
         |    + (CASE WHEN alpha_ratio < 0.8 THEN 8 ELSE 0 END)
         |    + (CASE WHEN n_stop < 2 THEN 16 ELSE 0 END) AS BIGINT)
         |    AS fail_mask,
         |  ((CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END)
         |    + (CASE WHEN mean_wl < 3.0 OR mean_wl > 10.0 THEN 2 ELSE 0 END)
         |    + (CASE WHEN symbol_ratio > 0.1 THEN 4 ELSE 0 END)
         |    + (CASE WHEN alpha_ratio < 0.8 THEN 8 ELSE 0 END)
         |    + (CASE WHEN n_stop < 2 THEN 16 ELSE 0 END)) = 0 AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "text27_ccnet_buckets" ->
      s"""WITH lm AS (${TextQueries.oracle("text19_lm_score")}),
         |j AS (SELECT lm.doc_id, d.source, lm.mean_bits
         |      FROM lm JOIN documents d ON lm.doc_id = d.doc_id),
         |r AS (SELECT doc_id, source, mean_bits,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY mean_bits ASC, doc_id ASC) AS rk,
         |        COUNT(*) OVER (PARTITION BY source) AS n
         |      FROM j)
         |SELECT doc_id, source, mean_bits,
         |  CAST(1 + ((rk - 1) * 3) // n AS BIGINT) AS bucket
         |FROM r ORDER BY doc_id""".stripMargin
  )
}
