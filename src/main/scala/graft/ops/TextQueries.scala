package graft.ops

import graft.Tables
import graft.functions.PortableHash
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis queries over `documents`, each with a DuckDB oracle
  * mirroring the expression tree exactly (same tokenization, same
  * double-arithmetic order).
  */
object TextQueries extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  // -- DuckDB mirror fragments (lockstep with graft.functions.TextFunctions;
  //    normalization is the single shared constant) --
  private val toksSql = """regexp_split_to_array(trim(text), '\s+')"""
  private val normSql = TextQueriesSqlFragments.normSql
  private def stopSql(words: Seq[String]) =
    s"len(list_filter($toksSql, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
  private val punctSql =
    """len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g'))"""
  private val cjkSql =
    "len(text) - len(regexp_replace(text, '[一-鿿]', '', 'g'))"

  // text01-03 stage `tokens(text)` as ONE projection column and every
  // derived stat reads the staged array: higher-order/array functions
  // are interpreted, and an inlined `tokens(text)` subtree would be
  // re-evaluated once per stat (CollapseProject keeps a
  // multiply-referenced non-cheap alias staged — plan-asserted in
  // TextQueriesPlanSpec: exactly one split per query).

  private val tokenStats: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        tokenCountOf(col("__toks")).as("n_tokens"),
        uniqueTokenCountOf(col("__toks")).as("n_uniq"),
        tokenCharCountOf(col("__toks")).as("n_tok_chars")
      )
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_uniq"),
        col("n_tok_chars"),
        (col("n_tok_chars").cast("double") / col("n_tokens")).as("avg_tok_len"),
        (col("n_uniq").cast("double") / col("n_tokens")).as("ttr")
      )
      .orderBy("doc_id")

  private val quality: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        tokenCountOf(col("__toks")).as("n_tokens"),
        punctCount(col("text")).as("n_punct"),
        stopwordCountOf(col("__toks"), stopwords("en")).as("n_stop"),
        uniqueTokenCountOf(col("__toks")).as("__n_uniq")
      )
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_punct"),
        col("n_stop"),
        qualityScoreFromCounts(col("n_tokens"), col("n_stop"), col("__n_uniq"))
          .as("quality")
      )
      .orderBy("doc_id")

  private val langid: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("lang"),
        cjkCharCount(col("text")).as("__cjk"),
        stopwordCountOf(col("__toks"), stopwords("en")).as("__en"),
        stopwordCountOf(col("__toks"), stopwords("fr")).as("__fr"),
        stopwordCountOf(col("__toks"), stopwords("de")).as("__de"),
        stopwordCountOf(col("__toks"), stopwords("es")).as("__es")
      )
      .groupBy(
        col("lang"),
        langIdFromCounts(
          col("__cjk"),
          col("__en"),
          col("__fr"),
          col("__de"),
          col("__es")
        ).as("pred_lang")
      )
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  private val fingerprint: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        fingerprintMd5(col("text")).as("fp_md5"),
        // fused codegen form of fingerprintRolling (value-identical;
        // see graft.plans.RollingFingerprint)
        graft.plans.RollingFingerprint(s, col("text")).as("fp_roll")
      )
      .orderBy("doc_id")

  /** Corpus token frequency via explode (the Generate operator): the
    * canonical build-a-vocabulary pass. Map-side expansion, hash
    * aggregate on the token, top-50 with a lexical tiebreak.
    *
    * Scale note: `orderBy().limit(k)` here is NOT a global sort —
    * Catalyst plans it as TakeOrderedAndProject (per-partition top-k
    * heaps, merged on the driver over n_partitions·k rows), so the
    * top-50 costs one hash-agg shuffle plus an O(k) merge at any
    * corpus size (asserted in TextQueriesPlanSpec). The aggregate's
    * key space (the vocabulary) grows sublinearly with the corpus;
    * if even that shuffle must shrink, compose a count-min sketch
    * before the exact pass — not needed at this key cardinality.
    */
  private val topTokens: Q = (s, dir) =>
    Tables(s, dir).documents
      // explode_outer + null filter: barrier against
      // InferFiltersFromGenerate re-inlining the tokenizer into an
      // injected size()>0 pre-filter (2× the generator per row);
      // identical rows to plain explode (tokens() never yields null
      // elements, and null/empty arrays drop either way)
      .select(explode_outer(tokens(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)

  /** BPE-ish token counting: a GPT-2-style pre-tokenizer regex
    * (letter runs | single digits | single punctuation) against the
    * whitespace count — the standard cheap estimate of model-token
    * cost per document.
    */
  private val bpeRegex = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  private val bpeCount: Q = (s, dir) =>
    // both regex scans staged once (the ratio re-reads the counted
    // columns, not the extraction) — same discipline as text01-03
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        when(col("text").isNotNull,
          size(regexp_extract_all(col("text"), lit(bpeRegex), lit(0)))
        ).as("n_bpe"),
        tokenCount(col("text")).as("n_ws")
      )
      .select(
        col("doc_id"),
        col("n_bpe"),
        col("n_ws"),
        (col("n_bpe").cast("double") / col("n_ws")).as("bpe_per_ws")
      )
      .orderBy("doc_id")

  /** PII/boilerplate scrub — the redaction pass every training-data
    * pipeline runs before tokenization: URLs then emails replaced
    * with sentinel tags (URL first, so an email-looking userinfo in a
    * URL is consumed as part of the URL), plus per-doc match counts
    * for the redaction report. Regexes stay in the RE2 ∩ java.util
    * .regex common subset so both engines match identically; map-side
    * only, no shuffle.
    */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^\\s]+"
  private val piiScrub: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        when(col("text").isNotNull,
          size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
        ).as("n_email"),
        when(col("text").isNotNull,
          size(regexp_extract_all(col("text"), lit(urlRe), lit(0)))
        ).as("n_url"),
        regexp_replace(
          regexp_replace(col("text"), urlRe, "<URL>"),
          emailRe,
          "<EMAIL>"
        ).as("scrubbed")
      )
      .orderBy("doc_id")

  /** Per-document top-3 keywords by tf·idf. The idf is the RAW ratio
    * n_docs/df (no logarithm — log() is a transcendental whose last
    * ulp differs across libm implementations, which would break
    * bit-parity; +,−,×,÷ are IEEE-exact on both engines and the
    * ranking is order-isomorphic to the log form for fixed tf).
    *
    * Shape at scale: tf = one shuffle on (doc_id, token); df = one
    * shuffle on token (map-side combined); n_docs broadcast; final
    * per-doc rank partitions on doc_id. All keys dense; the df join
    * is the classic frequency-table broadcast candidate once the
    * vocabulary fits (AQE decides).
    */
  private val tfidf: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir).documents
    // explode_outer: InferFiltersFromGenerate would duplicate the
    // tokenizer into a pushed size()>0 filter (token arrays are never
    // empty — split of "" yields [""] — so outer is identical)
    val toks = docs.select(col("doc_id"), explode_outer(tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("token"), col("rank"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** Count-min heavy-hitters check: build the distributed CMS over
    * all token occurrences (one typed-Aggregator pass, map-side
    * partial sketches merged), then compare its estimates against the
    * exact counts of the top-10 tokens. The sketch is a deterministic
    * function of the portable hash, so the WHOLE pipeline — table and
    * estimates — is oracle-reconstructed in SQL. `cms_est ≥ exact_n`
    * by construction; `overcount` is the collision error the ε/δ
    * bound caps at scale.
    */
  private val cmsHeavy: Q = (s, dir) => {
    import s.implicits._
    import graft.sim.CountMinAggregator.{DEPTH, WIDTH, seed, sketch}
    val toks = Tables(s, dir).documents
      .select(explode_outer(tokens(col("text"))).as("token"))
      .as[String]
    val cms = toks.select(sketch.toColumn.name("cms"))
    val exact = toks
      .groupBy(col("token"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token").asc)
      .limit(10)
    val est = least(
      (0 until DEPTH).map(i =>
        element_at(
          col("cms"),
          pmod(graft.functions.PortableHash.h32(col("token"), seed(i)), lit(WIDTH.toLong))
            .cast("int") + lit(i * WIDTH) + lit(1)
        )
      ): _*
    )
    exact
      .crossJoin(broadcast(cms))
      .select(
        col("token"),
        col("exact_n"),
        est.as("cms_est"),
        (est - col("exact_n")).as("overcount")
      )
      .orderBy(col("exact_n").desc, col("token").asc)
  }

  /** Sequence packing for training: each doc gets the chunk index and
    * intra-chunk offset of its first token under a fixed token budget
    * per training sequence (concat-and-chunk planning — the step
    * between cleaning and tokenizer sharding in an LLM data pipeline).
    *
    * chunk_id = floor(prefix / B), offset = prefix mod B, where
    * prefix = total tokens of all docs BEFORE this one in doc_id
    * order. A naive `SUM OVER (ORDER BY doc_id)` is a single-reducer
    * global window; this is the scalable two-level prefix scan with a
    * VALUE-derived bucket key (doc_id div W — deterministic, unlike
    * spark_partition_id over sampled range bounds):
    *   - local running sums window over each W-doc bucket (bounded);
    *   - bucket totals (tiny) get their own prefix scan;
    *   - prefix = bucket offset + local running sum, map-side join.
    * W is derived from the id domain (W = ceil(sqrt(max_id+1)),
    * floored at 64): BOTH levels are then bounded by ~sqrt(n) rows —
    * 10^11 docs put ~316k rows through each window partition, never
    * 1.6G through one reducer. PackPlanSpec pins that bound on the
    * plan. Integer arithmetic throughout — exact on both engines.
    */
  private[ops] val packBudget = 512L
  private val pack: Q = (s, dir) => {
    val withN = Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        tokenCountOf(col("__toks")).cast("long").as("n_tokens")
      )
    packChunks(withN, packBudget).orderBy("doc_id")
  }

  /** Assign (chunk_id, chunk_offset) for budget-B sequence packing
    * over `(doc_id, n_tokens)` rows in doc_id order — the two-level
    * distributed prefix scan described on text10. `width` (docs per
    * prefix bucket) defaults to ceil(sqrt(max_id+1)) so that the
    * per-bucket local window and the single bucket-totals window are
    * BOTH bounded by ~sqrt(n) rows; the value of the result does not
    * depend on it. The max-id probe is one min/max-stats scan of the
    * id column — the same class of pre-plan statistic AQE reads.
    */
  def packChunks(
      withN: DataFrame,
      budget: Long,
      width: Option[Long] = None
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = width.getOrElse {
      val bound = withN.agg(max(col("doc_id"))).head() match {
        case r if r.isNullAt(0) => 1L
        case r                  => r.getLong(0) + 1L
      }
      math.max(64L, math.ceil(math.sqrt(bound.toDouble)).toLong)
    }
    val bucketed = withN.withColumn("__bucket", expr(s"doc_id div $w"))
    val localW = Window
      .partitionBy(col("__bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketW = Window
      .orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketTotals = bucketed
      .groupBy(col("__bucket"))
      .agg(sum(col("n_tokens")).as("__btotal"))
      .withColumn("__boffset", coalesce(sum(col("__btotal")).over(bucketW), lit(0L)))
      .select(col("__bucket"), col("__boffset"))
    bucketed
      .withColumn("__local", coalesce(sum(col("n_tokens")).over(localW), lit(0L)))
      .join(broadcast(bucketTotals), "__bucket")
      .select(
        col("doc_id"),
        col("n_tokens"),
        // `div`: exact integer division (Column./ is double division,
        // which would round once prefixes pass 2^53 at extreme scale)
        expr(s"(__boffset + __local) div $budget").as("chunk_id"),
        pmod(col("__boffset") + col("__local"), lit(budget)).as("chunk_offset")
      )
  }

  /** The end-to-end corpus pipeline, as ONE declarative plan: score
    * quality + language per doc (tokens staged once), keep en docs at
    * quality ≥ 0.5, drop exact near-copies (canonical = min doc_id per
    * normalized fingerprint, one shuffle on the fingerprint), then
    * assign the deterministic hash train/eval split. This is the
    * composition a training-data pipeline runs nightly; expressing it
    * as one plan lets Catalyst pipeline the filters into the scan and
    * share the single tokenizer projection across every consumer.
    */
  private val corpusPipeline: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val counted = Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        tokenCountOf(col("__toks")).as("n_tokens"),
        stopwordCountOf(col("__toks"), stopwords("en")).as("__en"),
        uniqueTokenCountOf(col("__toks")).as("__nuniq"),
        cjkCharCount(col("text")).as("__cjk"),
        stopwordCountOf(col("__toks"), stopwords("fr")).as("__fr"),
        stopwordCountOf(col("__toks"), stopwords("de")).as("__de"),
        stopwordCountOf(col("__toks"), stopwords("es")).as("__es"),
        fingerprintMd5(col("text")).as("__fp"),
        // pushdown barrier: the quality/language filter below is a
        // COMPUTED predicate (it could never reach the parquet scan as
        // a pushed filter), but PushPredicateThroughNonJoin would still
        // rewrite it below these projections by substituting the
        // aliases — re-inlining the tokenizer ~20× into the filter
        // condition (the rule only fires on an all-deterministic
        // project list). One non-deterministic column blocks it — and
        // it must stay REFERENCED downstream (the window's no-op
        // tiebreak below) or ColumnPruning deletes it and the project
        // turns deterministic again. Plan-asserted in
        // TextQueriesPlanSpec.
        monotonically_increasing_id().as("__nd")
      )
    val scored = counted
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("__fp"),
        col("__nd"),
        qualityScoreFromCounts(col("n_tokens"), col("__en"), col("__nuniq"))
          .as("quality"),
        langIdFromCounts(
          col("__cjk"),
          col("__en"),
          col("__fr"),
          col("__de"),
          col("__es")
        ).as("__lang")
      )
    val kept = scored
      .filter(col("__lang") === "en" && col("quality") >= 0.5)
      .withColumn(
        "__rn",
        // __nd is a NO-OP tiebreak (doc_id is unique) that keeps the
        // barrier column alive through pruning — see above
        row_number().over(
          Window.partitionBy(col("__fp")).orderBy(col("doc_id"), col("__nd"))
        )
      )
      .filter(col("__rn") === 1)
    val bucket = pmod(
      PortableHash.h32(col("doc_id").cast("string")),
      lit(100L)
    )
    kept
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("quality"),
        when(bucket < 90, lit("train")).otherwise(lit("eval")).as("split")
      )
      .orderBy("doc_id")
  }

  /** Repetition quality metrics (the Gopher-style repetition filters a
    * pretraining corpus runs): per doc, the duplicate-token fraction
    * `1 − n_uniq/n_tokens` and the top-bigram mass `max bigram count /
    * (n_tokens − 1)`, plus the keep/drop flag. Tokens are staged once;
    * the bigram mode is computed distributively — explode bigrams,
    * hash-aggregate on (doc_id, bigram), max per doc — two dense-key
    * shuffles and a doc_id join, never a per-row quadratic HOF. At
    * corpus scale every key is dense (doc_id) or near-unique
    * (doc_id×bigram), so the aggregation is skew-free by construction.
    */
  private val repetition: Q = (s, dir) => {
    val stats = Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        col("source"),
        tokenCountOf(col("__toks")).as("n_tokens"),
        uniqueTokenCountOf(col("__toks")).as("__n_uniq"),
        col("__toks")
      )
    val topBigram = stats
      // explode_outer + null filter: see topTokens barrier note
      .select(col("doc_id"), explode_outer(bigramsOf(col("__toks"))).as("__bg"))
      .filter(col("__bg").isNotNull)
      .groupBy("doc_id", "__bg")
      .agg(count(lit(1)).as("__c"))
      .groupBy("doc_id")
      .agg(max(col("__c")).as("__top_bg"))
    stats
      .drop("__toks")
      .join(topBigram, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        col("n_tokens"),
        (lit(1.0) - col("__n_uniq").cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        when(
          col("n_tokens") >= 2,
          col("__top_bg").cast("double") / (col("n_tokens") - lit(1))
        ).as("top_bigram_frac")
      )
      .select(
        col("doc_id"),
        col("source"),
        col("n_tokens"),
        col("dup_token_frac"),
        col("top_bigram_frac"),
        (col("dup_token_frac") > 0.3 ||
          coalesce(col("top_bigram_frac"), lit(0.0)) > 0.18)
          .as("is_repetitive")
      )
      .orderBy("doc_id")
  }

  /** Consecutive-run token cleanup (the CCNet/RefinedWeb-style
    * boilerplate pass a pretraining pipeline runs before counting):
    * collapse each run of identically repeated adjacent tokens to one
    * occurrence ("batch batch batch" -> "batch"), keeping non-adjacent
    * repeats. Pure array HOF per row — the index lambda compares each
    * token to its predecessor — so the op is map-side only; the staged
    * token array is read by both the filter and the counts.
    */
  private val dedupRuns: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .withColumn(
        "__kept",
        // Spark's HOF index is 0-based while element_at is 1-based, so
        // element_at(toks, i) IS the predecessor of position i
        filter(col("__toks"), (t, i) => i === 0 || t =!= element_at(col("__toks"), i))
      )
      .select(
        col("doc_id"),
        tokenCountOf(col("__toks")).as("n_tokens"),
        when(col("__kept").isNotNull, size(col("__kept"))).as("n_kept"),
        array_join(col("__kept"), " ").as("cleaned")
      )
      .orderBy("doc_id")

  /** Per-source token budgeting (domain balancing): walk each source's
    * docs in doc_id order and keep rows while the running token total
    * stays inside the quota — the deterministic "cap every domain at N
    * tokens" pass a data mixer runs. The window is PARTITIONED by
    * source: each domain's scan is independent, so the op distributes
    * by construction (no global window anywhere).
    */
  // 800 binds at every fixture SF (per-source masses are ~1.4k tokens
  // at sf0.001/0.01 and ~13k at sf0.1), so the gate actually checks
  // the cutoff, not just the running sum
  private[ops] val quotaTokens = 800L
  private val sourceQuota: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        col("source"),
        tokenCountOf(col("__toks")).cast("long").as("n_tokens")
      )
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= quotaTokens)
      .orderBy("source", "doc_id")
  }

  /** Sliding-window chunking with overlap (RAG / context-window prep):
    * split each doc into 128-token chunks every 96 tokens, so adjacent
    * chunks share a 32-token overlap and no token is more than one
    * chunk boundary from full context. Chunk starts are a pure
    * function of the doc's own token count (integer `div`), so the op
    * is map-side only — stage tokens once, explode a tiny index
    * sequence, slice the staged array; no shuffle at any scale, and
    * output size is bounded by (1 + overlap/stride) ≈ 1.33× the corpus.
    */
  private val chunkLen = 128
  private val chunkStride = 96
  private val chunkOverlap: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        col("__toks"),
        tokenCountOf(col("__toks")).cast("long").as("n_tokens")
      )
      .filter(col("n_tokens") > 0)
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("__toks"),
        explode(
          sequence(lit(0L), expr(s"(n_tokens - 1) div $chunkStride"))
        ).as("chunk_idx")
      )
      .select(
        col("doc_id"),
        col("chunk_idx"),
        (col("chunk_idx") * chunkStride).as("tok_start"),
        least(col("chunk_idx") * chunkStride + chunkLen, col("n_tokens"))
          .as("tok_end"),
        array_join(
          slice(
            col("__toks"),
            (col("chunk_idx") * chunkStride + 1).cast("int"),
            lit(chunkLen)
          ),
          " "
        ).as("chunk_text")
      )
      .orderBy("doc_id", "chunk_idx")

  /** Curriculum binning: bucket the corpus into four STATIC quality
    * bands (thresholds, not quantiles — map-side and scale-free,
    * where an exact quantile split is q37's global window; the
    * approx-quantile cut-point recipe in [[ApproxNtile]] upgrades
    * this to data-relative bands) and report per-band mass — the
    * summary a curriculum scheduler consumes to order training from
    * clean to noisy. Aggregates are order-independent: counts, an
    * integer token sum, and min/max of the identical-on-both-engines
    * quality double.
    */
  private val curriculum: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        tokenCountOf(col("__toks")).cast("long").as("n_tokens"),
        qualityScoreFromCounts(
          tokenCountOf(col("__toks")),
          stopwordCountOf(col("__toks"), stopwords("en")),
          uniqueTokenCountOf(col("__toks"))
        ).as("quality")
      )
      .groupBy(
        least(floor(col("quality") * 4), lit(3L)).cast("int").as("bin")
      )
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("quality")).as("min_q"),
        max(col("quality")).as("max_q")
      )
      .orderBy("bin")

  /** Token-rarity scoring — the integer-exact proxy for the unigram
    * surprisal (perplexity-style) quality filter: each token scores
    * floor(log2(N / freq)) bits (N = corpus token instances, freq =
    * the token's corpus count), a doc scores the mean over its
    * tokens. floor(log2(x)) is computed as `length(bin(x)) − 1` —
    * EXACT integer arithmetic on both engines, where a float log
    * would diverge in the last ulp and break the gate (the same
    * libm-free discipline as text08's tf-idf and q57's HLL).
    *
    * Shape at scale: one vocabulary aggregation, one token→freq join
    * (broadcast when the vocab is small, shuffle on the token
    * otherwise — Zipf makes the hot keys the LOW-information ones, so
    * AQE skew-split handles them without correctness risk), one
    * dense doc_id aggregate; N is a broadcast scalar.
    */
  private val rarity: Q = (s, dir) => {
    val toks = Tables(s, dir).documents
      // explode_outer + null filter: see topTokens barrier note
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val total = freq.agg(sum(col("freq")).as("n_total"))
    toks
      .join(freq, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"),
        (length(bin(expr("n_total div freq"))) - 1).cast("long").as("bits")
      )
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("sum_bits"),
        (sum(col("bits")).cast("double") / count(lit(1))).as("mean_bits")
      )
      .orderBy("doc_id")
  }

  /** text19: bigram-LM surprisal scoring — the integer-exact stand-in
    * for the n-gram-LM (KenLM-style) perplexity filter every large
    * corpus build runs: train bigram counts ON the corpus itself, then
    * score each doc by its mean conditional surprisal. A bigram
    * (w1,w2) scores floor(log2(C(w1·)/C(w1,w2))) bits — C(w1·) the
    * corpus count of w1 as a bigram PREFIX, C(w1,w2) the bigram count
    * — via the `length(bin(x))−1` trick (text16's libm-free log2):
    * low mean bits = formulaic/repetitive text, high = incoherent
    * token soup; both tails get cut by a real filter.
    *
    * Shape at scale: bigram counts = one shuffle on the bigram key
    * (map-side combined; Zipf hot keys are the LOW-information ones —
    * AQE skew split is safe); prefix counts REUSE the bigram table
    * (second tiny aggregate, no re-scan of text); scoring joins on
    * the bigram key (broadcast once the model fits, shuffle + AQE
    * otherwise) and aggregates on dense doc_id. The corpus is scanned
    * for bigrams exactly once.
    */
  private val lmScore: Q = (s, dir) => {
    val bigr = Tables(s, dir).documents
      // explode_outer + null filter: see topTokens barrier note
      .select(
        col("doc_id"),
        explode_outer(bigramsOf(tokens(col("text")))).as("bg")
      )
      .filter(col("bg").isNotNull)
    val c2 = bigr.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = c2
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    bigr
      .join(c2, Seq("bg"))
      .join(c1, split(col("bg"), " ").getItem(0) === col("w1"))
      .select(
        col("doc_id"),
        (length(bin(expr("c1 div c2"))) - 1).cast("long").as("bits")
      )
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("sum_bits"),
        (sum(col("bits")).cast("double") / count(lit(1))).as("mean_bits")
      )
      .orderBy("doc_id")
  }

  /** text20: BM25 relevance scoring of the corpus against a fixed
    * query-term set — the retrieval primitive a targeted-data
    * curation pass runs (rank the crawl against a topic query, keep
    * the head). Okapi BM25 with k1=1.2, b=0.75 and the raw-ratio idf
    * (N−df+0.5)/(df+0.5) — no logarithm, same libm-free discipline
    * as text08: the ranking is order-isomorphic and the arithmetic
    * (+,−,×,÷) is IEEE-exact on both engines. Per-term scores are
    * quantized ONCE to integer picounits — `floor(s·10¹² + 0.5)`,
    * sim09's discipline, NOT `round(s, 12)`: Spark rounds through
    * BigDecimal HALF_UP while DuckDB rounds doubles in float space,
    * and at sf0.1 two term scores land exactly on the disagreement
    * boundary (found by the three-SF sweep) — then summed as exact
    * BIGINTs, so the per-doc total is independent of term arrival
    * order and the single closing division is IEEE-identical.
    * (Integer headroom: idf ≤ 2N+1, so the scaled term fits BIGINT
    * while N·10¹² < 2⁶³ — beyond ~4·10⁶ docs, drop the scale to
    * 10⁹, which this fixture-calibrated constant encodes.)
    *
    * Shape at scale: the tokenizer output is filtered to the query
    * terms BEFORE any shuffle (the explode feeds a pushed isin — the
    * surviving row count is O(matches), not O(corpus tokens)); df and
    * the corpus length stats are broadcast scalars; the only dense
    * shuffle is the per-doc aggregate on doc_id.
    */
  private val BM25_TERMS = Seq("spark", "merge", "window")
  private val BM25_K1 = 1.2
  private val BM25_B = 0.75
  private val bm25: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val withToks = docs.select(col("doc_id"), tokens(col("text")).as("__toks"))
    val dl = withToks.select(
      col("doc_id"),
      tokenCountOf(col("__toks")).cast("long").as("dl")
    )
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl")
    )
    val tf = withToks
      .select(col("doc_id"), explode(col("__toks")).as("tok"))
      .filter(col("tok").isin(BM25_TERMS: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf =
      (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val denom = col("tf").cast("double") +
      lit(BM25_K1) * (lit(1.0) - lit(BM25_B) + lit(BM25_B) * (col("dl").cast("double") / avgdl))
    val termScore = idf * (col("tf").cast("double") * (lit(BM25_K1) + lit(1.0))) / denom
    tf.join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(
        col("doc_id"),
        floor(termScore * lit(1e12) + lit(0.5)).cast("long").as("__s")
      )
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        (sum(col("__s")).cast("double") / lit(1e12)).as("bm25")
      )
      .orderBy("doc_id")
  }

  /** text21: per-source distribution drift — χ² divergence of each
    * source's unigram distribution from the corpus distribution, the
    * domain-shift detector a mixture pipeline watches (a source whose
    * χ² jumps between crawls changed its content; a source with
    * extreme χ² is an outlier domain). χ² instead of KL because it is
    * RATIONAL: sums of (p−q)²/q need only +,−,×,÷ — engine-exact
    * under pico-unit integer quantization (floor(x·10¹²+0.5), the
    * text20/sim09 rule — never round(x,12), which engines disagree on
    * at the half boundary) — where KL's log is libm territory (the
    * text08/text16 rule).
    *
    * The identity Σ_t (p_t−q_t)²/q_t = 1 + Σ_{t∈source}((p_t−q_t)²/q_t
    * − q_t) lets the sum run over SOURCE-PRESENT tokens only — the
    * absent-token tail collapses into the constant — so the plan
    * never materializes |vocab|×|sources| rows: one (source, token)
    * aggregate, one token-keyed corpus-count join (broadcast-eligible),
    * per-source totals broadcast back.
    */
  private val divergence: Q = (s, dir) => {
    val tok = Tables(s, dir).documents
      // explode_outer + null filter: see topTokens barrier note
      .select(col("source"), explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val cst = tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
    val ct = cst.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val ns = cst.groupBy(col("source")).agg(
      sum(col("c_st")).as("n_s"),
      count(lit(1)).as("n_types")
    )
    val nTotal = ct.agg(sum(col("c_t")).as("n_total"))
    val p = col("c_st").cast("double") / col("n_s")
    val q = col("c_t").cast("double") / col("n_total")
    val term = ((p - q) * (p - q)) / q - q
    cst
      .join(ct, "tok")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nTotal))
      .select(
        col("source"),
        col("n_s"),
        col("n_types"),
        // pico-unit quantization, NOT round(x,12): engines round
        // doubles differently on the half boundary (the text20 class)
        floor(term * lit(1e12) + lit(0.5)).cast("long").as("__t")
      )
      .groupBy(col("source"), col("n_s"), col("n_types"))
      .agg((lit(1.0) + sum(col("__t")).cast("double") / lit(1e12)).as("chi2"))
      .select(col("source"), col("n_s").as("n_tokens"), col("n_types"), col("chi2"))
      .orderBy("source")
  }

  /** text17: boundary-cut distribution of concat-and-chunk packing —
    * for each doc, how many budget-B sequence boundaries it straddles
    * (`span` = end chunk − start chunk), grouped into a distribution.
    * The pipeline health metric for text10's packer: span 0 docs fit
    * inside one training sequence; span ≥ 1 docs get cut, losing
    * cross-boundary attention. Derived entirely from [[packChunks]]
    * output (start prefix = chunk_id·B + chunk_offset), so span is
    * map-side integer arithmetic on top of the two-level prefix scan,
    * plus one tiny aggregation on `span` (a key with a handful of
    * distinct values — broadcast-size result at any corpus size).
    */
  private val packSpans: Q = (s, dir) => {
    val withN = Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        tokenCountOf(col("__toks")).cast("long").as("n_tokens")
      )
    packChunks(withN, packBudget)
      .select(
        col("n_tokens"),
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(
            expr(
              s"(chunk_id * $packBudget + chunk_offset + n_tokens - 1) div $packBudget"
            ) - col("chunk_id")
          )
          .as("span")
      )
      .groupBy(col("span"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens")
      )
      .orderBy("span")
  }

  /** text18: vocabulary growth curve (Heaps' law) — per doc_id-domain
    * slice, the token instances it contributes and the vocabulary
    * types FIRST seen in it, plus running totals. The diagnostic that
    * says whether more corpus still buys new vocabulary (V(n) ∝ n^β)
    * or the crawl has gone stale.
    *
    * first-seen is `min(doc_id) per token` — one vocabulary-keyed
    * aggregation, the same key space as text05 — and slicing is a
    * pure integer function of the id domain (div W, W from one max
    * probe), so both per-slice counts are dense-key aggregates; the
    * running totals window over exactly [[heapsSlices]] rows.
    */
  private val heapsSlices = 10L
  private val heaps: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(s, dir).documents
    val maxId = d.agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r                  => r.getLong(0)
    }
    val w = (maxId + heapsSlices) / heapsSlices
    // explode_outer + null filter: see topTokens barrier note
    val toks = d
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val inst = toks
      .groupBy(expr(s"doc_id div $w").as("slice"))
      .agg(count(lit(1)).as("n_instances"))
    val news = toks
      .groupBy(col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr(s"first_doc div $w").as("slice"))
      .agg(count(lit(1)).as("n_new_types"))
    val cum = Window
      .orderBy(col("slice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inst
      .join(news, Seq("slice"), "left")
      .select(
        col("slice"),
        col("n_instances"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types")
      )
      .withColumn("cum_instances", sum(col("n_instances")).over(cum))
      .withColumn("cum_types", sum(col("n_new_types")).over(cum))
      .orderBy("slice")
  }

  val queries: Map[String, Q] = named(
    "text21_divergence" -> divergence,
    "text20_bm25" -> bm25,
    "text19_lm_score" -> lmScore,
    "text18_heaps" -> heaps,
    "text17_pack_spans" -> packSpans,
    "text16_rarity" -> rarity,
    "text15_curriculum" -> curriculum,
    "text14_chunk_overlap" -> chunkOverlap,
    "text12_dedup_runs" -> dedupRuns,
    "text13_source_quota" -> sourceQuota,
    "text11_repetition" -> repetition,
    "pipe01_corpus" -> corpusPipeline,
    "text10_pack" -> pack,
    "text01_token_stats" -> tokenStats,
    "text02_quality" -> quality,
    "text03_langid" -> langid,
    "text04_fingerprint" -> fingerprint,
    "text05_top_tokens" -> topTokens,
    "text06_bpe_count" -> bpeCount,
    "text07_pii_scrub" -> piiScrub,
    "text08_tfidf" -> tfidf,
    "text09_cms_heavy" -> cmsHeavy
  )

  private val langCaseSql: String = {
    val en = stopSql(stopwords("en"))
    val fr = stopSql(stopwords("fr"))
    val de = stopSql(stopwords("de"))
    val es = stopSql(stopwords("es"))
    s"""CASE WHEN $cjkSql > 0 THEN 'zh'
       | WHEN $en >= $fr AND $en >= $de AND $en >= $es AND $en > 0 THEN 'en'
       | WHEN $fr >= $de AND $fr >= $es AND $fr > 0 THEN 'fr'
       | WHEN $de >= $es AND $de > 0 THEN 'de'
       | WHEN $es > 0 THEN 'es'
       | ELSE 'unknown' END""".stripMargin
  }

  val oracle: Map[String, String] = named(
    // CASTs: DuckDB windowed SUM(BIGINT) is HUGEINT (pandas float64) —
    // pin every derived integer to BIGINT (see OracleTypeLintSpec).
    "text18_heaps" ->
      s"""WITH wdef AS (SELECT (MAX(doc_id) + $heapsSlices) // $heapsSlices
         |                AS w FROM documents),
         |t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |inst AS (SELECT CAST(t.doc_id // wdef.w AS BIGINT) AS slice,
         |           COUNT(*) AS n_instances
         |         FROM t CROSS JOIN wdef GROUP BY 1),
         |fs AS (SELECT tok, MIN(doc_id) AS first_doc FROM t GROUP BY tok),
         |news AS (SELECT CAST(fs.first_doc // wdef.w AS BIGINT) AS slice,
         |           COUNT(*) AS n_new_types
         |         FROM fs CROSS JOIN wdef GROUP BY 1)
         |SELECT inst.slice, inst.n_instances,
         |  COALESCE(news.n_new_types, 0) AS n_new_types,
         |  CAST(SUM(inst.n_instances) OVER (ORDER BY inst.slice
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_instances,
         |  CAST(SUM(COALESCE(news.n_new_types, 0)) OVER (ORDER BY inst.slice
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
         |FROM inst LEFT JOIN news USING (slice)
         |ORDER BY slice""".stripMargin,
    "text17_pack_spans" ->
      s"""WITH n AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |p AS (SELECT doc_id, n_tokens,
         |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS prefix
         |      FROM n),
         |sp AS (SELECT n_tokens,
         |         CASE WHEN n_tokens = 0 THEN 0
         |           ELSE CAST((prefix + n_tokens - 1) // $packBudget
         |                  - prefix // $packBudget AS BIGINT) END AS span
         |       FROM p)
         |SELECT CAST(span AS BIGINT) AS span, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM sp GROUP BY span ORDER BY span""".stripMargin,
    "text21_divergence" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS tok FROM documents),
         |cst AS (SELECT source, tok, COUNT(*) AS c_st FROM t GROUP BY 1, 2),
         |ct AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t
         |       FROM cst GROUP BY tok),
         |ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s,
         |         COUNT(*) AS n_types
         |       FROM cst GROUP BY source),
         |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_total FROM ct),
         |tm AS (SELECT cst.source, ns.n_s, ns.n_types,
         |  CAST(floor(
         |    (((CAST(cst.c_st AS DOUBLE) / ns.n_s
         |        - CAST(ct.c_t AS DOUBLE) / tot.n_total)
         |     * (CAST(cst.c_st AS DOUBLE) / ns.n_s
         |        - CAST(ct.c_t AS DOUBLE) / tot.n_total))
         |    / (CAST(ct.c_t AS DOUBLE) / tot.n_total)
         |    - CAST(ct.c_t AS DOUBLE) / tot.n_total)
         |    * 1000000000000.0 + 0.5) AS BIGINT) AS tv
         |  FROM cst JOIN ct USING (tok) JOIN ns USING (source) CROSS JOIN tot)
         |SELECT source, n_s AS n_tokens, n_types,
         |  1.0 + CAST(CAST(SUM(tv) AS BIGINT) AS DOUBLE) / 1000000000000.0
         |    AS chi2
         |FROM tm GROUP BY source, n_s, n_types
         |ORDER BY source""".stripMargin,
    "text20_bm25" -> {
      val termsIn = BM25_TERMS.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
         |       FROM dl),
         |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t
         |       WHERE tok IN ($termsIn) GROUP BY 1, 2),
         |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         |sc AS (SELECT tf.doc_id,
         |  CAST(floor(
         |    ((CAST(st.n_docs AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5))
         |    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
         |    / (CAST(tf.tf AS DOUBLE)
         |       + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE)
         |           / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))
         |    * 1000000000000.0 + 0.5) AS BIGINT) AS s
         |  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN st)
         |SELECT doc_id, COUNT(*) AS n_terms,
         |  CAST(CAST(SUM(s) AS BIGINT) AS DOUBLE) / 1000000000000.0 AS bm25
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "text19_lm_score" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(toks) - 1),
         |                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |       FROM d),
         |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
         |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
         |       FROM c2 GROUP BY 1),
         |b AS (SELECT bg.doc_id,
         |        CAST(len(bin(c1.c1 // c2.c2)) - 1 AS BIGINT) AS bits
         |      FROM bg JOIN c2 USING (bg)
         |      JOIN c1 ON split_part(bg.bg, ' ', 1) = c1.w1)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
         |  CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS mean_bits
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text16_rarity" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |f AS (SELECT tok, COUNT(*) AS freq FROM t GROUP BY tok),
         |n AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_total FROM f),
         |b AS (SELECT t.doc_id,
         |        CAST(len(bin(n.n_total // f.freq)) - 1 AS BIGINT) AS bits
         |      FROM t JOIN f USING (tok) CROSS JOIN n)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
         |  CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS mean_bits
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text15_curriculum" ->
      s"""WITH q AS (SELECT
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  0.4 * least(1.0, CAST(len($toksSql) AS DOUBLE) / 50.0)
         |  + 0.3 * least(1.0, (CAST(${stopSql(stopwords("en"))} AS DOUBLE)
         |      / len($toksSql)) * 5.0)
         |  + 0.3 * (CAST(len(list_distinct($toksSql)) AS DOUBLE) / len($toksSql))
         |    AS quality
         |FROM documents)
         |SELECT CAST(least(floor(quality * 4), 3) AS INT) AS bin,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  MIN(quality) AS min_q, MAX(quality) AS max_q
         |FROM q GROUP BY 1 ORDER BY bin""".stripMargin,
    "text14_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
         |      FROM t WHERE len(toks) > 0)
         |SELECT doc_id, chunk_idx,
         |  chunk_idx * $chunkStride AS tok_start,
         |  least(chunk_idx * $chunkStride + $chunkLen, n_tokens) AS tok_end,
         |  array_to_string(
         |    toks[chunk_idx * $chunkStride + 1 : chunk_idx * $chunkStride + $chunkLen],
         |    ' ') AS chunk_text
         |FROM n, unnest(generate_series(0, (n_tokens - 1) // $chunkStride))
         |  AS u(chunk_idx)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "text12_dedup_runs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |k AS (SELECT doc_id, toks,
         |        list_filter(toks, (x, i) -> i = 1 OR x != toks[i-1]) AS kept
         |      FROM t)
         |SELECT doc_id, len(toks) AS n_tokens, len(kept) AS n_kept,
         |  array_to_string(kept, ' ') AS cleaned
         |FROM k ORDER BY doc_id""".stripMargin,
    "text13_source_quota" ->
      s"""WITH n AS (SELECT doc_id, source,
         |             CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |          AS cum_tokens
         |      FROM n)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= $quotaTokens ORDER BY source, doc_id""".stripMargin,
    "text11_repetition" ->
      s"""WITH d AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, source, len(toks) AS n_tokens,
         |        len(list_distinct(toks)) AS n_uniq FROM d),
         |bg AS (SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(toks) - 1),
         |                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |       FROM d),
         |bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |top AS (SELECT doc_id, MAX(c) AS top_bg FROM bgc GROUP BY 1)
         |SELECT s.doc_id, s.source, s.n_tokens,
         |  1.0 - CAST(s.n_uniq AS DOUBLE) / s.n_tokens AS dup_token_frac,
         |  CASE WHEN s.n_tokens >= 2
         |    THEN CAST(t.top_bg AS DOUBLE) / (s.n_tokens - 1) END
         |    AS top_bigram_frac,
         |  (1.0 - CAST(s.n_uniq AS DOUBLE) / s.n_tokens) > 0.3
         |    OR COALESCE(CASE WHEN s.n_tokens >= 2
         |         THEN CAST(t.top_bg AS DOUBLE) / (s.n_tokens - 1) END, 0.0)
         |       > 0.18 AS is_repetitive
         |FROM s LEFT JOIN top t USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,
    "pipe01_corpus" -> {
      val bucketSql =
        s"${PortableHash.sqlH32("CAST(doc_id AS VARCHAR)")} % 100"
      s"""WITH scored AS (
         |  SELECT doc_id, len($toksSql) AS n_tokens,
         |    0.4 * least(1.0, CAST(len($toksSql) AS DOUBLE) / 50.0)
         |    + 0.3 * least(1.0, (CAST(${stopSql(stopwords("en"))} AS DOUBLE)
         |        / len($toksSql)) * 5.0)
         |    + 0.3 * (CAST(len(list_distinct($toksSql)) AS DOUBLE) / len($toksSql))
         |      AS quality,
         |    $langCaseSql AS pred_lang,
         |    md5($normSql) AS fp
         |  FROM documents),
         |kept AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM scored WHERE pred_lang = 'en' AND quality >= 0.5)
         |SELECT doc_id, n_tokens, quality,
         |  CASE WHEN $bucketSql < 90 THEN 'train' ELSE 'eval' END AS split
         |FROM kept WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    // the oracle states the SPEC (one global prefix sum); the Spark
    // side must make its two-level scan land on identical values
    "text10_pack" ->
      s"""WITH n AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |p AS (SELECT doc_id, n_tokens,
         |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS prefix
         |      FROM n)
         |SELECT doc_id, n_tokens,
         |  CAST(prefix // $packBudget AS BIGINT) AS chunk_id,
         |  CAST(prefix % $packBudget AS BIGINT) AS chunk_offset
         |FROM p ORDER BY doc_id""".stripMargin,
    "text01_token_stats" ->
      s"""SELECT doc_id,
         |  len($toksSql) AS n_tokens,
         |  len(list_distinct($toksSql)) AS n_uniq,
         |  CAST(COALESCE(list_aggregate(list_transform($toksSql, t -> len(t)), 'sum'), 0) AS BIGINT) AS n_tok_chars,
         |  CAST(COALESCE(list_aggregate(list_transform($toksSql, t -> len(t)), 'sum'), 0) AS DOUBLE)
         |    / len($toksSql) AS avg_tok_len,
         |  CAST(len(list_distinct($toksSql)) AS DOUBLE) / len($toksSql) AS ttr
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text02_quality" ->
      s"""SELECT doc_id,
         |  len($toksSql) AS n_tokens,
         |  $punctSql AS n_punct,
         |  ${stopSql(stopwords("en"))} AS n_stop,
         |  0.4 * least(1.0, CAST(len($toksSql) AS DOUBLE) / 50.0)
         |  + 0.3 * least(1.0, (CAST(${stopSql(stopwords("en"))} AS DOUBLE)
         |      / len($toksSql)) * 5.0)
         |  + 0.3 * (CAST(len(list_distinct($toksSql)) AS DOUBLE) / len($toksSql))
         |    AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text03_langid" ->
      s"""SELECT lang, $langCaseSql AS pred_lang, COUNT(*) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,
    "text06_bpe_count" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT)
         |    AS n_bpe,
         |  len($toksSql) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS DOUBLE)
         |    / len($toksSql) AS bpe_per_ws
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text05_top_tokens" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, COUNT(*) AS n FROM toks
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,
    "text04_fingerprint" ->
      s"""SELECT doc_id,
         |  md5($normSql) AS fp_md5,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split($normSql, ''),
         |                     ch -> CAST(unicode(ch) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
         |FROM documents ORDER BY doc_id""".stripMargin,
    // DuckDB regexp_replace is first-match-only without the 'g' flag
    "text07_pii_scrub" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$urlRe')) AS INT) AS n_url,
         |  regexp_replace(regexp_replace(text, '$urlRe', '<URL>', 'g'),
         |                 '$emailRe', '<EMAIL>', 'g') AS scrubbed
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text08_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token,
         |    CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
         |  FROM tf JOIN df USING (token) CROSS JOIN n),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, token ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, token, CAST(rank AS INT) AS rank, score
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text09_cms_heavy" -> {
      import graft.sim.CountMinAggregator.{DEPTH, WIDTH, seed}
      def slotSql(tokenExpr: String, i: Int): String =
        s"${PortableHash.sqlH32(tokenExpr, seed(i))} % $WIDTH"
      val cmsRows = (0 until DEPTH)
        .map(i =>
          s"SELECT $i AS i, ${slotSql("token", i)} AS slot, COUNT(*) AS c FROM toks GROUP BY 2"
        )
        .mkString("\n  UNION ALL\n  ")
      val estRows = (0 until DEPTH)
        .map(i =>
          s"SELECT e.token, e.exact_n, c.c FROM exact e JOIN cms c ON c.i = $i AND c.slot = ${slotSql("e.token", i)}"
        )
        .mkString("\n  UNION ALL\n  ")
      s"""WITH toks AS (SELECT unnest($toksSql) AS token FROM documents),
         |cms AS (
         |  $cmsRows),
         |exact AS (
         |  SELECT token, COUNT(*) AS exact_n FROM toks
         |  GROUP BY token ORDER BY exact_n DESC, token ASC LIMIT 10),
         |est AS (
         |  $estRows)
         |SELECT token, CAST(exact_n AS BIGINT) AS exact_n,
         |  CAST(MIN(c) AS BIGINT) AS cms_est,
         |  CAST(MIN(c) - exact_n AS BIGINT) AS overcount
         |FROM est GROUP BY token, exact_n
         |ORDER BY exact_n DESC, token ASC""".stripMargin
    }
  )
}
