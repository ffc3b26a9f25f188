package graft.ops

import graft.Tables
import graft.functions.PortableHash
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Third text batch: batch-shape economics (length bucketing),
  * self-supervised objective preparation (deterministic MLM masking),
  * and temperature-scaled mixture weighting — the remaining
  * training-run-facing transforms between a curated corpus and an
  * actual training job.
  */
object TextQueries3 extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  // keep in lockstep with TextQueries.toksSql (whitespace tokenizer)
  private val toksSql = """regexp_split_to_array(trim(text), '\s+')"""

  // single-file fixture → spread the map side (see DedupQueries.docs)
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.repartition(s.sparkContext.defaultParallelism)

  /** text32: length-bucket padding-waste audit — the batch-economics
    * report behind bucketed batching (group sequences of similar
    * length so a batch pads to its bucket ceiling, not the corpus
    * max). Buckets are powers of two (the shapes a compiled trainer
    * caches kernels for); per bucket: docs, real tokens, padded
    * tokens at the bucket ceiling, and the padding-waste fraction —
    * the number a pipeline watches to decide whether packing
    * (text10) is worth its complexity over simple bucketing.
    *
    * pow2-ceiling is computed libm-free as `1 << bits(n-1)` (the
    * text16/text22 floor-log2 idiom): integer-exact on both engines.
    * Shape at scale: token counts are map-side; the only shuffle is
    * ONE aggregation on a ~log(max_len)-value dense key.
    */
  private val lengthBuckets: Q = (s, dir) => {
    docs(s, dir)
      .select(tokenCountOf(tokens(col("text"))).cast("long").as("__n"))
      // Column-typed shift distance needs the SQL form (the Scala
      // shiftleft binding pins numBits to a literal Int)
      .select(
        when(col("__n") <= 1, lit(1L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), length(bin(__n - 1)))"))
          .as("bucket"),
        col("__n")
      )
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("sum_tokens")
      )
      .select(
        col("bucket"),
        col("n_docs"),
        col("sum_tokens"),
        (col("bucket") * col("n_docs")).as("padded_tokens"),
        (col("bucket") * col("n_docs") - col("sum_tokens")).as("waste_tokens"),
        ((col("bucket") * col("n_docs") - col("sum_tokens")).cast("double") /
          (col("bucket") * col("n_docs")).cast("double")).as("waste_frac")
      )
      .orderBy("bucket")
  }

  /** Per-position mask rate (percent) for text33. */
  private[ops] val MASK_PCT = 15L

  /** text33: deterministic MLM masking (BERT-style span preparation) —
    * turn every doc into a masked-input example: position i is masked
    * iff hash(doc_id:i:token) % 100 < 15. Hash-selected, not random:
    * the same corpus always yields the same examples (resumable
    * preprocessing, reproducible ablations — the same property q54
    * gives the train/eval split), and the mask depends on the token
    * AND its position, so repeated tokens mask independently.
    *
    * Shape at scale: pure per-row array transforms (tokenize → mask →
    * rejoin), zero shuffles beyond the presentation sort; the masked
    * corpus streams straight to a sharded writer (pipe02's path).
    */
  private val mlmMask: Q = (s, dir) => {
    val toks = tokens(col("text"))
    val maskedFlags = transform(
      col("__toks"),
      (t, i) =>
        pmod(
          PortableHash.h32(
            concat(
              col("doc_id").cast("string"),
              lit(":"),
              i.cast("string"),
              lit(":"),
              t
            )
          ),
          lit(100L)
        ) < MASK_PCT
    )
    docs(s, dir)
      .select(col("doc_id"), toks.as("__toks"))
      .select(
        col("doc_id"),
        col("__toks"),
        maskedFlags.as("__m")
      )
      .select(
        col("doc_id"),
        tokenCountOf(col("__toks")).cast("long").as("n_tokens"),
        aggregate(
          col("__m"),
          lit(0L),
          (acc, m) => acc + when(m, 1L).otherwise(0L)
        ).as("n_masked"),
        concat_ws(
          " ",
          zip_with(
            col("__toks"),
            col("__m"),
            (t, m) => when(m, lit("[MASK]")).otherwise(t)
          )
        ).as("masked_text")
      )
      .orderBy("doc_id")
  }

  /** text34: temperature-scaled mixture weights over languages
    * (α = 0.5, the multilingual-pretraining standard — Conneau et al.
    * 2020 §3.1 sample languages ∝ p^α to keep low-resource languages
    * from vanishing): per language, the natural token share and the
    * temperature-flattened sampling weight sqrt(tokens)/Σ sqrt(tokens),
    * plus the resulting up/down-sampling factor.
    *
    * α = 0.5 is exactly sqrt — IEEE-exact per element on both
    * engines; the one cross-row float sum (Σ sqrt) folds a
    * lang-sorted list sequentially on both sides (the README
    * "sequential-order float math" rule), so the output is
    * bit-identical. Shape at scale: ONE dense groupBy(lang); the
    * normalizer is a one-row broadcast.
    */
  private val temperatureMix: Q = (s, dir) => {
    // the normalizer runs as an unpartitioned window over the
    // POST-AGGREGATION rows (one per language — bounded by the lang
    // domain, not the corpus), which keeps the query single-scan: a
    // totals crossJoin would re-read documents for the second branch
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lang"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing
      )
    docs(s, dir)
      .select(
        col("lang"),
        tokenCountOf(tokens(col("text"))).cast("long").as("__n")
      )
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_tokens")
      )
      .withColumn("__w", sqrt(col("n_tokens").cast("double")))
      .withColumn("__tot_toks", sum(col("n_tokens")).over(w))
      .withColumn(
        "__tot_w",
        aggregate(
          array_sort(
            collect_list(struct(col("lang"), col("__w").as("w"))).over(w)
          ),
          lit(0.0),
          (acc, x) => acc + x.getField("w")
        )
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / col("__tot_toks").cast("double"))
          .as("nat_share"),
        (col("__w") / col("__tot_w")).as("temp_weight"),
        ((col("__w") / col("__tot_w")) /
          (col("n_tokens").cast("double") / col("__tot_toks").cast("double")))
          .as("upsample_factor")
      )
      .orderBy("lang")
  }

  /** text35: fill-in-the-middle transform (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle") —
    * rewrite each doc into the PSM form
    * `<fim_prefix> P <fim_suffix> S <fim_middle> M` with a
    * hash-selected middle span, so a causal LM learns infilling from
    * plain left-to-right training. Cut points are deterministic
    * functions of doc_id (the text33/q54 reproducibility discipline):
    * c1 = h(fim1:id) mod n, span = h(fim2:id) mod (n−c1+1) — every
    * rebuild of the corpus yields byte-identical training examples.
    *
    * Shape at scale: pure per-row array slicing — zero shuffles
    * beyond the presentation sort, streams straight to the sharded
    * writer like text33.
    */
  private val fimTransform: Q = (s, dir) => {
    val h1 = PortableHash.h32(concat(lit("fim1:"), col("doc_id").cast("string")))
    val h2 = PortableHash.h32(concat(lit("fim2:"), col("doc_id").cast("string")))
    docs(s, dir)
      .select(
        col("doc_id"),
        tokens(col("text")).as("__toks")
      )
      .withColumn("__n", tokenCountOf(col("__toks")).cast("long"))
      .withColumn(
        "__c1",
        when(col("__n") === 0, lit(0L)).otherwise(pmod(h1, col("__n")))
      )
      .withColumn("__c2", col("__c1") + pmod(h2, col("__n") - col("__c1") + 1))
      .select(
        col("doc_id"),
        col("__n").as("n_tokens"),
        col("__c1").as("prefix_len"),
        (col("__c2") - col("__c1")).as("middle_len"),
        concat(
          lit("<fim_prefix> "),
          array_join(slice(col("__toks"), lit(1), col("__c1")), " "),
          lit(" <fim_suffix> "),
          array_join(
            slice(col("__toks"), col("__c2") + 1, col("__n") - col("__c2")),
            " "
          ),
          lit(" <fim_middle> "),
          array_join(
            slice(col("__toks"), col("__c1") + 1, col("__c2") - col("__c1")),
            " "
          )
        ).as("psm_text")
      )
      .orderBy("doc_id")
  }

  /** text36: unigram^0.75 negative-sampling table (Mikolov et al.
    * 2013 §2.2 — noise words for NCE/negative sampling are drawn from
    * the unigram distribution raised to 3/4, which up-weights rare
    * words): per token, count, the ^0.75 weight, and its normalized
    * sampling probability.
    *
    * The fractional power is computed libm-free as
    * x^(3/4) = sqrt(x · sqrt(x)) — sqrt and multiply are IEEE-exact
    * operations, so the weight is bit-identical on both engines where
    * a pow()/exp/ln chain would drift in the last ulp. The normalizer
    * folds a token-sorted list sequentially (the text34 discipline).
    *
    * Shape at scale: explode → ONE dense token aggregate; the
    * normalizer is a broadcast-scale scalar over the (vocabulary-
    * sized) aggregate, never the corpus.
    */
  private val negSamplingTable: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("token"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing
      )
    docs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "w34",
        sqrt(col("cnt").cast("double") * sqrt(col("cnt").cast("double")))
      )
      .withColumn(
        "__tot",
        aggregate(
          array_sort(collect_list(struct(col("token"), col("w34").as("w"))).over(w)),
          lit(0.0),
          (acc, x) => acc + x.getField("w")
        )
      )
      .select(
        col("token"),
        col("cnt"),
        col("w34"),
        (col("w34") / col("__tot")).as("p_draw")
      )
      .orderBy("token")
  }

  /** text37: materialized training sequences — the step text10 PLANS
    * and this query EXECUTES: every doc's tokens are laid head-to-tail
    * in doc_id order and cut into budget-B sequences, docs SPLITTING
    * across chunk boundaries exactly as concat-and-chunk training
    * pipelines do (GPT-style pretraining batches). Per chunk: the
    * assembled token text, its piece count, and its token count
    * (= B everywhere except the final chunk — spec-pinned).
    *
    * Built on [[TextQueries.packChunks]]'s two-level prefix scan; each
    * doc then explodes into only the 1 + ⌊(offset+n−1)/B⌋ −
    * ⌊offset/B⌋ pieces it actually touches (never per-token rows),
    * and chunk assembly is ONE dense groupBy(chunk_id) collecting
    * (doc_id-ordered) token slices. Token text never shuffles until
    * the final per-chunk assembly, and then exactly once.
    */
  private val packSequences: Q = (s, dir) => {
    val b = TextQueries.packBudget // 512, in lockstep with text10
    val withToks = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .withColumn("__n", tokenCountOf(col("__toks")).cast("long"))
    val packed = TextQueries.packChunks(
      withToks.select(col("doc_id"), col("__n").as("n_tokens")),
      b
    )
    val pieces = withToks
      .join(packed.select(col("doc_id"), col("chunk_id"), col("chunk_offset")), "doc_id")
      .withColumn("__prefix", col("chunk_id") * b + col("chunk_offset"))
      .select(
        col("doc_id"),
        col("__toks"),
        col("__n"),
        col("__prefix"),
        explode(
          sequence(
            col("chunk_id"),
            expr(s"(__prefix + greatest(__n, 1) - 1) div $b")
          )
        ).as("cid")
      )
      .withColumn("__start", greatest(lit(0L), col("cid") * b - col("__prefix")))
      .withColumn(
        "__end",
        least(col("__n"), (col("cid") + 1) * b - col("__prefix"))
      )
      .filter(col("__end") > col("__start"))
      .select(
        col("cid").as("chunk_id"),
        col("doc_id"),
        slice(
          col("__toks"),
          (col("__start") + 1).cast("int"),
          (col("__end") - col("__start")).cast("int")
        ).as("__piece")
      )
    pieces
      .groupBy(col("chunk_id"))
      .agg(
        count(lit(1)).as("n_pieces"),
        aggregate(
          array_sort(collect_list(struct(col("doc_id"), col("__piece").as("p")))),
          lit(0L),
          (acc, x) => acc + size(x.getField("p")).cast("long")
        ).as("n_tokens"),
        array_join(
          flatten(
            transform(
              array_sort(collect_list(struct(col("doc_id"), col("__piece").as("p")))),
              x => x.getField("p")
            )
          ),
          " "
        ).as("seq_text")
      )
      .orderBy("chunk_id")
  }

  /** BPE merge-round count for text38, unrolled identically in the
    * oracle (the sim23/dedup22 round discipline). Real tokenizer
    * training runs ~30k merges; 6 rounds exercise the full
    * learn-and-apply loop — argmax selection AND the greedy rewrite
    * are both value-checked via `corpus_tokens_after` — at fixture
    * cost.
    */
  private[ops] val BPE_MERGES = 6

  /** text38: distributed BPE vocabulary learning — the training half
    * of the tokenizer story (text06 only *scores* with a fixed
    * vocab; this LEARNS the merges). Classic Sennrich et al. BPE on
    * the word-frequency dictionary: start from character symbols,
    * then per round (a) count adjacent symbol pairs weighted by word
    * frequency, (b) pick the most frequent pair (ties broken
    * lexicographically — deterministic on any engine), (c) greedily
    * merge that pair left-to-right inside every word. Output is the
    * merge table — one row per round with the learned pair and the
    * corpus token count after applying it, i.e. the compression
    * curve a tokenizer trainer watches.
    *
    * The greedy rewrite is a pure array fold (`aggregate`): append
    * each symbol unless the accumulator's last symbol + it form the
    * learned pair, in which case replace the tail with the merged
    * symbol — exactly the standard left-to-right scan ("aaaa" with
    * (a,a) becomes [aa, aa]), with no UDF: symbol identity is its
    * byte string, so the fold's equality check is the merge rule.
    *
    * Shape at scale: the word-frequency dict is the ONE corpus-wide
    * shuffle (vocab ≪ corpus — Heaps' law, text18); every round
    * after it touches vocab-sized data only: a pair aggregation over
    * the dict, a 1-row argmax BROADCAST into a map-side rewrite
    * (never collected — the merge pair rides the plan as a joined
    * row, referenced from inside the fold lambda), and a 1-row
    * token-count aggregate. Per-round frames are eagerly
    * checkpointed and superseded checkpoints released (the
    * dedup06/sim23 round discipline), so lineage stays flat across
    * the ~30k rounds a real run would take. Rounds are sequential in
    * merge count BY DEFINITION here (each report row snapshots the
    * corpus between single merges); the batched form that cuts job
    * count toward k/BPE_BATCH while learning the identical sequence
    * is `text40_bpe_batch_learn` ([[bpeBatchedLearn]]).
    */
  /** Longest word admitted to the BPE dictionary, in characters.
    * Standard tokenizer-trainer hygiene (pathological whitespace
    * tokens — URLs, hashes, DNA strings — blow up the pair table and
    * carry no reusable subwords); it also makes the oracle's bounded
    * `range(1, ${BPE_MAX_WORD + 1})` pair enumeration EXACT rather
    * than a silent cap. Applied identically on both sides and in
    * text39's occurrence stream.
    */
  private[ops] val BPE_MAX_WORD = 999

  /** The shared learner loop behind text38/text39: returns the
    * per-round merge reports (each eagerly checkpointed) and the
    * final word→symbols dictionary (still checkpointed — text39
    * reads it; text38 releases it). The `word` key is carried through
    * every round so the dict stays joinable.
    *
    * The per-round rewrite joins the 1-row argmax LEFT (on true), not
    * cross: if a round finds no pair at all (corpus fully merged
    * before the round budget runs out), the merge columns come back
    * NULL, the fold's equality test is never true, and the rewrite is
    * the identity — the dictionary passes through unchanged and the
    * round simply emits no report row, instead of a cross join with
    * an empty frame silently wiping the dict. The oracle's LEFT JOIN
    * ON TRUE degrades identically.
    */
  /** The word-frequency dictionary split to character symbols — the
    * shared starting state of every BPE learner here (text38/39 and
    * the batched text40).
    */
  private def bpeWordDict(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(
        length(col("word")) > 0 && length(col("word")) <= BPE_MAX_WORD
      )
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("word"),
        // (?s): Java's '.' excludes U+0085/U+2028/U+2029 (which the
        // \s+ tokenizer does NOT strip) while RE2's keeps them —
        // DOTALL makes both engines keep every character
        regexp_extract_all(col("word"), lit("(?s)."), lit(0)).as("syms"),
        col("cnt")
      )

  private def bpeLoop(
      s: SparkSession,
      dir: String
  ): (Seq[DataFrame], DataFrame) = {
    var words = bpeWordDict(s, dir).localCheckpoint(true)
    val reports = Seq.newBuilder[DataFrame]
    for (round <- 1 to BPE_MERGES) {
      // (a) pair counts over the dict; (b) deterministic argmax
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(
          explode(
            zip_with(
              slice(col("syms"), lit(1), size(col("syms")) - 1),
              slice(col("syms"), lit(2), size(col("syms")) - 1),
              (a, b) => struct(a.as("ml"), b.as("mr"))
            )
          ).as("p"),
          col("cnt")
        )
        .groupBy(col("p.ml").as("ml"), col("p.mr").as("mr"))
        .agg(sum(col("cnt")).as("mc"))
        .orderBy(col("mc").desc, col("ml"), col("mr"))
        .limit(1)
        .select(
          col("ml"),
          col("mr"),
          concat(col("ml"), col("mr")).as("mm"),
          col("mc")
        )
        .localCheckpoint(true)
      // (c) greedy left-to-right merge, map-side under the broadcast
      // (LEFT on true: NULL merge columns = identity rewrite)
      val next = words
        .join(broadcast(top), lit(true), "left")
        .select(
          col("word"),
          aggregate(
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            slice(col("syms"), lit(1), lit(1)),
            (acc, x) =>
              when(
                element_at(acc, -1) === col("ml") && x === col("mr"),
                concat(slice(acc, lit(1), size(acc) - 1), array(col("mm")))
              ).otherwise(concat(acc, array(x)))
          ).as("syms"),
          col("cnt")
        )
        .localCheckpoint(true)
      val report = top
        .crossJoin(
          broadcast(
            next.agg(
              sum(col("cnt") * size(col("syms")))
                .cast("long")
                .as("corpus_tokens_after")
            )
          )
        )
        .select(
          lit(round.toLong).as("round"),
          col("ml").as("lhs"),
          col("mr").as("rhs"),
          col("mm").as("merged"),
          col("mc").as("pair_count"),
          col("corpus_tokens_after")
        )
        .localCheckpoint(true)
      reports += report
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(top)
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(words)
      words = next
    }
    (reports.result(), words)
  }

  private val bpeMerges: Q = (s, dir) => {
    val (reports, fin) = bpeLoop(s, dir)
    org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(fin)
    reports.reduce(_.unionByName(_)).orderBy("round")
  }

  /** text39: BPE corpus encoding with the text38 merges — the encode
    * half of the tokenizer: apply the learned merge table to every
    * document and report per-language tokenizer economics (BPE
    * tokens per word, chars per BPE token — the fertility numbers a
    * vocab-budget decision reads, here under the LEARNED vocab where
    * text31's are under a fixed regex tokenizer).
    *
    * The scale-defining trick: the corpus is NEVER re-segmented
    * per-document. Encoding is a property of the WORD, so the final
    * dict (word → merged symbol count, vocab-sized by Heaps' law)
    * joins back to the exploded token stream on the dense `word` key
    * — one shuffle join, with the per-word piece count as the only
    * payload; the fold rewrite ran once per DISTINCT word, not once
    * per occurrence. The join is pinned SHUFFLE_HASH building on the
    * dict: the checkpointed dict carries no stats, so left alone the
    * planner broadcasts whichever side's estimate is small — at the
    * fixture that is the CORPUS token stream, exactly the side that
    * can never be broadcast at scale. Shuffle-hash on the dense word
    * key is the shape that holds at any corpus size (a user whose
    * vocab fits memory can rebuild with a broadcast hint).
    *
    * Integer sums throughout; the two ratios are single closing IEEE
    * divisions (the text31 discipline).
    */
  private val bpeEncode: Q = (s, dir) => {
    val (reports, dict) = bpeLoop(s, dir)
    // the merge table is not this query's output; release the 1-row
    // report checkpoints eagerly (the dict checkpoint must stay — the
    // returned plan reads it)
    reports.foreach(r =>
      org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(r)
    )
    val pieces = dict.select(
      col("word"),
      size(col("syms")).cast("long").as("n_pieces"),
      length(col("word")).cast("long").as("n_chars")
    )
    docs(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      // same admission rule as the dict (BPE_MAX_WORD): capped words
      // are outside the tokenizer's vocabulary and outside its stats
      .filter(
        length(col("word")) > 0 && length(col("word")) <= BPE_MAX_WORD
      )
      .join(pieces.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_bpe_tokens"),
        sum(col("n_chars")).as("n_chars")
      )
      .select(
        col("lang"),
        col("n_words"),
        col("n_bpe_tokens"),
        col("n_chars"),
        (col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
          .as("tokens_per_word"),
        (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token")
      )
      .orderBy("lang")
  }

  /** Batch-admission cap per round for text40 (merges applied per
    * corpus pass; each is one extra non-collapsing Project over the
    * dict, so the cap also bounds per-round plan depth).
    */
  private[ops] val BPE_BATCH = 4

  /** One merge's greedy left-to-right rewrite with LITERAL symbols
    * (the bpeLoop fold with the broadcast-row references replaced by
    * the driver-known pair).
    */
  private def applyCharMerge(syms: Column, ml: String, mr: String): Column =
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      slice(syms, lit(1), lit(1)),
      (acc, x) =>
        when(
          element_at(acc, -1) === lit(ml) && x === lit(mr),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(ml + mr)))
        ).otherwise(concat(acc, array(x)))
    )

  /** The safe batch for one round: the longest prefix of the sorted
    * pair histogram (count desc, pair asc — the sequential tie-break
    * order) that provably commutes with running the merges one at a
    * time. Admission stops at the FIRST violation (prefix rule, so
    * every non-admitted pair ranks strictly below the whole batch):
    *
    *  - symbol-disjointness, including CONCATENATIONS: an admitted
    *    pair may not mention another's symbols (its count would
    *    change mid-batch) nor its merged symbol ml+mr (a pre-existing
    *    symbol equal to a new merged symbol would let one batch
    *    member create occurrences of another);
    *  - no self-pairs beyond the head: merging (a,a) creates
    *    (aa,aa)/(aa,a) pairs whose counts are bounded only by the
    *    batch's OWN counts, so a self-pair runs alone (a lone argmax
    *    is sequential by definition);
    *  - a STRICT count drop after the batch: every skipped or
    *    newly-created pair then counts ≤ count(next) < count(last
    *    admitted) ≤ count(any admitted), so at each in-batch step j
    *    the sequential argmax is exactly batch member j (ties among
    *    admitted members resolve in sorted order, which IS the
    *    tie-break order; outside contenders can no longer tie).
    *
    * Worst case the batch is the lone argmax and a round degrades to
    * exactly one sequential merge — progress is never slower, only
    * the round count shrinks.
    */
  private[ops] def bpeSafePrefix(
      sorted: Seq[(String, String, Long)],
      budget: Int
  ): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val prefix =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var stopped = false
    for (p <- sorted if !stopped) {
      val (ml, mr, _) = p
      if (prefix.length >= budget) stopped = true
      else if (ml == mr) {
        if (prefix.isEmpty) prefix += p
        stopped = true
      } else if (used(ml) || used(mr) || used(ml + mr)) stopped = true
      else {
        prefix += p
        used += ml
        used += mr
        used += (ml + mr)
      }
    }
    while (
      prefix.length > 1 && prefix.length < sorted.length &&
      sorted(prefix.length)._3 == prefix.last._3
    ) prefix.remove(prefix.length - 1)
    // invariant, not a fallback: the admission loop always admits
    // sorted.head (self-pair or not) and the tie-pop keeps length >= 1
    require(
      sorted.isEmpty || prefix.nonEmpty,
      "bpeSafePrefix: admission must keep at least the argmax"
    )
    prefix.toSeq
  }

  /** Batched BPE learner: the text38 loop with the top-BPE_BATCH
    * provably-commuting merges applied per corpus pass instead of
    * one — the standard distributed-training form, cutting the round
    * count from k jobs toward k/BPE_BATCH while producing the
    * IDENTICAL merge sequence (TextBpeSpec pins batched ≡ sequential
    * at k=12; the text40 gate row pins each merge's pair and count
    * against the sequentially-unrolled oracle).
    *
    * Per round: one vocab-sized pair aggregate, a (cap+1)-row sorted
    * driver read (the sanctioned tiny collect — cap+1 because the
    * strict-boundary rule needs the first NON-admitted count), then
    * the admitted merges applied as a chain of separate Projects
    * (non-cheap folds referenced 3×, so CollapseProject keeps them
    * un-inlined — plan depth grows by cap, expression size does
    * not). Returns (batch-round, lhs, rhs, pair_count) in learned
    * order, the final dict (still checkpointed), and the number of
    * rounds executed.
    */
  private[ops] def bpeBatchedLearn(
      s: SparkSession,
      dir: String,
      k: Int,
      cap: Int
  ): (Seq[(Int, String, String, Long)], DataFrame, Int) = {
    var words = bpeWordDict(s, dir).localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var learned = 0
    var rounds = 0
    var exhausted = false
    while (learned < k && !exhausted) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(
          explode(
            zip_with(
              slice(col("syms"), lit(1), size(col("syms")) - 1),
              slice(col("syms"), lit(2), size(col("syms")) - 1),
              (a, b) => struct(a.as("ml"), b.as("mr"))
            )
          ).as("p"),
          col("cnt")
        )
        .groupBy(col("p.ml").as("ml"), col("p.mr").as("mr"))
        .agg(sum(col("cnt")).as("mc"))
        .orderBy(col("mc").desc, col("ml"), col("mr"))
        .limit(cap + 1)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
      if (top.isEmpty) exhausted = true
      else {
        rounds += 1
        val batch = bpeSafePrefix(top, math.min(cap, k - learned))
        val next = batch
          .foldLeft(words) { case (df, (ml, mr, _)) =>
            df.select(
              col("word"),
              applyCharMerge(col("syms"), ml, mr).as("syms"),
              col("cnt")
            )
          }
          .localCheckpoint(true)
        org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(words)
        words = next
        batch.foreach { case (ml, mr, mc) =>
          merges += ((rounds, ml, mr, mc))
        }
        learned += batch.length
      }
    }
    (merges.result(), words, rounds)
  }

  /** text40: the batched learner's merge table — same BPE_MERGES
    * merges as text38 in the same order with the same pre-merge pair
    * counts (the oracle is the same sequentially-unrolled CTE chain,
    * minus the per-merge corpus snapshot, which only exists between
    * SEQUENTIAL applications), learned in fewer corpus passes
    * (fixture: 3 rounds for 6 merges; TextBpeSpec asserts the round
    * compression at k=12).
    */
  private val bpeBatchMerges: Q = (s, dir) => {
    val (merges, fin, _) = bpeBatchedLearn(s, dir, BPE_MERGES, BPE_BATCH)
    org.apache.spark.sql.graftshim.GraftSqlShims.unpersistCheckpoint(fin)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField(
          "seq",
          org.apache.spark.sql.types.LongType,
          nullable = false
        ),
        org.apache.spark.sql.types.StructField(
          "lhs",
          org.apache.spark.sql.types.StringType,
          nullable = false
        ),
        org.apache.spark.sql.types.StructField(
          "rhs",
          org.apache.spark.sql.types.StringType,
          nullable = false
        ),
        org.apache.spark.sql.types.StructField(
          "merged",
          org.apache.spark.sql.types.StringType,
          nullable = false
        ),
        org.apache.spark.sql.types.StructField(
          "pair_count",
          org.apache.spark.sql.types.LongType,
          nullable = false
        )
      )
    )
    val rows = merges.zipWithIndex.map { case ((_, ml, mr, mc), i) =>
      org.apache.spark.sql.Row((i + 1).toLong, ml, mr, ml + mr, mc)
    }
    s.createDataFrame(rows.asJava, schema).orderBy("seq")
  }

  /** Line-boilerplate drop threshold: a line appearing in at least
    * this many DISTINCT docs is stripped (RefinedWeb/CCNet line-dedup
    * grain — headers, footers, nav chrome).
    */
  private val LINE_DF_T = 5

  /** Words per pseudo-line for text41 (the fixture corpus has no
    * newlines, so "lines" are deterministic 8-word windows — both
    * engines derive the identical segmentation).
    */
  private val LINE_W = 8

  /** text41: line-level boilerplate removal with text reconstruction
    * — the RefinedWeb/CCNet line-dedup shape, complementing dedup29's
    * gram-level scrub at the grain real web pipelines use (strip any
    * LINE present in ≥ [[LINE_DF_T]] distinct docs; keep the rest in
    * order). The fixture plants the structure the operator exists to
    * strip (the mm07 discipline): every doc gets a per-source header
    * line and a corpus-wide footer line, and the body is chunked into
    * [[LINE_W]]-word pseudo-lines — so the gate shows headers/footers
    * dropped (df = docs-per-source / corpus size) AND, beyond the
    * plants, the fixture's own ≥5-copy exact-dup families losing
    * their body lines, while unique body text survives verbatim.
    *
    * Scale: one shuffle counts per-line distinct docs, then ONLY the
    * ≥T survivors — the boilerplate set, tiny by definition — come
    * back as a BROADCAST lookup (the verdict needs the threshold bit,
    * not each line's df, so the corpus-sized distinct-line table
    * never joins back), and the doc-keyed reassembly is the second
    * and last shuffle. Never all-pairs, no full-freq join.
    */
  private val lineBoilerplate: Q = (s, dir) => {
    val d = Tables(s, dir).documents
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
    val nChunks =
      floor((size(col("w")) + lit(LINE_W - 1)) / lit(LINE_W)).cast("int")
    val body = d
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0), nChunks - 1),
            i => array_join(slice(col("w"), i * LINE_W + 1, lit(LINE_W)), " ")
          )
        ).as(Seq("p", "line"))
      )
      .select(col("doc_id"), (col("p") + 1).as("pos"), col("line"))
    val lines = d
      .select(
        col("doc_id"),
        lit(0).as("pos"),
        concat(lit("HDR "), col("source")).as("line")
      )
      .unionByName(body)
      .unionByName(
        d.select(col("doc_id"), lit(1000000).as("pos"),
          lit("FTR common").as("line"))
      )
    val boiler = lines
      .groupBy("line")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= LINE_DF_T)
      .select(col("line"), lit(true).as("__boiler"))
    lines
      .join(broadcast(boiler), Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(
              collect_list(
                when(col("__boiler").isNull, struct(col("pos"), col("line")))
              )
            ),
            x => x.getField("line")
          ),
          "\n"
        ).as("clean_text")
      )
      .orderBy("doc_id")
  }

  /** text42's threshold grid: 21 margins t/20 of full scale for
    * t ∈ [−10, 10] — brackets text28's production cut (qcTau = −0.1 =
    * −2/20) so the swept curve contains the deployed operating point.
    */
  private val PR_T_MIN = -10
  private val PR_T_MAX = 10

  /** text42: classifier threshold sweep — the precision/recall curve
    * every quality-filter deployment reads before picking its cut:
    * text28's hashed-linear margin scored once per document, then a
    * confusion row (tp/fp/fn/tn + precision/recall) per candidate
    * threshold, with lang='en' as the fixture's ground-truth class
    * (in production: the held-out labeled eval set). The sweep shows
    * where the curve bends — the knee text28's single qcTau freezes.
    *
    * Exactness: the keep decision at threshold t/20 is the INTEGER
    * comparison 20·margin_num > t·n_tokens·2³¹ (margin_num is
    * text28's integer dot product), so no float crosses an engine
    * boundary; precision/recall are floor-divided ppm integers.
    *
    * Shape at scale: one corpus scan computes (truth, margin_num,
    * n_tokens) map-side; the 21-way threshold fan-out happens on the
    * 3-column doc row and collapses to 21 partial rows per partition
    * (map-side combine) — the shuffle carries 21·partitions rows, not
    * 21·corpus.
    */
  private val prSweep: Q = (s, dir) => {
    val w = typedLit(TextQueries2.qcWeights)
    val scored = docs(s, dir).select(
      (col("lang") === "en").as("truth"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      aggregate(
        tokens(col("text")),
        lit(0L),
        (acc, t) =>
          acc + element_at(
            w,
            (pmod(PortableHash.h32(t), lit(TextQueries2.qcDim)) + 1)
              .cast("int")
          )
      ).as("margin_num")
    )
    val conf = scored
      .select(
        col("truth"),
        col("n_tokens"),
        col("margin_num"),
        explode(
          typedLit((PR_T_MIN to PR_T_MAX).toList)
        ).as("t")
      )
      .withColumn(
        "keep",
        col("margin_num") * 20L >
          col("t").cast("long") * col("n_tokens") * lit(2147483648L)
      )
      .groupBy(col("t"))
      .agg(
        sum(when(col("truth") && col("keep"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("truth") && col("keep"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("truth") && !col("keep"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("truth") && !col("keep"), 1L).otherwise(0L)).as("tn")
      )
    conf
      .select(
        col("t"),
        col("tp"),
        col("fp"),
        col("fn"),
        col("tn"),
        when(
          col("tp") + col("fp") > 0L,
          expr("(tp * 1000000) div (tp + fp)")
        ).as("precision_ppm"),
        when(
          col("tp") + col("fn") > 0L,
          expr("(tp * 1000000) div (tp + fn)")
        ).as("recall_ppm")
      )
      .orderBy("t")
  }

  /** text43's query workload: (query_id, conjunctive terms). Terms
    * overlap across queries on purpose — the posting fan-out must
    * route one matched token to every query that wants it.
    */
  private val BOOL_QUERIES: Seq[(Int, Seq[String])] = Seq(
    (1, Seq("spark", "merge")),
    (2, Seq("window", "batch")),
    (3, Seq("table", "join", "batch"))
  )

  /** Results per query for text43. */
  private val BOOL_TOPK = 5

  /** text43: conjunctive boolean retrieval — the inverted-index AND
    * query every search/RAG stack runs before ranking: for each
    * (query, term-set), the documents containing ALL terms, top-K by
    * total matched term frequency (exact integer score; ties to the
    * lower doc_id). The relational form of posting-list intersection:
    * tokens explode and are filtered to the UNION of query terms
    * BEFORE any shuffle (O(matches) survives, not O(corpus tokens)),
    * each posting fans out to the queries wanting its term via a
    * broadcast term→query map, and a doc qualifies when its distinct
    * matched terms equal the query's arity — intersection as a
    * count, no N-way self-join.
    *
    * Shape at scale: one shuffle on (query, doc) for the qualify
    * count, then a per-query top-K window over qualified docs only.
    * The term→query map is a plan-literal broadcast; df-ordered
    * skipping (WAND) refines the candidate count, not the shape.
    */
  private val boolRetrieval: Q = (s, dir) => {
    val termMap = BOOL_QUERIES.flatMap { case (q, ts) =>
      ts.map(t => (q, t, ts.size))
    }
    import s.implicits._
    val tq = termMap.toDF("query_id", "term", "arity")
    val allTerms = BOOL_QUERIES.flatMap(_._2).distinct
    val postings = docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(allTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val qualified = postings
      .join(broadcast(tq), "term")
      .groupBy(col("query_id"), col("doc_id"), col("arity"))
      .agg(
        countDistinct(col("term")).as("n_matched"),
        sum(col("tf")).as("score")
      )
      .filter(col("n_matched") === col("arity"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    qualified
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BOOL_TOPK)
      .select(
        col("query_id"),
        col("rank").cast("int").as("rank"),
        col("doc_id"),
        col("score")
      )
      .orderBy("query_id", "rank")
  }

  /** text44's BM25 constants in milli fixed-point: k1 = 1.2,
    * b = 0.75 (the Robertson defaults every lexical ranker ships).
    */
  private val RANK_K1 = 1200L
  private val RANK_B = 750L

  /** text44: ranked lexical retrieval — text43's boolean intersection
    * extended to the SCORED form a RAG/search stack actually serves:
    * disjunctive match over the same query workload, ranked by a BM25
    * score computed ENTIRELY in integer fixed-point so the ranking is
    * bit-identical on any engine and any aggregation order. The two
    * float-unsafe ingredients are linearized: idf becomes the
    * rational RSJ weight ((N − df + 1)·10⁶) div (df + 1) (the log is
    * monotone in it, so per-term ordering is preserved; documented as
    * BM25-shaped, not log-BM25), and the tf saturation keeps
    * Robertson's exact form tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) in
    * milli/ppm integer arithmetic. Per-term parts are BIGINTs, so the
    * per-(query, doc) sum is order-independent — no float ever
    * crosses the engines.
    *
    * Shape at scale (text43's): ONE pass over the corpus computes
    * doc length AND the filtered postings (the explode runs on the
    * query-term-filtered token array, so O(matches) rows survive the
    * map side, never O(corpus tokens)); df and the corpus totals are
    * term-count/1-row broadcasts; one (query, doc) aggregation and a
    * per-query top-K window close it.
    */
  private val bm25Retrieval: Q = (s, dir) => {
    val termMap = BOOL_QUERIES.flatMap { case (q, ts) => ts.map(t => (q, t)) }
    import s.implicits._
    val tq = termMap.toDF("query_id", "term")
    val allTerms = BOOL_QUERIES.flatMap(_._2).distinct
    // ONE corpus pass, materialized: (doc_id, dl, query-term hits) is
    // doc-count-sized and skinny, and three consumers read it (corpus
    // totals, postings, and postings again for df) — without the
    // barrier the tokenizing scan re-runs per consumer (measured 9
    // exchanges; 5 with it)
    val slim = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        filter(col("toks"), t => t.isin(allTerms: _*)).as("hits")
      )
      .localCheckpoint(true)
    val tot = slim.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val p = slim
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val parts = p
      .join(broadcast(tq), "term")
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(tot))
      .select(
        col("query_id"),
        col("doc_id"),
        expr(
          s"((tf * ($RANK_K1 + 1000) * 1000000) div " +
            s"(tf * 1000 + ($RANK_K1 * (1000 - $RANK_B + " +
            s"($RANK_B * dl * 1000) div ((sumdl * 1000) div n))) div 1000)) " +
            s"* (((n - df + 1) * 1000000) div (df + 1)) div 1000000"
        ).as("part")
      )
    val sc = parts
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("part")).as("score_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id").asc)
    sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BOOL_TOPK)
      .select(
        col("query_id").cast("int").as("query_id"),
        col("rank").cast("int").as("rank"),
        col("doc_id"),
        col("score_ppm")
      )
      .orderBy("query_id", "rank")
  }

  /** text45's detector patterns — engine-portable by construction: no
    * backslash classes (Spark SQL literals and DuckDB disagree on
    * backslash escaping), no lookaround (RE2 lacks it), only
    * character classes and bounded repeats, which Java regex and RE2
    * match identically.
    */
  private val PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  private val PII_PHONE = "555-[0-9][0-9][0-9][0-9]"
  private val PII_CARD = "[0-9]{16}"

  /** text45: PII detection + redaction — the scrub pass a training
    * corpus runs before anything ships: per document, counts of
    * detected emails / phone numbers / 16-digit card candidates, the
    * count of candidates passing the LUHN CHECKSUM (pure integer
    * double-every-second-digit fold — the standard way to separate
    * real card numbers from random digit runs, and exactly the kind
    * of validation a regex alone cannot do), and the portable hash
    * of the REDACTED text (each match replaced by '[PII]'), which
    * proves byte-identical redaction across engines rather than just
    * equal counts. A deterministic slice of the corpus (doc_id ≡ 2
    * mod 9) is planted with an email, a phone, and a card candidate
    * (the dedup39/mm10 planting discipline); Luhn validity falls out
    * of each doc's own digits, so both verdict arms occur naturally
    * (PiiRedactSpec pins that and the redaction's idempotence).
    *
    * Shape at scale: entirely map-side per document (extract,
    * Luhn-fold over ≤16-element sequences, replace, hash) — the only
    * shuffle is the presentation sort. Redaction order is fixed
    * email → phone → card on both engines.
    */
  private val piiRedact: Q = (s, dir) => {
    val planted = docs(s, dir).select(
      col("doc_id"),
      when(
        pmod(col("doc_id"), lit(9)) === 2,
        concat(
          col("text"),
          lit(" reach me at u"),
          col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" card "),
          lpad(pmod(col("doc_id"), lit(100000000)).cast("string"), 8, "0"),
          lpad(pmod(col("doc_id"), lit(100000000)).cast("string"), 8, "0")
        )
      ).otherwise(col("text")).as("ptext")
    )
    def luhnDigit(c: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) = {
      val d = c.substr((lit(16) - j).cast("int"), lit(1)).cast("long")
      when(
        pmod(j, lit(2)) === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
      ).otherwise(d)
    }
    val det = planted.select(
      col("doc_id"),
      col("ptext"),
      expr(s"regexp_extract_all(ptext, '$PII_EMAIL', 0)").as("emails"),
      expr(s"regexp_extract_all(ptext, '$PII_PHONE', 0)").as("phones"),
      expr(s"regexp_extract_all(ptext, '$PII_CARD', 0)").as("cards")
    )
    det
      .select(
        col("doc_id"),
        size(col("emails")).cast("long").as("n_emails"),
        size(col("phones")).cast("long").as("n_phones"),
        size(col("cards")).cast("long").as("n_cards"),
        aggregate(
          col("cards"),
          lit(0L),
          (acc, c) =>
            acc + when(
              pmod(
                aggregate(
                  sequence(lit(0), lit(15)),
                  lit(0L),
                  (a, j) => a + luhnDigit(c, j)
                ),
                lit(10)
              ) === 0,
              1L
            ).otherwise(0L)
        ).as("n_valid_cards"),
        PortableHash
          .h32(
            regexp_replace(
              regexp_replace(
                regexp_replace(col("ptext"), PII_EMAIL, "[PII]"),
                PII_PHONE,
                "[PII]"
              ),
              PII_CARD,
              "[PII]"
            )
          )
          .as("red_hash")
      )
      .filter(col("n_emails") + col("n_phones") + col("n_cards") > 0)
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = named(
    "text45_pii_redact" -> piiRedact,
    "text44_bm25_topk" -> bm25Retrieval,
    "text43_bool_retrieval" -> boolRetrieval,
    "text42_pr_sweep" -> prSweep,
    "text38_bpe_merges" -> bpeMerges,
    "text39_bpe_encode" -> bpeEncode,
    "text40_bpe_batch_learn" -> bpeBatchMerges,
    "text41_line_boilerplate" -> lineBoilerplate,
    "text32_length_buckets" -> lengthBuckets,
    "text33_mlm_mask" -> mlmMask,
    "text34_temperature_mix" -> temperatureMix,
    "text35_fim_transform" -> fimTransform,
    "text36_neg_sampling" -> negSamplingTable,
    "text37_pack_sequences" -> packSequences
  )

  /** The learner loop's oracle form, shared by text38/text39: w0 is
    * the word-frequency dict split to characters; each round's CTEs
    * are (pair counts, argmax, fold rewrite, report row). `word` is
    * carried through every w$i so text39 can join the final dict.
    */
  private lazy val bpeOracleCtes: String = {
    val rounds = (1 to BPE_MERGES).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (
         |  SELECT syms[j] AS lhs, syms[j+1] AS rhs,
         |    CAST(SUM(cnt) AS BIGINT) AS pair_count
         |  FROM w$p, range(1, ${BPE_MAX_WORD + 1}) t(j)
         |  WHERE j <= len(syms) - 1
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (
         |  SELECT lhs AS ml, rhs AS mr, lhs || rhs AS mm,
         |    pair_count AS mc
         |  FROM p$i ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT word, list_reduce(
         |      list_transform(syms, s -> [s]),
         |      (acc, x) -> CASE WHEN acc[len(acc)] = ml AND x[1] = mr
         |        THEN list_append(acc[1:len(acc)-1], mm)
         |        ELSE list_append(acc, x[1]) END) AS syms,
         |    cnt
         |  FROM w$p LEFT JOIN m$i ON TRUE),
         |r$i AS MATERIALIZED (
         |  SELECT CAST($i AS BIGINT) AS round, ml AS lhs, mr AS rhs,
         |    mm AS merged, mc AS pair_count,
         |    (SELECT CAST(SUM(cnt * len(syms)) AS BIGINT) FROM w$i)
         |      AS corpus_tokens_after
         |  FROM m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT word, regexp_extract_all(word, '(?s).') AS syms, cnt FROM (
       |    SELECT t.tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |    FROM documents, unnest($toksSql) AS t(tok)
       |    WHERE length(t.tok) > 0 AND length(t.tok) <= $BPE_MAX_WORD
       |    GROUP BY t.tok)),
       |$rounds""".stripMargin
  }

  val oracle: Map[String, String] = named(
    // same planted slice, same portable patterns (no backslash
    // classes — the engines disagree on literal escaping), the same
    // Luhn fold, and the redaction hash over the same email → phone
    // → card replace order (DuckDB regexp_replace needs 'g')
    "text45_pii_redact" -> {
      val red =
        s"""regexp_replace(regexp_replace(regexp_replace(ptext,
           |      '$PII_EMAIL', '[PII]', 'g'),
           |      '$PII_PHONE', '[PII]', 'g'),
           |      '$PII_CARD', '[PII]', 'g')""".stripMargin
      val digit =
        "CAST(substring(c, CAST(16 - j AS BIGINT), 1) AS BIGINT)"
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 2 THEN
         |      concat(text, ' reach me at u', CAST(doc_id AS VARCHAR),
         |        '@example.com or 555-',
         |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' card ',
         |        lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0'),
         |        lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0'))
         |    ELSE text END AS ptext
         |  FROM documents),
         |det AS (
         |  SELECT doc_id, ptext,
         |    regexp_extract_all(ptext, '$PII_EMAIL') AS emails,
         |    regexp_extract_all(ptext, '$PII_PHONE') AS phones,
         |    regexp_extract_all(ptext, '$PII_CARD') AS cards
         |  FROM planted),
         |luhn AS (
         |  SELECT doc_id, ptext, emails, phones, cards,
         |    list_sum(list_transform(cards, c ->
         |      CASE WHEN list_sum(list_transform(range(0, 16), j ->
         |          CASE WHEN j % 2 = 1 THEN
         |            CASE WHEN 2 * $digit > 9
         |              THEN 2 * $digit - 9
         |              ELSE 2 * $digit END
         |          ELSE $digit END))
         |        % 10 = 0 THEN 1 ELSE 0 END)) AS n_valid
         |  FROM det)
         |SELECT doc_id,
         |  CAST(len(emails) AS BIGINT) AS n_emails,
         |  CAST(len(phones) AS BIGINT) AS n_phones,
         |  CAST(len(cards) AS BIGINT) AS n_cards,
         |  CAST(COALESCE(n_valid, 0) AS BIGINT) AS n_valid_cards,
         |  ${PortableHash.sqlH32(red)} AS red_hash
         |FROM luhn
         |WHERE len(emails) + len(phones) + len(cards) > 0
         |ORDER BY doc_id""".stripMargin
    },
    // the same one-pass postings (dl + filtered unnest), VALUES term
    // map, and the identical nested integer-div BM25 fixed-point —
    // // in DuckDB, div in Spark, same nesting order
    "text44_bm25_topk" -> {
      val termValues = BOOL_QUERIES
        .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
        .mkString(", ")
      val allTerms =
        BOOL_QUERIES.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
      s"""WITH tq(query_id, term) AS (VALUES $termValues),
         |base AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(len(toks)) AS BIGINT) AS sumdl FROM base),
         |p AS (SELECT doc_id, dl, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
         |      FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         |              unnest(list_filter(toks, x -> x IN ($allTerms))) AS t
         |            FROM base) u
         |      GROUP BY 1, 2, 3),
         |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM p GROUP BY 1),
         |parts AS (SELECT tq.query_id, p.doc_id,
         |    ((p.tf * ($RANK_K1 + 1000) * 1000000) //
         |      (p.tf * 1000 + ($RANK_K1 * (1000 - $RANK_B +
         |        ($RANK_B * p.dl * 1000) // ((tot.sumdl * 1000) // tot.n)))
         |        // 1000))
         |    * (((tot.n - dfs.df + 1) * 1000000) // (dfs.df + 1)) // 1000000
         |      AS part
         |  FROM p JOIN tq USING (term) JOIN dfs USING (term), tot),
         |sc AS (SELECT query_id, doc_id, CAST(SUM(part) AS BIGINT) AS score_ppm
         |       FROM parts GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score_ppm,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY score_ppm DESC, doc_id ASC) AS rank
         |      FROM sc)
         |SELECT CAST(query_id AS INT) AS query_id, CAST(rank AS INT) AS rank,
         |  doc_id, score_ppm
         |FROM r WHERE rank <= $BOOL_TOPK
         |ORDER BY query_id, rank""".stripMargin
    },
    // same posting filter, same fan-out via a VALUES term map, the
    // same arity-count intersection and (score DESC, doc ASC) top-K
    "text43_bool_retrieval" -> {
      val termValues = BOOL_QUERIES
        .flatMap { case (q, ts) => ts.map(t => s"($q, '$t', ${ts.size})") }
        .mkString(", ")
      val allTerms =
        BOOL_QUERIES.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
      s"""WITH tq(query_id, term, arity) AS (VALUES $termValues),
         |p AS (
         |  SELECT doc_id, u.t AS term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents) u(doc_id, t)
         |  WHERE u.t IN ($allTerms)
         |  GROUP BY 1, 2),
         |qual AS (
         |  SELECT tq.query_id, p.doc_id, tq.arity,
         |    COUNT(DISTINCT p.term) AS n_matched,
         |    CAST(SUM(p.tf) AS BIGINT) AS score
         |  FROM p JOIN tq USING (term)
         |  GROUP BY 1, 2, 3
         |  HAVING COUNT(DISTINCT p.term) = tq.arity),
         |r AS (
         |  SELECT query_id, doc_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM qual)
         |SELECT CAST(query_id AS INT) AS query_id, CAST(rank AS INT) AS rank,
         |  doc_id, score
         |FROM r WHERE rank <= $BOOL_TOPK
         |ORDER BY query_id, rank""".stripMargin
    },
    // text28's margin mirror (same weights literal, same hashed
    // buckets), the integer keep comparison at each grid threshold,
    // ppm ratios via floor integer division on both engines
    "text42_pr_sweep" -> {
      val wlit = TextQueries2.qcWeights.mkString("[", ",", "]")
      s"""WITH s AS (
         |  SELECT lang = 'en' AS truth,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(list_sum(list_transform($toksSql,
         |      t -> ($wlit)[CAST(${PortableHash.sqlH32("t")}
         |             % ${TextQueries2.qcDim} AS INT) + 1]))
         |      AS BIGINT) AS margin_num
         |  FROM documents),
         |k AS (
         |  SELECT truth, CAST(g.t AS INT) AS t,
         |    margin_num * 20 > g.t * n_tokens * 2147483648 AS keep
         |  FROM s, range($PR_T_MIN, ${PR_T_MAX + 1}) g(t)),
         |conf AS (
         |  SELECT t,
         |    CAST(SUM(CASE WHEN truth AND keep THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN NOT truth AND keep THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN truth AND NOT keep THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN NOT truth AND NOT keep THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tn
         |  FROM k GROUP BY 1)
         |SELECT t, tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END
         |    AS precision_ppm,
         |  CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END
         |    AS recall_ppm
         |FROM conf ORDER BY t""".stripMargin
    },
    // same planted lines (header/body-chunks/footer), same ≥T distinct-
    // doc drop rule, reconstruction via ordered string_agg; the body
    // chunk fan-out uses the constant-range + WHERE pattern (cdc15's)
    // because DuckDB's range() takes no lateral column args — 1024
    // bounds chunks at 8·1024 words/doc, far above the corpus max
    "text41_line_boilerplate" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |           FROM documents),
         |body AS (SELECT doc_id, CAST(r.i + 1 AS INT) AS pos,
         |    array_to_string(
         |      w[CAST(r.i*$LINE_W+1 AS INT) : CAST(r.i*$LINE_W+$LINE_W AS INT)],
         |      ' ') AS line
         |  FROM d CROSS JOIN range(0, 1024) r(i)
         |  WHERE r.i < (len(w) + ${LINE_W - 1}) // $LINE_W),
         |lines AS (
         |  SELECT doc_id, 0 AS pos, 'HDR ' || source AS line FROM d
         |  UNION ALL SELECT doc_id, pos, line FROM body
         |  UNION ALL SELECT doc_id, 1000000, 'FTR common' FROM d),
         |freq AS (SELECT line, COUNT(DISTINCT doc_id) AS df
         |         FROM lines GROUP BY line)
         |SELECT l.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_lines,
         |  CAST(SUM(CASE WHEN f.df >= $LINE_DF_T THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped,
         |  COALESCE(string_agg(CASE WHEN f.df < $LINE_DF_T THEN l.line END,
         |    chr(10) ORDER BY l.pos), '') AS clean_text
         |FROM lines l JOIN freq f USING (line)
         |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,
    // rounds unrolled as MATERIALIZED CTEs (the sim23/dedup22
    // discipline); the greedy left-to-right merge is the same fold,
    // expressed as list_reduce over single-element lists (DuckDB's
    // reduce needs accumulator and element types to match)
    "text38_bpe_merges" -> {
      val sel = (1 to BPE_MERGES)
        .map(i => s"SELECT * FROM r$i")
        .mkString("\nUNION ALL ")
      s"""$bpeOracleCtes
         |$sel
         |ORDER BY round""".stripMargin
    },
    // text40's oracle IS text38's sequential unroll (minus the
    // per-merge corpus snapshot): the batched learner's whole claim
    // is producing the sequential merge sequence in fewer passes
    "text40_bpe_batch_learn" -> {
      val sel = (1 to BPE_MERGES)
        .map(i =>
          s"SELECT round AS seq, lhs, rhs, merged, pair_count FROM r$i"
        )
        .mkString("\nUNION ALL ")
      s"""$bpeOracleCtes
         |$sel
         |ORDER BY seq""".stripMargin
    },
    "text39_bpe_encode" ->
      s"""$bpeOracleCtes,
         |pieces AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_pieces,
         |    CAST(length(word) AS BIGINT) AS nc
         |  FROM w$BPE_MERGES),
         |occ AS (SELECT lang, t.tok AS word
         |  FROM documents, unnest($toksSql) AS t(tok)
         |  WHERE length(t.tok) > 0 AND length(t.tok) <= $BPE_MAX_WORD)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_pieces) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(nc) AS BIGINT) AS n_chars,
         |  CAST(SUM(n_pieces) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS tokens_per_word,
         |  CAST(SUM(nc) AS DOUBLE) / CAST(SUM(n_pieces) AS DOUBLE)
         |    AS chars_per_token
         |FROM occ JOIN pieces USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "text32_length_buckets" ->
      s"""WITH n AS (SELECT CAST(len($toksSql) AS BIGINT) AS n
         |           FROM documents),
         |b AS (SELECT CASE WHEN n <= 1 THEN 1
         |               ELSE (1::BIGINT << len(bin(n - 1))) END AS bucket, n
         |      FROM n)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
         |  CAST(bucket * COUNT(*) AS BIGINT) AS padded_tokens,
         |  CAST(bucket * COUNT(*) - SUM(n) AS BIGINT) AS waste_tokens,
         |  CAST(bucket * COUNT(*) - SUM(n) AS DOUBLE)
         |    / CAST(bucket * COUNT(*) AS DOUBLE) AS waste_frac
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "text33_mlm_mask" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, toks,
         |        list_transform(range(0, len(toks)),
         |          i -> ${PortableHash.sqlH32(
          "concat(CAST(doc_id AS VARCHAR), ':', CAST(i AS VARCHAR), ':', toks[i+1])"
        )} % 100 < $MASK_PCT) AS mf
         |      FROM t)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(list_aggregate(list_transform(mf,
         |    x -> CASE WHEN x THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT)
         |    AS n_masked,
         |  array_to_string(list_transform(range(0, len(toks)),
         |    i -> CASE WHEN mf[i+1] THEN '[MASK]' ELSE toks[i+1] END), ' ')
         |    AS masked_text
         |FROM m ORDER BY doc_id""".stripMargin,
    "text35_fim_transform" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
         |c AS (SELECT doc_id, toks, n,
         |        CASE WHEN n = 0 THEN 0
         |          ELSE ${PortableHash.sqlH32(
          "concat('fim1:', CAST(doc_id AS VARCHAR))"
        )} % n END AS c1
         |      FROM n),
         |c2 AS (SELECT doc_id, toks, n, c1,
         |         c1 + ${PortableHash.sqlH32(
          "concat('fim2:', CAST(doc_id AS VARCHAR))"
        )} % (n - c1 + 1) AS c2
         |       FROM c)
         |SELECT doc_id, n AS n_tokens, c1 AS prefix_len,
         |  (c2 - c1) AS middle_len,
         |  concat('<fim_prefix> ',
         |    array_to_string(list_slice(toks, 1, c1), ' '),
         |    ' <fim_suffix> ',
         |    array_to_string(list_slice(toks, c2 + 1, n), ' '),
         |    ' <fim_middle> ',
         |    array_to_string(list_slice(toks, c1 + 1, c2), ' ')) AS psm_text
         |FROM c2 ORDER BY doc_id""".stripMargin,
    "text37_pack_sequences" -> {
      val b = TextQueries.packBudget
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
         |p AS (SELECT doc_id, toks, n,
         |        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS prefix
         |      FROM n),
         |pc AS (SELECT doc_id, toks, n, prefix,
         |         unnest(generate_series(prefix // $b,
         |           (prefix + greatest(n, 1) - 1) // $b)) AS cid
         |       FROM p),
         |pieces AS (SELECT cid AS chunk_id, doc_id,
         |             list_slice(toks,
         |               CAST(greatest(0, cid * $b - prefix) + 1 AS BIGINT),
         |               CAST(least(n, (cid + 1) * $b - prefix) AS BIGINT))
         |               AS piece
         |           FROM pc
         |           WHERE least(n, (cid + 1) * $b - prefix)
         |             > greatest(0, cid * $b - prefix))
         |SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_pieces,
         |  CAST(list_aggregate(list_transform(list(piece ORDER BY doc_id),
         |    x -> len(x)), 'sum') AS BIGINT) AS n_tokens,
         |  array_to_string(flatten(list(piece ORDER BY doc_id)), ' ')
         |    AS seq_text
         |FROM pieces GROUP BY chunk_id ORDER BY chunk_id""".stripMargin
    },
    "text36_neg_sampling" ->
      s"""WITH v AS (SELECT unnest($toksSql) AS token FROM documents),
         |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM v GROUP BY token),
         |wv AS (SELECT token, cnt,
         |         sqrt(CAST(cnt AS DOUBLE) * sqrt(CAST(cnt AS DOUBLE)))
         |           AS w34
         |       FROM c),
         |t AS (SELECT list_aggregate(list(w34 ORDER BY token), 'sum')
         |        AS tot FROM wv)
         |SELECT token, cnt, w34, w34 / tot AS p_draw
         |FROM wv, t ORDER BY token""".stripMargin,
    "text34_temperature_mix" ->
      s"""WITH l AS (SELECT lang, COUNT(*) AS n_docs,
         |             CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT)
         |               AS n_tokens
         |           FROM documents GROUP BY lang),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_toks,
         |        list_aggregate(
         |          list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY lang),
         |          'sum') AS tot_w
         |      FROM l)
         |SELECT lang, n_docs, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / CAST(tot_toks AS DOUBLE) AS nat_share,
         |  sqrt(CAST(n_tokens AS DOUBLE)) / tot_w AS temp_weight,
         |  (sqrt(CAST(n_tokens AS DOUBLE)) / tot_w)
         |    / (CAST(n_tokens AS DOUBLE) / CAST(tot_toks AS DOUBLE))
         |    AS upsample_factor
         |FROM l, t ORDER BY lang""".stripMargin
  )
}
