package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline
  * surface: tokenization, quality scoring, language ID, document
  * fingerprinting. All pure per-row expressions (no UDFs, no shuffle)
  * so they stay inside whole-stage codegen / evaluate vectorized —
  * the 100 TB posture is "text ops are map-side only".
  *
  * Every function has a DuckDB-SQL mirror used by the oracle gate
  * (see graft.ops.TextQueries) — keep the two in lockstep.
  */
object TextFunctions {

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  // The `*Of` forms take an ALREADY-TOKENIZED array column: queries
  // that derive several stats from the same text must stage
  // `tokens(text)` as one projection column and feed it here — the
  // text-taking forms below re-tokenize per call, which multiplies the
  // split work by the number of derived stats (the round-1
  // HOF-inlining lesson, applied to the text family in round 4).

  // `size(NULL)` is -1 in Spark where DuckDB's `len(NULL)` is NULL:
  // every size-derived stat guards the null array so a null-text doc
  // scores NULL on both engines (fixtures carry no null text — this
  // is the latent-divergence class the oracle gate cannot reach).

  def tokenCountOf(toks: Column): Column =
    when(toks.isNotNull, size(toks))

  def uniqueTokenCountOf(toks: Column): Column =
    when(toks.isNotNull, size(array_distinct(toks)))

  /** Total characters across tokens (exact integer aggregate). BIGINT
    * on both engines: DuckDB's list_aggregate 'sum' yields HUGEINT,
    * which pandas renders as float64 — both sides pin to long so the
    * gate hashes `13`, not `13.0` (see oracle text01).
    */
  def tokenCharCountOf(toks: Column): Column =
    aggregate(
      transform(toks, t => length(t)),
      lit(0),
      (acc, x) => acc + x
    ).cast("long")

  /** Count of tokens found in `words`. */
  def stopwordCountOf(toks: Column, words: Seq[String]): Column =
    when(toks.isNotNull, size(filter(toks, t => t.isin(words.map(lit): _*))))

  /** Adjacent-token bigrams `"a b"` of a token array (empty for a
    * single-token array): two length-aligned slices zipped with a
    * space separator. Pure array expression — no explode until the
    * caller chooses to.
    */
  def bigramsOf(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      // concat (not concat_ws): null-propagating like DuckDB's `||`
      (a, b) => concat(a, lit(" "), b)
    )

  def tokenCount(text: Column): Column = tokenCountOf(tokens(text))

  def uniqueTokenCount(text: Column): Column =
    uniqueTokenCountOf(tokens(text))

  def tokenCharCount(text: Column): Column =
    tokenCharCountOf(tokens(text))

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Language-ID stopword profiles (public function-word lists). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "ein", "nicht"),
    "es" -> Seq("el", "los", "las", "y", "que", "una")
  )

  /** CJK character count (zh evidence for [[langId]]). */
  def cjkCharCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[一-鿿]", ""))

  /** Language-ID decision tree over precomputed evidence columns
    * (CJK char count + per-language stopword hits): CJK presence
    * short-circuits to zh; otherwise the profile with the most hits
    * wins (deterministic tie order en > fr > de > es); no hits ⇒
    * unknown. Take the counts from staged columns — inlining five
    * count expressions into one CASE re-tokenizes per branch.
    */
  def langIdFromCounts(
      cjk: Column,
      en: Column,
      fr: Column,
      de: Column,
      es: Column
  ): Column =
    when(cjk > 0, lit("zh"))
      .when(en >= fr && en >= de && en >= es && en > 0, lit("en"))
      .when(fr >= de && fr >= es && fr > 0, lit("fr"))
      .when(de >= es && de > 0, lit("de"))
      .when(es > 0, lit("es"))
      .otherwise(lit("unknown"))

  /** Heuristic language ID from raw text (convenience form). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    langIdFromCounts(
      cjkCharCount(text),
      stopwordCountOf(toks, stopwords("en")),
      stopwordCountOf(toks, stopwords("fr")),
      stopwordCountOf(toks, stopwords("de")),
      stopwordCountOf(toks, stopwords("es"))
    )
  }

  /** Composite quality score in [0,1] from precomputed counts: length
    * saturation, stopword density, lexical diversity. Deterministic
    * double arithmetic (term order fixed — the oracle mirrors it).
    */
  def qualityScoreFromCounts(
      nTok: Column,
      nStop: Column,
      nUniq: Column
  ): Column = {
    val nTokD = nTok.cast("double")
    val lengthTerm = least(lit(1.0), nTokD / 50.0)
    val stopRatio = nStop.cast("double") / nTokD
    val diversity = nUniq.cast("double") / nTokD
    lit(0.4) * lengthTerm + lit(0.3) * least(lit(1.0), stopRatio * 5.0) +
      lit(0.3) * diversity
  }

  /** Whitespace-normalized lowercase form (dedup canonicalization). */
  def normalized(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Content fingerprint: md5 of the normalized form. */
  def fingerprintMd5(text: Column): Column = md5(normalized(text))

  /** 31-base rolling polynomial hash mod 1e9+7 over the normalized
    * text's codepoints — the classic Karp-Rabin document fingerprint,
    * expressed with higher-order array functions (portable to the
    * DuckDB oracle via list_reduce).
    */
  def fingerprintRolling(text: Column): Column = {
    val cps = transform(
      array_remove(split(normalized(text), ""), ""),
      ch => ascii(ch).cast("long")
    )
    aggregate(
      cps,
      lit(0L),
      (acc, x) => pmod(acc * 31L + x, lit(1000000007L))
    )
  }
}
