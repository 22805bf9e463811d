package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization / token counting, language identification (n-gram /
  * stopword heuristic), quality scoring, and document fingerprinting.
  *
  * All operators are pure `Column` expressions — narrow, shuffle-free,
  * codegen-eligible — so a 100 TB corpus pass is a single pipelined
  * scan with no UDF serialization cost.
  */
object TextAnalysis {

  /** Whitespace tokens; empty/blank text → empty array (`split` on a
    * blank string would yield [""]). */
  def tokens(text: Column): Column =
    when(trim(text) === "" || text.isNull, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** The fused per-row stats struct (`graft_text_stats`): char/token/
    * punct/lang-marker counts in one kernel pass. Every count-shaped
    * annotator below is arithmetic over this ONE expression, and
    * codegen subexpression elimination shares a single evaluation
    * when several annotators sit in one projection (the curation
    * annotate chain previously paid one String conversion + one
    * materialized regex match ARRAY per helper per row). */
  private def statsOf(text: Column): Column =
    call_function("graft_text_stats", coalesce(text, lit("")))

  /** [[statsOf]] pinned behind the `graft_eval_once` optimizer barrier
    * ([[graft.functions.EvalBarrier]]): a caller that materializes
    * this as a COLUMN and filters on fields derived from it is
    * guaranteed ONE kernel evaluation per row — PushDownPredicate
    * cannot inline the kernel into the filter conjuncts (where
    * whole-stage-codegen does no subexpression elimination: measured
    * 2.8–5.8× on tp1/tp2/tp12) and CollapseProject cannot duplicate it
    * per consumer. Identity on the value. */
  def sharedStats(text: Column): Column =
    call_function("graft_eval_once", statsOf(text))

  /** Tokenizer-only stats (no regex-marker counts) — for annotators
    * that need counts/lengths alone; the full statsOf would pay six
    * wasted regex scans per row (measured +0.4 s on t1). */
  private def tokStatsOf(text: Column): Column =
    call_function("graft_token_stats", coalesce(text, lit("")))

  def tokenCount(text: Column): Column = tokStatsOf(text).getField("n_tokens")

  /** The `tokens(normalized(text))` idiom as ONE kernel call
    * (`graft_tokens`): lowercase + java-\s byte split in a single
    * loop, element-for-element ≡ the regex chain (TextAnalysisSpec).
    * Every per-token operator (LM scoring, BM25, sketches, DSIR)
    * routes through this. */
  def normalizedTokens(text: Column): Column =
    call_function("graft_tokens", coalesce(text, lit("")))

  /** BPE-ish subword proxy: runs of word chars OR single non-space
    * punctuation — the classic pre-tokenizer regex. */
  val BpeishPattern = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(coalesce(text, lit("")), lit(BpeishPattern), lit(0))

  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  def charCount(text: Column): Column = length(coalesce(text, lit("")))

  // -------------------------------------------------------------------
  // Language ID: stopword-hit heuristic. Deterministic and
  // SQL-mirrorable (same regex counts run in any engine). Real
  // pipelines plug a model here; the operator shape (score-per-lang →
  // argmax) is what matters.
  // -------------------------------------------------------------------

  /** Tiny high-frequency function-word lists per language (canonical
    * strings live next to the fused kernel — one source of truth). */
  val LangMarkers: Seq[(String, String)] = graft.functions.GraftTextPatterns.LangMarkers

  /** CJK ideograph detection for zh (codepoint-range n-gram test). */
  val ZhPattern = graft.functions.GraftTextPatterns.ZhPattern

  /** Predicted language = argmax over marker-hit counts; no hits →
    * 'und'. Tie-break: `greatest` over (score, lang) structs picks the
    * lexicographically LARGEST language code on a score tie (zh > fr >
    * es > en > de) — the t2 oracle's CASE chain mirrors exactly this
    * order, so any change here (or a new language) must be mirrored
    * there. Counts come from the fused stats kernel (same
    * java.util.regex engine and patterns as the old per-marker
    * regexp_extract_all chain — bit-identical counts, one text pass). */
  def langId(text: Column): Column = langIdOfStats(statsOf(text))

  /** [[langId]] over an already-computed stats struct (a
    * [[sharedStats]] column) — same expression, shared kernel eval. */
  def langIdOfStats(st: Column): Column = {
    val zh = st.getField("zh") * 3 // ideograms are strong signal
    val scored = ("zh", zh) +:
      LangMarkers.map { case (l, _) => (l, st.getField(l)) }
    val best = scored.map { case (l, s) => struct(s.as("score"), lit(l).as("lang")) }
    val top = greatest(best: _*) // struct ordering: score first, then lang
    when(top.getField("score") > 0, top.getField("lang")).otherwise(lit("und"))
  }

  // -------------------------------------------------------------------
  // Quality scoring: length / punctuation / stopword / word-shape
  // ratios, the standard cheap pre-filter for web-scale corpora.
  // -------------------------------------------------------------------

  def stopwordCount(text: Column): Column = statsOf(text).getField("en")

  def meanWordLength(text: Column): Column = {
    val st = tokStatsOf(text)
    val n = st.getField("n_tokens")
    when(n === 0, lit(0.0))
      .otherwise(st.getField("tok_chars").cast("double") / n)
  }

  /** Composite quality score in [0,1]: rewards adequate length, real
    * words and some stopword mass; penalizes punctuation soup. The
    * exact formula is a deterministic, engine-portable stand-in for a
    * learned quality model. */
  def qualityScore(text: Column): Column = qualityScoreOfStats(statsOf(text))

  /** [[qualityScore]] over an already-computed stats struct (a
    * [[sharedStats]] column) — same expression, shared kernel eval. */
  def qualityScoreOfStats(st: Column): Column = {
    val chars = st.getField("n_chars").cast("double")
    val toks = st.getField("n_tokens").cast("double")
    val mwl = {
      val n = st.getField("n_tokens")
      when(n === 0, lit(0.0)).otherwise(st.getField("tok_chars").cast("double") / n)
    }
    val lengthOk = least(chars / 200.0, lit(1.0)) // saturate at 200 chars
    val punctRatio = when(chars === 0, 1.0).otherwise(st.getField("punct") / chars)
    val stopRatio = when(toks === 0, 0.0).otherwise(least(st.getField("en") / toks, lit(0.5)) * 2.0)
    val wordShape = when(toks === 0, 0.0)
      .otherwise(least(mwl / 5.0, lit(1.0)))
    round(lit(0.4) * lengthOk + lit(0.2) * stopRatio + lit(0.2) * wordShape
      + lit(0.2) * (lit(1.0) - least(punctRatio * 5.0, lit(1.0))), 6)
  }

  /** Repetition score in [0,1]: fraction of DUPLICATE word k-grams
    * (1 − distinct/total over the gram multiset) — the standard
    * repetitive-document signal (boilerplate, keyword stuffing,
    * generation loops) that length/punctuation quality scoring cannot
    * see. 0 for docs with fewer than k tokens. Narrow per-row
    * expression over bound tokens — same zero-shuffle shape as the
    * other annotators, and SQL-replayable (list_distinct / len). */
  def repetitionScore(toks: Column, k: Int = 2): Column = {
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(k))),
    )
    val total = size(toks) - (k - 1)
    when(total <= 0, lit(0.0))
      .otherwise(
        round(lit(1.0) - size(array_distinct(grams)).cast("double") / total.cast("double"), 6))
  }

  // -------------------------------------------------------------------
  // Gopher-style quality rules (Rae et al. 2021, "Scaling Language
  // Models: Methods, Analysis & Insights from Training Gopher",
  // appendix A1.1 — the public heuristic family later reused by
  // RefinedWeb/Dolma). Each rule is a pure Column predicate over a
  // BOUND tokens column (bind once with `tokens()` — the HOF-lambda
  // re-evaluation gotcha), so a corpus pass stays one narrow
  // codegen'd scan. Unlike the scalar qualityScore, these are the
  // hard pass/fail gates a curation run reports per rule.
  // -------------------------------------------------------------------

  /** Mean word length over a bound tokens column; 0 for empty docs. */
  def meanWordLengthOf(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(toks).cast("double"))

  /** '#' and '…'/'...' count — the Gopher "symbol" set (both the
    * single-char ellipsis and the three-dot ASCII spelling). */
  def symbolCount(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")), lit("#|\\.\\.\\.|…"), lit(0)))

  /** Symbol-to-word ratio; an empty doc is all-symbol by convention
    * (ratio 1 ⇒ fails the gate, matching the word-count gate). */
  def symbolWordRatio(text: Column, toks: Column): Column =
    when(size(toks) === 0, lit(1.0))
      .otherwise(symbolCount(text).cast("double") / size(toks).cast("double"))

  /** Fraction of words containing at least one alphabetic character.
    * The per-element regex runs once per word by construction, so the
    * HOF-lambda placement is safe here. */
  def alphaWordFraction(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double")
        / size(toks).cast("double"))

  // -------------------------------------------------------------------
  // Fingerprinting
  // -------------------------------------------------------------------

  /** Whitespace-collapsed lowercase normal form. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(coalesce(text, lit(""))), "\\s+", " "))

  /** Content fingerprint = md5 of the normal form: stable across
    * engines (md5 over UTF-8 bytes), the exact-dedup key. */
  def fingerprintMd5(text: Column): Column = md5(normalized(text))

  /** 64-bit rolling polynomial hash (base-31, wrapping long arithmetic)
    * over the normal form's characters — order-sensitive, unlike a
    * token-set hash. Computed as a higher-order fold: no UDF, no
    * shuffle. */
  def rollingHash64(text: Column): Column =
    aggregate(
      split(normalized(text), ""),
      lit(1125899906842597L),
      (acc, ch) => acc * 31L + coalesce(ascii(ch), lit(0)),
    )
}
