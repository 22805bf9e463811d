package graft
package queries

import org.apache.spark.sql.functions._

import graft.text.{Chunking, Curation, Decontamination, ImportanceResampling, Packing, Sampling, Scrub, Sketches, TextAnalysis, TextDedup, TrainOrder}

import QueryInputs._
import OracleSql._

/** Curation and sampling (beyond-reference): filter chains, mixing,
  * packing, decontamination and importance resampling — query
  * prefix `tp`. */
private[graft] object CurationQueries {

  // DSIR parameters, shared between the tp17–tp19 registrations and
  // their oracle SQL.
  private val DsirBuckets = ImportanceResampling.DefaultBuckets // 8192, power of two
  private val DsirK = 100 // resample size; fixed, so the top-k plan is scale-free

  /** Exact 2-gram containment replay, shared VERBATIM by
    * `tp6_decontaminate` and `tp15_bloom_gated_decontam`: the Bloom
    * gate has no false negatives, so the gated composition must equal
    * the ungated operator bit-for-bit — one oracle, two
    * implementations, the td14/td15 pattern. */
  private lazy val Tp6Sql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')), '\s+') AS tk
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    list_distinct(list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
      |      i -> array_to_string(tk[(i+1):(i+2)], ' '))) AS grams
      |  FROM toks),
      |bench AS (SELECT doc_id AS bench_id, grams AS bgrams FROM sh WHERE doc_id % 97 = 0)
      |SELECT c.doc_id, b.bench_id,
      |  ROUND(CAST(len(list_intersect(c.grams, b.bgrams)) AS DOUBLE) / len(b.bgrams), 6) AS containment
      |FROM sh c CROSS JOIN bench b
      |WHERE c.doc_id <> b.bench_id
      |  AND ROUND(CAST(len(list_intersect(c.grams, b.bgrams)) AS DOUBLE) / len(b.bgrams), 6) >= 0.2""".stripMargin

  /** DSIR hashed-ngram importance-weight replay: unigram + bigram
    * instances bucketed via gmix64(fnv1a(gram)) % DsirBuckets; add-one
    * smoothed target (lang='en') vs source (whole corpus) bucket
    * multinomials; per-doc order-free DECIMAL(18,12) sum of the
    * per-bucket log deltas (the t10 pattern). Ends in table
    * `w(doc_id, n_grams, logw)` — shared by `tp17_dsir_weights` and
    * the `tp18_dsir_resample` Gumbel top-k. */
  private lazy val DsirWeightsCteSql =
    s"""tk AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
       |g AS (SELECT doc_id, lang, list_concat(t,
       |    CASE WHEN len(t) >= 2
       |      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |      ELSE CAST([] AS VARCHAR[]) END) AS grams
       |  FROM tk),
       |inst AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g),
       |bk AS (SELECT doc_id, lang, ${gmixSql(fnvSql("gram"))} % $DsirBuckets AS bucket FROM inst),
       |sc AS (SELECT bucket, COUNT(*) AS cs FROM bk GROUP BY bucket),
       |tc AS (SELECT bucket, COUNT(*) AS ct FROM bk WHERE lang = 'en' GROUP BY bucket),
       |tn AS (SELECT SUM(ct) AS nt FROM tc), sn AS (SELECT SUM(cs) AS ns FROM sc),
       |dl AS (SELECT sc.bucket,
       |    ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / CAST(nt + $DsirBuckets AS DOUBLE))
       |      - ln(CAST(sc.cs + 1 AS DOUBLE) / CAST(ns + $DsirBuckets AS DOUBLE)) AS delta
       |  FROM sc LEFT JOIN tc USING (bucket), tn, sn),
       |per AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_grams,
       |    SUM(CAST(delta AS DECIMAL(18,12))) AS dsum
       |  FROM bk JOIN dl USING (bucket) GROUP BY doc_id),
       |w AS (SELECT d0.doc_id,
       |    COALESCE(per.n_grams, 0) AS n_grams,
       |    CASE WHEN per.n_grams IS NULL THEN 0.0
       |      ELSE ROUND(CAST(per.dsum AS DOUBLE), 6) END AS logw
       |  FROM documents d0 LEFT JOIN per USING (doc_id))""".stripMargin

  /** Per-doc Bloom suspicion replay (`tp16_bloom_suspicion`): tp6's
    * gram CTEs feed the t26/t27 bucket arithmetic at GRAM level —
    * benchmark grams set distinct (j, bucket) positions, every corpus
    * gram probes all BloomDepth positions, a gram is suspect iff all
    * hit, suspicion = suspects / grams. The replay rebuilds the filter
    * bits exactly, so DuckDB reproduces every false positive the Spark
    * masks produce — the fractions hash-match bit-for-bit. */
  private lazy val Tp16Sql =
    s"""WITH c AS (SELECT $PermASql AS pa, $PermBSql AS pb),
       |js AS (SELECT unnest(range(0, $BloomDepth)) AS j),
       |toks AS (SELECT doc_id,
       |    string_split_regex(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), '\\s+') AS tk
       |  FROM documents),
       |sh AS (SELECT doc_id,
       |    list_filter(list_distinct(list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
       |      i -> array_to_string(tk[(i+1):(i+2)], ' '))), x -> x <> '') AS grams
       |  FROM toks),
       |bgr AS (SELECT DISTINCT g FROM (SELECT unnest(grams) AS g FROM sh WHERE doc_id % 97 = 0)),
       |bh AS (SELECT ${gmixSql(fnvSql("g"))} AS hv FROM bgr),
       |bits AS (SELECT DISTINCT j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $BloomWidth AS bucket
       |  FROM bh, c, js),
       |cg AS (SELECT doc_id, unnest(grams) AS g FROM sh),
       |ch AS (SELECT doc_id, g, ${gmixSql(fnvSql("g"))} AS hv FROM cg),
       |cpos AS (SELECT doc_id, g, j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $BloomWidth AS bucket
       |  FROM ch, c, js),
       |gh AS (SELECT doc_id, g,
       |    SUM(CASE WHEN bits.bucket IS NOT NULL THEN 1 ELSE 0 END) AS hits
       |  FROM cpos LEFT JOIN bits ON bits.j = cpos.j AND bits.bucket = cpos.bucket
       |  GROUP BY doc_id, g),
       |sus AS (SELECT doc_id, COUNT(*) AS n_suspect FROM gh WHERE hits = $BloomDepth GROUP BY doc_id),
       |ng AS (SELECT doc_id, CAST(len(grams) AS INT) AS n_grams FROM sh)
       |SELECT ng.doc_id, ng.n_grams,
       |  CAST(COALESCE(s.n_suspect, 0) AS INT) AS n_suspect,
       |  CASE WHEN ng.n_grams = 0 THEN 0.0
       |    ELSE ROUND(CAST(COALESCE(s.n_suspect, 0) AS DOUBLE) / CAST(ng.n_grams AS DOUBLE), 6) END AS suspicion
       |FROM ng LEFT JOIN sus s ON s.doc_id = ng.doc_id""".stripMargin

  /** The oracle prefix tp2 and tp12 share: tp1's deterministic chain
    * (annotate → quality/language/token gate → exact dedup) composed
    * with the linear MinHash replay over its survivors, ending in the
    * `reps` and `losers` CTEs the two queries select from. */
  private lazy val CuratedLinearCtesSql =
    s"""WITH raw AS (
       |  SELECT doc_id, text,
       |    CAST(LENGTH(text) AS DOUBLE) AS chars,
       |    CASE WHEN TRIM(text) = '' THEN 0.0
       |      ELSE CAST(len(string_split_regex(TRIM(text), '\\s+')) AS DOUBLE) END AS toks,
       |    CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) AS punct,
       |    CASE WHEN TRIM(text) = '' THEN 0.0
       |      ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\\s+'), w -> LENGTH(w))) AS DOUBLE)
       |        / len(string_split_regex(TRIM(text), '\\s+')) END AS mwl,
       |    len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|in|is|that|with|for|was)\\b')) AS en,
       |    len(regexp_extract_all(text, '(?i)\\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\\b')) AS de,
       |    len(regexp_extract_all(text, '(?i)\\b(le|la|les|et|est|une|des|dans|pour|que)\\b')) AS fr,
       |    len(regexp_extract_all(text, '(?i)\\b(el|los|las|es|una|para|con|por|del|como)\\b')) AS es,
       |    3 * len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh,
       |    md5(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents),
       |m AS (SELECT *, GREATEST(en, de, fr, es, zh) AS mx FROM raw),
       |ann AS (
       |  SELECT doc_id, text, fp,
       |    CASE WHEN mx <= 0 THEN 'und'
       |      WHEN zh = mx THEN 'zh' WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
       |      WHEN en = mx THEN 'en' ELSE 'de' END AS curation_lang,
       |    ROUND(0.4 * LEAST(chars / 200.0, 1.0)
       |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(en / toks, 0.5) * 2.0 END)
       |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(mwl / 5.0, 1.0) END)
       |      + 0.2 * (1.0 - LEAST((CASE WHEN chars = 0 THEN 1.0 ELSE punct / chars END) * 5.0, 1.0)), 6) AS curation_quality,
       |    CAST(toks AS INT) AS curation_tokens
       |  FROM m),
       |exact AS (
       |  SELECT doc_id, text, curation_lang, curation_quality, curation_tokens
       |  FROM ann
       |  WHERE curation_quality >= 0.6 AND curation_lang = 'en'
       |    AND curation_tokens BETWEEN 20 AND 1048576
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
       |${minhashCtes("exact")},
       |$LinearLosersCtes""".stripMargin

  // Token-budget corpus mixing: each source keeps documents in a
  // deterministic md5-shuffled order until its char budget is spent
  // (boundary straddler kept, like tp3 packing). The absolute-budget
  // form of tp4's fractional mixing — exact domain shares even when
  // stratum sizes drift between crawls.
  private val tp7TokenBudgetMix = QuerySpec("tp7_token_budget_mix", (s, dir) =>
    Sampling
      .tokenBudgetSample(tbl(s, dir, "documents"), col("doc_id"), col("source"),
        col("n_chars"), Map("src0" -> 4000L, "src1" -> 4000L, "src2" -> 1000L),
        defaultBudget = 2000L, salt = "mix")
      .select("doc_id", "source", "n_chars"), _ =>
    """WITH h AS (SELECT doc_id, source, n_chars,
      |    md5(concat_ws(':', 'mix', CAST(doc_id AS VARCHAR))) AS hk
      |  FROM documents),
      |c AS (SELECT doc_id, source, n_chars,
      |    COALESCE(SUM(GREATEST(n_chars, 0)) OVER (PARTITION BY source ORDER BY hk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      |  FROM h)
      |SELECT doc_id, source, n_chars FROM c
      |WHERE prior < (CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 4000
      |               WHEN 'src2' THEN 1000 ELSE 2000 END)""".stripMargin)

  // Relative quality gate: top half of each language by the t3
  // quality score — a percentile cut survives corpus-mix drift where
  // an absolute threshold would not. Partitioned window only.
  private val tp10TopFraction = QuerySpec("tp10_top_fraction", (s, dir) =>
    Sampling
      .topFractionByScore(tbl(s, dir, "documents"), col("lang"),
        TextAnalysis.qualityScore(col("text")), col("doc_id"), fraction = 0.5)
      .select("doc_id", "lang", "source"), _ =>
    // Shared quality CTE + the same percent_rank ((i-1)/(n-1), IEEE
    // division) over (lang, quality desc, doc_id).
    s"""WITH $QualityCteSql,
       |r AS (SELECT d.doc_id, d.lang, d.source,
       |    PERCENT_RANK() OVER (PARTITION BY d.lang ORDER BY q.quality DESC, d.doc_id) AS pr
       |  FROM documents d JOIN q USING (doc_id))
       |SELECT doc_id, lang, source FROM r WHERE pr <= 0.5""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    // Composed curation pipeline, deterministic prefix: annotate
    // (lang/quality/tokens) → filter → exact dedup keep-min-id, all
    // one plan — the narrow annotate+filter fuses into the scan, the
    // dedup is the single shuffle. Oracle reproduces every stage.
    QuerySpec("tp1_curation_filters", (s, dir) =>
      Curation
        .filterAndExactDedup(tbl(s, dir, "documents"), "doc_id", "text",
          Curation.Config(minQuality = 0.6, langs = Seq("en"), minTokens = 20,
            maxTokens = 1 << 20, nearDupThreshold = None))
        .select("doc_id", "curation_lang", "curation_quality", "curation_tokens"), _ =>
      // Composes the t1/t2/t3/td1 oracle expressions end-to-end:
      // annotations, then the curation filters, then keep-min-id per
      // fingerprint (QUALIFY runs after WHERE, matching the pipeline's
      // filter-before-dedup order).
      """WITH raw AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS chars,
        |    CASE WHEN TRIM(text) = '' THEN 0.0
        |      ELSE CAST(len(string_split_regex(TRIM(text), '\s+')) AS DOUBLE) END AS toks,
        |    CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) AS punct,
        |    CASE WHEN TRIM(text) = '' THEN 0.0
        |      ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\s+'), w -> LENGTH(w))) AS DOUBLE)
        |        / len(string_split_regex(TRIM(text), '\s+')) END AS mwl,
        |    len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|with|for|was)\b')) AS en,
        |    len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b')) AS de,
        |    len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|une|des|dans|pour|que)\b')) AS fr,
        |    len(regexp_extract_all(text, '(?i)\b(el|los|las|es|una|para|con|por|del|como)\b')) AS es,
        |    3 * len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh,
        |    md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |m AS (SELECT *, GREATEST(en, de, fr, es, zh) AS mx FROM raw),
        |ann AS (
        |  SELECT doc_id, fp,
        |    CASE WHEN mx <= 0 THEN 'und'
        |      WHEN zh = mx THEN 'zh' WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
        |      WHEN en = mx THEN 'en' ELSE 'de' END AS curation_lang,
        |    ROUND(0.4 * LEAST(chars / 200.0, 1.0)
        |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(en / toks, 0.5) * 2.0 END)
        |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(mwl / 5.0, 1.0) END)
        |      + 0.2 * (1.0 - LEAST((CASE WHEN chars = 0 THEN 1.0 ELSE punct / chars END) * 5.0, 1.0)), 6) AS curation_quality,
        |    CAST(toks AS INT) AS curation_tokens
        |  FROM m)
        |SELECT doc_id, curation_lang, curation_quality, curation_tokens
        |FROM ann
        |WHERE curation_quality >= 0.6 AND curation_lang = 'en'
        |  AND curation_tokens BETWEEN 20 AND 1048576
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1""".stripMargin),

    // Full curation: + MinHash near-dup stage (linear representative
    // form) over the deterministic survivors. Hash-checked end to end
    // (tp1 prefix SQL composed with the GHash linear-dedup replay);
    // CurationSpec additionally pins containment and idempotence laws.
    QuerySpec("tp2_curation_full", (s, dir) =>
      Curation
        .curate(tbl(s, dir, "documents"), "doc_id", "text",
          Curation.Config(minQuality = 0.6, langs = Seq("en"), minTokens = 20,
            maxTokens = 1 << 20, nearDupThreshold = Some(0.9)))
        .select("doc_id", "curation_lang", "curation_quality", "curation_tokens"), _ =>
      // tp1's deterministic prefix (annotate → filter → exact dedup,
      // the oracle-proven SQL) composed with the linear MinHash stage —
      // the full Curation.curate pipeline, now hash-checked end to end.
      s"""$CuratedLinearCtesSql
         |SELECT e.doc_id, e.curation_lang, e.curation_quality, e.curation_tokens
         |FROM exact e
         |JOIN (SELECT rep_id FROM reps WHERE rep_id NOT IN (SELECT rep_id FROM losers)) s
         |  ON e.doc_id = s.rep_id""".stripMargin),

    // Budgeted sequence packing: running token total per source (one
    // partitioned window — never a global-order window) and
    // pack_no = floor(exclusive_cumsum / budget). Contiguous bin-fill,
    // SQL-exact.
    QuerySpec("tp3_pack_by_budget", (s, dir) =>
      Packing
        .packByBudget(tbl(s, dir, "documents"), "doc_id",
          TextAnalysis.tokenCount(col("text")), Seq("source"), budgetTokens = 2000L)
        .select("doc_id", "source", "pack_no", "pack_cum_tokens"), _ =>
      """WITH t AS (SELECT doc_id, source,
        |  CAST(CASE WHEN TRIM(text) = '' THEN 0
        |    ELSE len(string_split_regex(TRIM(text), '\s+')) END AS BIGINT) AS toks
        |FROM documents)
        |SELECT doc_id, source,
        |  CAST(FLOOR((SUM(toks) OVER w - toks) / 2000.0) AS INT) AS pack_no,
        |  CAST(SUM(toks) OVER w AS BIGINT) AS pack_cum_tokens
        |FROM t
        |WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // Deterministic stratified sampling for corpus mixing: keep iff
    // md5(salt:key) < per-stratum hex threshold — pure function of the
    // key, so re-runs and other engines agree row-for-row.
    QuerySpec("tp4_stratified_sample", (s, dir) =>
      Sampling
        .stratifiedSample(tbl(s, dir, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25), defaultFraction = 0.1)
        .select("doc_id", "lang", "source"), _ =>
      // Thresholds come from the same Sampling.hexThreshold the engine
      // uses — lowercase-hex md5 compares identically in both engines.
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE md5(concat_ws(':', '', CAST(doc_id AS VARCHAR))) <
         |  CASE WHEN lang = 'en' THEN '${Sampling.hexThreshold(1.0)}'
         |       WHEN lang = 'de' THEN '${Sampling.hexThreshold(0.5)}'
         |       WHEN lang = 'fr' THEN '${Sampling.hexThreshold(0.25)}'
         |       ELSE '${Sampling.hexThreshold(0.1)}' END""".stripMargin),

    tp7TokenBudgetMix,

    // tp7's two-pass bucketed form (the hot-stratum remedy: the exact
    // running-sum cut assembles from hash-range buckets). Same oracle
    // SQL as tp7 — output-identical by construction.
    QuerySpec("tp21_budget_mix_bucketed", (s, dir) =>
      Sampling
        .tokenBudgetSampleBucketed(tbl(s, dir, "documents"), col("doc_id"), col("source"),
          col("n_chars"), Map("src0" -> 4000L, "src1" -> 4000L, "src2" -> 1000L),
          defaultBudget = 2000L, salt = "mix")
        .select("doc_id", "source", "n_chars"),
      tp7TokenBudgetMix.oracle),

    // The temperature pipeline composed END TO END (r13 verdict ask
    // #5): t29's temperature statistic → UniMax budgets → the bucketed
    // exact budget cut, engine-side the whole way. The budgets map is
    // a bounded driver statistic BY DESIGN (one row per stratum, the
    // QualityClassifier topV-collect pattern); the sampler itself is
    // one lazy plan over the corpus. alpha=0.3 upsamples low-resource
    // languages; budgets are floors of the temperature shares, so the
    // oracle replays the whole chain (floor(pow-share × budget) CTE +
    // the tp7 running-sum cut) in SQL. maxEpochs is left unbounded
    // here — the capped water-filling path is pinned by spec against
    // hand-computed budgets (PackingSamplingSpec).
    QuerySpec("tp22_temperature_budget_mix", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val budgets = Sampling.temperatureBudgets(docs, col("lang"),
        col("n_chars"), alpha = 0.3, totalBudget = 60000L)
      Sampling.tokenBudgetSampleBucketed(docs, col("doc_id"), col("lang"),
        col("n_chars"), budgets, defaultBudget = 0L, salt = "tmix")
        .select("doc_id", "lang", "n_chars")
    }, _ =>
      // The whole composed chain in SQL: per-stratum temperature budgets
      // (floor(pow-share × total), NULL strata excluded — they fall to
      // the sampler's defaultBudget 0, i.e. the inner join drops them)
      // feeding the tp7 running-sum cut. Same IEEE pow both engines;
      // the floor of the share product is the one float-boundary risk
      // and it is the same arithmetic the engine's driver side runs.
      """WITH t AS (SELECT lang AS stratum,
        |    CAST(SUM(GREATEST(n_chars, 0)) AS BIGINT) AS w
        |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |d AS (SELECT SUM(pow(w, 0.3)) AS den FROM t),
        |b AS (SELECT stratum,
        |    CASE WHEN den > 0 THEN CAST(FLOOR(pow(w, 0.3) / den * 60000) AS BIGINT)
        |         ELSE 0 END AS budget
        |  FROM t CROSS JOIN d),
        |h AS (SELECT doc_id, lang, n_chars,
        |    md5(concat_ws(':', 'tmix', CAST(doc_id AS VARCHAR))) AS hk
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_chars,
        |    COALESCE(SUM(GREATEST(n_chars, 0)) OVER (PARTITION BY lang ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM h)
        |SELECT c.doc_id, c.lang, c.n_chars FROM c
        |JOIN b ON b.stratum = c.lang
        |WHERE c.prior < b.budget""".stripMargin),

    // The full curation-to-serving pipeline as ONE chained plan:
    // annotate -> hard gates -> exact dedup -> linear MinHash near-dup
    // -> quality-weighted soft sample -> per-source token-budget mix
    // -> deterministic shard/position assignment. Every stage is the
    // already-oracle-checked operator; the composition stays lazy, so
    // Catalyst fuses the narrow stages and the plan carries exactly
    // the dedup + window shuffles.
    QuerySpec("tp12_curation_to_serving", (s, dir) => {
      val cur = Curation.curate(tbl(s, dir, "documents"), "doc_id", "text",
        Curation.Config(minQuality = 0.6, langs = Seq("en"), minTokens = 20,
          maxTokens = 1 << 20, nearDupThreshold = Some(0.9)))
      val soft = Sampling.weightedSample(cur, col("doc_id"),
        col("curation_quality"), salt = "tp12")
      val mixed = Sampling.tokenBudgetSample(soft, col("doc_id"), col("source"),
        col("curation_tokens"), budgets = Map.empty, defaultBudget = 1500L,
        salt = "tp12mix")
      TrainOrder.shardOrder(mixed, col("doc_id"), numShards = 4, salt = "tp12ep")
        .select("doc_id", "source", "curation_quality", "curation_tokens",
          "shard", "pos")
    }, _ =>
      // tp2's full replay chain (annotate/gate/exact/linear-minhash)
      // extended stage-for-stage: the 60-bit weighted draw, the
      // token-budget window, and the shard/pos assignment — each the
      // already-proven replay with the tp12 salts.
      s"""$CuratedLinearCtesSql,
         |surv AS (
         |  SELECT e.doc_id, e.curation_quality, e.curation_tokens, d.source
         |  FROM exact e
         |  JOIN (SELECT rep_id FROM reps WHERE rep_id NOT IN (SELECT rep_id FROM losers)) s
         |    ON e.doc_id = s.rep_id
         |  JOIN documents d ON d.doc_id = e.doc_id),
         |soft AS (SELECT * FROM surv
         |  WHERE CAST(('0x' || substring(md5(concat_ws(':', 'tp12', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         |    < CAST(FLOOR(LEAST(1.0, GREATEST(0.0, curation_quality)) * power(2, 60)) AS BIGINT)),
         |mixed AS (SELECT doc_id, source, curation_quality, curation_tokens FROM (
         |  SELECT *, COALESCE(SUM(GREATEST(curation_tokens, 0)) OVER (
         |      PARTITION BY source
         |      ORDER BY md5(concat_ws(':', 'tp12mix', CAST(doc_id AS VARCHAR))), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |    FROM soft)
         |  WHERE prior < 1500),
         |sh AS (SELECT doc_id, source, curation_quality, curation_tokens,
         |    md5(concat_ws(':', 'tp12ep', CAST(doc_id AS VARCHAR))) AS hk
         |  FROM mixed)
         |SELECT doc_id, source, curation_quality, curation_tokens,
         |  CAST(CAST(('0x' || substring(hk, 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
         |  CAST(ROW_NUMBER() OVER (
         |    PARTITION BY CAST(('0x' || substring(hk, 1, 8)) AS BIGINT) % 4
         |    ORDER BY hk, doc_id) AS INT) AS pos
         |FROM sh""".stripMargin),

    // Overlapping token-window chunking (width 64, stride 48): the
    // context-window preprocessing step for training/retrieval
    // corpora. Fully narrow — fuses into the scan, no shuffle.
    QuerySpec("tp11_chunk_windows", (s, dir) =>
      Chunking.chunkByTokens(tbl(s, dir, "documents"), "doc_id", "text",
        width = 64, stride = 48), _ =>
      // Shared tokenization, then start offsets from range(0, n, 48)
      // and 1-based inclusive list_slice — integer division (//) for
      // the chunk ordinal like Spark's cast-to-int.
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |nz AS (SELECT doc_id, tk, len(tk) AS n FROM tok WHERE len(tk) > 0),
         |st AS (SELECT doc_id, tk, n, unnest(range(0, n, 48)) AS s FROM nz)
         |SELECT doc_id,
         |  CAST(s // 48 AS INT) AS chunk_no,
         |  array_to_string(list_slice(tk, s + 1, least(s + 64, n)), ' ') AS chunk_text,
         |  CAST(least(s + 64, n) - s AS INT) AS n_tokens
         |FROM st""".stripMargin),

    // Deterministic train/val/test assignment: one md5 draw per doc,
    // banded by two thresholds — disjoint + exhaustive by
    // construction, and growing the corpus never moves an existing
    // document between splits (the frozen-eval-set property). French
    // holds out 10%/10% (the low-resource stratum keeps a bigger eval
    // share); everything else 5%/5%.
    QuerySpec("tp13_split_assignment", (s, dir) =>
      Sampling
        .assignSplit(tbl(s, dir, "documents"), col("doc_id"), col("lang"),
          valFraction = 0.05, testFraction = 0.05,
          overrides = Map("fr" -> (0.1, 0.1)), salt = "tp13")
        .select("doc_id", "lang", "split"), _ =>
      // One md5 draw banded by two per-stratum thresholds; the same
      // Sampling.hexThreshold constants, so the band edges are
      // bit-identical in both engines.
      s"""SELECT doc_id, lang,
         |  CASE WHEN h < (CASE WHEN lang = 'fr' THEN '${Sampling.hexThreshold(0.1)}'
         |                      ELSE '${Sampling.hexThreshold(0.05)}' END) THEN 'test'
         |       WHEN h < (CASE WHEN lang = 'fr' THEN '${Sampling.hexThreshold(0.2)}'
         |                      ELSE '${Sampling.hexThreshold(0.1)}' END) THEN 'val'
         |       ELSE 'train' END AS split
         |FROM (SELECT doc_id, lang,
         |        md5(concat_ws(':', 'tp13', CAST(doc_id AS VARCHAR))) AS h
         |      FROM documents)""".stripMargin),

    // Quality-weighted (soft) sampling: keep probability = the t3
    // quality score per document, decision still a pure function of
    // (salt, key) — high-quality docs survive more often than a hard
    // gate would allow, reproducibly.
    QuerySpec("tp9_weighted_sample", (s, dir) =>
      Sampling
        .weightedSample(tbl(s, dir, "documents"), col("doc_id"),
          TextAnalysis.qualityScore(col("text")), salt = "q")
        .select("doc_id", "lang", "source"), _ =>
      // The shared quality CTE reproduces the exact per-doc keep
      // probability; the 60-bit draw (first 15 md5 hex digits) and
      // floor(p·2^60) boundary are identical IEEE arithmetic in both
      // engines.
      s"""WITH $QualityCteSql
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN q USING (doc_id)
         |WHERE CAST(('0x' || substring(md5(concat_ws(':', 'q', CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         |  < CAST(FLOOR(LEAST(1.0, GREATEST(0.0, q.quality)) * power(2, 60)) AS BIGINT)""".stripMargin),

    tp10TopFraction,

    // tp10's two-pass bucketed form (the hot-stratum remedy: the exact
    // rank assembles from score-range buckets, so a dominant stratum
    // never serializes its full sort into one task). r16: the grid is
    // now scale-ADAPTIVE — the r15 sf100 probe measured the fixed
    // 32-bucket grid's decade-3 exponent at 0.95 (per-bucket occupancy
    // growing linearly); the v3 integer ladder over the largest
    // stratum's count now holds occupancy flat at any scale. Same
    // oracle SQL as tp10 — output-identical by construction (the grid
    // steers only sort-task balance).
    QuerySpec("tp20_top_fraction_bucketed", (s, dir) =>
      Sampling
        .topFractionByScoreBucketed(spreadTbl(s, dir, "documents"), col("lang"),
          TextAnalysis.qualityScore(col("text")), col("doc_id"), fraction = 0.5)
        .select("doc_id", "lang", "source"),
      // The bucketed two-pass stratum operators are output-identical to
      // their plain counterparts BY CONSTRUCTION (SamplingSpec pins the
      // row-for-row equivalence) — so the oracle replay is the same SQL,
      // and a green row here is DuckDB proving the equivalence at sf0.01
      // independently of the spec fixtures.
      tp10TopFraction.oracle),

    // Per-domain cap (RefinedWeb/C4 anti-spam cut): keep the best 15
    // docs of each source by quality. The rank filter rewrites to
    // WindowGroupLimit, so a hot domain pre-prunes to its local top-15
    // per map partition before the shuffle.
    QuerySpec("tp14_domain_cap", (s, dir) =>
      Sampling
        .capPerStratum(tbl(s, dir, "documents"), col("source"),
          TextAnalysis.qualityScore(col("text")), col("doc_id"), cap = 15)
        .select("doc_id", "source", "lang"), _ =>
      s"""WITH $QualityCteSql,
         |r AS (SELECT d.doc_id, d.source, d.lang,
         |    ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY q.quality DESC, d.doc_id) AS rn
         |  FROM documents d JOIN q USING (doc_id))
         |SELECT doc_id, source, lang FROM r WHERE rn <= 15""".stripMargin),

    // Deterministic training-order shuffle: shard and in-shard
    // position are pure functions of (salt, key) — a reproducible,
    // restart-safe global shuffle with no global sort (hash shuffle on
    // shard + per-shard sort only). Salt = epoch.
    QuerySpec("tp8_shard_order", (s, dir) =>
      TrainOrder
        .shardOrder(tbl(s, dir, "documents"), col("doc_id"), numShards = 8, salt = "ep0")
        .select("doc_id", "source", "shard", "pos"), _ =>
      // Same md5 shard hash (first 8 hex digits as unsigned int) and
      // per-shard (hash, key) order.
      """WITH h AS (SELECT doc_id, source,
        |    md5(concat_ws(':', 'ep0', CAST(doc_id AS VARCHAR))) AS hk
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(CAST(('0x' || substring(hk, 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY CAST(('0x' || substring(hk, 1, 8)) AS BIGINT) % 8
        |    ORDER BY hk, doc_id) AS INTEGER) AS pos
        |FROM h""".stripMargin),

    // PII hygiene pass: email → IP → phone redaction (order matters),
    // over text with deterministically injected PII so the transform
    // provably fires; output the scrubbed hash + per-kind redaction
    // counts. Patterns stay in the Java-regex ∩ RE2 subset, which is
    // what makes the oracle reproducible.
    QuerySpec("tp5_pii_scrub", (s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
        col("doc_id") % 256, lit("."), col("doc_id") % 100,
        lit(" tel +1 555 867-53"), col("doc_id") % 100)
      spreadTbl(s, dir, "documents")
        .select(col("doc_id"), Scrub.redact(injected).as("_scrubbed"))
        .select(col("doc_id"),
          md5(col("_scrubbed")).as("scrubbed_md5"),
          Scrub.redactionCount(col("_scrubbed"), "<EMAIL>").as("n_emails"),
          Scrub.redactionCount(col("_scrubbed"), "<IP>").as("n_ips"),
          Scrub.redactionCount(col("_scrubbed"), "<PHONE>").as("n_phones"))
    }, _ =>
      // Same injection + redaction chain in RE2; len() counts are
      // BIGINT-cast to INT to match Spark's size().
      """WITH inj AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.'
        |    || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
        |    || ' tel +1 555 867-53' || CAST(doc_id % 100 AS VARCHAR) AS t
        |FROM documents),
        |scrub AS (SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS sc
        |FROM inj)
        |SELECT doc_id, md5(sc) AS scrubbed_md5,
        |  CAST(len(regexp_extract_all(sc, '<EMAIL>')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(sc, '<IP>')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(sc, '<PHONE>')) AS INT) AS n_phones
        |FROM scrub""".stripMargin),

    // Benchmark decontamination: containment of each benchmark doc's
    // 3-gram set inside every other corpus doc, via inverted-index
    // broadcast join (never corpus × benchmark). Benchmark analog =
    // every 97th document.
    QuerySpec("tp6_decontaminate", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Decontamination.containmentScores(
        docs, bench, "doc_id", "doc_id", "text", k = 2, threshold = 0.2)
    }, _ =>
      // Exact containment over distinct 2-gram lists (the corpus's
      // near-dups are word-order-shuffled, so longer grams never
      // overlap); DuckDB slices are 1-based inclusive and clamp like
      // Spark's slice().
      Tp6Sql),

    // The 100 TB form of tp6: the benchmark gram vocabulary packed
    // into a ~3.5 KB Bloom bitmask evaluated as a narrow LITERAL
    // filter over the corpus gram stream (no join, no shuffle for the
    // gate); only survivors reach the exact containment join. No false
    // negatives by construction, so gated ≡ ungated — proven every
    // round by answering tp6's oracle SQL verbatim (the td14/td15
    // two-implementations-one-oracle pattern).
    QuerySpec("tp15_bloom_gated_decontam", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Decontamination.bloomGatedContainmentScores(
        docs, bench, "doc_id", "doc_id", "text", k = 2, threshold = 0.2)
    }, _ =>
      // The Bloom gate removes nothing the exact join would keep (no
      // false negatives by construction), so the gated composition
      // answers the UNGATED oracle verbatim — gated ≡ exact is
      // hash-checked every round.
      Tp6Sql),

    // Admission-time decontamination signal: per document, the
    // fraction of its distinct 2-grams hitting the benchmark-
    // vocabulary Bloom filter — ONE narrow projection (HOF filter over
    // literal masks; no explode, join, shuffle or state), so the
    // identical chain gates an unbounded curation stream. Over-
    // approximates overlap (bounded-rate FPs, never FNs); the oracle
    // replays the filter arithmetic bit-for-bit, FPs included.
    QuerySpec("tp16_bloom_suspicion", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bGrams = TextDedup
        .withShingles(docs.filter(col("doc_id") % 97 === 0), "text", 2, "_sh")
        .select(explode_outer(col("_sh")).as("_gram"))
        .filter(col("_gram") =!= "")
      val masks = Sketches.bloomMasks(
        Sketches.bloomBitsOf(bGrams, "_gram", BloomDepth, BloomWidth),
        BloomDepth, BloomWidth)
      Decontamination.bloomSuspicionScores(
        docs, "doc_id", "text", masks, k = 2, width = BloomWidth)
    }, _ =>
      // Per-doc suspicion replay: tp6's gram CTEs + the t26 bucket
      // arithmetic at gram level — DuckDB rebuilds the benchmark filter
      // bit-for-bit and reproduces every false positive, so the
      // suspicion fractions (exact rationals rounded at 6) hash-match.
      Tp16Sql),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+
    // bigram bucket multinomials — target = the English slice, source
    // = the corpus itself — scored per doc as an order-free DECIMAL
    // sum over a ≤ B-row broadcast of per-bucket log deltas.
    // Hash-checked: buckets replay as gmix64(fnv1a(gram)) % B.
    QuerySpec("tp17_dsir_weights", (s, dir) => {
      val docs = spreadTbl(s, dir, "documents")
      ImportanceResampling.logWeights(
        docs, "doc_id", "text", docs.filter(col("lang") === "en"), DsirBuckets)
    }, _ =>
      s"""WITH $DsirWeightsCteSql
         |SELECT doc_id, n_grams, logw FROM w""".stripMargin),

    // Gumbel-top-k resample over the DSIR weights: deterministic
    // sampling-without-replacement ∝ exp(logw); the selection plan is
    // TakeOrderedAndProject, so only k rows ever cross the wire.
    QuerySpec("tp18_dsir_resample", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val w = ImportanceResampling.logWeights(
        docs, "doc_id", "text", docs.filter(col("lang") === "en"), DsirBuckets)
      ImportanceResampling.gumbelTopK(w, "doc_id", "logw", k = DsirK)
    }, _ =>
      // The same weights CTE + deterministic Gumbel noise: the md5
      // 60-bit draw (the tp9 idiom) through u = (draw + 0.5)/2^60,
      // g = −ln(−ln(u)); top-DsirK by (rounded key desc, doc_id).
      s"""WITH $DsirWeightsCteSql,
         |sel AS (SELECT doc_id, n_grams, logw,
         |    ROUND(logw + (- ln(- ln(
         |      (CAST(CAST(('0x' || substring(md5(concat_ws(':', 'dsir', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)
         |        / power(2, 60)))), 6) AS gumbel_key
         |  FROM w)
         |SELECT doc_id, n_grams, logw, gumbel_key FROM sel
         |ORDER BY gumbel_key DESC, doc_id LIMIT $DsirK""".stripMargin),

    // Admission-time DSIR: the delta table frozen into a plan literal
    // (bounded: exactly B doubles), scoring = ONE narrow projection —
    // no explode/join/shuffle/state, so the identical chain gates an
    // unbounded stream. Answers tp17's oracle SQL VERBATIM: admission
    // ≡ batch is hash-checked every round (the tp15/td15 pattern).
    QuerySpec("tp19_dsir_admission", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val deltas = ImportanceResampling.deltaArray(
        docs.filter(col("lang") === "en"), docs, "text", DsirBuckets)
      ImportanceResampling.admissionLogWeights(docs, "doc_id", "text", deltas, DsirBuckets)
    }, _ =>
      // VERBATIM tp17 oracle: the literal-delta admission projection
      // must reproduce the distributed join+aggregate weights exactly
      // (decimal sums are order-free; the frozen array covers every
      // bucket incl. the both-unseen smoothing floor).
      s"""WITH $DsirWeightsCteSql
         |SELECT doc_id, n_grams, logw FROM w""".stripMargin),
  )
}
