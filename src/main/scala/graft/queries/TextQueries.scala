package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{BigramLM, Bm25, CorpusStats, QualityClassifier, Sampling, Sketches, TextAnalysis, UnigramLM}

import QueryInputs._
import OracleSql._

/** Text analysis (beyond-reference): annotators, retrieval, language
  * models and the mergeable corpus sketches — query prefix `t`. */
private[graft] object TextQueries {

  // Sketch / span-removal parameters, shared between each query
  // registration and its oracle SQL (the PermASql/M64 pattern): a
  // call-site parameter change re-derives the paired SQL instead of
  // silently de-pairing it.
  private val CmsDepth = 4
  private val CmsWidth = 1024 // power of two: unsigned mod == AND on the Spark side
  private val CmsTopK = 20
  private val KmvK = 256
  private val HllP = 8 // m = 256 registers, same state budget as KmvK
  private val MgK = 64 // Misra–Gries counters; guarantee: undercount ≤ m/65
  private val QsK = 256 // bottom-k quantile sample; rank error ~ 1/√k ≈ 6%
  private val QsProbs = Seq(10, 25, 50, 75, 90, 99)

  /** Whole-corpus count-min replay (cells = multiply-add permutation
    * buckets mod 2^64 masked to CmsWidth, summed from the collapsed
    * (token, count) frame; exact top-CmsTopK probes; min-over-rows
    * estimate with its one-sided overcount). Shared VERBATIM by
    * `t16_cms_topk_counts` and `t18_cms_merge`: the merged two-part
    * sketch must equal the whole-corpus sketch bit-for-bit (cells are
    * linear sums), so the strongest oracle for the merge is the
    * unmerged replay. */
  private lazy val CmsTopkSql =
    s"""WITH c AS (SELECT $PermASql AS pa, $PermBSql AS pb),
       |tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |inst AS (SELECT unnest(t) AS tok FROM tk),
       |cnt AS (SELECT tok, COUNT(*) AS n_exact FROM inst GROUP BY tok),
       |h AS (SELECT tok, n_exact, ${gmixSql(fnvSql("tok"))} AS hv FROM cnt),
       |jb AS (SELECT tok, n_exact, j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $CmsWidth AS bucket
       |  FROM h, c, (SELECT unnest(range(0, $CmsDepth)) AS j) js),
       |cells AS (SELECT j, bucket, SUM(n_exact) AS cell FROM jb GROUP BY j, bucket),
       |probes AS (SELECT tok FROM cnt ORDER BY n_exact DESC, tok LIMIT $CmsTopK),
       |sel AS (SELECT jb.tok, jb.n_exact, MIN(cl.cell) AS n_cms
       |  FROM jb JOIN probes p USING (tok)
       |  JOIN cells cl ON cl.j = jb.j AND cl.bucket = jb.bucket
       |  GROUP BY jb.tok, jb.n_exact)
       |SELECT tok, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_cms AS BIGINT) AS n_cms,
       |  CAST(n_cms - n_exact AS BIGINT) AS overcount FROM sel""".stripMargin

  /** Whole-corpus KMV replay (distinct-token unsigned hash stream, k
    * smallest values, (k-1)·2^64 // u_k floor division) — shared
    * VERBATIM by `t17_kmv_distinct` and `t19_kmv_merge` on the same
    * merge ≡ recompute argument as [[CmsTopkSql]]. */
  private lazy val KmvSql =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |it AS (SELECT unnest(t) AS tok FROM tk),
       |dt AS (SELECT DISTINCT tok FROM it),
       |h AS (SELECT ${gmixSql(fnvSql("tok"))} AS u FROM dt),
       |low AS (SELECT u FROM h ORDER BY u LIMIT $KmvK),
       |s AS (SELECT COUNT(*) AS k_used, MAX(u) AS uk FROM low),
       |n AS (SELECT COUNT(*) AS n_exact FROM h),
       |e AS (SELECT n_exact, k_used, uk,
       |    CASE WHEN k_used < $KmvK OR uk IS NULL OR uk = 0 THEN n_exact
       |      ELSE (${KmvK - 1}::HUGEINT * $M64) // uk END AS est
       |  FROM n, s)
       |SELECT CAST(n_exact AS BIGINT) AS n_distinct_exact,
       |  CAST(k_used AS INT) AS k_used,
       |  CAST(est AS BIGINT) AS est_distinct,
       |  CASE WHEN n_exact = 0 THEN 0.0
       |    ELSE ROUND(CAST(est - n_exact AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
       |  END AS rel_err
       |FROM e""".stripMargin
  /** Whole-corpus integer-exact HLL replay (Sketches.hllDistinct):
    * low-p-bit buckets of the distinct-token unsigned hashes, rank =
    * leading-zero count over the next 40 bits via a generated
    * power-of-two comparison chain (double log2 mis-floors near 2^k
    * past ~2^45, so neither engine runs a float log), harmonic-mean
    * denominator as the exact integer S = Σ 2^(41−r), fixed-point
    * alpha floor division, and the linear-counting branch as the same
    * precomputed integer lookup list the Scala side evaluates. Shared
    * VERBATIM by `t20_hll_distinct` and `t21_hll_merge` on the same
    * merge ≡ recompute argument as [[CmsTopkSql]]/[[KmvSql]]. */
  private lazy val HllSql = {
    val rb = Sketches.HllRankBits // 40
    val m = 1 << HllP
    val mask = (1L << rb) - 1
    // descending CASE chain: floor(log2(w)) for w in [1, 2^rb)
    val flog2 = (rb - 1 to 0 by -1)
      .map(j => s"WHEN w >= ${1L << j} THEN $j").mkString("CASE ", " ", " END")
    val termList = hlist((1 to rb + 1).map(r => 1L << (rb + 1 - r)))
    val lcList = hlist(Sketches.hllLinearCountTable(m))
    val num = java.math.BigInteger.valueOf(Sketches.hllAlphaNum(m))
      .multiply(java.math.BigInteger.valueOf(m.toLong * m))
      .multiply(java.math.BigInteger.ONE.shiftLeft(rb + 1))
    s"""WITH c AS (SELECT $termList AS tl, $lcList AS lc),
       |tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |it AS (SELECT unnest(t) AS tok FROM tk),
       |dt AS (SELECT DISTINCT tok FROM it),
       |h AS (SELECT ${gmixSql(fnvSql("tok"))} AS u FROM dt),
       |br AS (SELECT u % $m AS bucket, (u // $m) % ${mask + 1} AS w FROM h),
       |rk AS (SELECT bucket,
       |    CASE WHEN w = 0 THEN ${rb + 1} ELSE $rb - ($flog2) END AS r FROM br),
       |regs AS (SELECT bucket, MAX(r) AS r FROM rk GROUP BY bucket),
       |s AS (SELECT COUNT(*) AS occupied,
       |    COALESCE(SUM(tl[CAST(r AS INT)]), 0) AS s_occ FROM regs, c),
       |e AS (SELECT ($m - occupied) AS v_zero,
       |    (($m - occupied) * ${1L << (rb + 1)}::HUGEINT + s_occ) AS s2 FROM s),
       |n AS (SELECT COUNT(*) AS n_exact FROM h),
       |est AS (SELECT n_exact, v_zero,
       |    ($num::HUGEINT) // (s2::HUGEINT * ${Sketches.HllAlphaDen}) AS raw
       |  FROM n, e),
       |f AS (SELECT n_exact, v_zero,
       |    CASE WHEN v_zero > 0 AND raw * 2 <= ${5L * m}
       |      THEN lc[CAST(v_zero AS INT)] ELSE raw END AS est
       |  FROM est, c)
       |SELECT CAST(n_exact AS BIGINT) AS n_distinct_exact,
       |  CAST($m AS INT) AS m,
       |  CAST(v_zero AS INT) AS v_zero,
       |  CAST(est AS BIGINT) AS est_distinct,
       |  CASE WHEN n_exact = 0 THEN 0.0
       |    ELSE ROUND(CAST(est - n_exact AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
       |  END AS rel_err
       |FROM f""".stripMargin
  }

  /** Whole-corpus Misra–Gries replay: exact (token, count) frame,
    * ROW_NUMBER over the total order (count desc, token asc), offset
    * t = the (k+1)-th count (0 when absent), summary = top-k with
    * counter − t > 0, evaluated at the exact top-CmsTopK probes with
    * the integer-decided undercount·(k+1) ≤ m bound. Every step is a
    * pure function of the exact counts — the whole point of the
    * order-free MG formulation. */
  private lazy val MgTopkSql =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |inst AS (SELECT unnest(t) AS tok FROM tk),
       |cnt AS (SELECT tok, COUNT(*) AS n FROM inst GROUP BY tok),
       |mm AS (SELECT COUNT(*) AS m FROM inst),
       |ord AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn FROM cnt),
       |toff AS (SELECT COALESCE(MAX(CASE WHEN rn = ${MgK + 1} THEN n END), 0) AS t
       |  FROM ord WHERE rn <= ${MgK + 1}),
       |summ AS (SELECT tok, n - toff.t AS counter FROM ord, toff
       |  WHERE rn <= $MgK AND n - toff.t > 0),
       |probes AS (SELECT tok, n FROM ord WHERE rn <= $CmsTopK)
       |SELECT p.tok, CAST(p.n AS BIGINT) AS n_exact,
       |  CAST(COALESCE(s.counter, 0) AS BIGINT) AS n_mg_lower,
       |  CAST(p.n - COALESCE(s.counter, 0) AS BIGINT) AS undercount,
       |  (p.n - COALESCE(s.counter, 0)) * ${MgK + 1} <= mm.m AS bound_ok
       |FROM probes p LEFT JOIN summ s USING (tok), mm""".stripMargin

  /** Two-part Misra–Gries merge replay: the same reduce applied to
    * each doc_id-parity half, counters summed per token, re-reduced
    * with the same offset rule, then evaluated against the WHOLE
    * corpus's exact top tokens and total-m bound — step-for-step the
    * algebra `t23_mg_merge` runs in Spark. */
  private lazy val MgMergeSql =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |cntA AS (SELECT tok, COUNT(*) AS n FROM (SELECT unnest(t) AS tok FROM tk WHERE doc_id % 2 = 0) GROUP BY tok),
       |cntB AS (SELECT tok, COUNT(*) AS n FROM (SELECT unnest(t) AS tok FROM tk WHERE doc_id % 2 = 1) GROUP BY tok),
       |ordA AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn FROM cntA),
       |ordB AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn FROM cntB),
       |tA AS (SELECT COALESCE(MAX(CASE WHEN rn = ${MgK + 1} THEN n END), 0) AS t
       |  FROM ordA WHERE rn <= ${MgK + 1}),
       |tB AS (SELECT COALESCE(MAX(CASE WHEN rn = ${MgK + 1} THEN n END), 0) AS t
       |  FROM ordB WHERE rn <= ${MgK + 1}),
       |summA AS (SELECT tok, n - tA.t AS counter FROM ordA, tA
       |  WHERE rn <= $MgK AND n - tA.t > 0),
       |summB AS (SELECT tok, n - tB.t AS counter FROM ordB, tB
       |  WHERE rn <= $MgK AND n - tB.t > 0),
       |comb AS (SELECT tok, SUM(counter) AS counter
       |  FROM (SELECT * FROM summA UNION ALL SELECT * FROM summB) GROUP BY tok),
       |ordC AS (SELECT tok, counter, ROW_NUMBER() OVER (ORDER BY counter DESC, tok) AS rn FROM comb),
       |tC AS (SELECT COALESCE(MAX(CASE WHEN rn = ${MgK + 1} THEN counter END), 0) AS t
       |  FROM ordC WHERE rn <= ${MgK + 1}),
       |merged AS (SELECT tok, counter - tC.t AS counter FROM ordC, tC
       |  WHERE rn <= $MgK AND counter - tC.t > 0),
       |inst AS (SELECT unnest(t) AS tok FROM tk),
       |cnt AS (SELECT tok, COUNT(*) AS n FROM inst GROUP BY tok),
       |mm AS (SELECT COUNT(*) AS m FROM inst),
       |probes AS (SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT $CmsTopK)
       |SELECT p.tok, CAST(p.n AS BIGINT) AS n_exact,
       |  CAST(COALESCE(s.counter, 0) AS BIGINT) AS n_mg_lower,
       |  CAST(p.n - COALESCE(s.counter, 0) AS BIGINT) AS undercount,
       |  (p.n - COALESCE(s.counter, 0)) * ${MgK + 1} <= mm.m AS bound_ok
       |FROM probes p LEFT JOIN merged s USING (tok), mm""".stripMargin

  /** Whole-corpus bottom-k sample-quantile replay (Sketches.qsSketch
    * → qsQuantiles → qsEval): per-doc token counts, draws = unsigned
    * token hash of the stringified doc_id, bottom-QsK by (u, v),
    * ceil-rank selection via the lexicographic self-join, exact side
    * from the value histogram's non-equi cumulative counts. Shared
    * VERBATIM by `t24_qs_quantiles` and `t25_qs_merge`: bottom-k of a
    * disjoint union equals the whole-corpus bottom-k exactly, so the
    * strongest oracle for the merge is the unmerged replay. */
  private lazy val QsSql = {
    val probList = QsProbs.mkString("[", ", ", "]")
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |dv AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS v FROM tk),
       |h AS (SELECT ${gmixSql(fnvSql("CAST(doc_id AS VARCHAR)"))} AS u, v FROM dv),
       |sk AS (SELECT u, v FROM h ORDER BY u, v LIMIT $QsK),
       |s AS (SELECT COUNT(*) AS s_used FROM sk),
       |rk AS (SELECT a.v AS v1, a.u AS u1, COUNT(*) AS r
       |  FROM sk a JOIN sk b ON (b.v < a.v) OR (b.v = a.v AND b.u <= a.u)
       |  GROUP BY a.v, a.u),
       |ps AS (SELECT unnest($probList) AS p),
       |est AS (SELECT p, s_used, MIN(v1) AS est_v
       |  FROM ps, s, rk WHERE r >= (p * s_used + 99) // 100
       |  GROUP BY p, s_used),
       |hist AS (SELECT v, COUNT(*) AS c FROM dv GROUP BY v),
       |cum AS (SELECT a.v AS hv, SUM(b.c) AS cum
       |  FROM hist a JOIN hist b ON b.v <= a.v GROUP BY a.v),
       |n AS (SELECT COUNT(*) AS n_rows FROM dv),
       |ex AS (SELECT p, s_used, est_v, n_rows, MIN(hv) AS exact_v
       |  FROM est, n, cum WHERE cum >= (p * n_rows + 99) // 100
       |  GROUP BY p, s_used, est_v, n_rows)
       |SELECT CAST(ex.p AS INT) AS p, CAST(ex.s_used AS INT) AS s_used,
       |  CAST(ex.est_v AS BIGINT) AS est_v, CAST(ex.exact_v AS BIGINT) AS exact_v,
       |  CASE WHEN ex.n_rows = 0 THEN 0.0
       |    ELSE ROUND(ABS(CAST(c2.cum AS DOUBLE) / CAST(ex.n_rows AS DOUBLE)
       |      - CAST(ex.p AS DOUBLE) / 100.0), 6) END AS rank_err
       |FROM ex JOIN cum c2 ON c2.hv = ex.est_v
       |ORDER BY p""".stripMargin
  }

  /** Whole-corpus Bloom decontamination replay (Sketches.bloomBits →
    * bloomProbe → bloomDecontamEval): benchmark vocabulary (every
    * 50th doc) sets DISTINCT (j, bucket) positions via the CMS
    * multiply-add bucket arithmetic; corpus vocabulary probes all
    * BloomDepth positions, passes iff every one is set. Shared
    * VERBATIM by `t26_bloom_decontam` and `t27_bloom_merge`: bits are
    * a set union, so per-half filters merge to the whole-vocabulary
    * filter exactly. */
  private lazy val BloomSql =
    s"""WITH c AS (SELECT $PermASql AS pa, $PermBSql AS pb),
       |js AS (SELECT unnest(range(0, $BloomDepth)) AS j),
       |btk AS (SELECT doc_id, $ToksSql AS t FROM documents WHERE doc_id % 50 = 0),
       |bv AS (SELECT DISTINCT tok FROM (SELECT unnest(t) AS tok FROM btk)),
       |bh AS (SELECT tok, ${gmixSql(fnvSql("tok"))} AS hv FROM bv),
       |bits AS (SELECT DISTINCT j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $BloomWidth AS bucket
       |  FROM bh, c, js),
       |ctk AS (SELECT doc_id, $ToksSql AS t FROM documents WHERE doc_id % 50 <> 0),
       |cv AS (SELECT DISTINCT tok FROM (SELECT unnest(t) AS tok FROM ctk)),
       |ch AS (SELECT tok, ${gmixSql(fnvSql("tok"))} AS hv FROM cv),
       |cpos AS (SELECT tok, j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $BloomWidth AS bucket
       |  FROM ch, c, js),
       |hits AS (SELECT cpos.tok,
       |    SUM(CASE WHEN bits.bucket IS NOT NULL THEN 1 ELSE 0 END) AS hits
       |  FROM cpos LEFT JOIN bits ON bits.j = cpos.j AND bits.bucket = cpos.bucket
       |  GROUP BY cpos.tok),
       |flag AS (SELECT cv.tok, COALESCE(h.hits, 0) = $BloomDepth AS in_filter,
       |    (bv.tok IS NOT NULL) AS in_vocab
       |  FROM cv LEFT JOIN hits h ON h.tok = cv.tok
       |  LEFT JOIN bv ON bv.tok = cv.tok)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_tokens,
       |  CAST(COALESCE(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true_members,
       |  CAST(COALESCE(SUM(CASE WHEN in_filter THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_filter_pass,
       |  CAST(COALESCE(SUM(CASE WHEN in_filter AND NOT in_vocab THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_false_pos,
       |  CAST(COALESCE(MIN(CASE WHEN in_vocab THEN CAST(in_filter AS INT) ELSE 1 END), 1) AS BOOLEAN) AS no_false_negatives,
       |  CASE WHEN COUNT(*) = COALESCE(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END), 0) THEN 0.0
       |    ELSE ROUND(CAST(COALESCE(SUM(CASE WHEN in_filter AND NOT in_vocab THEN 1 ELSE 0 END), 0) AS DOUBLE) * 100.0
       |      / CAST(COUNT(*) - COALESCE(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END), 0) AS DOUBLE), 6)
       |  END AS fp_pct
       |FROM flag""".stripMargin

  /** Fixed scoring weights for t14 (the narrow/streaming scorer):
    * scoring — not training — is the operator under test, so the
    * weight table is a deterministic literal shared token-for-token
    * with the oracle's VALUES clause. Bias rides as the NULL token,
    * exactly like persisted t12 weights. */
  private val T14Weights: Seq[(String, String)] = Seq(
    (null, "-0.45"),
    ("the", "0.05"), ("and", "0.04"), ("of", "0.03"), ("to", "0.03"),
    ("in", "0.02"), ("data", "0.30"), ("model", "0.25"), ("learn", "0.20"),
    ("compute", "0.18"), ("error", "-0.35"), ("spam", "-0.60"),
    ("click", "-0.25"), ("free", "-0.15"), ("system", "0.12"),
  )

  private def t14WeightsDf(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}
    val rows = T14Weights.map { case (t, w) =>
      org.apache.spark.sql.Row(t, new java.math.BigDecimal(w).setScale(12))
    }
    s.createDataFrame(
      s.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("token", StringType),
        StructField("w", DecimalType(18, 12)))))
  }

  private def t14WeightsValuesSql: String = T14Weights.map { case (t, w) =>
    val tok = if (t == null) "NULL" else s"'$t'"
    s"($tok, CAST($w AS DECIMAL(18,12)))"
  }.mkString(", ")

  // BM25 with the physical shape AUTO-SELECTED from the engine's own
  // corpus-vocabulary estimate (the KMV sketch t17 maintains): point
  // queries — short texts, the |query vocab| ≪ |corpus vocab| regime
  // — against the corpus. Results are shape-independent (Bm25Spec
  // pins both shapes decimal-exact), so the oracle replay is shape-
  // blind; what this query adds is the production call path where
  // the measured selection rule fires from a real estimate instead
  // of lying dormant behind a hand-fed parameter.
  private val t28Bm25Auto = QuerySpec("t28_bm25_auto", (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val q = docs.filter(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("query_id"),
        substring(col("text"), 1, 40).as("qtext"))
    val vocab = Sketches.kmvVocabEstimate(docs, "text")
    Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext",
      k = 10, corpusVocabEstimate = Some(vocab))
  }, _ =>
    // t11 replay with point queries (first 40 chars of every 250th
    // doc) and no self-exclusion. Shape-blind: the engine picks its
    // physical form from the KMV vocab estimate, but both forms are
    // decimal-exact equal, so one SQL replay covers either.
    s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM documents),
       |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
       |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
       |q AS (SELECT DISTINCT doc_id AS query_id, t FROM (
       |  SELECT doc_id, unnest($ToksSql) AS t FROM (
       |    SELECT doc_id, substring(text, 1, 40) AS text FROM documents
       |    WHERE doc_id % 250 = 0))),
       |contrib AS (SELECT q.query_id, tf.doc_id,
       |    CAST((ln(((st.n - dfreq.df) + 0.5) / (dfreq.df + 0.5) + 1.0) * (tf.tf * (1.2 + 1.0))) /
       |      (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl)) AS DECIMAL(18,12)) AS c
       |  FROM tf JOIN q USING (t) JOIN dfreq USING (t)
       |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats st),
       |scored AS (SELECT query_id, doc_id,
       |    ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
       |  FROM contrib GROUP BY query_id, doc_id)
       |SELECT query_id, doc_id, score, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
       |  FROM scored)
       |WHERE rank <= 10""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t1_token_stats", (s, dir) => {
      val t = col("text")
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.charCount(t).as("n_chars"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(t).as("n_bpeish_tokens"),
        round(TextAnalysis.meanWordLength(t), 6).as("mean_word_len"),
      )
    }, _ =>
      """SELECT doc_id,
        |  LENGTH(text) AS n_chars,
        |  CASE WHEN TRIM(text) = '' THEN 0 ELSE len(string_split_regex(TRIM(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_bpeish_tokens,
        |  ROUND(CASE WHEN TRIM(text) = '' THEN 0.0
        |    ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\s+'), w -> LENGTH(w))) AS DOUBLE)
        |      / len(string_split_regex(TRIM(text), '\s+')) END, 6) AS mean_word_len
        |FROM documents""".stripMargin),

    QuerySpec("t2_lang_id", (s, dir) =>
      spreadTbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")), _ =>
      """WITH s AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|with|for|was)\b')) AS en,
        |  len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b')) AS de,
        |  len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|une|des|dans|pour|que)\b')) AS fr,
        |  len(regexp_extract_all(text, '(?i)\b(el|los|las|es|una|para|con|por|del|como)\b')) AS es,
        |  3 * len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
        |FROM documents),
        |m AS (SELECT *, GREATEST(en, de, fr, es, zh) AS mx FROM s)
        |SELECT doc_id, CASE WHEN mx <= 0 THEN 'und'
        |  WHEN zh = mx THEN 'zh' WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
        |  WHEN en = mx THEN 'en' ELSE 'de' END AS lang_pred
        |FROM m""".stripMargin),

    QuerySpec("t3_quality_score", (s, dir) =>
      spreadTbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")), _ =>
      s"""WITH $QualityCteSql
         |SELECT doc_id, quality FROM q""".stripMargin),

    QuerySpec("t4_fingerprint", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fingerprint")), _ =>
      """SELECT doc_id, md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin),

    // Rolling 64-bit content hash (order-sensitive) — no SQL oracle.
    QuerySpec("t5_rolling_hash", (s, dir) =>
      spreadTbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.rollingHash64(col("text")).as("rhash")), _ =>
      // Reproduces TextAnalysis.rollingHash64's wrapping-Long base-31
      // fold in HUGEINT-mod-2^64 arithmetic, folded via list_reduce with
      // the seed prepended (DuckDB 1.0 list_reduce takes no initial
      // value). greatest(unicode(c),0) maps DuckDB's unicode('') = -1 to
      // Spark's ascii('') = 0. Caveat: for non-BMP characters Spark
      // splits into UTF-16 surrogates while DuckDB splits by codepoint —
      // equal here because the corpus is ASCII; a production oracle
      // would normalize to codepoints on both sides.
      """WITH codes AS (
        |  SELECT doc_id,
        |    list_transform(string_split(
        |      trim(regexp_replace(lower(coalesce(text,'')), '\s+', ' ', 'g')), ''),
        |      c -> CAST(greatest(unicode(c), 0) AS HUGEINT)) AS cs
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS rhash
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(1125899906842597::HUGEINT, cs),
        |      (acc, c) -> (acc * 31 + c) % 18446744073709551616::HUGEINT) AS h
        |  FROM codes)""".stripMargin),

    // Temperature-scaled mixture shares (XLM-R sampling, alpha=0.3):
    // the engine-side statistic the mixing operators consume — one
    // bounded per-stratum aggregate + a single-row denominator. The
    // UniMax epoch-capped budget variant (driver-side water-filling
    // over the same bounded totals) is spec-covered and feeds
    // tokenBudgetSample's budgets map directly.
    QuerySpec("t29_temperature_mix", (s, dir) =>
      Sampling.temperatureShares(tbl(s, dir, "documents"), col("lang"),
        col("n_chars"), alpha = 0.3), _ =>
      // The same md5-shuffled per-stratum order and exclusive running
      // sum; the budget-boundary straddler (prior < budget) is kept in
      // both engines.
      // Per-stratum weight totals + pow-share; ROUND(,6) absorbs the
      // last-ulp pow() difference between the engines (house convention
      // for float outputs).
      """WITH t AS (SELECT lang AS stratum,
        |    CAST(SUM(GREATEST(n_chars, 0)) AS BIGINT) AS total_weight
        |  FROM documents GROUP BY lang),
        |d AS (SELECT SUM(pow(total_weight, 0.3)) AS den FROM t)
        |SELECT stratum, total_weight,
        |  CASE WHEN den > 0 THEN ROUND(pow(total_weight, 0.3) / den, 6)
        |       ELSE 0.0 END AS share
        |FROM t CROSS JOIN d""".stripMargin),

    // BM25 sparse retrieval: lexical top-k over the corpus via an
    // inverted-index join (distinct query terms broadcast against the
    // postings; the corpus never cross-joins the query set). DECIMAL
    // term-contribution sums make the score order-free and the DuckDB
    // replay exact.
    QuerySpec("t11_bm25_topk", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val q = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext",
        k = 10, excludeSelf = true)
    }, _ =>
      // Replays tokenization (shared ToksSql), the BM25 statistics, and
      // the exact contribution arithmetic — parenthesized identically to
      // the Spark expression tree so the IEEE double chain agrees — with
      // DECIMAL(18,12) sums for order-free accumulation.
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM documents),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
         |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
         |q AS (SELECT DISTINCT doc_id AS query_id, t FROM (
         |  SELECT doc_id, unnest($ToksSql) AS t FROM documents WHERE doc_id % 100 = 0)),
         |contrib AS (SELECT q.query_id, tf.doc_id,
         |    CAST((ln(((st.n - dfreq.df) + 0.5) / (dfreq.df + 0.5) + 1.0) * (tf.tf * (1.2 + 1.0))) /
         |      (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl)) AS DECIMAL(18,12)) AS c
         |  FROM tf JOIN q USING (t) JOIN dfreq USING (t)
         |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats st
         |  WHERE q.query_id <> tf.doc_id),
         |scored AS (SELECT query_id, doc_id,
         |    ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
         |  FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin),

    t28Bm25Auto,

    // t28's production endgame (the r13 verdict's ask #3): the shape
    // selection reads the PERSISTED corpus-stats row — a one-row
    // summary table built like any M1 view and refreshed through the
    // M2 registry's atomic swap, once per session per corpus here
    // (standing in for the out-of-band refresh cadence) — instead of
    // re-scanning the corpus per call for the KMV estimate. The
    // executed retrieval plan touches the corpus zero extra times
    // beyond its own postings work. Results are shape-blind (Bm25Spec
    // pins both shapes decimal-exact), so the oracle replay is t28's
    // SQL verbatim.
    QuerySpec("t30_bm25_stats_view", (s, dir) => {
      val stats = CorpusStats.read(s, corpusStatsWarehouse(s, dir))
      val docs = tbl(s, dir, "documents")
      val q = docs.filter(col("doc_id") % 250 === 0)
        .select(col("doc_id").as("query_id"),
          substring(col("text"), 1, 40).as("qtext"))
      Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext",
        k = 10, corpusVocabEstimate = Some(stats.vocabEstimate))
    },
      // t30 reads the persisted corpus-stats row for its shape selection;
      // both BM25 shapes are decimal-exact equal, so its replay is t28's
      // SQL verbatim (shape-blind, like t28's own).
      t28Bm25Auto.oracle),

    // CCNet head/middle/tail terciles per language by unigram-LM mean
    // surprisal (Wenzek et al. 2020): rank-based buckets (percent_rank
    // is the exact ratio both engines agree on; an interpolated
    // quantile threshold could flip boundary docs at the last ulp).
    QuerySpec("t15_ccnet_buckets", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val scores = UnigramLM.unigramScores(docs, "doc_id", "text", topV = 20)
      Sampling
        .rankBuckets(
          docs.select(col("doc_id"), col("lang")).join(scores, Seq("doc_id")),
          col("lang"), col("mean_neg_logprob"), col("doc_id"))
        .select("doc_id", "lang", "mean_neg_logprob", "bucket")
    }, _ =>
      // Replays t10's unigram surprisal, then the same percent_rank
      // tercile arithmetic (floor(pr*3) capped at 2) per language.
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS token FROM documents),
         |tot AS (SELECT COUNT(*) AS n FROM tok),
         |vocab AS (SELECT token, COUNT(*) AS c FROM tok
         |  GROUP BY token ORDER BY c DESC, token LIMIT 20),
         |scored AS (SELECT t.doc_id,
         |    CAST(-ln(CAST(COALESCE(v.c, 1) AS DOUBLE) / (SELECT n FROM tot)) AS DECIMAL(18,12)) AS s
         |  FROM tok t LEFT JOIN vocab v USING (token)),
         |per AS (SELECT doc_id, COUNT(*) AS nt, SUM(s) AS ssum FROM scored GROUP BY doc_id),
         |sc AS (SELECT d.doc_id, d.lang,
         |    CASE WHEN p.nt IS NULL THEN 0.0
         |      ELSE ROUND(CAST(p.ssum AS DOUBLE) / p.nt, 6) END AS mean_neg_logprob
         |  FROM documents d LEFT JOIN per p USING (doc_id)),
         |r AS (SELECT doc_id, lang, mean_neg_logprob,
         |    PERCENT_RANK() OVER (PARTITION BY lang ORDER BY mean_neg_logprob, doc_id) AS pr
         |  FROM sc)
         |SELECT doc_id, lang, mean_neg_logprob,
         |  CASE LEAST(CAST(FLOOR(pr * 3) AS INT), 2)
         |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM r""".stripMargin),

    // Per-language corpus length distribution: exact interpolated
    // percentiles (Spark `percentile` ≡ DuckDB quantile_cont linear
    // interpolation) — the length-histogram probe a curation run
    // reports. Exact percentile needs a per-group sort, which is fine
    // for a stats probe over grouped metadata; the streaming-friendly
    // approximation is percentile_approx (not oracle-matchable across
    // engines by construction).
    QuerySpec("t6_corpus_stats", (s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("docs"),
          round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars")), _ =>
      """SELECT lang, COUNT(*) AS docs,
        |  ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
        |  ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang""".stripMargin),

    // Duplicate-2-gram repetition score — the repetitive-document
    // curation signal (boilerplate / stuffing / generation loops) the
    // length-punct quality score can't see. Tokens bound as a real
    // column first (HOF lambda re-evaluation gotcha).
    QuerySpec("t7_repetition", (s, dir) =>
      spreadTbl(s, dir, "documents")
        .withColumn("_toks", TextAnalysis.normalizedTokens(col("text")))
        .select(col("doc_id"),
          TextAnalysis.repetitionScore(col("_toks"), 2).as("rep_2gram")), _ =>
      // Gram construction mirrors shinglesOfTokens WITHOUT the distinct:
      // sequence(0, max(n-k, 0)) → clamped slices, so a 1-token doc
      // yields one short "gram" but total = n-k+1 <= 0 routes it to 0.0.
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |grams AS (SELECT doc_id, len(tk) AS n,
         |    list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
         |      i -> array_to_string(tk[(i+1):(i+2)], ' ')) AS g
         |  FROM toks)
         |SELECT doc_id,
         |  CASE WHEN n - 1 <= 0 THEN 0.0
         |    ELSE ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / (n - 1), 6) END AS rep_2gram
         |FROM grams""".stripMargin),

    // Corpus vocabulary probe: top-200 normalized tokens by frequency
    // (tokenizer/vocab construction input). Explode → hash-agg with
    // map-side partial counts → TakeOrderedAndProject: the only data
    // that reaches the driver is the k rows. Ties break on token text
    // so the limit is deterministic across engines.
    QuerySpec("t8_vocab_topk", (s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(TextAnalysis.normalizedTokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(200), _ =>
      s"""WITH tok AS (SELECT unnest($ToksSql) AS token FROM documents)
         |SELECT token, COUNT(*) AS n FROM tok
         |GROUP BY token
         |ORDER BY n DESC, token
         |LIMIT 200""".stripMargin),

    // Bounded-state sketches (integer-exact, fully oracle-replayed):
    // count-min frequency cells evaluated at the exact top-20 tokens —
    // the one-sided overcount is part of the compared output — and the
    // KMV k-minimum-values distinct estimator with its signed error.
    QuerySpec("t16_cms_topk_counts", (s, dir) =>
      Sketches.cmsTopkCounts(tbl(s, dir, "documents"), "text",
        depth = CmsDepth, width = CmsWidth, topK = CmsTopK), _ =>
      // Replays the count-min cells (multiply-add permutation buckets
      // mod 2^64 masked to CmsWidth, cells summed from the collapsed
      // (token, count) frame), the exact top-k probe set, and the
      // min-over-rows estimate with its one-sided overcount.
      CmsTopkSql),

    QuerySpec("t17_kmv_distinct", (s, dir) =>
      Sketches.kmvDistinct(tbl(s, dir, "documents"), "text", k = KmvK), _ =>
      // Replays the distinct-token unsigned hash stream, the k smallest
      // values, and the (k-1)·2^64 // u_k floor-division estimate —
      // integer arithmetic end to end; rel_err is one double division
      // over integer operands, identical in both engines.
      KmvSql),

    // Mergeability proofs for the two sketches, run as queries: the
    // corpus splits into two disjoint halves by doc_id parity, each
    // half builds its own sketch, the halves MERGE, and the merged
    // sketch is evaluated exactly as t16/t17 evaluate the whole-corpus
    // one. The oracle for both is the UNMERGED whole-corpus SQL replay
    // (t16's / t17's own), which is the strongest possible check:
    // merge ≡ recompute must hold bit-for-bit, or the hash compare
    // fails. This is the per-partition / per-micro-batch accumulator
    // contract the sketch doc comments claim, made falsifiable.
    QuerySpec("t18_cms_merge", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val cellsA = Sketches.cmsCells(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", CmsDepth, CmsWidth)
      val cellsB = Sketches.cmsCells(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", CmsDepth, CmsWidth)
      Sketches.cmsTopkCountsFromCells(
        docs, "text", Sketches.cmsMerge(cellsA, cellsB), CmsDepth, CmsWidth, CmsTopK)
    }, _ =>
      // The merge queries' oracle is the UNMERGED whole-corpus replay:
      // merge ≡ recompute must hold bit-for-bit or the hash compare
      // fails — see the t18/t19 registrations.
      CmsTopkSql),

    QuerySpec("t19_kmv_merge", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val a = Sketches.kmvSketch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", KmvK)
      val b = Sketches.kmvSketch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", KmvK)
      Sketches.kmvDistinctFromSketch(docs, "text", Sketches.kmvMerge(a, b, KmvK), KmvK)
    }, _ => KmvSql),

    // Integer-exact HyperLogLog (Flajolet et al. 2007): rank from a
    // generated power-of-two comparison chain, harmonic mean as an
    // exact integer sum, fixed-point alpha, lookup-table linear
    // counting — no float executes in either engine, so the estimate
    // is bit-replayable like the CMS/KMV rows above. t21 is the
    // register-merge proof on the same halves-merge-vs-whole-replay
    // contract as t18/t19.
    QuerySpec("t20_hll_distinct", (s, dir) =>
      Sketches.hllDistinct(tbl(s, dir, "documents"), "text", p = HllP), _ =>
      // Replays the integer-exact HLL end to end (bucket/rank from the
      // unsigned hash stream, exact harmonic-sum denominator,
      // fixed-point-alpha floor division, lookup-table linear counting);
      // the merge query shares the unmerged replay per the t18/t19
      // argument.
      HllSql),

    QuerySpec("t21_hll_merge", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val a = Sketches.hllRegisters(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", HllP)
      val b = Sketches.hllRegisters(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", HllP)
      Sketches.hllDistinctFromRegisters(docs, "text", Sketches.hllMerge(a, b), HllP)
    }, _ => HllSql),

    // Misra–Gries heavy hitters in the order-free top-k-with-offset
    // form (classic streaming MG is processing-order-dependent —
    // useless under nondeterministic partitioning). Completes the
    // sketch quadrant: CMS = "how often" (one-sided OVERcount), MG =
    // "which are frequent" (one-sided UNDERcount + membership
    // guarantee). The bound_ok column IS the MG guarantee
    // undercount ≤ m/(k+1), decided in integer arithmetic and
    // hash-compared like any other output bit.
    QuerySpec("t22_mg_heavy_hitters", (s, dir) =>
      Sketches.mgTopk(tbl(s, dir, "documents"), "text", k = MgK, topK = CmsTopK), _ =>
      // Replays the order-free Misra–Gries reduce (ROW_NUMBER over
      // (count desc, tok), (k+1)-th-count offset, zero-drop) and the
      // top-k probe evaluation with the integer-decided m/(k+1) bound.
      MgTopkSql),

    // The merge proof: MG's merge is LOSSY (merged ≠ recomputed, so
    // the whole-corpus replay can't serve as the oracle like t18/t19/
    // t21) but DETERMINISTIC — the oracle replays the two-part
    // algebra (per-half reduce, counter sums, re-reduce) exactly, and
    // the merged summary must still satisfy the global m/(k+1) bound
    // (Agarwal et al. 2013), carried as the compared bound_ok column.
    QuerySpec("t23_mg_merge", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val a = Sketches.mgSummary(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", MgK)
      val b = Sketches.mgSummary(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", MgK)
      Sketches.mgHeavyHitters(docs, "text", Sketches.mgMerge(a, b, MgK), MgK, CmsTopK)
    }, _ =>
      // Replays the TWO-PART algebra exactly (per-half reduce → counter
      // sums → re-reduce): MG's merge is lossy, so unlike t18/t19/t21
      // the whole-corpus replay cannot stand in for it — determinism of
      // the offset form is what makes this oracle possible at all.
      MgMergeSql),

    // Bottom-k sample quantiles (Cohen & Kaplan 2007) of the per-doc
    // token counts: the distribution sketch completing the family —
    // CMS "how often", KMV/HLL "how many distinct", MG "which are
    // frequent", bottom-k "how are values distributed". Integer-exact:
    // draws are the unsigned token-hash of the stringified doc_id,
    // selection is ceil-rank arithmetic, so DuckDB replays every bit
    // including the sampled estimates.
    QuerySpec("t24_qs_quantiles", (s, dir) =>
      Sketches.qsTokenCountQuantiles(tbl(s, dir, "documents"), "doc_id", "text",
        k = QsK, probsPct = QsProbs), _ =>
      // The quantile-merge and bloom-merge oracles are the UNMERGED
      // whole-corpus replays (the t18/t19/t21 pattern): bottom-k and
      // bit-union merges are exact, so merge ≡ recompute bit-for-bit or
      // the hash compare fails.
      QsSql),

    // The merge proof, strongest form (like t18/t19/t21): bottom-k of
    // a disjoint union equals the whole-corpus sketch EXACTLY, so the
    // oracle is the unmerged whole-corpus replay — merge ≡ recompute
    // bit-for-bit or the hash compare fails.
    QuerySpec("t25_qs_merge", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val v = size(TextAnalysis.normalizedTokens(col("text")))
      val a = Sketches.qsSketch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), col("doc_id"), v, QsK)
      val b = Sketches.qsSketch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), col("doc_id"), v, QsK)
      Sketches.qsEval(docs, col("doc_id"), v, Sketches.qsMerge(a, b, QsK), QsProbs)
    }, _ => QsSql),

    // Bloom-filter decontamination pre-filter (Bloom 1970): the
    // benchmark vocabulary (every 50th doc — the tp6/v14 split)
    // builds a depth×width bit frame; the corpus vocabulary probes
    // it. The summary row carries the no-false-negative guarantee and
    // the observed FP rate — the quantities that decide whether the
    // broadcast pre-filter is safe to put in front of the exact
    // decontamination join at 100 TB (it always is: FN are impossible
    // by construction, FP only cost re-checks).
    QuerySpec("t26_bloom_decontam", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      Sketches.bloomDecontamEval(corpus, bench, "text",
        Sketches.bloomBits(bench, "text", BloomDepth, BloomWidth),
        BloomDepth, BloomWidth)
    }, _ => BloomSql),

    // Bit-union merge proof: per-half filters union to the whole-
    // vocabulary filter exactly (sets, not counters), so the oracle is
    // again the unmerged whole replay.
    QuerySpec("t27_bloom_merge", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val bits = Sketches.bloomMerge(
        Sketches.bloomBits(bench.filter(pmod(col("doc_id"), lit(100)) === 0),
          "text", BloomDepth, BloomWidth),
        Sketches.bloomBits(bench.filter(pmod(col("doc_id"), lit(100)) =!= 0),
          "text", BloomDepth, BloomWidth))
      Sketches.bloomDecontamEval(corpus, bench, "text", bits, BloomDepth, BloomWidth)
    }, _ => BloomSql),

    // Gopher-style hard quality gates (Rae et al. 2021 A1.1), one
    // boolean per rule + the conjunction — the per-rule report a
    // curation run logs. All gates are integer-derived doubles, so the
    // comparisons are exact in both engines without rounding.
    QuerySpec("t9_gopher_rules", (s, dir) => {
      val wc = size(col("_toks"))
      val mwl = TextAnalysis.meanWordLengthOf(col("_toks"))
      val symr = TextAnalysis.symbolWordRatio(col("text"), col("_toks"))
      val alpha = TextAnalysis.alphaWordFraction(col("_toks"))
      val stop = TextAnalysis.stopwordCount(col("text"))
      val passWords = wc.between(20, 100000)
      val passMwl = mwl.between(3.0, 10.0)
      val passSym = symr <= 0.1
      val passAlpha = alpha >= 0.8
      val passStop = stop >= 2
      spreadTbl(s, dir, "documents")
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
        .select(col("doc_id"),
          wc.as("n_words"),
          passWords.as("pass_word_count"),
          passMwl.as("pass_mean_word_len"),
          passSym.as("pass_symbol_ratio"),
          passAlpha.as("pass_alpha_frac"),
          passStop.as("pass_stopwords"),
          (passWords && passMwl && passSym && passAlpha && passStop).as("gopher_pass"))
    }, _ =>
      // All gate inputs are integer-derived doubles (counts and count
      // ratios), so the threshold comparisons are exact in both engines
      // without rounding.
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(TRIM(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    len(tk) AS wc,
        |    CASE WHEN len(tk) = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(tk, w -> LENGTH(w))) AS DOUBLE) / len(tk) END AS mwl,
        |    CASE WHEN len(tk) = 0 THEN 1.0
        |      ELSE CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(tk) END AS symr,
        |    CASE WHEN len(tk) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(tk) END AS alpha,
        |    len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|with|for|was)\b')) AS stop
        |  FROM t)
        |SELECT doc_id,
        |  CAST(wc AS INT) AS n_words,
        |  wc BETWEEN 20 AND 100000 AS pass_word_count,
        |  mwl BETWEEN 3.0 AND 10.0 AS pass_mean_word_len,
        |  symr <= 0.1 AS pass_symbol_ratio,
        |  alpha >= 0.8 AS pass_alpha_frac,
        |  stop >= 2 AS pass_stopwords,
        |  (wc BETWEEN 20 AND 100000 AND mwl BETWEEN 3.0 AND 10.0 AND symr <= 0.1
        |   AND alpha >= 0.8 AND stop >= 2) AS gopher_pass
        |FROM f""".stripMargin),

    // Unigram-LM scoring (CCNet-style perplexity stand-in): mean
    // -ln p(token) under the corpus's own unigram distribution, vocab
    // capped at the top 20 (so the OOV floor path is exercised),
    // per-doc sums in exact order-free DECIMAL.
    QuerySpec("t10_unigram_logprob", (s, dir) =>
      UnigramLM.unigramScores(tbl(s, dir, "documents"), "doc_id", "text", topV = 20), _ =>
      // Replays the capped vocabulary (count desc, token asc, LIMIT 20),
      // the 1/total OOV floor, and the exact DECIMAL(18,12) surprisal
      // sum; the final mean divides as DOUBLE in both engines.
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS token FROM documents),
         |tot AS (SELECT COUNT(*) AS n FROM tok),
         |vocab AS (SELECT token, COUNT(*) AS c FROM tok
         |  GROUP BY token ORDER BY c DESC, token LIMIT 20),
         |scored AS (SELECT t.doc_id,
         |    CAST(-ln(CAST(COALESCE(v.c, 1) AS DOUBLE) / (SELECT n FROM tot)) AS DECIMAL(18,12)) AS s
         |  FROM tok t LEFT JOIN vocab v USING (token)),
         |per AS (SELECT doc_id, COUNT(*) AS nt, SUM(s) AS ssum FROM scored GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.nt, 0) AS INT) AS n_tokens,
         |  CASE WHEN p.nt IS NULL THEN 0.0
         |    ELSE ROUND(CAST(p.ssum AS DOUBLE) / p.nt, 6) END AS mean_neg_logprob
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),

    // Bigram-LM scoring (one rung up the CCNet perplexity ladder):
    // mean -ln p(w2|w1) under the corpus's own Laplace-smoothed bigram
    // model, vocab capped at top 20 + <unk> — flags improbable
    // TRANSITIONS (shuffled/stitched text) that unigram stats miss.
    // All model tables are vocab-bounded broadcasts; only corpus-wide
    // shuffle is the per-doc aggregate.
    QuerySpec("t13_bigram_logprob", (s, dir) =>
      BigramLM.bigramScores(tbl(s, dir, "documents"), "doc_id", "text", topV = 20), _ =>
      // Replays the bigram model: top-20 vocab + <unk> closure,
      // positional bigrams via range(1, len) (empty for < 2 tokens),
      // Laplace p = (c12+1)/(c1+V), DECIMAL(18,12) surprisal sums.
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS token FROM documents),
         |vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS c FROM tok
         |  GROUP BY token ORDER BY c DESC, token LIMIT 20)),
         |vs AS (SELECT COUNT(*) + 1 AS vsz FROM vocab),
         |tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |g0 AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]})) AS bg
         |  FROM tk),
         |m AS (SELECT doc_id,
         |  CASE WHEN bg.w1 IN (SELECT token FROM vocab) THEN bg.w1 ELSE '<unk>' END AS w1,
         |  CASE WHEN bg.w2 IN (SELECT token FROM vocab) THEN bg.w2 ELSE '<unk>' END AS w2
         |  FROM g0),
         |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM m GROUP BY w1, w2),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM m GROUP BY w1),
         |sc AS (SELECT m.doc_id,
         |    CAST(-ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + (SELECT vsz FROM vs))) AS DECIMAL(18,12)) AS s
         |  FROM m JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
         |per AS (SELECT doc_id, COUNT(*) AS nb, SUM(s) AS ssum FROM sc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.nb, 0) AS INT) AS n_bigrams,
         |  CASE WHEN p.nb IS NULL THEN 0.0
         |    ELSE ROUND(CAST(p.ssum AS DOUBLE) / p.nb, 6) END AS mean_neg_logprob
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),

    // Model-based quality filter (the GPT-3/Llama pipeline stage):
    // logistic regression over top-256 document-frequency token
    // presence, trained IN Spark on the even-doc_id half against the
    // Gopher-gate conjunction as the weak label, weights persisted to
    // parquet (quantized DECIMAL(18,12)), then the WHOLE corpus scored
    // with the exact order-free decimal margin — no transcendental in
    // the compared output, so the oracle replays scoring bit-exactly
    // from the persisted weights.
    QuerySpec("t12_quality_filter", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val labeled = docs
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
        .withColumn("label",
          size(col("_toks")).between(20, 100000) &&
            TextAnalysis.meanWordLengthOf(col("_toks")).between(3.0, 10.0) &&
            (TextAnalysis.symbolWordRatio(col("text"), col("_toks")) <= 0.1) &&
            (TextAnalysis.alphaWordFraction(col("_toks")) >= 0.8) &&
            (TextAnalysis.stopwordCount(col("text")) >= 2))
      // steps=3: the lr sweep shows accuracy flat from 3 steps on (the
      // NB warm start does the heavy lifting); each extra step is one
      // more full pass at 100 TB.
      val model = QualityClassifier.train(labeled, "doc_id", "text", "label",
        topV = 256, steps = 3, lr = 0.05, trainFilter = col("doc_id") % 2 === 0)
      val path = t12WeightsPathFor(v7CorpusKeyFor(dir))
      QualityClassifier.persist(model, s, path)
      // narrow scorer, not the vocab-join batch scorer: training only
      // tokenized the doc_id%2==0 SAMPLE, so the full-corpus scoring
      // pass shares nothing with it — the vocab-join form would pay a
      // corpus explode plus two shuffles for a margin the map-literal
      // decimal fold computes per-row with ZERO shuffles, and the two
      // paths are bit-identical (StreamingIngestSpec "narrow scorer is
      // the batch scorer's exact twin"; decimal addition is order-free)
      QualityClassifier.scoreNarrow(docs, "doc_id", "text", s.read.parquet(path))
    }, sfDir =>
      // Replays t12 scoring from the weights parquet the query persists:
      // distinct-token presence join + exact decimal margin. The NULL
      // token row is the bias; the inner USING join drops it naturally.
      s"""WITH wb AS (SELECT token, w FROM read_parquet('${t12WeightsPathFor(v7CorpusKeyFor(sfDir))}/*.parquet')),
         |b AS (SELECT CAST(w AS DOUBLE) AS bw FROM wb WHERE token IS NULL),
         |tok AS (SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($ToksSql) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |per AS (SELECT t.doc_id, COUNT(*) AS nf, SUM(w.w * CAST(t.tf AS DECIMAL(10,0))) AS ssum
         |  FROM tok t JOIN wb w USING (token) GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.nf, 0) AS INT) AS n_feats,
         |  ROUND((SELECT bw FROM b) + CAST(COALESCE(p.ssum, 0) AS DOUBLE), 6) AS score,
         |  ((SELECT bw FROM b) + CAST(COALESCE(p.ssum, 0) AS DOUBLE)) >= 0.0 AS pred
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),

    // The stream-admission scorer (QualityClassifier.scoreNarrow):
    // the bounded weight table folds into the plan as a map literal
    // and the margin is an exact-decimal fold over the token array —
    // zero shuffles, stateless, so it runs unchanged on an unbounded
    // stream (StreamingIngest.curationStream wiring). Weights are a
    // fixed literal shared with the oracle; the batch-vs-narrow
    // bit-equality is separately pinned by StreamingIngestSpec.
    QuerySpec("t14_quality_score_narrow", (s, dir) =>
      QualityClassifier.scoreNarrow(
        tbl(s, dir, "documents"), "doc_id", "text", t14WeightsDf(s)), _ =>
      // Replays t14 narrow scoring: same tokenization, inline VALUES
      // weights (shared literal with the Spark side), exact decimal
      // margin. The USING join drops the NULL-token bias row naturally.
      s"""WITH wb AS (SELECT * FROM (VALUES $t14WeightsValuesSql) AS v(token, w)),
         |b AS (SELECT CAST(w AS DOUBLE) AS bw FROM wb WHERE token IS NULL),
         |tok AS (SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($ToksSql) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |per AS (SELECT t.doc_id, COUNT(*) AS nf, SUM(w.w * CAST(t.tf AS DECIMAL(10,0))) AS ssum
         |  FROM tok t JOIN wb w USING (token) GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.nf, 0) AS INT) AS n_feats,
         |  ROUND((SELECT bw FROM b) + CAST(COALESCE(p.ssum, 0) AS DOUBLE), 6) AS score,
         |  ((SELECT bw FROM b) + CAST(COALESCE(p.ssum, 0) AS DOUBLE)) >= 0.0 AS pred
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),
  )
}
