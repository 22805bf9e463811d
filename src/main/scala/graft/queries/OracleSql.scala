package graft
package queries

import graft.functions.GHash

/** DuckDB replays of the graft kernels that more than one query
  * family's oracle builds on. The replayable hash family (GHash) runs
  * the same FNV-1a / multiply-add / gmix64 / poly-fold arithmetic the
  * Catalyst kernels run, expressed in DuckDB HUGEINT mod-2^64 terms.
  * Constants are inlined as decimal literals from GHash — the oracle
  * engine never derives them. Same ASCII caveat as the t5 oracle:
  * Spark hashes UTF-8 bytes, the replay hashes codepoints.
  *
  * The MinHash / SimHash / SRP / IVF oracles built from these are full
  * bit-exact replays of the probabilistic operators. Identical-set
  * groups are reproduced by grouping on the hash set itself rather
  * than replaying xxhash64 of the array (same partition, no collision
  * caveat); candidate pairs require a fully-agreeing band slice,
  * exactly BucketPairs' emission condition.
  *
  * An oracle fragment only one family uses lives in that family's
  * file, next to the queries it replays. */
private[graft] object OracleSql {

  val M64 = "18446744073709551616::HUGEINT" // 2^64

  /** DuckDB replay of TextAnalysis.qualityScore — a CTE chain ending
    * in table `q(doc_id, quality)`. Shared by the t3 oracle and the
    * tp9 weighted-sample oracle (identical scores, so the sampling
    * boundary agrees bit-for-bit). */
  val QualityCteSql: String =
    """f AS (SELECT doc_id,
      |  CAST(LENGTH(text) AS DOUBLE) AS chars,
      |  CASE WHEN TRIM(text) = '' THEN 0.0
      |    ELSE CAST(len(string_split_regex(TRIM(text), '\s+')) AS DOUBLE) END AS toks,
      |  CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) AS punct,
      |  CAST(len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|with|for|was)\b')) AS DOUBLE) AS stop,
      |  CASE WHEN TRIM(text) = '' THEN 0.0
      |    ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\s+'), w -> LENGTH(w))) AS DOUBLE)
      |      / len(string_split_regex(TRIM(text), '\s+')) END AS mwl
      |FROM documents),
      |q AS (SELECT doc_id, ROUND(
      |  0.4 * LEAST(chars / 200.0, 1.0)
      |  + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(stop / toks, 0.5) * 2.0 END)
      |  + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(mwl / 5.0, 1.0) END)
      |  + 0.2 * (1.0 - LEAST((CASE WHEN chars = 0 THEN 1.0 ELSE punct / chars END) * 5.0, 1.0)), 6) AS quality
      |FROM f)""".stripMargin

  def hlist(vals: Seq[Long]): String =
    vals.map(GHash.u64).mkString("[", ",", "]") + "::HUGEINT[]"

  /** MinHash permutation constants for H=30 (the family default). */
  private val MinhashH = 30
  val MinhashBands = 6
  val MinhashRpb = MinhashH / MinhashBands
  val NearDupThreshold = 0.9
  val MinhashMinAgree = // mirror of TextDedup.nearDupPairsOfHashed
    math.max(0, math.ceil((NearDupThreshold - 0.25) * MinhashH).toInt)
  val MinhashMaxBucket = text.TextDedup.DefaultMaxBucketSize
  val PermASql = hlist((0 until MinhashH).map(GHash.permA))
  val PermBSql = hlist((0 until MinhashH).map(GHash.permB))

  // Bloom filter parameters, shared by the t26/t27 sketches, the
  // tp15/tp16 decontamination gates and their oracles.
  val BloomDepth = 7 // hash functions; FP ≈ (1−e^(−7n/4096))^7
  val BloomWidth = 4096 // power of two, same mask rule as CmsWidth

  private val Pw64Sql = hlist((0 until 64).map(b => 1L << b))
  private val Pw16Sql = hlist((0 until 4).map(b => 1L << (16 * b)))
  private val FnvOffU = GHash.u64(GHash.FnvOffset)
  private val FnvP = GHash.FnvPrime.toString

  /** Whitespace tokens of the normal form (proven by the td2 oracle). */
  val ToksSql =
    """list_filter(string_split_regex(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')), '\s+'), x -> x <> '')"""

  /** FNV-1a 64 fold over the codepoints of `v` (HashShingles replay). */
  def fnvSql(v: String): String =
    s"list_reduce(list_prepend($FnvOffU::HUGEINT, " +
      s"list_transform(string_split($v, ''), c -> CAST(greatest(unicode(c), 0) AS HUGEINT))), " +
      s"(h, c) -> (xor(h, c) * $FnvP::HUGEINT) % $M64)"

  /** gmix64 finalizer replay: (xor(y, y >>> 32) · FnvPrime) mod 2^64. */
  def gmixSql(y: String): String =
    s"(xor($y, ($y) // 4294967296) * $FnvP::HUGEINT) % $M64"

  /** Shared CTE prefix for the MinHash oracles over table `src`
    * (must expose doc_id + text): token hash sets, identical-set
    * groups with min-id representatives, and signatures (unsigned min
    * of the multiply-add permutations — MinHashSignature replay).
    * `p` prefixes every CTE name so one query can carry two corpora
    * (td11's batch + base); the permutation-constant CTE `c` is
    * emitted once (`withConsts = false` on the second expansion). */
  def minhashCtes(src: String, p: String = "", withConsts: Boolean = true): String = {
    val consts = if (withConsts) s"c AS (SELECT $PermASql AS pa, $PermBSql AS pb),\n" else ""
    s"""$consts${p}toks AS (SELECT doc_id, $ToksSql AS tk FROM $src),
       |${p}hs AS (SELECT doc_id, list_sort(list_distinct(list_transform(tk, t -> ${fnvSql("t")}))) AS cs FROM ${p}toks),
       |${p}reps AS (SELECT cs, MIN(doc_id) AS rep_id FROM ${p}hs GROUP BY cs),
       |${p}sigs AS (SELECT rep_id, cs,
       |  list_transform(range(0, $MinhashH), j ->
       |    CASE WHEN len(cs) = 0 THEN 18446744073709551615::HUGEINT
       |         ELSE list_min(list_transform(cs, x -> (pa[j+1] * x + pb[j+1]) % $M64)) END) AS sig
       |  FROM ${p}reps, c)""".stripMargin
  }

  /** Exact jaccard of two sorted distinct hash sets (JaccardSortedLong
    * replay), rounded to 6 dp. */
  def jaccardSql(a: String, b: String): String =
    s"ROUND(CASE WHEN len($a) + len($b) - len(list_intersect($a, $b)) = 0 THEN 0.0 " +
      s"ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE) " +
      s"/ (len($a) + len($b) - len(list_intersect($a, $b))) END, 6)"

  /** Linear-per-bucket loser set (minhashDedupLinear replay): band
    * buckets are the PolyFoldLong of each signature slice; each member
    * verifies only against its bucket's min-id representative. */
  val LinearLosersCtes =
    s"""banded AS (SELECT rep_id, cs, band,
       |    list_reduce(list_prepend($FnvOffU::HUGEINT, array_slice(sig, band*$MinhashRpb+1, band*$MinhashRpb+$MinhashRpb)),
       |      (a, v) -> (a * $FnvP::HUGEINT + v) % $M64) AS bucket
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS band) b),
       |bucketreps AS (SELECT band, bucket, MIN(rep_id) AS brep FROM banded GROUP BY band, bucket),
       |losers AS (SELECT DISTINCT m2.rep_id
       |  FROM banded m2
       |  JOIN bucketreps r ON m2.band = r.band AND m2.bucket = r.bucket
       |  JOIN sigs rs ON rs.rep_id = r.brep
       |  WHERE m2.rep_id > r.brep
       |    AND ${jaccardSql("m2.cs", "rs.cs")} >= $NearDupThreshold)""".stripMargin

  /** SimHash signature CTEs over `src` (SimHash64 replay): per-token
    * gmix64(fnv1a(token)), bit votes, packed unsigned signature. */
  def simhashCtes(src: String): String =
    s"""c AS (SELECT $Pw64Sql AS pw, $Pw16Sql AS pw16),
       |toks AS (SELECT doc_id, $ToksSql AS tk FROM $src),
       |hsim AS (SELECT doc_id, list_transform(tk, t -> ${gmixSql(fnvSql("t"))}) AS th FROM toks),
       |ssigs AS (SELECT doc_id,
       |  CAST(coalesce(list_sum(list_transform(range(0, 64), b ->
       |    CASE WHEN coalesce(list_sum(list_transform(th,
       |        h -> CASE WHEN (h // pw[b+1]) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0
       |      THEN pw[b+1] ELSE 0::HUGEINT END)), 0) AS HUGEINT) AS usig
       |  FROM hsim, c)""".stripMargin

  /** Unsigned → signed BIGINT (two's-complement reinterpretation). */
  def signedSql(u: String): String =
    s"CAST(CASE WHEN $u >= 9223372036854775808::HUGEINT THEN $u - $M64 ELSE $u END AS BIGINT)"

  /** Unrounded cosine of two FLOAT[] expressions (CosineSimilarity
    * replay — same double arithmetic as the v1/v2 oracles). */
  def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))" +
      s" / (sqrt(list_sum(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"

  /** SRP plane + bucket CTEs (SrpSignature replay): plane vectors are
    * materialized once per (table, bit) — component i (1-based) is
    * (gmix64(srpA·i + srpB) >>> 54)/1024 − 0.5 — then each vector's
    * bucket is the packed sign pattern of its plane projections.
    * Requires a `c` CTE exposing flat constant lists sa/sb indexed
    * [t*nBits + j + 1]. */
  def srpCtes(nBits: Int, tables: Int): String = {
    val y = s"(sa[t*$nBits + j + 1] * CAST(i AS HUGEINT) + sb[t*$nBits + j + 1]) % $M64"
    val m = s"(CAST((${gmixSql(y)}) // 18014398509481984 AS DOUBLE) / 1024.0 - 0.5)"
    s"""planes AS (
       |  SELECT t, j, list_transform(range(1, (SELECT MAX(len(embedding)) FROM embeddings) + 1), i -> $m) AS plane
       |  FROM (SELECT unnest(range(0, $tables)) AS t) ts
       |  CROSS JOIN (SELECT unnest(range(0, $nBits)) AS j) js, c),
       |bx AS (
       |  SELECT vec_id, embedding, t,
       |    CAST(coalesce(SUM(CASE WHEN list_sum(list_transform(list_zip(embedding, plane), x -> CAST(x[1] AS DOUBLE) * x[2])) > 0
       |      THEN (1::BIGINT << j) ELSE 0 END), 0) AS INT) AS bucket
       |  FROM embeddings CROSS JOIN planes
       |  GROUP BY vec_id, embedding, t)""".stripMargin
  }

  def srpConstsSql(nBits: Int, tables: Int): String = {
    val sa = hlist(for (t <- 0 until tables; j <- 0 until nBits) yield GHash.srpA(t, j))
    val sb = hlist(for (t <- 0 until tables; j <- 0 until nBits) yield GHash.srpB(t, j))
    s"c AS (SELECT $sa AS sa, $sb AS sb)"
  }

  /** Adaptive-bits ladder (Similarity.adaptiveNBits replay): largest b
    * in [4, 24] with count ≥ 128·2^b. Integer comparisons only — a
    * floor(log2(…)) as doubles could disagree with the JVM at exact
    * power-of-two corpus sizes. The 24 cap is adaptiveNBits' maxBits;
    * both sides of the oracle must move together. */
  def adaptiveBitsSql(src: String): String = {
    val ladder = (24 to 5 by -1)
      .map(b => s"WHEN COUNT(*) >= ${128L << b} THEN $b")
      .mkString(" ")
    s"nb AS (SELECT CASE $ladder ELSE 4 END AS nb FROM $src)"
  }

  /** Single-table SRP bucket CTEs with RUNTIME bit width (the v3
    * multi-probe oracle): plane j < nb from the maxBits-plane constant
    * lists (salt 0 — plane constants depend only on (salt, j), so the
    * dynamic prefix matches lshSignature exactly), plus the Hamming ≤ 2
    * probe-mask CTE. Expects `c` (maxBits-entry sa/sb, currently 24)
    * and `nb` CTEs. */
  def srpCtesAdaptive(src: String): String = {
    val y = s"(sa[j + 1] * CAST(i AS HUGEINT) + sb[j + 1]) % $M64"
    val m = s"(CAST((${gmixSql(y)}) // 18014398509481984 AS DOUBLE) / 1024.0 - 0.5)"
    s"""js AS (SELECT unnest(range(0, (SELECT nb FROM nb))) AS j),
       |planes AS (
       |  SELECT j, list_transform(range(1, (SELECT MAX(len(embedding)) FROM $src) + 1), i -> $m) AS plane
       |  FROM js, c),
       |bx AS (
       |  SELECT vec_id, embedding,
       |    coalesce(SUM(CASE WHEN list_sum(list_transform(list_zip(embedding, plane), x -> CAST(x[1] AS DOUBLE) * x[2])) > 0
       |      THEN (1::BIGINT << j) ELSE 0 END), 0) AS bucket
       |  FROM $src CROSS JOIN planes
       |  GROUP BY vec_id, embedding),
       |masks AS (
       |  SELECT 0::BIGINT AS mask
       |  UNION ALL SELECT (1::BIGINT << j) FROM js
       |  UNION ALL SELECT xor(1::BIGINT << a.j, 1::BIGINT << b.j) FROM js a JOIN js b ON a.j < b.j)""".stripMargin
  }
}
