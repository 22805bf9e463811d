package graft
package queries

import org.apache.spark.sql.functions._

import graft.text.{LineDedup, TextDedup}

import QueryInputs._
import OracleSql._

/** Text dedup (beyond-reference): exact, MinHash, SimHash, substring
  * and line dedup — query prefix `td`. */
private[graft] object DedupQueries {

  // ExactSubstr gram length, shared by td14/td15 and their oracle.
  private val SubstrK = 8

  /** Band rows with the raw signature slice — candidate generation for
    * the all-pairs MinHash ops (a pair is a candidate iff some band's
    * slices FULLY agree, which is exactly BucketPairs' first-agreeing-
    * band emission condition).
    *
    * LSH candidate set with the bucket-size gate replicated: a pair's
    * first fully-agreeing band is MIN(band) over its slice collisions;
    * the pair is a candidate if THAT band's bucket is at or under
    * [[graft.text.TextDedup.DefaultMaxBucketSize]] (all-pairs branch)
    * or if its smaller id IS the bucket's min-id representative
    * (linear branch) — byte-for-byte the kernel gate, so the oracle
    * stays green even on a corpus with a hot bucket. */
  private val BandSliceCte =
    s"""bands AS (SELECT rep_id, band, array_slice(sig, band*$MinhashRpb+1, band*$MinhashRpb+$MinhashRpb) AS bslice
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS band) b),
       |bsizes AS (SELECT band, bslice, COUNT(*) AS bsz, MIN(rep_id) AS bmin
       |  FROM bands GROUP BY band, bslice),
       |coll AS (SELECT a.rep_id AS ra, b.rep_id AS rb, MIN(a.band) AS fb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bslice = b.bslice AND a.rep_id < b.rep_id
       |  GROUP BY a.rep_id, b.rep_id),
       |cand AS (SELECT c.ra, c.rb FROM coll c
       |  JOIN bands ab ON ab.rep_id = c.ra AND ab.band = c.fb
       |  JOIN bsizes s ON s.band = c.fb AND s.bslice = ab.bslice
       |  WHERE s.bsz <= $MinhashMaxBucket OR c.ra = s.bmin)""".stripMargin

  /** Rep pairs surviving the minAgree prefilter + exact-jaccard verify
    * — the output pair set of nearDupPairsOfHashed. */
  private val RepPairsCte =
    s"""verified AS (
       |  SELECT c2.ra, c2.rb, ${jaccardSql("sa.cs", "sb.cs")} AS jaccard
       |  FROM cand c2
       |  JOIN sigs sa ON sa.rep_id = c2.ra
       |  JOIN sigs sb ON sb.rep_id = c2.rb
       |  WHERE len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2])) >= $MinhashMinAgree),
       |reppairs AS (SELECT ra, rb, jaccard FROM verified WHERE jaccard >= $NearDupThreshold)""".stripMargin

  /** td3's pair graph closed into components: shared CTE body for
    * td10 (labels) and td13 (the transitive corpus cut) — one closure
    * definition, two final SELECTs, so the two oracles cannot drift. */
  private def Td10ClosureCtes: String =
    s"""${minhashCtes("documents")},
       |mem AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY cs) AS rep_id FROM hs),
       |$BandSliceCte,
       |$RepPairsCte,
       |cross_pairs AS (
       |  SELECT LEAST(ma.doc_id, mb.doc_id) AS id_a, GREATEST(ma.doc_id, mb.doc_id) AS id_b
       |  FROM reppairs p JOIN mem ma ON ma.rep_id = p.ra JOIN mem mb ON mb.rep_id = p.rb),
       |intra AS (
       |  SELECT m1.doc_id AS id_a, m2.doc_id AS id_b
       |  FROM mem m1 JOIN mem m2 ON m1.rep_id = m2.rep_id AND m1.doc_id < m2.doc_id),
       |dedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM cross_pairs
       |  UNION SELECT id_b, id_a FROM cross_pairs
       |  UNION SELECT id_a, id_b FROM intra
       |  UNION SELECT id_b, id_a FROM intra),
       |walk(id, label) AS (
       |  SELECT src, src FROM dedges
       |  UNION
       |  SELECT e.dst, w.label FROM walk w JOIN dedges e ON e.src = w.id),
       |cc AS (SELECT id, MIN(label) AS component FROM walk GROUP BY id)""".stripMargin

  /** td14/td15's shared DuckDB oracle — the full ExactSubstr removal
    * algebra (positional k-grams at k = SubstrK with start ordinals,
    * corpus-wide
    * instance counts, per-doc interval union, span-complement token
    * filter, md5 of the rebuilt text). Two queries answer to it: the
    * exact-text-key form and the 128-bit packed-key form, so the
    * packing's output-equivalence is oracle-checked every round. */
  private lazy val ExactSubstrOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |gl AS (SELECT doc_id, t, CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(0, greatest(len(t) - $SubstrK, 0) + 1),
         |      i -> array_to_string(array_slice(t, i + 1, i + $SubstrK), ' ')) END AS gs
         |  FROM tk),
         |g AS (SELECT doc_id, unnest(gs) AS gram,
         |    generate_subscripts(gs, 1) - 1 AS st FROM gl),
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
         |ds AS (SELECT doc_id, st FROM g WHERE gram IN (SELECT gram FROM dup)),
         |br AS (SELECT doc_id, st,
         |    CASE WHEN st > LAG(st) OVER (PARTITION BY doc_id ORDER BY st) + $SubstrK
         |      THEN 1 ELSE 0 END AS brk FROM ds),
         |gr AS (SELECT doc_id, st,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY st) AS grp FROM br),
         |sp AS (SELECT doc_id, grp, MIN(st) AS s, MAX(st) + ${SubstrK - 1} AS e
         |  FROM gr GROUP BY doc_id, grp),
         |tp AS (SELECT doc_id, unnest(t) AS tok,
         |    generate_subscripts(t, 1) - 1 AS idx FROM tk),
         |kept AS (SELECT tp.doc_id, tp.tok, tp.idx FROM tp
         |  WHERE NOT EXISTS (SELECT 1 FROM sp
         |    WHERE sp.doc_id = tp.doc_id AND tp.idx BETWEEN sp.s AND sp.e)),
         |reb AS (SELECT doc_id, COUNT(*) AS nk,
         |    string_agg(tok, ' ' ORDER BY idx) AS txt FROM kept GROUP BY doc_id),
         |nsp AS (SELECT doc_id, COUNT(*) AS ns FROM sp GROUP BY doc_id)
         |SELECT k.doc_id, CAST(len(k.t) AS INT) AS n_tokens,
         |  CAST(COALESCE(r.nk, 0) AS INT) AS n_tokens_kept,
         |  CAST(COALESCE(n.ns, 0) AS INT) AS n_spans_removed,
         |  md5(COALESCE(r.txt, '')) AS clean_md5
         |FROM tk k LEFT JOIN reb r USING (doc_id) LEFT JOIN nsp n USING (doc_id)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("td1_exact_dedup", (s, dir) =>
      TextDedup
        .exactDedup(tbl(s, dir, "documents"), col("text"), col("doc_id"))
        .select("doc_id", "lang", "source", "n_chars"), _ =>
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fp FROM documents)
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1""".stripMargin),

    // Word-set (k=1 shingle) Jaccard pairs within a blocking key.
    QuerySpec("td2_ngram_jaccard", (s, dir) =>
      TextDedup.blockedJaccardPairs(
        spreadTbl(s, dir, "documents"), "doc_id", "text", "source", k = 1, threshold = 0.5), _ =>
      // list_filter drops the [''] that DuckDB's split yields for an
      // empty/whitespace-only doc — Spark's tokenizer returns an empty
      // array there, and two empty docs must NOT pair at jaccard 1.0.
      """WITH sh AS (
        |  SELECT source AS block, doc_id,
        |    list_filter(list_distinct(string_split_regex(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')), '\s+')), x -> x <> '') AS s
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5""".stripMargin),

    // MinHash+LSH near-dup pairs, exact-Jaccard-verified at ≥0.9.
    // Identical word sets ⇒ identical signatures ⇒ recall 1 at j=1.
    // Hash-checked: the GHash family (FNV-1a shingles, multiply-add
    // permutations, poly-fold buckets) replays exactly in the oracle.
    QuerySpec("td3_minhash_pairs", (s, dir) =>
      TextDedup.minhashNearDupPairs(
        tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.9, k = 1), _ =>
      s"""WITH ${minhashCtes("documents")},
         |mem AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY cs) AS rep_id FROM hs),
         |$BandSliceCte,
         |$RepPairsCte,
         |cross_pairs AS (
         |  SELECT LEAST(ma.doc_id, mb.doc_id) AS id_a, GREATEST(ma.doc_id, mb.doc_id) AS id_b, p.jaccard
         |  FROM reppairs p JOIN mem ma ON ma.rep_id = p.ra JOIN mem mb ON mb.rep_id = p.rb),
         |intra AS (
         |  SELECT m1.doc_id AS id_a, m2.doc_id AS id_b, 1.0 AS jaccard
         |  FROM mem m1 JOIN mem m2 ON m1.rep_id = m2.rep_id AND m1.doc_id < m2.doc_id)
         |SELECT id_a, id_b, jaccard FROM cross_pairs
         |UNION ALL
         |SELECT id_a, id_b, jaccard FROM intra""".stripMargin),

    // MinHash dedup: survivors after dropping near-dup losers.
    QuerySpec("td4_minhash_dedup", (s, dir) =>
      TextDedup
        .minhashDedup(tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.9)
        .select("doc_id"), _ =>
      s"""WITH ${minhashCtes("documents")},
         |$BandSliceCte,
         |$RepPairsCte
         |SELECT rep_id AS doc_id FROM reps
         |WHERE rep_id NOT IN (SELECT rb FROM reppairs)""".stripMargin),

    // Duplicate CLUSTERS: connected components over the td3 near-dup
    // pair graph (iterative min-label propagation; the oracle replays
    // it as a recursive-CTE label closure over the same GHash pairs).
    // Every document gets a cluster id — the min doc_id of its
    // component, its own id for singletons — the form curation uses
    // to keep one member per cluster or size-stratify clusters.
    QuerySpec("td10_dup_clusters", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = TextDedup.minhashNearDupPairs(
        docs, "doc_id", "text", threshold = 0.9, k = 1)
      val comp = graft.graph.ConnectedComponents
        .components(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }, _ =>
      // td3's pair graph, then connected components as a recursive-CTE
      // min-label closure: walk carries every (vertex, reachable label)
      // over symmetrized edges (set-semantics UNION terminates it), and
      // MIN(label) per vertex is the component's minimum id — exactly
      // the fixpoint the Spark min-label propagation reaches.
      s"""WITH RECURSIVE $Td10ClosureCtes
         |SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component
         |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id""".stripMargin),

    // TRANSITIVE near-dup dedup: keep one member (the min id) per
    // connected component of the pair graph — stricter than td4's
    // pairwise keep-min-id (A~B~C drops B and C even when A and C are
    // not themselves a near-dup pair), which is what a chained
    // near-dup cluster needs at corpus scale. The anti side is the
    // CC label frame, tiny relative to the corpus.
    QuerySpec("td13_transitive_dedup", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = TextDedup.minhashNearDupPairs(
        docs, "doc_id", "text", threshold = 0.9, k = 1)
      val losers = graft.graph.ConnectedComponents
        .components(pairs, "id_a", "id_b")
        .filter(col("component") =!= col("id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    }, _ =>
      // Same closure, applied as a corpus cut: only component minima
      // (and untouched singletons) survive.
      s"""WITH RECURSIVE $Td10ClosureCtes
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
         |WHERE cc.component IS NULL OR cc.component = d.doc_id""".stripMargin),

    // SimHash signatures, packed into one BIGINT per doc so the column
    // is sortable/hashable externally (+ banded near-dup pairs in tests).
    // Hash-checked: gmix64(fnv1a(token)) bit votes replay in the oracle.
    QuerySpec("td5_simhash_sigs", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextDedup.simhash64(col("text")).as("simhash64")), _ =>
      s"""WITH ${simhashCtes("documents")}
         |SELECT doc_id, ${signedSql("usig")} AS simhash64 FROM ssigs""".stripMargin),

    // Banded SimHash near-dup pairs: 16-bit-band bucket join (any pair
    // within hamming ≤ 3 of 64 bits shares ≥ 1 exact band), verified
    // by codegen'd bit_count(xor). Hash-checked via the GHash replay.
    QuerySpec("td7_simhash_pairs", (s, dir) =>
      TextDedup
        .simhashPairs(tbl(s, dir, "documents"), "doc_id", "text", maxHamming = 3), _ =>
      // Pairs are emitted from their FIRST colliding 16-bit band (the
      // list_min condition mirrors simhashPairs' firstBand predicate).
      s"""WITH ${simhashCtes("documents")},
         |banded AS (SELECT doc_id, usig, band, (usig // pw16[band+1]) % 65536 AS bucket
         |  FROM ssigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b, c)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(${signedSql("a.usig")}, ${signedSql("b.usig")})) AS INT) AS hamming
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id, c
         |WHERE a.band = list_min(list_filter(range(0, 4), t -> (xor(a.usig, b.usig) // pw16[t+1]) % 65536 = 0))
         |  AND bit_count(xor(${signedSql("a.usig")}, ${signedSql("b.usig")})) <= 3""".stripMargin),

    // Incremental exact dedup: the doc_id%3==0 slice plays the
    // already-ingested corpus, the rest is the new shard — in-batch
    // keep-min-id first, then a fingerprint anti-join against the
    // base. Re-ingesting an already-stored document inserts nothing.
    QuerySpec("td9_incremental_dedup", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      TextDedup
        .exactDedupAgainstBase(batch, base, "doc_id", "text")
        .select("doc_id", "lang", "source")
    }, _ =>
      """WITH fp AS (
        |  SELECT *, md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS f
        |  FROM documents),
        |base AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT * FROM fp WHERE doc_id % 3 <> 0
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1)
        |SELECT doc_id, lang, source FROM batch
        |WHERE f NOT IN (SELECT f FROM base)""".stripMargin),

    // Incremental NEAR-dup dedup: the batch collapses internally with
    // verified all-pairs semantics, then survivors are gated against
    // the base corpus's (band, bucket) index — td9's cross-run
    // guarantee extended from exact to near-duplicate, and the batch
    // form of the streaming admission gate (same collisionGate
    // kernel). Hash-checked: batch and base signature CTEs replay via
    // the GHash family; cross-corpus collision = band-slice equality.
    QuerySpec("td11_minhash_vs_base", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      // The base side is the STORED (band, bucket) index — persisted,
      // refresh-maintained, purged per Bench/Verify invocation
      // (purgePersistedIndexes) and rebuilt inside the invocation, the
      // IvfIndex pattern. Pre-r17 the query re-shingled and re-signed
      // the full base corpus on every call; the gate's drop set is
      // bucket-for-bucket identical (TextDedupSpec pins the two forms,
      // and the oracle re-derives the base buckets from text).
      val h = graft.text.BucketIndex.ensure(s, annWarehouseFor(dir), "td11_base",
        base, "doc_id", "text", k = 1, numHashes = 30, bands = 6)
      TextDedup
        .minhashDedupAgainstBaseBuckets(batch,
          graft.text.BucketIndex.buckets(s, h), "doc_id", "text", threshold = 0.9)
        .select("doc_id", "lang", "source")
    }, _ =>
      // td4's in-batch dedup over the non-base slice, then the base-side
      // signature CTEs (prefixed 'b') and the bucket gate: a survivor
      // drops iff any of its band slices equals a base band slice —
      // band-slice equality IS bucket equality (the bucket is a hash of
      // the slice).
      s"""WITH ${minhashCtes("(SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0)")},
         |$BandSliceCte,
         |$RepPairsCte,
         |${minhashCtes("(SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0)", "b", withConsts = false)},
         |bobands AS (SELECT DISTINCT band, array_slice(sig, band*$MinhashRpb+1, band*$MinhashRpb+$MinhashRpb) AS bslice
         |  FROM bsigs CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS band) bbx),
         |surv AS (SELECT rep_id FROM reps WHERE rep_id NOT IN (SELECT rb FROM reppairs)),
         |collided AS (SELECT DISTINCT a.rep_id FROM bands a
         |  JOIN surv s ON s.rep_id = a.rep_id
         |  JOIN bobands bo ON bo.band = a.band AND bo.bslice = a.bslice)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |JOIN (SELECT rep_id FROM surv WHERE rep_id NOT IN (SELECT rep_id FROM collided)) f
         |  ON d.doc_id = f.rep_id""".stripMargin),

    // CCNet-style line-level dedup: drop lines appearing in > 50 docs
    // (synthesized boilerplate: a shared header on every doc, a footer
    // shared by each doc_id%5 class), keep per-doc body lines in
    // order. One line-frequency shuffle + a BROADCAST anti-join of the
    // heavy-hitter set — the corpus lines never re-shuffle on text.
    // Sub-document duplicated-span statistics (Lee et al. 2021 at
    // token-3-gram granularity): per doc, how many gram instances
    // also occur in another document — the trim/drop signal a
    // span-level dedup pass gates on.
    QuerySpec("td12_dup_gram_stats", (s, dir) =>
      TextDedup.dupGramStats(tbl(s, dir, "documents"), "doc_id", "text", k = 3), _ =>
      // Replays positional 3-grams (1-based inclusive array_slice ≡
      // Spark's slice), the (doc, gram) collapse, the cross-doc
      // document frequency, and the per-doc instance sums.
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(0, greatest(len(t) - 3, 0) + 1),
         |      i -> array_to_string(array_slice(t, i + 1, i + 3), ' ')) END) AS gram
         |  FROM tk),
         |g2 AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g GROUP BY doc_id, gram),
         |nd AS (SELECT gram, COUNT(*) AS ndocs FROM g2 GROUP BY gram),
         |per AS (SELECT doc_id, SUM(tf) AS ng,
         |    SUM(CASE WHEN ndocs > 1 THEN tf ELSE 0 END) AS ndup
         |  FROM g2 JOIN nd USING (gram) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.ng, 0) AS INT) AS n_grams,
         |  CAST(COALESCE(p.ndup, 0) AS INT) AS n_dup_grams,
         |  CASE WHEN COALESCE(p.ng, 0) = 0 THEN 0.0
         |    ELSE ROUND(CAST(p.ndup AS DOUBLE) / p.ng, 6) END AS dup_frac
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),

    // Span REMOVAL over the td12 signal (Lee et al. ExactSubstr at
    // token-8-gram alignment): every corpus-duplicated gram instance's
    // span is cut, overlapping/adjacent spans coalesce per doc, and the
    // rebuilt text is md5-compared — so the oracle re-derives the full
    // interval-union algebra, not just counts.
    QuerySpec("td14_exact_substring_dedup", (s, dir) =>
      TextDedup.exactSubstringDedup(spreadTbl(s, dir, "documents"), "doc_id", "text", k = SubstrK), _ =>
      // Replays the positional 8-grams with their start ordinals, the
      // corpus-wide instance count, the per-doc interval union
      // (lag gap test + running-sum group ids + min/max span bounds),
      // the span-complement token filter, and the md5 of the rebuilt
      // text — the full ExactSubstr removal algebra.
      ExactSubstrOracleSql),

    // td14 with the gram shuffle key hash-packed to 128 bits (two
    // independent xxhash64 draws) — the 100 TB shuffle-bytes knob.
    // Answers to the SAME oracle SQL as td14, so packed ≡ exact is an
    // oracle-checked fact every round, not only a spec assertion.
    QuerySpec("td15_substring_dedup_packed", (s, dir) =>
      TextDedup.exactSubstringDedupPacked(spreadTbl(s, dir, "documents"), "doc_id", "text", k = SubstrK), _ =>
      // packed ≡ exact: the 128-bit hash-packed-key variant answers to
      // the SAME SQL, so any divergence introduced by the key packing
      // (a double-xxhash64 collision, a plan-shape bug) turns this row
      // red — the oracle-checked form of TextDedupSpec's equivalence.
      ExactSubstrOracleSql),

    QuerySpec("td8_line_dedup", (s, dir) => {
      val docs = tbl(s, dir, "documents").select(
        col("doc_id"),
        concat_ws("\n",
          lit("shared boilerplate header"),
          col("text"),
          concat(lit("footer variant "), col("doc_id") % 5)).as("text"))
      LineDedup
        .removeFrequentLines(docs, "doc_id", "text", maxDocFreq = 50)
        .select(col("doc_id"), col("n_lines_kept"), md5(col("clean_text")).as("clean_md5"))
    }, _ =>
      // Replays the synthesized boilerplate, the per-line document
      // frequency, the >50 removal, and the order-preserving reassembly
      // (string_agg ORDER BY the line ordinal).
      """WITH d AS (SELECT doc_id,
        |    'shared boilerplate header' || chr(10) || text || chr(10)
        |      || 'footer variant ' || CAST(doc_id % 5 AS VARCHAR) AS t
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS line_no
        |  FROM d),
        |freq AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) > 50),
        |kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM freq)),
        |reb AS (SELECT doc_id, COUNT(*) AS n, string_agg(line, chr(10) ORDER BY line_no) AS txt
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(r.n, 0) AS INT) AS n_lines_kept,
        |  md5(COALESCE(r.txt, '')) AS clean_md5
        |FROM d LEFT JOIN reb r USING (doc_id)""".stripMargin),

    // Linear-per-bucket MinHash dedup: each doc verifies against only
    // its bucket's min-id representative per band — the O(B)-per-bucket
    // form that survives pathological buckets at 100 TB. Hash-checked
    // via the GHash replay (bucket folds included).
    QuerySpec("td6_minhash_dedup_linear", (s, dir) =>
      TextDedup
        .minhashDedupLinear(tbl(s, dir, "documents"), "doc_id", "text", 0.9)
        .select("doc_id", "source"), _ =>
      s"""WITH ${minhashCtes("documents")},
         |$LinearLosersCtes
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN (SELECT rep_id FROM reps WHERE rep_id NOT IN (SELECT rep_id FROM losers)) s
         |  ON d.doc_id = s.rep_id""".stripMargin),
  )
}
