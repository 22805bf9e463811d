package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.quality.{CacheScope, SkewTelemetry}

/** Document deduplication for training-data pipelines: exact
  * (normalized-hash groupBy), MinHash+LSH banding, SimHash, and
  * n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *   - Signatures (minhash / simhash) are per-row higher-order-function
  *     folds over the token array — narrow, no shuffle, no UDF.
  *   - Candidate generation NEVER crosses the full corpus with itself:
  *     LSH bands are exploded (b rows per doc) and candidates are pairs
  *     within a (band, bucket) hash-shuffle group. Shuffle volume is
  *     b × corpus, and bucket joins only materialize genuinely
  *     colliding pairs.
  *   - Exact Jaccard runs only on candidate pairs (a verification join
  *     on doc_id), not on all O(n²) pairs.
  */
object TextDedup {

  /** Default LSH bucket-size cap for the all-pairs candidate kernel:
    * buckets above it route through the linear min-id-representative
    * kernel (observable via [[graft.quality.SkewTelemetry]]). 1024
    * bounds per-bucket work at ~0.5M signature compares (~50 ms) —
    * far above any bucket the band hash produces on a healthy corpus,
    * low enough that a boilerplate flood cannot turn one shuffle key
    * into an O(B²) straggler. */
  val DefaultMaxBucketSize = 1024

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Exact dedup on the md5 of the normalized text: keep the smallest
    * id per group — the reference's keep-min-id historical dedup rule
    * (migrations/001a:33-38) transplanted to documents. One hash
    * shuffle on the fingerprint. */
  def exactDedup(df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprintMd5(textCol)).orderBy(idCol)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Incremental exact dedup: dedup a NEW batch against the
    * already-ingested corpus without reprocessing the corpus — the
    * only dedup shape that works at continuous-ingest scale, where
    * re-running global dedup per shard is off the table. In-batch
    * duplicates collapse keep-min-id first, then anything whose
    * fingerprint already exists in the base is dropped by a
    * fingerprint anti-join. The base side carries ONLY distinct
    * fingerprints (in production these are the stored dedup index, not
    * a re-derivation), and the anti-join is a plain hash shuffle on
    * the fingerprint — the base is corpus-sized, so no broadcast. The
    * d2-style cross-run upsert guarantee transplanted to documents:
    * re-ingesting the same shard inserts nothing. */
  def exactDedupAgainstBase(
      batch: DataFrame,
      base: DataFrame,
      idCol: String,
      textCol: String,
  ): DataFrame = {
    val baseFps = base
      .select(TextAnalysis.fingerprintMd5(col(textCol)).as("_fp"))
      .distinct()
    exactDedup(batch, col(textCol), col(idCol))
      .withColumn("_fp", TextAnalysis.fingerprintMd5(col(textCol)))
      .join(baseFps, Seq("_fp"), "left_anti")
      .drop("_fp")
  }

  // -------------------------------------------------------------------
  // Shingles + MinHash
  // -------------------------------------------------------------------

  /** Distinct word k-shingles from a *bound* token-array column.
    *
    * PERF: the token array must be a materialized column attribute,
    * never an inline `split(...)` subtree — expressions inside a
    * higher-order-function lambda are re-evaluated per element, which
    * turns an inlined tokenization into O(n²) regex work per row (and
    * HOFs are interpreted, not codegen'd). Callers bind tokens with
    * [[withTokens]] first. */
  def shinglesOfTokens(toks: Column, k: Int): Column =
    if (k == 1) array_distinct(toks) // word-set fast path: no slice/concat HOF
    else {
      val grams = transform(
        sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(k))),
      )
      array_distinct(grams)
    }

  /** Distinct k-shingles straight from text as ONE kernel call
    * (`graft_shingles`): lowercase + java-\s tokenization + clamped
    * k-gram build + first-occurrence distinct in a single tight loop,
    * replacing the interpreted regex/split/transform/slice/concat_ws/
    * array_distinct chain every shingle consumer paid per row —
    * element-for-element identical to [[shinglesOfTokens]] over
    * [[TextAnalysis.tokens]]∘[[TextAnalysis.normalized]] (the HOF
    * chain stays as the spec's reference implementation). */
  def withShingles(df: DataFrame, textCol: String, k: Int, out: String): DataFrame =
    df.withColumn(out,
      call_function("graft_shingles", coalesce(col(textCol), lit("")), lit(k)))

  /** Shingles as sorted distinct 64-bit hashes — the join-friendly
    * representation: per-pair jaccard becomes an allocation-free merge
    * over packed longs instead of hash-set ops over ~5 KB of strings
    * (graft_hash_shingles / graft_jaccard_sorted). Hashing happens
    * once per document, never per pair. */
  def withHashedShingles(df: DataFrame, textCol: String, k: Int, out: String): DataFrame =
    withShingles(df, textCol, k, "_shs")
      .withColumn(out, call_function("graft_hash_shingles", col("_shs")))
      .drop("_shs")

  private def jaccardSorted(a: Column, b: Column): Column =
    round(call_function("graft_jaccard_sorted", a, b), 6)

  // MinHash LSH is four stages, each written once: hash ([[hashedOf]])
  // → band ([[bandsOf]]) → candidates → verify ([[pairJaccard]]). The
  // candidate stage has three variants: the capped all-pairs cascade
  // ([[nearDupPairsOfHashed]]), the linear min-id representative
  // ([[minhashDedupLinear]]) and the index gate ([[indexGate]]).

  /** Hash stage: the shingle pass `(idCol, sh, _fp = xxhash64(sh))`
    * every batch-side entry point starts from. The shingle-hash scan
    * feeds the band explode AND the survivor-fetch joins (different
    * shuffle keys, so no exchange reuse) — cache it once instead of
    * recomputing the tokenize/shingle/hash chain per consumer.
    * Action-scoped: released as soon as the caller's query completes
    * (CacheScope), so long-lived sessions accumulate nothing. */
  private def hashedOf(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    CacheScope.cachedUntilAction(
      withHashedShingles(docs, textCol, k, "sh")
        .select(col(idCol), col("sh"), xxhash64(col("sh")).as("_fp")))

  /** Min-id representative per identical-shingle-set group, over a
    * CACHED `hashed` frame carrying (idCol, sh, _fp = xxhash64(sh)).
    * Returns (repIds, reps):
    *
    *   - `repIds` — one narrow (_fp, idCol) row per group from a plain
    *     `min` HashAggregate (8-byte buffer, map-side combinable);
    *   - `reps` — the winners' (idCol, sh) rows, fetched by an
    *     id-keyed semi join against the cache and action-scope-cached
    *     (every caller consumes reps several times: the signature
    *     pass, both verify-side shingle fetches, the survivor set).
    *
    * This replaces `groupBy(_fp).agg(min(id), first(sh))`, which
    * Spark can only plan as a SortAggregate (the array-typed `first`
    * buffer disqualifies HashAggregate): the shingle payload rode the
    * aggregate's partial AND final sort and its exchange, once per
    * consumer — QProf r17 measured 270 MB sort peaks and 3–5 s of
    * summed shuffle-write per evaluation, ×3–5 evaluations per query
    * (guide §8: decide with small rows, move the payload once).
    * Equivalence: ids are unique, so the semi join selects exactly
    * the min-id row per group, and equal fingerprints mean equal
    * shingle sets (the xxhash64 premise every caller already builds
    * on), so that row's `sh` is the group's `sh` — the same (id, sh)
    * pairs `first(sh)` produced. TextDedupSpec pins the law. */
  private[text] def repsOfHashed(
      hashed: DataFrame,
      idCol: String,
  ): (DataFrame, DataFrame) = {
    val repIds = hashed.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
    val reps = CacheScope.cachedUntilAction(
      hashed.select(col(idCol), col("sh"))
        .join(repIds.select(col(idCol)), Seq(idCol), "left_semi"))
    (repIds, reps)
  }

  /** Shingles straight from text — the [[withShingles]] kernel as a
    * Column (one `graft_shingles` eval per row). */
  def shingles(text: Column, k: Int): Column =
    call_function("graft_shingles", coalesce(text, lit("")), lit(k))

  /** MinHash signature: element j = unsigned min over shingle hashes
    * of the multiply-add permutation `permA(j)·x + permB(j) mod 2^64`
    * ([[graft.functions.GHash]] — SQL-replayable, so the whole MinHash
    * family is oracle-checked). Backed by the native
    * [[graft.functions.MinHashSignature]] expression — one JVM loop
    * per row instead of H interpreted HOF passes. Zero shuffles. */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    call_function("graft_minhash_sig", shinglesCol, lit(numHashes))

  /** LSH band key: polynomial fold of one signature slice of length r
    * ([[graft.functions.PolyFoldLong]] — wrapping mod-2^64 arithmetic
    * an oracle can replay with `list_reduce`, unlike murmur3). With
    * b bands × r rows, P(candidate | jaccard=s) = 1-(1-s^r)^b; defaults
    * b=6, r=5: 99.5% recall at s=0.9 while admitting only ~17% of s=0.5
    * pairs as candidates (r=4 would admit 40%). */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        call_function("graft_poly_fold",
          slice(sig, b * rowsPerBand + 1, rowsPerBand),
          lit(graft.functions.GHash.FnvOffset)).as("bucket"),
      )
    }: _*)

  /** Band stage: b rows per doc of `signed`, the `keep` columns plus
    * (band, bucket). The signature must be the BOUND column `_sig`, so
    * it is computed once per row and never once per band. */
  private def bandsOf(signed: DataFrame, keep: Seq[String], numHashes: Int, bands: Int): DataFrame =
    signed
      .select(keep.map(col) :+
        explode(bandKeys(col("_sig"), bands, numHashes / bands)).as("bb"): _*)
      .select(keep.map(col) ++ Seq(col("bb.band").as("band"), col("bb.bucket").as("bucket")): _*)

  /** Band-bucket assignments from a pre-hashed frame (id, sh):
    * b rows per doc — the scale-safe join key for candidate pairs. */
  private[graft] def bucketsOfHashed(
      hashed: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int,
  ): DataFrame =
    bandsOf(hashed.withColumn("_sig", minhashSignature(col("sh"), numHashes)),
      Seq(idCol), numHashes, bands)

  def minhashBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 30,
      bands: Int = 6,
  ): DataFrame =
    bucketsOfHashed(
      withHashedShingles(df, textCol, k, "sh").select(col(idCol), col("sh")),
      idCol, numHashes, bands)

  /** Verify stage: fetch both shingle sets of every candidate pair by
    * id (joins on the candidate subset, never the corpus) and bind
    * their exact jaccard as `jaccard`. `a` and `b` are (pair key,
    * shingle set) frames; `jaccard` is the kernel for their form. */
  private def pairJaccard(pairs: DataFrame, a: DataFrame, b: DataFrame)(
      jaccard: (Column, Column) => Column): DataFrame = {
    val Array(keyA, shA) = a.columns
    val Array(keyB, shB) = b.columns
    pairs.join(a, Seq(keyA)).join(b, Seq(keyB))
      .withColumn("jaccard", jaccard(col(shA), col(shB)))
  }

  /** [[pairJaccard]] of (id_a, id_b) pairs whose both sides come from
    * one hashed (idCol, sh) frame. */
  private def jaccardOfPairs(pairs: DataFrame, sh: DataFrame, idCol: String): DataFrame =
    pairJaccard(pairs,
      sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")),
      sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")))(jaccardSorted)

  /** Exact word-shingle Jaccard for given pairs (verification step). */
  def verifyJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
  ): DataFrame =
    jaccardOfPairs(pairs,
      withHashedShingles(docs, textCol, k, "sh").select(col(idCol), col("sh")), idCol)
      .drop("sh_a", "sh_b")

  /** Candidates → verified pairs over a pre-hashed (id, sh) frame.
    *
    * Shuffle-minimal shape, three stages:
    *
    *  1. Explode bands and group by (band, bucket) carrying only
    *     (id, signature) — ~130 B/row, never the multi-KB shingle
    *     arrays. ONE exchange of b×N slim rows (the old self-join
    *     shuffled the full payload twice and recomputed the whole
    *     signature lineage once per side).
    *  2. Enumerate candidate pairs inside each bucket with the native
    *     [[graft.functions.BucketPairs]] kernel: a pair must (a) have
    *     this band as its first fully-agreeing band — emitted exactly
    *     once across bands, no DISTINCT — and (b) agree on
    *     ≥ (threshold − 0.25)·H signature components. The signature is
    *     an unbiased jaccard estimator, so the floor rejects the mass
    *     of low-jaccard candidates at ~100 ns each WITHOUT ever
    *     materializing them as rows (miss probability for a true
    *     j ≥ threshold pair is ~1e-5: Binomial tail 4+σ below mean).
    *  3. Fetch shingle arrays for the few survivors by id (hash joins
    *     on a small set) and verify exact jaccard with the native
    *     sorted-merge kernel.
    *
    * Skew: the all-pairs kernel runs only inside buckets of at most
    * `maxBucketSize` members; larger buckets — the adversarial /
    * boilerplate-heavy case where O(B²) on one shuffle key is the
    * classic scale killer — take the linear representative path:
    * every member proposed against only the bucket's min-id
    * representative, O(B) per bucket at any skew. The routing is
    * two-phase so MEMORY is flat too, not just compute: a bounded-
    * buffer aggregate (count + min-id — 16 bytes, map-side
    * combinable, so a hot key never concentrates member rows on one
    * reducer) sizes every bucket, then member rows join their
    * bucket's narrow stats row and split — ≤ cap into the
    * collected-list all-pairs kernel (buffer bounded by the cap,
    * since oversized buckets never reach it), > cap into a narrow
    * per-row [[graft.functions.RepFirstBand]] check against the
    * representative signature fetched per OVERSIZED bucket only,
    * with NO member list materialized anywhere. Both
    * branches emit a pair only at its first fully-agreeing band, so
    * they compose without a DISTINCT. The fall-through is never
    * silent: oversized-bucket count, max size, and the number of
    * declined candidate pairs ride the sizing aggregate as an
    * `observe()` metric and are logged by
    * [[graft.quality.SkewTelemetry]]. The recall trade mirrors
    * semDedup's cap: a hot bucket proposes only pairs involving its
    * representative — and LSH hot buckets are near-dup blobs where
    * the representative transitively covers the members. */
  private def nearDupPairsOfHashed(
      hashed: DataFrame,
      idCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int,
  ): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    SkewTelemetry.ensureRegistered(hashed.sparkSession)
    // The in-bucket pair kernel carries ids as longs; a silent
    // cast("long") of a string id would null out and corrupt every
    // pair to (0, 0), so refuse non-integral ids outright.
    hashed.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other =>
        throw new IllegalArgumentException(
          s"minhash near-dup requires an integral id column; '$idCol' is $other — " +
            "derive a surrogate (e.g. xxhash64 of the natural key) first")
    }
    val rpb = numHashes / bands
    val minAgree = math.max(0, math.ceil((threshold - 0.25) * numHashes).toInt)
    // Signatures cached pre-explode (one narrow sig row per doc): the
    // banded frame below is referenced by the sizing aggregate and
    // both gate branches, and without the cache every reference would
    // recompute the minhash signatures from the shingles. (Caching
    // post-explode was measured strictly worse: the banded rows are
    // bands× wider than the sig rows and the cache write dominates.)
    val sigs = CacheScope.cachedUntilAction(hashed
      // a NULL id would read as 0 inside the pair kernel (getLong on a
      // null field), fabricating (0, realId) pairs; the old self-join
      // dropped them via null-propagating comparison — keep that.
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("_mid"),
        minhashSignature(col("sh"), numHashes).as("_sig")))
    val banded = bandsOf(sigs, Seq("_mid", "_sig"), numHashes, bands)
    val over = col("_n") > maxBucketSize
    // Two-phase size gate, flat memory at ANY skew. Phase 1 computes
    // per-(band,bucket) count + min-id representative in a CONSTANT
    // 16-byte aggregation buffer — count/min combine map-side, so even
    // a bucket holding half the corpus arrives at its reducer as one
    // row per map partition, never as B member structs. Keeping the
    // rep SIGNATURE out of this frame keeps its rows ~24 bytes, narrow
    // enough to broadcast for the routing join below; oversized
    // buckets (the only consumers of the rep sig) fetch it separately.
    // The skew metrics ride this bounded aggregate via observe (zero
    // extra jobs); the frame is cached so its consumers share one
    // evaluation and the metrics report exactly once.
    val stats = CacheScope.cachedUntilAction(banded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_n"),
        min(col("_mid")).as("_rep_id"))
      .filter(col("_n") > 1)
      .observe(SkewTelemetry.nextMetricName("minhash"),
        sum(when(over, 1L).otherwise(0L)).as("oversized_buckets"),
        coalesce(max(when(over, col("_n"))), lit(0L)).as("max_bucket_size"),
        coalesce(sum(when(over, shiftright((col("_n") - 1) * (col("_n") - 2), 1))),
          lit(0L)).as("skipped_pairs")))
    // Phase 2 routes member rows by their bucket's size. The join is
    // on (band,bucket): stats is one narrow row per bucket (hot
    // buckets are NOT hot here), so Catalyst broadcasts it when small
    // and AQE skew-splits the sort-merge fallback when not — either
    // way no single task owns a hot bucket's members.
    val joined = banded.join(stats, Seq("band", "bucket"))
    // ≤ cap: the exact all-pairs kernel over a collected member list
    // whose aggregation buffer is BOUNDED by maxBucketSize — oversized
    // buckets' rows never reach this collect_list.
    // explode_outer, not explode: InferFiltersFromGenerate would bolt
    // a size()>0 pre-filter onto a plain explode and re-evaluate the
    // kernel per row (the tp6 lesson); the rule skips outer
    // generates, and the null rows from empty arrays die in the
    // verify joins' inner equi-join below.
    val smallPairs = joined
      .filter(col("_n") <= maxBucketSize)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("_mid"), col("_sig"))).as("_members"))
      .withColumn("_pairs", call_function("graft_bucket_pairs",
        col("_members"), lit(rpb), col("band"), lit(minAgree)))
      .select(explode_outer(col("_pairs")).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"))
    // > cap: the linear representative path as a NARROW per-row check
    // against the joined-in representative — no member list exists
    // anywhere. The rep's signature is fetched by a separate join
    // (one row per OVERSIZED bucket only — degenerate corpora have
    // few such buckets by construction: at most |rows|/cap exist) so
    // the big routing join above stays signature-free.
    // graft_rep_first_band carries the representative-path emission rule
    // (first fully-agreeing band + minAgree), so the branches still
    // compose without a DISTINCT.
    val repSigs = sigs
      .join(stats.filter(over).select(col("band"), col("bucket"),
        col("_rep_id").as("_rid")), col("_mid") === col("_rid"))
      .select(col("band"), col("bucket"), col("_sig").as("_rep_sig"))
    val overPairs = joined
      .filter(over && col("_mid") =!= col("_rep_id"))
      .join(repSigs, Seq("band", "bucket"))
      .filter(call_function("graft_rep_first_band",
        col("_rep_sig"), col("_sig"), lit(rpb), lit(minAgree)) === col("band"))
      .select(col("_rep_id").as("id_a"), col("_mid").as("id_b"))
    jaccardOfPairs(smallPairs.unionByName(overPairs), hashed.select(col(idCol), col("sh")), idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The keep-min-id drop set of the cascade: every representative
    * with a smaller-id near-dup representative. */
  private def repLosers(
      reps: DataFrame,
      idCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int,
  ): DataFrame =
    nearDupPairsOfHashed(reps.select(col(idCol), col("sh")),
        idCol, threshold, numHashes, bands, maxBucketSize)
      .select(col("id_b").as(idCol))
      .distinct()

  /** Full MinHash near-dup pipeline: bucket → candidates → verify →
    * keep pairs with jaccard ≥ threshold.
    *
    * Scale shape: identical shingle sets are first collapsed to a
    * min-id representative by fingerprint (xxhash64 of the sorted
    * hash array — a plain hash groupBy). LSH + verification run only
    * across representatives; the result is then expanded back over
    * group members (an identical set has identical jaccard to
    * everything, so intra-group pairs are exactly 1.0 and cross-group
    * member pairs inherit their representatives' jaccard — the
    * expansion is exact, not approximate). On near-dup-heavy corpora
    * this removes the quadratic per-bucket pair blowup; output size
    * is the true pair count, which no formulation can beat. */
  def minhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 3,
      numHashes: Int = 30,
      bands: Int = 6,
      maxBucketSize: Int = DefaultMaxBucketSize,
  ): DataFrame = {
    val hashed = hashedOf(docs, idCol, textCol, k)
    val (repIds, reps) = repsOfHashed(hashed, idCol)
    val members = hashed.select(col("_fp"), col(idCol))

    val repPairs = nearDupPairsOfHashed(
      reps.select(col(idCol), col("sh")), idCol, threshold, numHashes, bands,
      maxBucketSize)
    val repFp = repIds.select(col(idCol).as("_rid"), col("_fp"))

    val cross = repPairs
      .join(repFp.select(col("_rid").as("id_a"), col("_fp").as("fp_a")), "id_a")
      .join(repFp.select(col("_rid").as("id_b"), col("_fp").as("fp_b")), "id_b")
      .join(members.select(col("_fp").as("fp_a"), col(idCol).as("_ma")), "fp_a")
      .join(members.select(col("_fp").as("fp_b"), col(idCol).as("_mb")), "fp_b")
      .select(
        least(col("_ma"), col("_mb")).as("id_a"),
        greatest(col("_ma"), col("_mb")).as("id_b"),
        col("jaccard"))

    val intra = members.select(col("_fp"), col(idCol).as("id_a"))
      .join(members.select(col("_fp"), col(idCol).as("id_b")), Seq("_fp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))

    cross.unionByName(intra)
  }

  /** Near-dup dedup, keep-min-id semantics: drop any doc with a
    * smaller-id doc at jaccard ≥ threshold.
    *
    * Scale shape: documents with IDENTICAL shingle sets are collapsed
    * to their min-id representative by a plain hash groupBy *before*
    * LSH — on near-dup-heavy corpora identical-set clusters are what
    * make per-bucket pair counts quadratic, and since an identical set
    * has identical jaccard to everything, collapsing first provably
    * preserves the drop semantics: a doc beaten by any smaller-id doc
    * is also beaten by that doc's (even smaller) representative. LSH
    * then runs only across representatives. */
  def minhashDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 1,
      numHashes: Int = 30,
      bands: Int = 6,
      maxBucketSize: Int = DefaultMaxBucketSize,
  ): DataFrame = {
    val (repIds, reps) = repsOfHashed(hashedOf(docs, idCol, textCol, k), idCol)
    val survivors = repIds.select(col(idCol)).join(
      repLosers(reps, idCol, threshold, numHashes, bands, maxBucketSize), Seq(idCol), "left_anti")
    docs.join(survivors, Seq(idCol), "left_semi")
  }

  /** Linear-per-bucket near-dup dedup: each document is verified
    * against at most ONE candidate per band — the min-id member of its
    * (band, bucket) — instead of enumerating all in-bucket pairs. The
    * same representative trick as the embedding dedup's scale path:
    * per-bucket cost O(B), not O(B²), which is the form that survives
    * pathological buckets at 100 TB. The trade: a doc is dropped only
    * when over-threshold similar to a bucket representative (tight
    * near-dup clusters share buckets and collapse onto the cluster
    * min-id), so recall is slightly below the all-pairs form —
    * [[minhashDedup]] keeps exact all-pairs semantics where that
    * matters more than the worst-case bound. Identical shingle sets
    * are still collapsed first, so both forms agree on exact-dup-heavy
    * corpora. */
  def minhashDedupLinear(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 1,
      numHashes: Int = 30,
      bands: Int = 6,
  ): DataFrame = {
    val reps = repsOfHashed(hashedOf(docs, idCol, textCol, k), idCol)._2
      .filter(col(idCol).isNotNull)
    val banded = bandsOf(reps.withColumn("_sig", minhashSignature(col("sh"), numHashes)),
      Seq(idCol, "sh"), numHashes, bands)
    // min-id representative per (band, bucket): the one candidate each
    // member verifies against
    val bucketReps = banded.groupBy(col("band"), col("bucket"))
      .agg(min_by(struct(col(idCol), col("sh")), col(idCol)).as("_rep"))
      .select(col("band"), col("bucket"),
        col(s"_rep.$idCol").as("_rep_id"), col(s"_rep.sh").as("_rep_sh"))
    val repLosers = banded.join(bucketReps, Seq("band", "bucket"))
      .filter(col(idCol) > col("_rep_id"))
      .filter(jaccardSorted(col("sh"), col("_rep_sh")) >= threshold)
      .select(col(idCol))
      .distinct()
    val survivors = reps.select(col(idCol)).join(repLosers, Seq(idCol), "left_anti")
    docs.join(survivors, Seq(idCol), "left_semi")
  }

  /** Index gate: `docs` minus the ids `dropped` derives from the
    * bucket collisions, `docBuckets` joined (`joinType`) with the
    * stored `index` on (band, bucket). */
  private def indexGate(
      docs: DataFrame,
      docBuckets: DataFrame,
      index: DataFrame,
      joinType: String,
      idCol: String,
  )(dropped: DataFrame => DataFrame): DataFrame =
    docs.join(
      dropped(docBuckets.join(index, Seq("band", "bucket"), joinType))
        .select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Drop every document whose buckets collide with the base: the
    * (band, bucket) admission gate shared by the batch incremental
    * dedup ([[minhashDedupAgainstBase]]) and the streaming form
    * ([[graft.streaming.StreamingIngest.drainNearDupGate]], which
    * feeds the persistent bucket index here). `docBuckets` must be
    * the [[minhashBuckets]] of `docs`; passing it in lets a caller
    * that already materialized the buckets (the streaming sink
    * registers them after admission) avoid recomputing the signature
    * lineage.
    *
    * Scale: ONE left-semi join on (band, bucket) — broadcast-prunable
    * like any upsert, shuffle volume b × |docs| slim key rows. The
    * batch never joins the base CORPUS, only its bucket keys. */
  def collisionGate(
      docs: DataFrame,
      docBuckets: DataFrame,
      baseBuckets: DataFrame,
      idCol: String,
  ): DataFrame =
    indexGate(docs, docBuckets, baseBuckets.select(col("band"), col("bucket")), "left_semi",
      idCol)(identity)

  /** The verified gates' body: a collision with a base document drops
    * only when the `jaccard` of `doc` (idCol, set) and `base`
    * (_base_id, set) reaches `threshold`. */
  private def verifiedGate(
      docs: DataFrame,
      docBuckets: DataFrame,
      baseBuckets: DataFrame,
      idCol: String,
      threshold: Double,
      doc: DataFrame,
      base: DataFrame,
  )(jaccard: (Column, Column) => Column): DataFrame =
    indexGate(docs, docBuckets,
      baseBuckets.select(col("band"), col("bucket"), col(idCol).as("_base_id")), "inner",
      idCol) { hits =>
      pairJaccard(hits.select(col(idCol), col("_base_id")).distinct(), doc, base)(jaccard)
        .filter(col("jaccard") >= threshold)
    }

  /** JACCARD-VERIFIED admission gate — the [[collisionGate]] upgraded
    * from "drop on any bucket collision" to "drop only when exact
    * shingle jaccard against a colliding BASE document ≥ threshold":
    * the base side carries per-document bucket rows
    * (band, bucket, id) plus a shingle store (id, sh), so a collision
    * resolves to candidate PAIRS and each pair is verified with the
    * same exact-jaccard kernel the batch dedup uses. Closes the
    * cross-batch LSH false-positive drop (the documented 0.09%
    * admitted-count delta of the unverified stream gate): with this
    * gate a document is dropped ONLY for a true near-dup among the
    * admitted corpus — the batch drop criterion, modulo admission
    * order (StreamingIngestSpec pins stream ≡ batch on the fixture).
    *
    * Scale shape: the bucket join shuffles b × |batch| slim key rows
    * and fans out only on real collisions; the two shingle-store
    * joins are id-keyed on the COLLIDING CANDIDATE subset, never the
    * corpus — the verify cost is proportional to candidate volume,
    * the same bound the batch LSH pays. The extra state vs the
    * unverified gate is the shingle store: one (id, sh) row per
    * admitted doc, ~H·8 bytes each — linear in the admitted corpus,
    * id-partitioned, never joined wholesale. */
  def verifiedCollisionGate(
      docs: DataFrame,
      docHashed: DataFrame,
      docBuckets: DataFrame,
      baseBuckets: DataFrame,
      baseShingles: DataFrame,
      idCol: String,
      threshold: Double,
  ): DataFrame =
    verifiedGate(docs, docBuckets, baseBuckets, idCol, threshold,
      docHashed.select(col(idCol), col("sh").as("_sh_new")),
      baseShingles.select(col(idCol).as("_base_id"), col("sh").as("_sh_base")))(jaccardSorted)

  /** Hashed shingles packed to the 32-bit binary store form
    * ([[graft.functions.PackHashes32]]): 4 bytes per distinct shingle
    * with no per-element parquet overhead — the persistent-store
    * column for [[verifiedCollisionGatePacked]]. */
  def packedShingles(shCol: Column): Column =
    call_function("graft_pack_hashes32", shCol)

  /** [[verifiedCollisionGate]] over a PACKED shingle store: the base
    * side carries `shp` ([[packedShingles]] of its hashed shingles, 4
    * bytes per shingle instead of an 8-byte array element plus
    * encoding overhead — the store measured 2.7× corpus bytes at sf10
    * in raw form), and the new-doc side packs through the SAME kernel
    * at probe time, so the verify compares identical 32-bit sets on
    * both sides. Semantics vs the 64-bit gate: a candidate pair's
    * jaccard can shift by ±1/|A∪B| when two distinct shingles collide
    * in their low 32 bits (probability ~|A|·|B|/2^32 ≈ 1e-5 at
    * 200-shingle docs) — negligible against near-dup thresholds, and
    * the trade that halves-plus the only linear-in-corpus state the
    * streaming gate keeps. */
  def verifiedCollisionGatePacked(
      docs: DataFrame,
      docHashed: DataFrame,
      docBuckets: DataFrame,
      baseBuckets: DataFrame,
      basePacked: DataFrame,
      idCol: String,
      threshold: Double,
  ): DataFrame =
    verifiedGate(docs, docBuckets, baseBuckets, idCol, threshold,
      docHashed.select(col(idCol), packedShingles(col("sh")).as("_shp_new")),
      basePacked.select(col(idCol).as("_base_id"), col("shp").as("_shp_base")))(
      (a, b) => round(call_function("graft_jaccard_packed32", a, b), 6))

  /** Incremental MinHash near-dup dedup: dedup a NEW batch against an
    * already-admitted corpus without reprocessing the corpus — the
    * near-dup analog of [[exactDedupAgainstBase]], and the batch form
    * of the streaming admission gate. The batch first collapses
    * internally with the verified all-pairs semantics
    * ([[minhashDedup]]); survivors are then dropped if ANY of their
    * LSH band buckets appears among the base's buckets. Cross-corpus
    * semantics are the LSH candidate curve, not verified jaccard —
    * the base side carries buckets, not signatures or text, so a
    * collision drops without a verify (P(drop | jaccard s) =
    * 1−(1−s^r)^b: ~99.5% of s=0.9 near-dups, ~17% of s=0.5 pairs at
    * the b=6, r=5 defaults — the recall-heavy trade every index-gated
    * dedup makes; run [[minhashDedup]] over base ∪ batch for verified
    * semantics when a full pass is affordable).
    *
    * In production the base side is the stored bucket index
    * ([[minhashBuckets]] output, distinct on (band, bucket)), not a
    * re-derivation from base text. */
  def minhashDedupAgainstBase(
      batch: DataFrame,
      base: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 1,
      numHashes: Int = 30,
      bands: Int = 6,
      maxBucketSize: Int = DefaultMaxBucketSize,
  ): DataFrame =
    minhashDedupAgainstBaseBuckets(
      batch,
      minhashBuckets(base, idCol, textCol, k, numHashes, bands)
        .select(col("band"), col("bucket")).distinct(),
      idCol, textCol, threshold, k, numHashes, bands, maxBucketSize)

  /** [[minhashDedupAgainstBase]] with the base side already in its
    * production form — the STORED distinct (band, bucket) index
    * ([[minhashBuckets]] output; persisted and refresh-maintained by
    * [[BucketIndex]]) — so the query path never re-shingles or
    * re-signs the base corpus. Bucket-for-bucket the same gate:
    * [[minhashDedupAgainstBase]] delegates here after deriving the
    * buckets from base text, and TextDedupSpec pins the two forms
    * row-identical. */
  def minhashDedupAgainstBaseBuckets(
      batch: DataFrame,
      baseBuckets: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 1,
      numHashes: Int = 30,
      bands: Int = 6,
      maxBucketSize: Int = DefaultMaxBucketSize,
  ): DataFrame = {
    val (local, surviving) = minhashDedupHashed(
      batch, idCol, textCol, threshold, k, numHashes, bands, maxBucketSize)
    collisionGate(local, bucketsOfHashed(surviving, idCol, numHashes, bands),
      baseBuckets.select(col("band"), col("bucket")), idCol)
  }

  /** The batch side of MinHash admission: [[minhashDedup]]'s
    * keep-min-id survivors of `batch` as `(local, surviving)` — the
    * surviving batch rows, and one `(idCol, sh)` row per survivor
    * from the same single shingle pass, ready for [[bucketsOfHashed]]
    * and for a verified gate or shingle store. Shared by
    * [[minhashDedupAgainstBaseBuckets]] and the streaming near-dup
    * gate. */
  private[graft] def minhashDedupHashed(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int,
  ): (DataFrame, DataFrame) = {
    // ONE shingle/fingerprint pass over the batch feeds the internal
    // dedup AND the survivor bucket derivation. Pre-r16 this called
    // minhashDedup(batch) and then minhashBuckets(local) on its OUTPUT
    // — re-evaluating the whole dedup plan and re-shingling survivor
    // text a second time inside one query. The survivors of the
    // keep-min-id dedup are exactly the surviving REPRESENTATIVES
    // (every non-min member of an identical-shingle-set group loses to
    // its rep at jaccard 1.0), and a rep row carries its group's
    // shingle set — so the gate's buckets come from the cached rep
    // rows, bucket-for-bucket what minhashBuckets(local) derived from
    // raw text.
    val reps = repsOfHashed(hashedOf(batch, idCol, textCol, k), idCol)._2
    // surviving is consumed TWICE (the admission semi-join and the
    // survivor bucket derivation), and everything upstream of it —
    // the whole candidate-pair cascade: bucket explode, in-bucket pair
    // kernel, 1M+ verify-jaccard merges at bench scale — re-evaluated
    // once per consumer (QProf r17: two identical ~1 s aggregate
    // subtrees in one call). One narrow (id, sh) cache row per
    // surviving representative dedups the cascade; action-scoped like
    // the sibling caches.
    val surviving = CacheScope.cachedUntilAction(reps.select(col(idCol), col("sh"))
      .join(repLosers(reps, idCol, threshold, numHashes, bands, maxBucketSize),
        Seq(idCol), "left_anti"))
    val local = batch.join(surviving.select(col(idCol)), Seq(idCol), "left_semi")
    (local, surviving)
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 64-bit SimHash over word tokens, packed into one BIGINT: bit i of
    * each token's murmur3 hash votes ±1 into counter i; the counter's
    * sign is the output bit. Backed by the native
    * [[graft.functions.SimHash64]] expression — one JVM loop per row,
    * no shuffle — and a scalar column, so downstream band extraction
    * (shift+mask) and hamming (`bit_count(a ^ b)`) stay inside
    * whole-stage codegen, and external tools can sort/hash it. */
  def simhash64(text: Column): Column =
    call_function("graft_simhash64", TextAnalysis.normalizedTokens(text))

  /** Hamming distance between two packed 64-bit signatures: one XOR +
    * popcount, fully codegen'd. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Band b (0-3) of a packed signature: bits [16b, 16b+16). */
  private def band16(sig: Column, b: Int): Column =
    shiftrightunsigned(sig, b * 16).bitwiseAND(lit(0xFFFFL))

  /** SimHash near-dup candidates by band collision: split the 64-bit
    * signature into 4×16-bit bands; near-identical docs (hamming ≤ 3)
    * must collide on ≥1 band (pigeonhole). Same explode-join shape as
    * MinHash LSH — never O(n²). Each pair is emitted from exactly its
    * first colliding band (a shift/mask predicate on the XOR of the
    * two scalars), so no post-join DISTINCT shuffle is needed. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
  ): DataFrame = {
    val sigs = docs.select(col(idCol), simhash64(col(textCol)).as("sig"))
    val banded = sigs.select(
      col(idCol), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"), band16(col("sig"), b).as("bucket"))
      }: _*)).as("bb"))
      .select(col(idCol), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val a = banded.select(col("band"), col("bucket"), col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"), col(idCol).as("id_b"), col("sig").as("sig_b"))
    val xor = col("sig_a").bitwiseXOR(col("sig_b"))
    val firstBand = (3 to 0 by -1).foldLeft(lit(-1)) { (acc, i) =>
      when(band16(xor, i) === 0L, i).otherwise(acc)
    }
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("band") === firstBand)
      .select(col("id_a"), col("id_b"), hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------------------
  // n-gram Jaccard (bounded-pair variant)
  // -------------------------------------------------------------------

  /** Exact n-gram Jaccard across pairs within a blocking key (e.g.
    * same source/shard) — the engine-portable, oracle-checkable
    * variant: blocking bounds the pair count the same way LSH bands
    * do, just deterministically. */
  def blockedJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      k: Int,
      threshold: Double,
  ): DataFrame = {
    val sh = withHashedShingles(docs, textCol, k, "sh")
      .select(col(blockCol).as("block"), col(idCol), col("sh"))
    val a = sh.select(col("block"), col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("block"), col(idCol).as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // -------------------------------------------------------------------
  // Duplicated-span statistics (sub-document granularity)
  // -------------------------------------------------------------------

  /** Positional (NON-distinct, order-preserving) k-grams of bound
    * tokens; empty token array → empty gram array. Unlike
    * [[shinglesOfTokens]] this keeps every instance, because the
    * duplicated-span statistic counts instances, not types.
    *
    * Short-document behavior (deliberate, oracle-matched): a document
    * with 1 ≤ n_tokens < k emits ONE truncated sub-k "gram" — its
    * whole token sequence (the slice clamps). Consequence for the
    * dedup passes built on this: two identical docs shorter than k
    * are still seen as duplicated (their single truncated gram
    * collides) and [[exactSubstringDedup]] removes them ENTIRELY,
    * even though they share no strict k-gram. That is the exact-dup
    * limit of the span pass, not an accident — without it, sub-k
    * exact duplicates would be invisible to the span statistics —
    * and both engines (this and the DuckDB SQL replay) implement the
    * same clamp, so the behavior is pinned by the td14 oracle. */
  def positionalGramsOfTokens(toks: Column, k: Int): Column =
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** Per-document duplicated k-gram statistics — the repeated-substring
    * memorization signal of Lee et al. 2021 (arXiv:2107.06499,
    * "Deduplicating Training Data Makes Language Models Better") at
    * token-k-gram granularity: a gram INSTANCE is duplicated when its
    * text also occurs in at least one OTHER document. Output per doc:
    * total instances, duplicated instances, duplicated fraction — the
    * per-doc trim/drop signal a span-level dedup pass gates on.
    *
    * Scale shape: the raw instance explode collapses immediately to
    * (doc, gram, tf) — one row per gram TYPE per doc — so the
    * document-frequency aggregate and the join back both shuffle the
    * deduped form, never the instance stream. Three linear shuffles
    * keyed by gram text / doc id; the reference suffix-array approach
    * is single-node, this is its distributed k-gram approximation.
    * (At 100 TB the gram key would hash-pack to 8 bytes via the
    * proven FNV kernel to shrink shuffle bytes — same plan shape.) */
  def dupGramStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
  ): DataFrame = {
    val g = docs
      .withColumn("_toks", TextAnalysis.normalizedTokens(col(textCol)))
      .withColumn("_grams", positionalGramsOfTokens(col("_toks"), k))
      .select(col(idCol), explode_outer(col("_grams")).as("_gram"))
      .filter(col("_gram").isNotNull)
    val perDocGram = g.groupBy(col(idCol), col("_gram"))
      .agg(count(lit(1)).as("_tf"))
    val gramDf = perDocGram.groupBy(col("_gram"))
      .agg(count(lit(1)).as("_ndocs"))
    val per = perDocGram.join(gramDf, Seq("_gram"))
      .groupBy(col(idCol))
      .agg(
        sum(col("_tf")).cast("int").as("n_grams"),
        sum(when(col("_ndocs") > 1, col("_tf")).otherwise(lit(0L))).cast("int").as("n_dup_grams"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_grams"), lit(0)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0)).as("n_dup_grams"),
        when(coalesce(col("n_grams"), lit(0)) === 0, lit(0.0))
          .otherwise(round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
          .as("dup_frac"))
  }

  /** Exact substring dedup — the span-REMOVAL pass [[dupGramStats]] is
    * the signal for: Lee et al. 2021 (arXiv:2107.06499) ExactSubstr at
    * token-k-gram alignment. A positional k-gram instance is duplicated
    * when its text occurs more than once corpus-wide (within OR across
    * documents; like the reference algorithm, EVERY occurrence is
    * removed, not every-but-one). Per document, the duplicated gram
    * start positions union into maximal removal intervals — overlapping
    * or token-adjacent spans coalesce — so a repeated region of length
    * L ≥ k is removed as ONE span, the k-gram approximation of the
    * suffix-array-found repeated substring.
    *
    * Output per input document: `n_tokens`, `n_tokens_kept` (tokens
    * outside every removal span), `n_spans_removed` (maximal spans),
    * `clean_md5` (md5 of the kept tokens re-joined by single spaces; a
    * document the pass does not touch keeps
    * `md5(normalized(text))` — the [[TextAnalysis.fingerprintMd5]]
    * invariant the spec pins).
    *
    * Scale shape: the gram instance stream is n_tokens rows per doc —
    * linear, the same explode [[dupGramStats]] pays — and every stage
    * after it is a hash shuffle keyed by gram text or doc id; the
    * interval union is a per-doc window (lag + running sum, spans
    * sorted by unique start position), never a global sort. Duplicated
    * starts are typically a small fraction of the corpus, so the window
    * input is the duplicated subset, not the instance stream. At real
    * 100 TB the gram-text shuffle key would hash-pack to 128 bits
    * (xxhash64 pair) to cut shuffle bytes — collision odds then bound
    * false removals, which is why THIS entry point keeps the exact
    * text key; [[exactSubstringDedupPacked]] is that knob, proven
    * output-equal on the fixture corpus by TextDedupSpec. */
  def exactSubstringDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
  ): DataFrame =
    exactSubstringDedupImpl(docs, idCol, textCol, k, packKey = false)

  /** [[exactSubstringDedup]] with the gram shuffle key hash-packed to
    * 128 bits — the 100 TB shuffle knob the exact variant documents.
    * The duplicated-gram groupBy and the gate join key on
    * `(xxhash64(gram), xxhash64(gram, salt))` — 16 bytes — instead of
    * the gram TEXT (k tokens re-joined: ~50–60 bytes at k=8, and
    * unbounded in token length), cutting the dominant shuffle's key
    * bytes ~4× while leaving the plan shape identical.
    *
    * Cost of the packing: two distinct gram texts that collide on BOTH
    * 64-bit hashes are treated as the same gram, which can only ADD
    * removal spans (one-sided: extra removal, never a missed one). The
    * two hashes are independent draws (the second is salted with an
    * odd 64-bit constant), so for a corpus of G distinct gram texts
    * the expected number of colliding PAIRS is ≈ G²/2^129: at
    * G = 10^13 (a generous 100 TB gram-type count) that is ~10^-13
    * expected false pairs — collision-free in any practical sense,
    * and each false pair would mis-remove at most one k-token span.
    * TextDedupSpec pins packed ≡ exact on the fixture corpus. */
  def exactSubstringDedupPacked(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
  ): DataFrame =
    exactSubstringDedupImpl(docs, idCol, textCol, k, packKey = true)

  private def exactSubstringDedupImpl(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      packKey: Boolean,
  ): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toksDf = docs.select(
      col(idCol),
      TextAnalysis.normalizedTokens(col(textCol)).as("_tk"))
    val textStarts = toksDf
      .select(col(idCol), posexplode(positionalGramsOfTokens(col("_tk"), k)).as(Seq("_st", "_gram")))
    // the packed key replaces the gram TEXT before the first shuffle,
    // so every stage downstream of the explode moves 16-byte keys
    val starts =
      if (!packKey) textStarts
      else textStarts.select(
        col(idCol), col("_st"),
        struct(
          xxhash64(col("_gram")).as("h1"),
          xxhash64(col("_gram"), lit(0x9E3779B97F4A7C15L)).as("h2")).as("_gram"))
    // corpus-wide duplicated gram TEXTS (instance count > 1, so a
    // within-doc repeat duplicates itself, as in the reference)
    val dupGrams = starts.groupBy("_gram")
      .agg(count(lit(1)).as("_occ")).filter(col("_occ") > 1).select("_gram")
    val dupStarts = starts.join(dupGrams, "_gram").select(col(idCol), col("_st"))
    // interval union: all spans have width k, so starts (unique per
    // doc) sort-merge with a lag gap test — a new maximal span begins
    // when this start leaves even token-adjacency with the previous
    // span's end (prev_st + k - 1) + 1
    val w = Window.partitionBy(col(idCol)).orderBy(col("_st"))
    val spans = dupStarts
      .withColumn("_brk", when(col("_st") > lag(col("_st"), 1).over(w) + k, lit(1)).otherwise(lit(0)))
      .withColumn("_grp", sum(col("_brk")).over(w))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("_st")).as("_s"), (max(col("_st")) + k - 1).as("_e"))
    val spansPerDoc = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("_s"), col("_e"))).as("_spans"))
    val emptySpans = array().cast("array<struct<_s:int,_e:int>>")
    toksDf.join(spansPerDoc, Seq(idCol), "left")
      .withColumn("_sp", coalesce(col("_spans"), emptySpans))
      .withColumn("_kept", filter(col("_tk"), (t, i) =>
        !exists(col("_sp"), sp => i >= sp.getField("_s") && i <= sp.getField("_e"))))
      .select(
        col(idCol),
        size(col("_tk")).as("n_tokens"),
        size(col("_kept")).as("n_tokens_kept"),
        size(col("_sp")).as("n_spans_removed"),
        md5(concat_ws(" ", col("_kept"))).as("clean_md5"))
  }
}
