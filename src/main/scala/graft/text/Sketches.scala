package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GHash

/** Bounded-state approximate aggregates — the sketch family a
  * 100 TB pipeline reaches for when an exact aggregate's state would
  * not fit (or would shuffle too much): count-min frequency estimation
  * (Cormode & Muthukrishnan 2005) and KMV distinct counting
  * (Bar-Yossef et al. 2002, the k-minimum-values estimator).
  *
  * Everything here is INTEGER-exact on purpose: the hashes are the
  * corpus-wide `gmix64(fnv1a(token))` chain every signature family
  * already replays in SQL, the count-min cells are plain sums, and the
  * KMV estimate is a floor division in unsigned-64 arithmetic — so the
  * DuckDB oracle reproduces every output bit, unlike float-mixing
  * sketches (HLL's harmonic mean) whose last-ulp behavior is
  * engine-private.
  *
  * Scale shape: both sketches collapse the token INSTANCE stream to
  * the (token, count) / distinct-token frame first — one linear hash
  * shuffle — and everything after is bounded by the sketch parameters,
  * not the corpus: count-min state is depth × width cells (16 K rows
  * here — broadcastable), KMV state is k 64-bit values (a TakeOrdered,
  * never a global sort). That is the point of a sketch: the same
  * operators run unchanged as streaming accumulators because their
  * state never grows with the data. */
object Sketches {

  private val TwoTo64 = new java.math.BigDecimal("18446744073709551616")

  /** Signed long column reinterpreted as its unsigned value, as
    * DECIMAL(22,0) — the order the sketch math needs. */
  private def unsignedDec(c: Column): Column =
    c.cast(DecimalType(22, 0)) +
      when(c < 0, lit(TwoTo64)).otherwise(lit(java.math.BigDecimal.ZERO))

  /** Exact floor division of two non-negative decimal columns:
    * subtract the remainder (exact decimal op) before dividing, so the
    * quotient is integral and no rounding-mode edge can disagree with
    * the oracle's integer `//`. The quotient is clamped to
    * Long.MaxValue before the cast: with ANSI off an overflowing
    * decimal→long cast yields NULL silently. The clamp is reachable
    * only when the k-th smallest hash u_k < (k-1)·2^64 / 2^63 ≈ 510,
    * i.e. ~2^55 distinct tokens — far beyond any corpus this runs on,
    * but a sketch must degrade to a saturated estimate, never to
    * NULL. */
  private def floorDiv(num: Column, den: Column): Column =
    least((num - num % den) / den, lit(java.math.BigDecimal.valueOf(Long.MaxValue)))
      .cast("long")

  /** Token instance stream of `textCol` under the corpus-standard
    * normal form — the shared front of both sketches. */
  private def instances(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(
      TextAnalysis.normalizedTokens(col(textCol))).as("tok"))

  /** Count-min bucket of hash `hv` for sketch row `j`: the same
    * multiply-add permutation family the minhash signatures use
    * ([[GHash.permA]]/[[GHash.permB]], wrapping mod-2^64), masked to a
    * power-of-two `width` (unsigned mod == bitwise AND, sign-safe). */
  private def cmsBucket(hv: Column, j: Int, width: Int): Column =
    (hv * lit(GHash.permA(j)) + lit(GHash.permB(j))).bitwiseAND(lit(width - 1L))

  /** Count-min sketch over the corpus token frequencies, evaluated at
    * the exact top-`topK` tokens: per probe token, the exact count,
    * the count-min estimate (min over `depth` rows of the hashed cell
    * sums) and the overcount — the one-sided error the sketch
    * guarantees (estimate ≥ truth; E[over] ≤ 2·N/width per row).
    *
    * The cells frame is depth × width rows regardless of corpus size,
    * so the probe join broadcasts the SKETCH, and the only data-sized
    * stages are the instance collapse to (token, count) and the exact
    * top-k (TakeOrderedAndProject). Output: `tok`, `n_exact`, `n_cms`,
    * `overcount`, all integer-exact. */
  def cmsTopkCounts(
      docs: DataFrame,
      textCol: String,
      depth: Int = 4,
      width: Int = 1024,
      topK: Int = 20,
  ): DataFrame =
    cmsTopkCountsFromCells(docs, textCol, cmsCells(docs, textCol, depth, width),
      depth, width, topK)

  private def requireCmsParams(depth: Int, width: Int): Unit = {
    // depth caps at 30, not 32: each row j draws its permutation from
    // the same [[GHash.permA]]/[[GHash.permB]] stream the DuckDB
    // oracle materializes as a 30-entry list (OracleSql.MinhashH) —
    // a depth beyond that list would index the oracle's array out of
    // bounds (NULL in DuckDB) and silently corrupt its buckets.
    require(depth >= 1 && depth <= 30, s"depth must be in [1,30], got $depth")
    require(width >= 2 && (width & (width - 1)) == 0, s"width must be a power of two, got $width")
  }

  /** Per-token `(tok, n_exact, hv)` collapse of the instance stream —
    * the shared front of the cells frame and the probe set. */
  private def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    instances(docs, textCol)
      .groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .withColumn("hv", call_function("graft_token_hash", col("tok")))

  private def jBuckets(c: Column, depth: Int, width: Int): Column =
    explode(array((0 until depth).map(j =>
      struct(lit(j).as("j"), cmsBucket(c, j, width).as("bucket"))): _*))

  /** The count-min SKETCH itself as a frame: `(j, bucket, cell)` with
    * cell(j, b) = Σ counts of tokens hashing there — identical to
    * counting instances directly, paid on the collapsed (token, count)
    * frame. At most depth × width rows regardless of corpus size.
    *
    * Cells are plain sums, so the sketch is MERGEABLE by construction:
    * [[cmsMerge]] of the cells of two disjoint corpus parts equals the
    * cells of their union exactly (bit-for-bit, not approximately) —
    * the property that lets the sketch run as a per-partition or
    * per-micro-batch accumulator. SketchesSpec proves merge ≡
    * recompute; the `t18_cms_merge` query oracle-checks a two-part
    * merge against the whole-corpus SQL replay. */
  def cmsCells(
      docs: DataFrame,
      textCol: String,
      depth: Int = 4,
      width: Int = 1024,
  ): DataFrame = {
    requireCmsParams(depth, width)
    tokenCounts(docs, textCol)
      .select(jBuckets(col("hv"), depth, width).as("jb"), col("n_exact"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(sum("n_exact").as("cell"))
  }

  /** Merge two count-min cells frames (same depth/width): cells are
    * linear, so merged = summed. Absent (j, bucket) rows are implicit
    * zeros, hence the full outer union shape. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("j"), col("bucket"))
      .agg(sum("cell").as("cell"))

  /** Evaluate a (possibly merged) cells frame at the exact top-`topK`
    * tokens of `docs`: per probe token, the exact count, the count-min
    * estimate (min over `depth` rows of the hashed cell sums) and the
    * one-sided overcount (estimate ≥ truth; E[over] ≤ 2·N/width per
    * row). The cells frame is depth × width rows, so the probe join
    * broadcasts the SKETCH; the only data-sized stages are the
    * instance collapse and the exact top-k (TakeOrderedAndProject).
    * Output: `tok`, `n_exact`, `n_cms`, `overcount`, integer-exact. */
  def cmsTopkCountsFromCells(
      docs: DataFrame,
      textCol: String,
      cells: DataFrame,
      depth: Int = 4,
      width: Int = 1024,
      topK: Int = 20,
  ): DataFrame = {
    requireCmsParams(depth, width)
    val probes = tokenCounts(docs, textCol)
      .orderBy(col("n_exact").desc, col("tok").asc).limit(topK)
      .select(col("tok"), col("n_exact"), jBuckets(col("hv"), depth, width).as("jb"))
      .select(col("tok"), col("n_exact"), col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    probes.join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("tok")
      .agg(
        first(col("n_exact")).as("n_exact"),
        min(col("cell")).as("n_cms"))
      .select(
        col("tok"),
        col("n_exact"),
        col("n_cms"),
        (col("n_cms") - col("n_exact")).as("overcount"))
  }

  /** KMV (k-minimum-values) distinct-token estimator: keep the k
    * smallest distinct unsigned token hashes; with the k-th smallest at
    * unsigned value u, the hashes are ~uniform on [0, 2^64), so the
    * distinct count ≈ (k-1) · 2^64 / u. Below k distinct values the
    * sketch IS the exact set and the estimate is exact.
    *
    * One row out: `n_distinct_exact`, `k_used`, `est_distinct`,
    * `rel_err` (signed, rounded to 6). The sketch state is k longs —
    * a TakeOrdered over the distinct-token frame, never a global
    * sort — which is what makes it a mergeable streaming accumulator
    * (union two sketches = merge-take-k). */
  def kmvDistinct(
      docs: DataFrame,
      textCol: String,
      k: Int = 256,
  ): DataFrame =
    kmvDistinctFromSketch(docs, textCol, kmvSketch(docs, textCol, k), k)

  /** The KMV SKETCH itself as a frame: the k smallest DISTINCT
    * unsigned token hashes of the corpus, one `u` DECIMAL(22,0) column
    * (fewer than k rows iff the corpus has fewer than k distinct
    * tokens — the regime where the sketch is the exact set).
    *
    * Mergeable by construction: the k smallest of a union are all
    * members of each part's k smallest, so [[kmvMerge]] (union →
    * distinct → take-k) of two parts equals the sketch of their union
    * exactly. Distinct matters: the same token appears in both parts
    * with the same hash, and a duplicated u would displace a genuine
    * k-th value. SketchesSpec proves merge ≡ recompute; the
    * `t19_kmv_merge` query oracle-checks a two-part merge against the
    * whole-corpus SQL replay. */
  def kmvSketch(
      docs: DataFrame,
      textCol: String,
      k: Int = 256,
  ): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    instances(docs, textCol)
      .select(col("tok")).distinct()
      .select(unsignedDec(call_function("graft_token_hash", col("tok"))).as("u"))
      .orderBy(col("u").asc).limit(k)
  }

  /** The KMV distinct-token estimate of `docs` as a plain Long, with
    * NO exact-count verification pass (that is [[kmvDistinct]]'s job —
    * it exists to be oracle-checked). One TakeOrdered over the
    * distinct-token frame, then ≤ k decimals collected — bounded driver
    * state by construction. It once fed BM25's physical-shape
    * selection; BM25 has one shape now, and only tests call this. A
    * pipeline holding accumulated sketch state gets the same figure
    * from [[kmvEstimateFromSketch]] without touching the corpus. */
  def kmvVocabEstimate(docs: DataFrame, textCol: String, k: Int = 256): Long =
    kmvEstimateFromSketch(kmvSketch(docs, textCol, k), k)

  /** Driver-side estimate from a KMV sketch frame (as produced by
    * [[kmvSketch]], [[kmvMerge]] or a drained streaming state): fewer
    * than k rows means the sketch IS the exact distinct set; otherwise
    * est = floor((k−1)·2⁶⁴ / u_k) — the same integer arithmetic the
    * oracle-checked [[kmvDistinctFromSketch]] runs engine-side.
    *
    * CONTRACT: `k` must be AT MOST the k the sketch was BUILT with
    * (for merged/state sketches: the smallest builder k of any part).
    * With a larger k, a sub-k row count is NOT "the exact set" (the
    * builder truncated at ITS k) and rows past the builder's k-th are
    * not corpus order statistics — both silently bias the estimate
    * low. [[kmvVocabEstimate]] builds and evaluates with one k, so it
    * cannot violate this; state readers must pass the ingest-time
    * kmvK (see [[graft.streaming.StreamingIngest.kmvStateSketch]]). */
  def kmvEstimateFromSketch(sketch: DataFrame, k: Int = 256): Long = {
    require(k >= 2, s"k must be >= 2, got $k")
    val us = sketch.collect().map(_.getDecimal(0).toBigInteger)
    // fail LOUDLY on the documented contract violation: more rows than
    // k means the sketch was built with a larger k (or is not a KMV
    // sketch at all) — silently accepting it biases the estimate low
    require(us.length <= k,
      s"sketch has ${us.length} rows > k=$k: k must be at most the " +
        "sketch's builder k (for merged/state sketches, the smallest " +
        "builder k of any part)")
    if (us.length < k) us.length.toLong
    else {
      val uk = us.reduce((a, b) => if (a.compareTo(b) >= 0) a else b)
      if (uk.signum <= 0) us.length.toLong
      else {
        val num = java.math.BigInteger.ONE.shiftLeft(64)
          .multiply(java.math.BigInteger.valueOf(k - 1L))
        num.divide(uk).min(java.math.BigInteger.valueOf(Long.MaxValue)).longValue()
      }
    }
  }

  /** One-row frame (`vocab_estimate` BIGINT) — the ENGINE-SIDE
    * counterpart of [[kmvEstimateFromSketch]]: the same integer
    * arithmetic ((k−1)·2⁶⁴ floor-divided by u_k; a sub-k sketch IS the
    * exact distinct set) with zero driver collects, so the estimate
    * can be persisted as a table column (see
    * [[graft.text.CorpusStats]]). Same k-contract as the driver-side
    * form: `k` must be at most the sketch's builder k. */
  def kmvEstimateFrame(sketch: DataFrame, k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val num = lit(TwoTo64.multiply(new java.math.BigDecimal(k - 1)))
    sketch
      .agg(count(lit(1)).as("_k_used"), max(col("u")).as("_uk"))
      .select(
        when(col("_k_used") < k || col("_uk").isNull || col("_uk") === 0,
          col("_k_used"))
          .otherwise(floorDiv(num, col("_uk"))).as("vocab_estimate"))
  }

  /** Merge two KMV sketch frames built with the same k: the k smallest
    * distinct values of the union. TakeOrdered over ≤ 2k rows. */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    a.unionByName(b).distinct().orderBy(col("u").asc).limit(k)
  }

  /** Estimate from a (possibly merged) sketch frame, compared against
    * the exact distinct count of `docs` — same output contract as
    * [[kmvDistinct]]: `n_distinct_exact`, `k_used`, `est_distinct`,
    * `rel_err`. */
  def kmvDistinctFromSketch(
      docs: DataFrame,
      textCol: String,
      sketch: DataFrame,
      k: Int = 256,
  ): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val nRow = instances(docs, textCol)
      .select(col("tok")).distinct()
      .agg(count(lit(1)).as("n_exact"))
    val kth = sketch
      .agg(count(lit(1)).as("k_used"), max(col("u")).as("uk"))
    val num = lit(TwoTo64.multiply(new java.math.BigDecimal(k - 1)))
    nRow.crossJoin(kth)
      .select(
        col("n_exact").as("n_distinct_exact"),
        coalesce(col("k_used"), lit(0L)).cast("int").as("k_used"),
        when(col("k_used") < k || col("uk") === 0 || col("uk").isNull, col("n_exact"))
          .otherwise(floorDiv(num, col("uk"))).as("est_distinct"))
      .select(
        col("n_distinct_exact"),
        col("k_used"),
        col("est_distinct"),
        when(col("n_distinct_exact") === 0, lit(0.0))
          .otherwise(round(
            (col("est_distinct") - col("n_distinct_exact")).cast("double") /
              col("n_distinct_exact").cast("double"), 6)).as("rel_err"))
  }

  // -------------------------------------------------------------------
  // HyperLogLog (Flajolet et al. 2007), integer-exact variant.
  //
  // The header comment above rules out float-mixing sketches because
  // their last-ulp behavior is engine-private — so this HLL is built
  // to produce NO float anywhere the oracle compares:
  //   - rank = leading-zero count over a fixed 40-bit window of the
  //     hash (a generated comparison chain against power-of-two
  //     literals, not floor(log2(w)): double log2 mis-floors near
  //     2^k boundaries once w exceeds ~2^45);
  //   - the harmonic mean denominator is the exact integer
  //     S = Σ_j 2^(Rank_max − r_j) (zero registers contribute
  //     2^Rank_max), ≤ m · 2^41 — a plain BIGINT sum;
  //   - alpha_m enters as a fixed-point rational (round(alpha · 10^6)
  //     over 10^6), so the estimate is one exact floor division;
  //   - the small-range linear-counting branch m·ln(m/V) is a
  //     LOOKUP TABLE of m precomputed integers (V has only m possible
  //     values), interpolated identically into both engines.
  // Deviations from canonical 64-bit HLL, both documented trade-offs:
  // the rank window is 40 bits, not 64−p (an all-zero 40-bit run has
  // probability 2^-40 per bucket — unobservable; keeps every
  // intermediate in BIGINT range), and alpha is 6-decimal fixed-point
  // (a <1e-6 relative perturbation, far under the 1.04/√m sketch
  // error).
  // -------------------------------------------------------------------

  /** Rank window width in bits; max rank = RankBits + 1. */
  val HllRankBits = 40

  /** Fixed-point alpha_m numerator over [[HllAlphaDen]]:
    * round(10^6 · 0.7213 / (1 + 1.079 / m)). */
  def hllAlphaNum(m: Int): Long =
    math.round(1e6 * 0.7213 / (1.0 + 1.079 / m))
  val HllAlphaDen = 1000000L

  /** Linear-counting lookup: lc(v) = round(m · ln(m / v)) for
    * v = 1..m zero registers (v = m → 0; the v = 0 case never reaches
    * the table — the branch requires v > 0). Precomputed in Scala and
    * interpolated as the same literal list into the oracle SQL, so the
    * one ln() in HLL never executes inside either engine. */
  def hllLinearCountTable(m: Int): IndexedSeq[Long] =
    (1 to m).map(v => math.round(m * math.log(m.toDouble / v)))

  private def requireHllParams(p: Int): Unit =
    require(p >= 4 && p <= 14, s"p must be in [4,14], got $p")

  /** The HLL SKETCH itself as a frame: `(bucket, r)` — the max rank
    * per occupied bucket, at most m = 2^p rows regardless of corpus
    * size. bucket = low p bits of the token hash; rank = leading-zero
    * count + 1 over the next [[HllRankBits]] bits (so r ∈ [1, 41]).
    *
    * Mergeable by construction: registers combine by per-bucket MAX,
    * so [[hllMerge]] of two disjoint corpus parts equals the sketch of
    * their union exactly (bit-for-bit — max is idempotent,
    * commutative, associative), the same per-partition /
    * per-micro-batch accumulator contract as [[cmsCells]] /
    * [[kmvSketch]]. SketchesSpec proves merge ≡ recompute; the
    * `t21_hll_merge` query oracle-checks a two-part merge against the
    * whole-corpus SQL replay. */
  def hllRegisters(
      docs: DataFrame,
      textCol: String,
      p: Int = 8,
  ): DataFrame = {
    requireHllParams(p)
    val (bucket, rank) = hllBucketRank(call_function("graft_token_hash", col("tok")), p)
    instances(docs, textCol)
      .select(col("tok")).distinct()
      .select(bucket.as("bucket"), rank.as("r"))
      .groupBy("bucket").agg(max(col("r")).as("r"))
  }

  /** (bucket, rank) of one 64-bit hash under parameter p — shared by
    * [[hllRegisters]] and [[widePartials]] so the two derivations
    * cannot drift. bucket = low p bits; rank = leading-zero count + 1
    * over the next [[HllRankBits]] bits: a descending integer
    * comparison chain, no float log anywhere. */
  private def hllBucketRank(hv: Column, p: Int): (Column, Column) = {
    val m = 1 << p
    val bucket = hv.bitwiseAND(lit(m - 1L))
    val w = shiftrightunsigned(hv, p).bitwiseAND(lit((1L << HllRankBits) - 1))
    val fl = (HllRankBits - 2 to 0 by -1).foldLeft(
      when(w >= lit(1L << (HllRankBits - 1)), lit(HllRankBits - 1))) {
      (acc, j) => acc.when(w >= lit(1L << j), lit(j))
    }
    val rank = when(w === 0, lit(HllRankBits + 1))
      .otherwise(lit(HllRankBits) - fl)
    (bucket, rank)
  }

  /** Merge two HLL register frames built with the same p: per-bucket
    * max. Absent buckets are implicit rank-0 registers, hence the
    * union shape. At most 2m input rows. */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(max(col("r")).as("r"))

  /** Distinct-token estimate from a (possibly merged) register frame,
    * compared against the exact distinct count of `docs`. Output one
    * row: `n_distinct_exact`, `m`, `v_zero` (empty registers),
    * `est_distinct`, `rel_err` (signed, rounded to 6) — the same
    * contract as [[kmvDistinctFromSketch]].
    *
    * est = floor(alphaNum · m² · 2^(RankBits+1) / (alphaDen · S)) with
    * S = v_zero · 2^(RankBits+1) + Σ 2^(RankBits+1−r); when v_zero > 0
    * and the raw estimate ≤ 5m/2, the canonical small-range branch
    * takes over via the precomputed [[hllLinearCountTable]]. The
    * 64-bit large-range correction is unnecessary (no 32-bit hash
    * collision regime) and omitted. */
  def hllDistinctFromRegisters(
      docs: DataFrame,
      textCol: String,
      registers: DataFrame,
      p: Int = 8,
  ): DataFrame = {
    requireHllParams(p)
    val m = 1 << p
    val scaleExp = HllRankBits + 1 // term(r) = 2^(scaleExp - r), r ∈ [0, 41]
    val nRow = instances(docs, textCol)
      .select(col("tok")).distinct()
      .agg(count(lit(1)).as("n_exact"))
    // term(r) = 2^(scaleExp − r) via a 1-indexed literal lookup
    // (shiftleft's bit count is a static Int in the DSL, and a lookup
    // matches the oracle's element_at replay literal-for-literal).
    val termByRank = array((1 to scaleExp).map(r => lit(1L << (scaleExp - r))): _*)
    val sRow = registers
      .agg(
        count(lit(1)).cast("long").as("occupied"),
        coalesce(sum(element_at(termByRank, col("r").cast("int"))), lit(0L))
          .as("s_occ"))
      .select(
        (lit(m.toLong) - col("occupied")).as("v_zero"),
        ((lit(m.toLong) - col("occupied")) * lit(1L << scaleExp) + col("s_occ")).as("s"))
    val num = new java.math.BigDecimal(hllAlphaNum(m))
      .multiply(new java.math.BigDecimal(m.toLong * m))
      .multiply(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(scaleExp)))
    val lc = hllLinearCountTable(m)
    val lcCol = element_at(
      array(lc.map(lit): _*), col("v_zero").cast("int")) // 1-indexed: v_zero ∈ [1, m]
    val rawEst = floorDiv(
      lit(num), col("s").cast(DecimalType(38, 0)) * lit(HllAlphaDen))
    nRow.crossJoin(sRow)
      .select(
        col("n_exact").as("n_distinct_exact"),
        lit(m).as("m"),
        col("v_zero").cast("int").as("v_zero"),
        when(col("v_zero") > 0 && rawEst * 2 <= lit(5L * m), lcCol)
          .otherwise(rawEst).as("est_distinct"))
      .select(
        col("n_distinct_exact"),
        col("m"),
        col("v_zero"),
        col("est_distinct"),
        when(col("n_distinct_exact") === 0, lit(0.0))
          .otherwise(round(
            (col("est_distinct") - col("n_distinct_exact")).cast("double") /
              col("n_distinct_exact").cast("double"), 6)).as("rel_err"))
  }

  /** Whole-corpus HLL distinct estimate — [[hllRegisters]] +
    * [[hllDistinctFromRegisters]]. */
  def hllDistinct(
      docs: DataFrame,
      textCol: String,
      p: Int = 8,
  ): DataFrame =
    hllDistinctFromRegisters(docs, textCol, hllRegisters(docs, textCol, p), p)

  // -------------------------------------------------------------------
  // Misra–Gries heavy hitters (Misra & Gries 1982), order-free form.
  // -------------------------------------------------------------------

  /** The Misra–Gries summary in its ORDER-FREE "top-k with offset"
    * formulation (the form Agarwal et al. 2013, "Mergeable Summaries",
    * analyzes): from the exact (token, count) frame, keep the k most
    * frequent tokens under the total order (count desc, token asc)
    * with counter(x) = f(x) − t, where t is the (k+1)-th largest count
    * (0 when fewer than k+1 distinct tokens exist); boundary tokens
    * whose counter hits 0 drop. The classic streaming MG is
    * processing-order-dependent — useless under Spark's
    * nondeterministic partitioning — while this formulation is a pure
    * function of the exact counts, so two engines (and two runs)
    * agree bit-for-bit, and the DuckDB oracle replays it with a
    * ROW_NUMBER window. It satisfies the MG guarantee: ≤ k counters,
    * f(x) − m/(k+1) ≤ counter(x) ≤ f(x) (k+1 tokens each with count
    * ≥ t sum to ≤ m, so t ≤ m/(k+1)).
    *
    * Scale shape: the instance stream collapses to (token, count) —
    * one linear hash shuffle, the same front every sketch here pays —
    * and the reduce is a TakeOrdered over k+1 rows; state is ≤ k
    * (token, counter) pairs. Completes the sketch family's coverage:
    * CMS answers "how often is X" (one-sided OVERcount), MG answers
    * "which X are frequent" with a one-sided UNDERcount and a
    * deterministic membership guarantee (every token with
    * f(x) > m/(k+1) is in the summary). */
  def mgSummary(
      docs: DataFrame,
      textCol: String,
      k: Int = 64,
  ): DataFrame =
    mgReduce(
      instances(docs, textCol).groupBy("tok").agg(count(lit(1)).as("counter")),
      k)

  /** The offset reduce at the heart of the summary: top-(k+1) of the
    * counter frame under (counter desc, tok asc), subtract the
    * (k+1)-th counter from the top k, drop zeros. Everything after the
    * input frame is bounded by k (TakeOrderedAndProject, never a
    * global sort). */
  def mgReduce(counters: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val top = counters.orderBy(col("counter").desc, col("tok").asc).limit(k + 1)
    val t = top.agg(
      when(count(lit(1)) === k + 1, min(col("counter")))
        .otherwise(lit(0L)).as("t"))
    top.orderBy(col("counter").desc, col("tok").asc).limit(k)
      .crossJoin(t)
      .select(col("tok"), (col("counter") - col("t")).as("counter"))
      .filter(col("counter") > 0)
  }

  /** Merge two MG summaries built with the same k: counters are
    * additive lower bounds, so merged = per-token counter sums
    * re-reduced with the same offset rule — ≤ 2k input rows, bounded
    * work. Unlike the CMS/KMV/HLL merges this one is LOSSY (merged ≠
    * recomputed in general) but it is deterministic and keeps the
    * global guarantee: the merged summary's undercount stays ≤
    * m_total/(k+1) (Agarwal et al. 2013, Thm. 1) — the
    * `t23_mg_merge` oracle replays the two-part algebra exactly and
    * the bound rides along as a compared output column. */
  def mgMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    mgReduce(
      a.unionByName(b).groupBy("tok").agg(sum("counter").as("counter")),
      k)

  /** Evaluate a (possibly merged) summary at the exact top-`topK`
    * tokens of `docs`: per probe token the exact count, the MG lower
    * bound (0 when the token fell out of the summary), the one-sided
    * undercount, and `bound_ok` — the MG guarantee
    * undercount ≤ m/(k+1), checked in integer arithmetic
    * (undercount·(k+1) ≤ m) so both engines decide it identically.
    * Output: `tok, n_exact, n_mg_lower, undercount, bound_ok`. */
  def mgHeavyHitters(
      docs: DataFrame,
      textCol: String,
      summary: DataFrame,
      k: Int = 64,
      topK: Int = 20,
  ): DataFrame =
    heavyHittersFromCounts(
      graft.quality.CacheScope.cachedUntilAction(
        instances(docs, textCol).groupBy("tok").agg(count(lit(1)).as("n_exact"))),
      summary, k, topK)

  /** The eval body over a pre-built (tok, n_exact) frame. One counting
    * pass feeds BOTH the probe top-k and m_total (= Σ n_exact) — the
    * corpus is never re-scanned for the total (it previously was:
    * three passes where one suffices, the UnigramLM one-pass rule). */
  private def heavyHittersFromCounts(
      cnt: DataFrame,
      summary: DataFrame,
      k: Int,
      topK: Int,
  ): DataFrame = {
    val m = cnt.agg(coalesce(sum(col("n_exact")), lit(0L)).as("m_total"))
    cnt.orderBy(col("n_exact").desc, col("tok").asc).limit(topK)
      .join(broadcast(summary), Seq("tok"), "left")
      .crossJoin(broadcast(m))
      .select(
        col("tok"),
        col("n_exact"),
        coalesce(col("counter"), lit(0L)).as("n_mg_lower"),
        (col("n_exact") - coalesce(col("counter"), lit(0L))).as("undercount"),
        ((col("n_exact") - coalesce(col("counter"), lit(0L))) * lit(k + 1L)
          <= col("m_total")).as("bound_ok"))
  }

  /** Whole-corpus heavy hitters — summary + eval sharing ONE cached
    * counting pass (the summary is [[mgReduce]] over the same (tok,
    * count) frame the eval probes, so the corpus is scanned once). */
  def mgTopk(
      docs: DataFrame,
      textCol: String,
      k: Int = 64,
      topK: Int = 20,
  ): DataFrame = {
    val cnt = graft.quality.CacheScope.cachedUntilAction(
      instances(docs, textCol).groupBy("tok").agg(count(lit(1)).as("n_exact")))
    val summary = mgReduce(cnt.select(col("tok"), col("n_exact").as("counter")), k)
    heavyHittersFromCounts(cnt, summary, k, topK)
  }

  // -------------------------------------------------------------------
  // Bottom-k sample quantiles (Cohen & Kaplan 2007, "Summarizing data
  // using bottom-k sketches"), order-free and EXACTLY mergeable.
  //
  // Classic streaming quantile sketches (GK, KLL, t-digest) are
  // processing-order-dependent and/or float-mixing — both disqualify
  // them here (Spark's partitioning is nondeterministic; the oracle
  // compares every bit). The bottom-k order sample has neither
  // problem: each row draws u = gmix64(fnv1a(key)) — a pure function
  // of its unique key — and the sketch is the k rows with smallest u.
  // That is a uniform-without-replacement row sample, so the sample's
  // q-quantile estimates the population's with rank error
  // O(√(q(1−q)/k)) (DKW), and the sketch is mergeable EXACTLY: the
  // bottom-k of a disjoint union is contained in the union of the
  // parts' bottom-k under any total order — fold ≡ recompute
  // bit-for-bit, the same law KMV rides (KMV IS bottom-k over
  // distinct-value hashes; this is bottom-k over rows carrying a
  // value column).
  //
  // Scale shape: building the sketch is one narrow scan + a
  // TakeOrdered over k rows (never a global sort); every estimate
  // after that is bounded by k. The rank selection inside
  // [[qsQuantiles]] is a ≤ k² lexicographic self-join rather than an
  // unpartitioned window — k² pairs of a parameter-bounded frame, by
  // design (the repo allows exactly one unpartitioned-window site).
  // -------------------------------------------------------------------

  /** The quantile SKETCH: the `k` rows of `rows` with the smallest
    * draws, as `(u DECIMAL(22,0), v BIGINT)` — u the unsigned token
    * hash of the string form of `keyCol` (unique per row, so the
    * bottom-k is a uniform row sample and `(batch_id, u)` is a valid
    * idempotent-append key for the streaming accumulator), v the
    * sampled value. Deterministic total order (u asc, v asc). */
  def qsSketch(
      rows: DataFrame,
      keyCol: Column,
      valueCol: Column,
      k: Int = 256,
  ): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    rows
      .select(
        unsignedDec(call_function("graft_token_hash", keyCol.cast("string"))).as("u"),
        valueCol.cast("long").as("v"))
      .orderBy(col("u").asc, col("v").asc).limit(k)
  }

  /** Merge two quantile sketches built with the same k from DISJOINT
    * row sets (a partition of the corpus — parts sharing a row would
    * double-sample it): bottom-k of the union. TakeOrdered over ≤ 2k
    * rows; fold ≡ recompute exactly (no distinct — rows are already
    * unique by their key draw). */
  def qsMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    a.unionByName(b).orderBy(col("u").asc, col("v").asc).limit(k)
  }

  /** Quantile estimates from a (possibly merged) sketch frame:
    * for each integer percent p, the ⌈p·s/100⌉-th smallest sampled
    * value (s = sample size) — all integer arithmetic, so both
    * engines select the identical element. Rank is materialized by a
    * lexicographic self-join on the ≤ k-row sketch (count of rows
    * (v',u') ≤ (v,u)), not a window. Output: `p, s_used, est_v`;
    * empty when the sketch is empty (quantiles of nothing are
    * nothing, not zero). */
  def qsQuantiles(
      sketch: DataFrame,
      probsPct: Seq[Int] = Seq(10, 25, 50, 75, 90, 99),
  ): DataFrame = {
    require(probsPct.nonEmpty && probsPct.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1,100], got $probsPct")
    val spark = sketch.sparkSession
    import spark.implicits._
    // The sketch frame is referenced three times (both self-join sides
    // + the size row); caching the ≤ k-row frame makes the TakeOrdered
    // build run ONCE instead of re-deriving from the corpus per
    // reference. Action-scoped (CacheScope), not a bare persist: a
    // long-lived session calling this per micro-batch must not
    // accumulate cached frames.
    val sk = graft.quality.CacheScope.cachedUntilAction(sketch)
    val s1 = sk.select(col("u").as("u1"), col("v").as("v1"))
    val s2 = sk.select(col("u").as("u2"), col("v").as("v2"))
    val ranked = s1.join(s2,
        (col("v2") < col("v1")) ||
          (col("v2") === col("v1") && col("u2") <= col("u1")))
      .groupBy(col("v1"), col("u1")).agg(count(lit(1)).as("r"))
    val sUsed = sk.agg(count(lit(1)).as("s_used"))
    probsPct.toDF("p")
      .crossJoin(sUsed)
      // target rank ⌈p·s/100⌉ as exact integer arithmetic: subtract
      // the remainder before dividing so the quotient is an exact
      // integral double (the floorDiv move), never a truncated float
      .withColumn("_x", (col("p") * col("s_used") + lit(99)).cast("long"))
      .withColumn("rp", ((col("_x") - col("_x") % 100) / 100).cast("long"))
      .join(ranked, col("r") >= col("rp"))
      .groupBy(col("p"), col("s_used"))
      .agg(min(col("v1")).as("est_v"))
      .select(col("p"), col("s_used").cast("int").as("s_used"), col("est_v"))
  }

  /** Sketch-estimate vs exact-population quantiles — the evaluation
    * query ([[kmvDistinctFromSketch]]'s contract for quantiles). The
    * exact side never sorts the corpus: the value HISTOGRAM (bounded
    * by value cardinality, not row count) gets cumulative counts via
    * a non-equi self-join, and exact_v(p) = min v with cum ≥
    * ⌈p·n/100⌉. Output: `p, s_used, est_v, exact_v, rank_err` where
    * rank_err is the estimate's true rank error |F(est)−p/100|
    * (rounded, the scale-free quantile error measure — a value error
    * would be meaningless across corpora). */
  def qsEval(
      rows: DataFrame,
      keyCol: Column,
      valueCol: Column,
      sketch: DataFrame,
      probsPct: Seq[Int] = Seq(10, 25, 50, 75, 90, 99),
  ): DataFrame = {
    val est = qsQuantiles(sketch, probsPct)
    // histogram cached action-scoped: the non-equi cumulative self-join
    // references it twice, and the row count derives from it by
    // summation — one corpus scan feeds the whole exact side instead
    // of three, and the cache releases at the caller's action (a bare
    // persist would leak value-cardinality-sized frames across a
    // long-lived session's repeated calls).
    val hist = graft.quality.CacheScope.cachedUntilAction(
      rows.select(valueCol.cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as("c")))
    val cum = hist.select(col("v").as("hv"), col("c"))
      .join(hist.select(col("v").as("hv2"), col("c").as("c2")),
        col("hv2") <= col("hv"))
      .groupBy(col("hv")).agg(sum(col("c2")).as("cum"))
    val n = hist.agg(coalesce(sum(col("c")), lit(0L)).as("n_rows"))
    val exact = est.crossJoin(n)
      .withColumn("_y", (col("p") * col("n_rows") + lit(99)).cast("long"))
      .withColumn("rn", ((col("_y") - col("_y") % 100) / 100).cast("long"))
      .join(cum, col("cum") >= col("rn"))
      .groupBy(col("p"), col("s_used"), col("est_v"), col("n_rows"))
      .agg(min(col("hv")).as("exact_v"))
    // true rank of est_v: F(est_v)·n = cum at est_v (est_v is always a
    // sampled population value, so the histogram has its row)
    exact
      .join(cum.select(col("hv").as("est_v"), col("cum").as("est_cum")), Seq("est_v"))
      .select(
        col("p"), col("s_used"), col("est_v"), col("exact_v"),
        when(col("n_rows") === 0, lit(0.0))
          .otherwise(round(
            abs(col("est_cum").cast("double") / col("n_rows").cast("double")
              - col("p").cast("double") / 100.0), 6)).as("rank_err"))
      .orderBy(col("p"))
  }

  /** Whole-corpus token-count quantiles — the flagship instantiation:
    * per-document token counts keyed by doc_id. */
  def qsTokenCountQuantiles(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 256,
      probsPct: Seq[Int] = Seq(10, 25, 50, 75, 90, 99),
  ): DataFrame = {
    val v = size(TextAnalysis.normalizedTokens(col(textCol)))
    qsEval(docs, col(idCol), v, qsSketch(docs, col(idCol), v, k), probsPct)
  }

  // -------------------------------------------------------------------
  // Bloom filter (Bloom 1970), frame-of-set-bits form.
  //
  // The membership sketch the family was missing: CMS answers "how
  // often", KMV/HLL "how many distinct", MG "which are frequent",
  // bottom-k "how are values distributed" — Bloom answers "could X be
  // a member" with no false negatives and a bounded false-positive
  // rate. The bit positions reuse the CMS bucket draws verbatim
  // ([[GHash.permA]]/[[GHash.permB]] multiply-add rows masked to a
  // power-of-two width), so the DuckDB replay is the already-proven
  // CMS arithmetic with SUM swapped for DISTINCT.
  //
  // Scale shape: state is the set of SET bits — at most depth×width
  // rows, parameter-bounded, broadcastable — and a probe is a
  // broadcast join of the corpus token frame against it. That is the
  // 100 TB decontamination pre-filter story: probing a corpus against
  // a broadcast m-bit filter costs a narrow scan, vs shuffling the
  // corpus against the benchmark set; only the (bounded-rate) filter
  // survivors pay the exact check. Mergeable by construction: bits
  // are a set union, so per-partition / per-micro-batch filters fold
  // with DISTINCT — exactly, not approximately.
  // -------------------------------------------------------------------

  /** The Bloom filter as a frame: the distinct `(j, bucket)` positions
    * set by the distinct tokens of `docs` — depth hash functions over
    * a power-of-two `width`-bit array, ≤ depth×width rows. */
  def bloomBits(
      docs: DataFrame,
      textCol: String,
      depth: Int = 7,
      width: Int = 4096,
  ): DataFrame =
    bloomBitsOf(
      instances(docs, textCol).select(col("tok")).distinct(), "tok", depth, width)

  /** [[bloomBits]] generalized to any string key frame (tokens,
    * shingle grams, URLs…): the distinct `(j, bucket)` positions set
    * by the distinct values of `keyCol`. */
  def bloomBitsOf(
      keys: DataFrame,
      keyCol: String,
      depth: Int = 7,
      width: Int = 4096,
  ): DataFrame = {
    requireCmsParams(depth, width)
    keys.select(col(keyCol).as("_k")).filter(col("_k").isNotNull).distinct()
      .select(jBuckets(call_function("graft_token_hash", col("_k")), depth, width).as("jb"))
      .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .distinct()
  }

  /** The bits frame packed into driver-side long words: `masks(j)` is
    * the j-th hash row's `width`-bit array as width/64 longs. The
    * collect is bounded BY CONSTRUCTION at depth×width rows (3.5 KB of
    * bit state at the default 7×4096) — the same bounded-driver-state
    * rule the PQ codebooks follow — which is what lets the membership
    * test become a literal in the plan instead of a join. */
  def bloomMasks(bits: DataFrame, depth: Int, width: Int): Array[Array[Long]] = {
    requireCmsParams(depth, width)
    val masks = Array.fill(depth)(new Array[Long](math.max(width / 64, 1)))
    bits.select(col("j").cast("int"), col("bucket").cast("long")).collect().foreach { r =>
      val j = r.getInt(0)
      val b = r.getLong(1)
      require(j >= 0 && j < depth && b >= 0 && b < width,
        s"bit ($j, $b) outside the $depth x $width filter — depth/width mismatch with the bits frame")
      masks(j)((b >>> 6).toInt) |= (1L << (b & 63L))
    }
    masks
  }

  private val Pw64 = (0 until 64).map(1L << _).toArray

  /** Narrow Bloom membership test: true iff ALL depth positions of
    * hash `hv` are set in `masks`. Pure built-in arithmetic over
    * literal arrays (the CMS multiply-add bucket, a word lookup, a
    * power-of-two bit mask) — codegen'd and scan-fused, so at 100 TB
    * the gate costs a projection, not a join: no shuffle, no broadcast
    * wait, just depth AND-chained bit tests per row. */
  def bloomTest(hv: Column, masks: Array[Array[Long]], width: Int): Column = {
    // Probe-side twin of bloomMasks' build-side require: a masks/width
    // mismatch would silently corrupt membership (width smaller than
    // the masks ⇒ high words never probed ⇒ FALSE NEGATIVES, breaking
    // the no-false-negative guarantee; larger ⇒ null word lookups).
    masks.foreach(m => require(m.length == math.max(width / 64, 1),
      s"mask word count ${m.length} != width $width / 64 — masks built for a different width"))
    masks.zipWithIndex.map { case (m, j) =>
      val bucket = cmsBucket(hv, j, width)
      val word = element_at(lit(m), shiftrightunsigned(bucket, 6).cast("int") + 1)
      val bit = element_at(lit(Pw64), (bucket.bitwiseAND(lit(63L))).cast("int") + 1)
      word.bitwiseAND(bit) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** Merge two bit frames (same depth/width): set union. */
  def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct()

  /** Probe the distinct tokens of `docs` against a (possibly merged)
    * filter: a token passes iff ALL depth of its positions are set.
    * The filter frame broadcasts (parameter-bounded); the corpus side
    * is its distinct-token collapse. Output: `tok, in_filter`. */
  def bloomProbe(
      docs: DataFrame,
      textCol: String,
      bits: DataFrame,
      depth: Int = 7,
      width: Int = 4096,
  ): DataFrame = {
    requireCmsParams(depth, width)
    instances(docs, textCol)
      .select(col("tok")).distinct()
      .select(col("tok"),
        jBuckets(call_function("graft_token_hash", col("tok")), depth, width).as("jb"))
      .select(col("tok"), col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      // left join, not semi: a token with unset positions must still
      // come back (as in_filter = false), and each token carries
      // exactly `depth` distinct (j, bucket) rows to count hits over
      .join(broadcast(bits.withColumn("_set", lit(1))), Seq("j", "bucket"), "left")
      .groupBy("tok")
      .agg(sum(coalesce(col("_set"), lit(0))).as("hits"))
      .select(col("tok"), (col("hits") === depth).as("in_filter"))
  }

  /** The decontamination pre-filter evaluated end-to-end: build the
    * filter from `bench`'s vocabulary (or take a pre-built/merged
    * `bits`), probe `corpus`'s vocabulary, compare against exact
    * membership. One summary row, every column integer or exact-
    * rational: probe vocabulary size, true members, filter passes,
    * false positives (passes − members), `no_false_negatives` (the
    * Bloom guarantee, decided identically by both engines), and the
    * observed FP percentage over the true negatives (rounded). */
  def bloomDecontamEval(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      bits: DataFrame,
      depth: Int = 7,
      width: Int = 4096,
  ): DataFrame = {
    val probed = bloomProbe(corpus, textCol, bits, depth, width)
    val vocab = instances(bench, textCol).select(col("tok")).distinct()
      .withColumn("in_vocab", lit(true))
    probed.join(vocab, Seq("tok"), "left")
      .select(col("tok"), col("in_filter"),
        coalesce(col("in_vocab"), lit(false)).as("in_vocab"))
      .agg(
        count(lit(1)).as("n_probe_tokens"),
        coalesce(sum(when(col("in_vocab"), 1L).otherwise(0L)), lit(0L))
          .as("n_true_members"),
        coalesce(sum(when(col("in_filter"), 1L).otherwise(0L)), lit(0L))
          .as("n_filter_pass"),
        coalesce(sum(when(col("in_filter") && !col("in_vocab"), 1L).otherwise(0L)),
          lit(0L)).as("n_false_pos"),
        coalesce(min(when(col("in_vocab"), col("in_filter").cast("int")).otherwise(1))
          .cast("boolean"), lit(true)).as("no_false_negatives"))
      .select(
        col("n_probe_tokens"), col("n_true_members"), col("n_filter_pass"),
        col("n_false_pos"), col("no_false_negatives"),
        when(col("n_probe_tokens") === col("n_true_members"), lit(0.0))
          .otherwise(round(col("n_false_pos").cast("double") * 100.0 /
            (col("n_probe_tokens") - col("n_true_members")).cast("double"), 6))
          .as("fp_pct"))
  }

  /** ALL SIX sketch partials of one corpus slice as ONE wide row —
    * the single-job streaming-accumulator form. The per-family
    * builders above each cost a whole Spark job when run separately;
    * a micro-batch accumulator paying six job launches + six state
    * appends per batch was measured at 1.45–3.54 s of fixed overhead
    * (MEASUREMENTS_R11.json `sketch_accum_sf1_optimized`, 221% at
    * fpt=4 even with a shared cached scan and concurrent submission).
    * This emits the same six partials from ONE query:
    *
    *   - the five token families (CMS, KMV, HLL, MG, Bloom) all derive
    *     from the SAME `(tok, count, hash)` collapse — ONE corpus-sized
    *     token shuffle (distinct tokens = the keys of the count frame,
    *     so KMV/HLL/Bloom need no second distinct-shuffle) — and are
    *     computed by ONE [[graft.functions.WideSketchAgg]] imperative-
    *     aggregate pass over it. Composing the per-family builders
    *     instead was measured at ~1 s of pure plan STRUCTURE per call
    *     (five branch subtrees: five scans of the collapse even when
    *     cached — exchange reuse cannot dedup them, per-branch column
    *     pruning makes the five exchanges non-canonical-equal — plus
    *     three extra shuffles and five single-row broadcasts), nearly
    *     independent of every sketch parameter;
    *   - the QS draw keys on `qsKeyCol` with the token-count value the
    *     accumulator contract fixes (one narrow TakeOrdered branch,
    *     the only consumer of per-DOC identity — which is exactly the
    *     information the token collapse destroys, so it cannot join
    *     the one-pass aggregate).
    *
    * Array elements are EXACTLY the rows the per-family builders emit,
    * so every fold law (cells sum, min-k, register max, MG offset
    * reduce, bottom-k, bit union) applies unchanged to the exploded
    * arrays — merge ≡ recompute is inherited, not re-proven
    * (StreamingIngestSpec pins the drained fold against the
    * whole-corpus sketches). An EMPTY slice yields one row of six
    * empty arrays (a global aggregate always emits), which folds as
    * the identity. */
  def widePartials(
      docs: DataFrame,
      textCol: String,
      qsKeyCol: Column,
      cmsDepth: Int = 4,
      cmsWidth: Int = 1024,
      kmvK: Int = 256,
      hllP: Int = 8,
      mgK: Int = 64,
      qsK: Int = 256,
      bloomDepth: Int = 7,
      bloomWidth: Int = 4096,
  ): DataFrame =
    widePartialsFromCounts(tokenCounts(docs, textCol), docs, textCol, qsKeyCol,
      cmsDepth, cmsWidth, kmvK, hllP, mgK, qsK, bloomDepth, bloomWidth)

  /** The per-token `(tok, n_exact, hv)` collapse [[widePartialsFromCounts]]
    * consumes — exposed for callers that already materialized it. */
  def tokenCountsOf(docs: DataFrame, textCol: String): DataFrame =
    tokenCounts(docs, textCol)

  /** [[widePartials]] with the token collapse supplied by the caller.
    * `tc` must be the untouched [[tokenCountsOf]] frame of the SAME
    * `docs`/`textCol`. */
  def widePartialsFromCounts(
      tc: DataFrame,
      docs: DataFrame,
      textCol: String,
      qsKeyCol: Column,
      cmsDepth: Int = 4,
      cmsWidth: Int = 1024,
      kmvK: Int = 256,
      hllP: Int = 8,
      mgK: Int = 64,
      qsK: Int = 256,
      bloomDepth: Int = 7,
      bloomWidth: Int = 4096,
  ): DataFrame = {
    requireCmsParams(cmsDepth, cmsWidth)
    requireCmsParams(bloomDepth, bloomWidth)
    requireHllParams(hllP)
    require(kmvK >= 2, s"kmvK must be >= 2, got $kmvK")
    // one imperative-aggregate pass over the collapse: scan → partial
    // buffers → single-partition merge. Emits the per-family rows in
    // the exact sorted order the composed sort_array(collect_list(…))
    // form produced (SketchesSpec pins that equality family by family)
    val tokOne = tc.agg(
      call_function("graft_wide_sketch",
        col("tok"), col("n_exact"), col("hv"),
        lit(cmsDepth), lit(cmsWidth), lit(kmvK), lit(hllP), lit(mgK),
        lit(bloomDepth), lit(bloomWidth)).as("w"))
      .select(col("w.cms").as("cms"), col("w.kmv").as("kmv"),
        col("w.hll").as("hll"), col("w.mg").as("mg"), col("w.bloom").as("bloom"))
    val qsV = size(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
    val qsOne = qsSketch(docs, qsKeyCol, qsV, qsK)
      .agg(sort_array(collect_list(struct(col("u"), col("v")))).as("qs"))
    tokOne.crossJoin(qsOne)
      .select(col("cms"), col("kmv"), col("hll"), col("mg"), col("qs"), col("bloom"))
  }
}
