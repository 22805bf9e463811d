package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic (seedless-reproducible) sampling for corpus mixing:
  * keep a document iff the md5 of its key falls below a hex threshold
  * derived from the target fraction. Unlike `df.sample`, the decision
  * is a pure function of the key — re-runs, retries, and other engines
  * agree row-for-row (lowercase-hex strings compare identically
  * everywhere), which is what makes mixing ratios auditable. Salt the
  * key to draw a different deterministic sample.
  *
  * Scale shape: a narrow filter fused into the scan — no shuffle, no
  * state, and the kept fraction of each partition is i.i.d., so
  * downstream partition sizing is unaffected.
  */
object Sampling {

  /** Stratum-level helper frames (quantile boundaries, bucket offsets)
    * at or under this many rows take the broadcast-join path in the
    * bucketed samplers; larger frames fall back to a plain shuffled
    * join. `stratumCol` is arbitrary — with per-domain strata (the
    * RefinedWeb regime: millions of domains) the boundary frame is
    * hundreds of MB and a forced hint never falls back, riding to
    * Spark's broadcast hard limit (the same latent driver-OOM class
    * [[graft.text.LineDedup.BroadcastFrequentMaxLines]] gates). At the
    * default 250k rows the widest frame (bounds: ~31 doubles/stratum)
    * stays under ~100 MB; past it, strata are so finely keyed that no
    * single stratum dominates, so the shuffled fallback's per-key
    * partitioning is safe by the same token. */
  val BroadcastStrataMaxRows: Long = 250000L

  /** 32-hex-digit threshold such that P[md5 < threshold] = fraction.
    * The comparison is lexicographic over equal-length lowercase hex,
    * which equals numeric order; fraction 1.0 needs a string above
    * every hex digit — "g" — because a 33-digit "10…0" would compare
    * by first character and sort BELOW almost every md5. */
  def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of range: $fraction")
    val full = BigInt(1) << 128
    val cut = (BigDecimal(full) * BigDecimal(fraction)).toBigInt
    if (cut >= full) "g"
    else {
      val hex = cut.toString(16)
      "0" * (32 - hex.length) + hex
    }
  }

  private def keyHash(keyCol: Column, salt: String): Column =
    md5(concat_ws(":", lit(salt), keyCol.cast("string")))

  /** Uniform deterministic sample at `fraction`. */
  def deterministicSample(
      docs: DataFrame,
      keyCol: Column,
      fraction: Double,
      salt: String = "",
  ): DataFrame =
    docs.filter(keyHash(keyCol, salt) < lit(hexThreshold(fraction)))

  /** Per-stratum deterministic sample: each stratum keeps its own
    * fraction (corpus-mixing ratios). Strata absent from the map keep
    * `defaultFraction`. */
  def stratifiedSample(
      docs: DataFrame,
      keyCol: Column,
      stratumCol: Column,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0,
      salt: String = "",
  ): DataFrame = {
    val threshold = fractions.foldLeft(lit(hexThreshold(defaultFraction))) {
      case (acc, (stratum, f)) =>
        when(stratumCol === stratum, lit(hexThreshold(f))).otherwise(acc)
    }
    docs.filter(keyHash(keyCol, salt) < threshold)
  }

  /** Probability-weighted (soft) sampling: keep each document with a
    * PER-ROW probability — e.g. a quality score, so high-quality
    * documents survive more often instead of a hard gate — while the
    * decision stays a pure function of (salt, key): reproducible,
    * restart-safe, engine-portable. The first 15 hex digits of the md5
    * are a uniform 60-bit integer; keep iff it falls under
    * floor(p·2⁶⁰) (quantization bias ≤ 2⁻⁶⁰ — unobservable). p is
    * clamped to [0, 1]. A constant `probCol` degenerates to
    * [[deterministicSample]] up to the 60-bit quantization.
    *
    * Scale shape: a narrow filter fused into the scan, like every
    * sampler here. */
  def weightedSample(
      docs: DataFrame,
      keyCol: Column,
      probCol: Column,
      salt: String = "",
  ): DataFrame = {
    // probCol is materialized behind the `graft_eval_once` barrier
    // before the filter: callers pass expensive per-row scores (tp9:
    // qualityScore — a multi-regex kernel referenced ~7× inside its
    // own expression tree), and a filter predicate is the one plan
    // position where neither extraction nor whole-stage-codegen
    // subexpression elimination dedupes them. The barrier column pins
    // one evaluation per row (Project-level CSE applies there);
    // values are identical.
    val pc = graft.Defaults.freshCol(docs.columns.toIndexedSeq, "_ws_p")
    val p = least(lit(1.0), greatest(lit(0.0), col(pc).cast("double")))
    val draw = conv(substring(keyHash(keyCol, salt), 1, 15), 16, 10).cast("long")
    docs.withColumn(pc, call_function("graft_eval_once", probCol))
      .filter(draw < floor(p * lit(math.pow(2, 60))).cast("long"))
      .drop(pc)
  }

  /** Relative (distribution-robust) quality gate: keep the top
    * `fraction` of each stratum by score. An absolute score threshold
    * drifts as the corpus mix changes between crawls; a per-stratum
    * percentile cut does not. Keep iff
    * percent_rank ≤ fraction over (stratum, score desc, key) — so a
    * stratum's best document always survives (percent_rank of the top
    * row is 0), and the tiebreak by key keeps the cut deterministic.
    *
    * Scale shape: one window partitioned by stratum — same shape (and
    * same giant-stratum caveat and two-pass remedy) as
    * [[tokenBudgetSample]]. */
  def topFractionByScore(
      docs: DataFrame,
      stratumCol: Column,
      scoreCol: Column,
      keyCol: Column,
      fraction: Double,
      hotStratumMinRows: Long = 1000000L,
  ): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of range: $fraction")
    graft.quality.SkewTelemetry.ensureRegistered(docs.sparkSession)
    graft.quality.SkewTelemetry.registerAdvice("stratumwindow",
      "A dominant stratum serializes its full percent_rank sort into one " +
        "task (rank-fraction operators cannot be WindowGroupLimit-pruned " +
        "— percent_rank needs the whole partition). Pre-cut with " +
        "deterministicSample at a fraction slightly above the target from " +
        "table stats, then run the exact rank cut over the survivors " +
        "(the two-pass remedy in the tokenBudgetSample scaladoc); or " +
        "re-stratify on a finer key.")
    val w = Window.partitionBy(stratumCol).orderBy(scoreCol.desc, keyCol)
    val pr = graft.Defaults.freshCol(docs.columns.toIndexedSeq, "_pr")
    // stratum size rides the SAME exchange as the rank window (a
    // second WindowExec, zero extra shuffle); the first-row marker is
    // a count of PRIOR rows in the same ordered spec — `pr === 0`
    // would double-count a stratum whose top rows tie on (score, key)
    // (percent_rank gives every tied top row 0), inflating the total
    // and suppressing the very WARN this exists for
    val cnt = graft.Defaults.freshCol(docs.columns.toIndexedSeq :+ pr, "_stratum_n")
    val pc = graft.Defaults.freshCol(docs.columns.toIndexedSeq ++ Seq(pr, cnt), "_prior_rows")
    docs.withColumn(pr, percent_rank().over(w))
      .withColumn(pc,
        coalesce(count(lit(1))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // full-frame count over the SAME (partition, order) spec: the
      // three window expressions stack over ONE exchange and ONE sort
      // (distinct frames become stacked Window operators, but none
      // re-sorts or re-shuffles)
      .withColumn(cnt, count(lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .observe(
        graft.quality.SkewTelemetry.nextMetricName("stratumwindow"),
        // a genuine COUNT of oversized strata (first-row marker × the
        // absolute bound), matching the listener's "N oversized
        // group(s)" wording — every stratum past the bound is its own
        // serialized sort task, dominant or not
        coalesce(sum(when(col(pc) === 0L && col(cnt) >= hotStratumMinRows, 1L)
          .otherwise(0L)), lit(0L)).as("hot_groups"),
        coalesce(max(col(cnt)), lit(0L)).as("max_stratum_rows"),
        lit(0L).as("skipped_pairs"))
      .filter(col(pr) <= fraction)
      .drop(pr, pc, cnt)
  }

  /** [[topFractionByScore]] hardened for the WIDE-stratum regime:
    * identical output, computed as a two-pass bucketed rank.
    *
    * The plain form's percent_rank cannot be WindowGroupLimit-pruned
    * (the fraction cut needs every row's rank), so a dominant stratum
    * serializes its FULL sort into one reducer task. Here the rank is
    * assembled from score-range buckets instead:
    *
    *   1. Per-stratum approximate score quantiles (one aggregate;
    *     approximation steers only bucket BALANCE, never the result)
    *     split each stratum into `scoreBuckets` contiguous score
    *     ranges — rows with EQUAL scores always share a bucket, so
    *     rank ties never span buckets.
    *   2. A tiny per-(stratum, bucket) count aggregate yields, via a
    *     window over strata×buckets rows, each bucket's PRIOR row
    *     count and the stratum total — broadcast back.
    *   3. The exact window runs per (stratum, bucket) — the hot
    *     stratum's sort spreads over `scoreBuckets` reducers — and the
    *     global rank is prior + local rank. percent_rank is then the
    *     same (rank−1)/(n−1) double division Spark's PercentRank
    *     computes, so the cut is bit-identical to the plain form
    *     (SamplingSpec pins plain ≡ bucketed row-for-row; the
    *     hot-stratum point is measured in MEASUREMENTS_R13).
    *
    * NULL scores land in the last bucket and sort last within it —
    * the same place the plain form's `DESC NULLS LAST` puts them.
    * No inline telemetry: this IS the remedy the
    * [[topFractionByScore]] telemetry recommends.
    *
    * Both stratum-level helper joins (boundaries, offsets) are
    * broadcast only below `broadcastMaxRows` (default
    * [[BroadcastStrataMaxRows]]) — the bounds frame has one row per
    * stratum and the offsets frame at most `scoreBuckets` per stratum,
    * so ONE cached count of the boundaries aggregate prices both
    * hints; above the bound the hints are dropped (plain shuffled
    * joins — safe in the finely-stratified regime that triggers it).
    * NOTE: that gate count is an EAGER Spark job — calling this method
    * runs the pass-1 quantile aggregate at plan-construction time (the
    * cache is shared with the returned plan's own boundary join and
    * released after the caller's action, the
    * [[graft.quality.CacheScope.retainAcrossOwnAction]] recipe).
    *
    * '''Adaptive grid (r16).''' `scoreBuckets = 0` (the default)
    * derives the bucket count from the LARGEST stratum's row count
    * via the same integer ladder as
    * [[graft.sim.Similarity.adaptiveNBits]]: b = the largest power of
    * two with maxN ≥ targetBucketRows·2b, clamped to
    * [2, `maxScoreBuckets`]. Per-bucket sort-task occupancy then
    * stays in [targetBucketRows, 2·targetBucketRows) at ANY corpus
    * size instead of growing linearly past a fixed grid (the r15
    * sf100 probe measured the fixed 32-bucket form's decade-3
    * exponent at 0.95 — the remedy converging back to the plain
    * window it exists to beat). The ladder reads a NARROW
    * stratum-count pre-aggregate (column pruning keeps the score
    * expression out of it) and the quantile pass then sketches
    * boundaries at exactly the realized resolution. The cap is honest
    * the way v3's bit cap is: above targetBucketRows·2·maxScoreBuckets
    * rows in one stratum (≈67M at the defaults) occupancy grows
    * again — raise `maxScoreBuckets` in lockstep with the fine
    * resolution if a corpus gets there. The default target sits at
    * the r14-measured sweet spot: the fixed 32-bucket grid's decade-2
    * win (exp 0.51, 3.8× over the plain window) ran ~62k rows per
    * sort task at sf10, and the first r16 ladder default (65536 →
    * occupancy up to 131k) measured tp20 1.5× slower there than the
    * 32-bucket grid — occupancy [32k, 65k) reproduces the proven
    * balance point at every scale. An EXPLICIT `scoreBuckets`
    * (≥ 2) pins the grid exactly as before; the output is identical
    * either way (bucket count steers only balance — SamplingSpec pins
    * plain ≡ bucketed across explicit AND adaptive grids). */
  def topFractionByScoreBucketed(
      docs: DataFrame,
      stratumCol: Column,
      scoreCol: Column,
      keyCol: Column,
      fraction: Double,
      scoreBuckets: Int = 0,
      broadcastMaxRows: Long = BroadcastStrataMaxRows,
      targetBucketRows: Long = 32768L,
      maxScoreBuckets: Int = 1024,
  ): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of range: $fraction")
    require(scoreBuckets == 0 || scoreBuckets >= 2,
      s"scoreBuckets must be 0 (adaptive) or >= 2, got $scoreBuckets")
    require(targetBucketRows >= 1, s"targetBucketRows must be >= 1, got $targetBucketRows")
    require(maxScoreBuckets >= 2 && (maxScoreBuckets & (maxScoreBuckets - 1)) == 0,
      s"maxScoreBuckets must be a power of two >= 2, got $maxScoreBuckets")
    val adaptive = scoreBuckets == 0
    // working columns, all collision-safe against the user's frame
    var taken = docs.columns.toIndexedSeq
    def fresh(base: String): String = {
      val n = graft.Defaults.freshCol(taken, base); taken = taken :+ n; n
    }
    val sk = fresh("_stratum")
    val sc = fresh("_score")
    val bnds = fresh("_bnds")
    val cn = fresh("_n")
    val sk2 = fresh("_stratum2")
    val bk = fresh("_bucket")
    val bk2 = fresh("_bucket2")
    val bn = fresh("_bn")
    val prior = fresh("_prior_rows")
    val nTot = fresh("_stratum_n")
    val pr = fresh("_pr")
    // Score materialized ONCE in its original type (the window order
    // below must be the plain form's scoreCol order, and a possibly
    // expensive score expression must never sit inside the bucket
    // lambda — the tp6 per-element re-evaluation gotcha).
    val base = docs.withColumn(sk, stratumCol).withColumn(sc, scoreCol)
    // The adaptive grid: b = the v3 integer ladder over the LARGEST
    // stratum (the one whose sort the grid exists to spread), from a
    // NARROW pre-count — column pruning keeps the (possibly heavy)
    // score expression out of this scan, so the extra eager job costs
    // one pass over the stratum column only. The ladder must run
    // BEFORE the quantile sketch because the sketch's cut points are
    // the realized grid's: a first cut of this operator sketched at a
    // fixed fine resolution (1024 cuts) and subset by stride, and
    // QuantileSummaries.query's per-cut linear scan of the merged
    // summary made the 1023-cut read take tens of MINUTES at 50M rows
    // (one thread, measured at the sf100 probe) — resolution must
    // follow the grid, never anticipate it.
    val nBuckets =
      if (!adaptive) scoreBuckets
      else {
        val maxN = base.groupBy(col(sk)).agg(count(lit(1)).as(cn))
          .agg(max(col(cn))).collect()(0) match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
        1 << graft.sim.Similarity.adaptiveNBits(maxN, targetBucketRows,
          minBits = 1, maxBits = Integer.numberOfTrailingZeros(maxScoreBuckets))
      }
    // Pass 1: per-stratum score quantile boundaries at exactly the
    // realized resolution. Doubles are fine here — boundaries only
    // steer bucket BALANCE (accuracy 1000 likewise: boundary-grade,
    // not result-grade); the comparison is strict, so equal scores
    // (cast identically) share a bucket.
    val fracs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val boundsRaw = base.groupBy(col(sk)).agg(
      percentile_approx(col(sc).cast("double"), typedlit(fracs), lit(1000))
        .as(bnds))
    // Size-gate BOTH broadcast hints on one bounded action: bounds has
    // exactly one row per stratum and offsets at most nBuckets per
    // stratum, so a single cached count prices both. The cache is
    // registered for retention BEFORE the gate count (the td8 recipe —
    // registering after would race the async listener bus) and the
    // count and the returned plan's boundary join share one
    // aggregation pass.
    val (bounds, owned) = graft.quality.CacheScope.acquire(boundsRaw)
    if (owned) graft.quality.CacheScope.retainAcrossOwnAction(bounds)
    val nStrata = bounds.count()
    def hinted(df: DataFrame, rows: Long): DataFrame =
      if (rows <= broadcastMaxRows) broadcast(df) else df
    val withBounds = base.join(
      hinted(bounds.withColumnRenamed(sk, sk2), nStrata),
      col(sk) <=> col(sk2), "left")
    // bucket = #boundaries strictly ABOVE the score (monotone: a
    // smaller bucket index always means a strictly greater score, and
    // equal scores share a bucket); NULL scores → the last bucket,
    // where the in-bucket DESC NULLS LAST sort puts them globally last
    val bucketed = withBounds
      .withColumn(bk,
        when(col(sc).isNull, lit(nBuckets - 1))
          .otherwise(coalesce(
            size(filter(col(bnds), b => b > col(sc).cast("double"))), lit(0))))
      .drop(bnds, sk2)
    // Pass 2: tiny (stratum, bucket) counts → per-bucket prior rows +
    // stratum totals, broadcast back.
    val tiny = bucketed.groupBy(col(sk), col(bk)).agg(count(lit(1)).as(bn))
    val wOff = Window.partitionBy(col(sk)).orderBy(col(bk).asc)
    val offsets = tiny
      .withColumn(prior,
        coalesce(sum(col(bn)).over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(nTot, sum(col(bn))
        .over(wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(sk).as(sk2), col(bk).as(bk2), col(prior), col(nTot))
    // offsets row bound: ≤ strata × buckets (the shuffled fallback
    // joins on (stratum, bucket) — the exact keys the pass-3 window
    // partitions by, so the join's exchange is the window's)
    val joined = bucketed.join(hinted(offsets, nStrata * nBuckets),
      col(sk) <=> col(sk2) && col(bk) === col(bk2), "inner")
    // Pass 3: exact rank within (stratum, bucket) — ranks tie exactly
    // where the plain form's do (ties never span buckets), so
    // prior + local rank = the plain form's global rank, and the
    // percent_rank is the same (rank−1)/(n−1) double division.
    val w2 = Window.partitionBy(col(sk), col(bk)).orderBy(col(sc).desc, keyCol)
    joined
      .withColumn(pr,
        when(col(nTot) === 1L, lit(0.0)).otherwise(
          (col(prior) + rank().over(w2) - 1L).cast("double") /
            (col(nTot) - 1L).cast("double")))
      .filter(col(pr) <= fraction)
      .drop(pr, sk, sc, bk, sk2, bk2, prior, nTot)
  }

  /** CCNet-style per-stratum rank buckets (Wenzek et al. 2020 split
    * each language into head/middle/tail by LM-perplexity terciles):
    * assign each document the bucket of its percent_rank within
    * (stratum, score asc, key). Rank-based on purpose — an
    * interpolated percentile THRESHOLD (quantile_cont) is float
    * arithmetic on which engines can disagree at the last ulp,
    * flipping boundary documents; percent_rank is the exact ratio
    * (rank−1)/(n−1), identical everywhere, and the key tiebreak makes
    * the cut deterministic. `pr = 1` lands in the last bucket.
    *
    * Scale shape: one window partitioned by stratum (per-language at
    * CCNet scale — the same giant-stratum caveat and two-pass remedy
    * as [[tokenBudgetSample]]).
    *
    * `bucket` is the OUTPUT column (part of the operator's contract,
    * unlike the transient working columns elsewhere in this file):
    * any pre-existing `bucket` column on the input is replaced. */
  def rankBuckets(
      docs: DataFrame,
      stratumCol: Column,
      scoreCol: Column,
      keyCol: Column,
      buckets: Seq[String] = Seq("head", "middle", "tail"),
  ): DataFrame = {
    require(buckets.nonEmpty, "at least one bucket name required")
    val w = Window.partitionBy(stratumCol).orderBy(scoreCol.asc, keyCol)
    val pr = percent_rank().over(w)
    val idx = least(floor(pr * buckets.size).cast("int"), lit(buckets.size - 1))
    docs.withColumn("bucket", element_at(typedlit(buckets), idx + lit(1)))
  }

  /** Per-domain document cap (the RefinedWeb/C4-style anti-spam cut:
    * no single site may dominate the corpus): keep the best `cap`
    * documents of each stratum by score, deterministic key tiebreak.
    *
    * Scale shape: the rank ≤ cap filter rewrites to WindowGroupLimit
    * (Spark 3.5+), which pre-prunes each map partition to its local
    * top-`cap` BEFORE the shuffle — a hot domain ships
    * cap × numPartitions rows, not its full row count, so the window
    * sort never sees the raw skew. */
  def capPerStratum(
      docs: DataFrame,
      stratumCol: Column,
      scoreCol: Column,
      keyCol: Column,
      cap: Int,
  ): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val w = Window.partitionBy(stratumCol).orderBy(scoreCol.desc, keyCol)
    // collision-safe working column: an input that already carries
    // `_rn` must survive unclobbered (same rule as Sessionize)
    val rn = graft.Defaults.freshCol(docs.columns.toIndexedSeq, "_rn")
    // NOTE deliberately no inline SkewTelemetry here: the
    // InferWindowGroupLimit rewrite that IS this operator's skew
    // mitigation only fires when every window expression is rank-like,
    // so a count-over-partition telemetry column would trade the
    // map-side pruning away for the warning about losing it. The
    // hot-stratum WARN lives on the rank-fraction operators
    // ([[topFractionByScore]]), which pay the full sort regardless.
    docs.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= cap)
      .drop(rn)
  }

  /** [[capPerStratum]] hardened for the WIDE-cluster regime: identical
    * output, computed as a two-level top-cap tree.
    *
    * The plain form is already map-side pruned (WindowGroupLimit ships
    * at most cap × mapPartitions rows per stratum), but its final
    * reducer still receives cap × P rows of a hot stratum — at P =
    * thousands of map partitions (the 100 TB case) that single task
    * sorts millions of rows. Level 1 here caps within
    * (stratum, hash(key) mod saltBuckets) — the hot stratum's rows
    * spread over `saltBuckets` reducers — and level 2 re-caps the
    * ≤ cap × saltBuckets survivors per stratum, itself map-side
    * pruned, so no task ever sees more than ~cap × saltBuckets rows
    * however many map partitions feed it.
    *
    * Equivalence: the global top-cap under the total order
    * (score desc, key) is contained in the union of the per-salt
    * top-caps (any globally-kept row is in its own bucket's top-cap),
    * and level 2 applies the SAME total order — SamplingSpec pins
    * bucketed ≡ plain row-for-row; MEASUREMENTS_R12.json
    * domain_cap_skew records the measured hot-domain point (40M rows,
    * one domain owning 12M, cap 100000: plain 33.89 s vs bucketed
    * 9.22 s, outputs identical). */
  def capPerStratumBucketed(
      docs: DataFrame,
      stratumCol: Column,
      scoreCol: Column,
      keyCol: Column,
      cap: Int,
      saltBuckets: Int = 32,
  ): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val salt = graft.Defaults.freshCol(docs.columns.toIndexedSeq, "_salt")
    val rn1 = graft.Defaults.freshCol(docs.columns.toIndexedSeq :+ salt, "_rn1")
    val w1 = Window.partitionBy(stratumCol, col(salt)).orderBy(scoreCol.desc, keyCol)
    val level1 = docs
      .withColumn(salt, pmod(xxhash64(keyCol), lit(saltBuckets.toLong)))
      .withColumn(rn1, row_number().over(w1))
      .filter(col(rn1) <= cap)
      .drop(rn1, salt)
    capPerStratum(level1, stratumCol, scoreCol, keyCol, cap)
  }

  /** Token-budget corpus mixing: each stratum keeps documents — in a
    * deterministic md5-shuffled order — until its weight budget is
    * exhausted. This is the "data mixture" op of a training pipeline
    * (sample each domain down to its target token share) expressed in
    * absolute tokens instead of fractions, so the mix is exact even
    * when stratum sizes drift between crawls. The document that
    * straddles the budget boundary is kept (same straddler rule as
    * [[graft.text.Packing.packByBudget]]): a stratum with a non-zero
    * budget always yields at least one document.
    *
    * Scale shape: one window partitioned by stratum — the per-stratum
    * sort is the unavoidable cost of an exact budget cut. For a corpus
    * where single strata outgrow an executor, take a two-pass cut:
    * [[deterministicSample]] at fraction ≈ budget/Σweight from table
    * stats first (narrow, no shuffle), then this exact trim over the
    * pre-cut survivors. */
  def tokenBudgetSample(
      docs: DataFrame,
      keyCol: Column,
      stratumCol: Column,
      weightCol: Column,
      budgets: Map[String, Long],
      defaultBudget: Long = 0L,
      salt: String = "",
      hotStratumMinRows: Long = 1000000L,
  ): DataFrame = {
    require(budgets.values.forall(_ >= 0) && defaultBudget >= 0, "budgets must be >= 0")
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (stratum, b)) => when(stratumCol === stratum, lit(b)).otherwise(acc)
    }
    // keyCol as the secondary sort key makes the order total even in
    // the (astronomically unlikely) md5-collision case.
    val w = Window.partitionBy(stratumCol).orderBy(keyHash(keyCol, salt), keyCol)
    // Weights clamp at zero: a negative weight (bad upstream token
    // count) would make the running prior non-monotone, letting
    // documents PAST the budget boundary slip back under it — the cut
    // must be a prefix of the hash order, always. A clamped doc
    // consumes no budget but is still eligible.
    val prior = coalesce(
      sum(greatest(weightCol.cast("long"), lit(0L)))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val pw = graft.Defaults.freshCol(docs.columns.toIndexedSeq, "_prior_weight")
    graft.quality.SkewTelemetry.ensureRegistered(docs.sparkSession)
    // same hot-stratum telemetry as topFractionByScore (shared
    // "stratumwindow" family — one WARN per session covers the whole
    // rank/budget window family): the budget cut pays a full
    // per-stratum sort, so the stratum-size window rides its exchange
    // free, observed BEFORE the filter so zero-budget strata report too
    val cnt = graft.Defaults.freshCol(docs.columns.toIndexedSeq :+ pw, "_stratum_n")
    val pc = graft.Defaults.freshCol(docs.columns.toIndexedSeq ++ Seq(pw, cnt), "_prior_rows")
    docs.withColumn(pw, prior)
      // first-row marker shares the running-sum frame (same WindowExec);
      // `pw === 0` would double-count strata whose leading weights clamp
      .withColumn(pc,
        coalesce(count(lit(1))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(cnt, count(lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .observe(
        graft.quality.SkewTelemetry.nextMetricName("stratumwindow"),
        // same count semantics as topFractionByScore's observation
        coalesce(sum(when(col(pc) === 0L && col(cnt) >= hotStratumMinRows, 1L)
          .otherwise(0L)), lit(0L)).as("hot_groups"),
        coalesce(max(col(cnt)), lit(0L)).as("max_stratum_rows"),
        lit(0L).as("skipped_pairs"))
      .filter(col(pw) < budget)
      .drop(pw, pc, cnt)
  }

  /** [[tokenBudgetSample]] hardened for the WIDE-stratum regime:
    * identical output, computed as a two-pass bucketed running sum.
    *
    * The plain form's running prior-weight sum serializes a dominant
    * stratum's full sort into one reducer task (a budget cut cannot be
    * WindowGroupLimit-pruned). Here the order key is already a uniform
    * hash, so the buckets come for FREE — no quantile pass: bucket =
    * the top log2(`hashBuckets`) bits of the draw's 60-bit prefix,
    * contiguous ranges of the md5 order by construction (rows with
    * equal draws share a bucket, and bucket asc refines draw asc).
    *
    *   1. A tiny per-(stratum, bucket) clamped-weight sum yields each
    *      bucket's PRIOR weight via a window over strata×buckets rows
    *      — broadcast back.
    *   2. The exact running sum runs per (stratum, bucket) — the hot
    *      stratum spreads over `hashBuckets` reducers — and the global
    *      prior is the bucket offset plus the within-bucket prior.
    *
    * SamplingSpec pins plain ≡ bucketed row-for-row (clamped weights,
    * zero budgets, straddlers); the hot-stratum point is measured in
    * MEASUREMENTS_R13. No inline telemetry: this IS the remedy the
    * [[tokenBudgetSample]] telemetry recommends.
    *
    * The offsets join is broadcast only below `broadcastMaxRows`
    * (default [[BroadcastStrataMaxRows]]): the per-(stratum, bucket)
    * aggregate is counted once — an EAGER Spark job at
    * plan-construction time, cached across the count and the returned
    * plan via [[graft.quality.CacheScope.retainAcrossOwnAction]] — and
    * above the bound the hint is dropped (the shuffled fallback joins
    * on the exact keys the pass-2 window partitions by). */
  def tokenBudgetSampleBucketed(
      docs: DataFrame,
      keyCol: Column,
      stratumCol: Column,
      weightCol: Column,
      budgets: Map[String, Long],
      defaultBudget: Long = 0L,
      salt: String = "",
      hashBuckets: Int = 32,
      broadcastMaxRows: Long = BroadcastStrataMaxRows,
  ): DataFrame = {
    require(budgets.values.forall(_ >= 0) && defaultBudget >= 0, "budgets must be >= 0")
    require(hashBuckets >= 2 && (hashBuckets & (hashBuckets - 1)) == 0,
      s"hashBuckets must be a power of two >= 2, got $hashBuckets")
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (stratum, b)) => when(stratumCol === stratum, lit(b)).otherwise(acc)
    }
    var taken = docs.columns.toIndexedSeq
    def fresh(base: String): String = {
      val n = graft.Defaults.freshCol(taken, base); taken = taken :+ n; n
    }
    val sk = fresh("_stratum")
    val dr = fresh("_draw")
    val bk = fresh("_bucket")
    val sk2 = fresh("_stratum2")
    val bk2 = fresh("_bucket2")
    val bw = fresh("_bw")
    val off = fresh("_prior_offset")
    val pw = fresh("_prior_weight")
    // the draw materialized once: the bucket is its 60-bit prefix's
    // top bits, the within-bucket order the full 32-hex string — both
    // refine the plain form's (md5, key) total order exactly
    val logB = Integer.numberOfTrailingZeros(hashBuckets)
    val base = docs
      .withColumn(sk, stratumCol)
      .withColumn(dr, keyHash(keyCol, salt))
      .withColumn(bk, shiftright(
        conv(substring(col(dr), 1, 15), 16, 10).cast("long"), 60 - logB))
    val clamped = greatest(weightCol.cast("long"), lit(0L))
    // Pass 1: per-bucket clamped-weight totals → prior-bucket offsets.
    // The aggregate is counted once to size-gate the broadcast hint
    // (its row count IS the offsets frame's row count); cache
    // registered before the count — the td8 recipe — so the count and
    // the offsets window below share one aggregation pass.
    val tinyRaw = base.groupBy(col(sk), col(bk)).agg(sum(clamped).as(bw))
    val (tiny, owned) = graft.quality.CacheScope.acquire(tinyRaw)
    if (owned) graft.quality.CacheScope.retainAcrossOwnAction(tiny)
    val nOffsetRows = tiny.count()
    val wOff = Window.partitionBy(col(sk)).orderBy(col(bk).asc)
    val offsets = tiny
      .withColumn(off,
        coalesce(sum(col(bw)).over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(sk).as(sk2), col(bk).as(bk2), col(off))
    val offsetsSide =
      if (nOffsetRows <= broadcastMaxRows) broadcast(offsets) else offsets
    val joined = base.join(offsetsSide,
      col(sk) <=> col(sk2) && col(bk) === col(bk2), "inner")
    // Pass 2: exact within-bucket running prior; global prior = bucket
    // offset + within-bucket prior (same zero-clamp as the plain form,
    // so the cut stays a prefix of the hash order).
    val w2 = Window.partitionBy(col(sk), col(bk)).orderBy(col(dr), keyCol)
    joined
      .withColumn(pw,
        col(off) + coalesce(
          sum(clamped).over(w2.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col(pw) < budget)
      .drop(pw, sk, dr, bk, sk2, bk2, off)
  }

  /** Temperature-scaled mixture shares — the multilingual-sampling
    * piece (Conneau & Lample 2019 / XLM-R: sample language s with
    * p_s ∝ (Σ weight_s)^alpha, alpha ∈ [0,1]): alpha = 1 keeps the
    * natural distribution, alpha = 0 is uniform over strata, the
    * usual 0.3–0.7 upsamples low-resource strata without drowning the
    * head. This computes the engine-side statistic the mixing
    * operators consume — until now [[stratifiedSample]] /
    * [[tokenBudgetSample]] required the caller to hand-supply
    * fractions/budgets.
    *
    * Output: (stratum, total_weight, share) — share rounded to 6
    * decimals (pow is the one non-exact op; the rounding absorbs
    * last-ulp engine differences, the house convention for float
    * outputs). Negative weights clamp to zero, like every weight in
    * this file.
    *
    * Scale shape: ONE map-side-combinable aggregate (one row per
    * stratum — bounded), a single-row denominator broadcast back.
    * Nothing here touches row grain twice. */
  def temperatureShares(
      docs: DataFrame,
      stratumCol: Column,
      weightCol: Column,
      alpha: Double,
  ): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha out of range [0,1]: $alpha")
    val totals = docs
      .groupBy(stratumCol.as("stratum"))
      .agg(sum(greatest(weightCol.cast("long"), lit(0L))).as("total_weight"))
    val denom = totals.agg(
      sum(pow(col("total_weight").cast("double"), lit(alpha))).as("_den"))
    totals.crossJoin(broadcast(denom))
      .select(
        col("stratum"),
        col("total_weight"),
        when(col("_den") > 0.0,
          round(pow(col("total_weight").cast("double"), lit(alpha)) / col("_den"), 6))
          .otherwise(lit(0.0)).as("share"))
  }

  /** Per-stratum ADMISSION fractions that steer a stream toward the
    * temperature mixture: target share (w^alpha, normalized) over
    * natural share (w, normalized), rescaled so the most-upsampled
    * stratum admits at fraction 1.0 — admission can only DROP, so the
    * mix is shaped by thinning the head, never by inventing tail
    * documents. alpha = 1 admits everything (the natural mix IS the
    * target); alpha = 0 equalizes strata. Strata with non-positive
    * totals are excluded (the caller's defaultFraction policy covers
    * them, like [[temperatureBudgets]]'s NULL-strata rule).
    *
    * Pure driver math over a bounded per-stratum totals map — the
    * streaming closure's refresh step
    * ([[graft.streaming.StreamingIngest.drainTemperatureAdmission]])
    * calls this once per micro-batch with totals accumulated in state,
    * zero corpus scans. */
  def temperatureAdmissionFractions(
      totals: Map[String, Long],
      alpha: Double,
  ): Map[String, Double] = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha out of range [0,1]: $alpha")
    val pos = totals.filter(_._2 > 0)
    if (pos.isEmpty) Map.empty
    else {
      val wSum = pos.values.map(_.toDouble).sum
      val den = pos.values.map(w => math.pow(w.toDouble, alpha)).sum
      // target/natural = w^(alpha-1) · wSum/den — monotone DECREASING
      // in w for alpha < 1, so the smallest stratum normalizes to 1.0
      val ratio = pos.map { case (s, w) =>
        s -> (math.pow(w.toDouble, alpha) / den) / (w.toDouble / wSum)
      }
      val mx = ratio.values.max
      ratio.map { case (s, r) => s -> math.min(1.0, r / mx) }
    }
  }

  /** UniMax-style token budgets (Chung et al. 2023, "UniMax: Fairer
    * and More Effective Language Sampling"): distribute `totalBudget`
    * over strata by temperature share, but cap every stratum at
    * `maxEpochs` × its own weight — a low-resource stratum must not be
    * repeated past the cap however aggressive the temperature — and
    * water-fill the freed budget over the uncapped strata (their
    * relative temperature shares preserved) until no new stratum caps.
    *
    * Driver-side by design: the totals frame is one row per stratum
    * (bounded, the [[graft.text.QualityClassifier]] topV-collect
    * pattern), and the output feeds [[tokenBudgetSample]]'s `budgets`
    * map directly — see the spec for the composed pipeline. Floors are
    * used so Σ budgets ≤ totalBudget always. NULL strata are EXCLUDED:
    * a `Map[String, Long]` key cannot address them downstream
    * ([[tokenBudgetSample]]'s `stratumCol === key` is never true for
    * NULL), so giving them weight here would silently skew every other
    * stratum's share — they fall to the sampler's `defaultBudget`,
    * which is the caller's explicit policy knob for unkeyed strata. */
  def temperatureBudgets(
      docs: DataFrame,
      stratumCol: Column,
      weightCol: Column,
      alpha: Double,
      totalBudget: Long,
      maxEpochs: Double = Double.PositiveInfinity,
  ): Map[String, Long] = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha out of range [0,1]: $alpha")
    require(totalBudget >= 0, s"totalBudget must be >= 0, got $totalBudget")
    require(maxEpochs > 0, s"maxEpochs must be > 0, got $maxEpochs")
    val totals = docs
      .filter(stratumCol.isNotNull)
      .groupBy(stratumCol.cast("string").as("stratum"))
      .agg(sum(greatest(weightCol.cast("long"), lit(0L))).as("w"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    def capOf(w: Long): Long =
      if (maxEpochs.isPosInfinity) Long.MaxValue
      else math.floor(maxEpochs * w).toLong
    // water-filling: capped strata take their cap; the rest split the
    // remaining budget by temperature share; repeat until stable
    // (each pass caps >= 1 new stratum, so <= |strata| passes)
    var capped = Map.empty[String, Long]
    var remaining = totalBudget
    var open = totals
    var changed = true
    while (changed && open.nonEmpty) {
      changed = false
      val den = open.values.map(w => math.pow(w.toDouble, alpha)).sum
      val want = open.map { case (s, w) =>
        s -> (if (den > 0.0)
          math.floor(math.pow(w.toDouble, alpha) / den * remaining).toLong
        else 0L)
      }
      val newlyCapped = want.filter { case (s, b) => b > capOf(totals(s)) }
      if (newlyCapped.nonEmpty) {
        changed = true
        newlyCapped.keys.foreach { s =>
          capped += s -> capOf(totals(s))
          remaining -= capOf(totals(s))
          open -= s
        }
      } else {
        capped ++= want
        open = Map.empty
      }
    }
    capped
  }

  /** Deterministic train/val/test assignment: ONE md5 draw per key,
    * banded by two thresholds — `test` below hexThreshold(testF),
    * `val` below hexThreshold(testF + valF), `train` otherwise.
    * Disjoint and exhaustive by construction (one draw, consecutive
    * bands), and a pure function of (salt, key): re-runs and other
    * engines agree row-for-row, and growing the corpus never moves an
    * existing document between splits — the property that keeps a
    * frozen eval set frozen across crawls. Holding out by a hash of
    * the DOCUMENT key also means near-duplicate leakage across splits
    * is a dedup problem, not a split problem: run the dedup family
    * first, then split.
    *
    * Per-stratum (valFraction, testFraction) overrides let
    * low-resource strata hold out larger shares; strata absent from
    * the map use the defaults.
    *
    * Scale shape: a narrow projection fused into the scan — no
    * shuffle, no state, same as every sampler here. */
  def assignSplit(
      docs: DataFrame,
      keyCol: Column,
      stratumCol: Column,
      valFraction: Double,
      testFraction: Double,
      overrides: Map[String, (Double, Double)] = Map.empty,
      salt: String = "",
      splitCol: String = "split",
  ): DataFrame = {
    def check(v: Double, t: Double): Unit =
      require(v >= 0.0 && t >= 0.0 && v + t <= 1.0,
        s"val/test fractions must be >= 0 and sum <= 1: val=$v test=$t")
    check(valFraction, testFraction)
    overrides.values.foreach { case (v, t) => check(v, t) }
    val testT = overrides.foldLeft(lit(hexThreshold(testFraction))) {
      case (acc, (stratum, (_, t))) =>
        when(stratumCol === stratum, lit(hexThreshold(t))).otherwise(acc)
    }
    val valT = overrides.foldLeft(lit(hexThreshold(testFraction + valFraction))) {
      case (acc, (stratum, (v, t))) =>
        when(stratumCol === stratum, lit(hexThreshold(t + v))).otherwise(acc)
    }
    val draw = keyHash(keyCol, salt)
    docs.withColumn(splitCol,
      when(draw < testT, lit("test"))
        .when(draw < valT, lit("val"))
        .otherwise(lit("train")))
  }
}
