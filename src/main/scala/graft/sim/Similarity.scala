package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and LSH (random-hyperplane) bucketing as the scale path.
  *
  * Scale design:
  *   - Query sets are small and BROADCAST: top-k is a narrow map over
  *     the corpus (|corpus| × |queries| rows never leave their
  *     executor until the per-query top-k shuffle, which carries only
  *     candidate rows).
  *   - All arithmetic is double-precision higher-order folds
  *     (`aggregate`/`zip_with`) over the float vectors — no UDF.
  *   - The LSH path (sign-random-projection) mirrors the MinHash band
  *     trick: per-bucket joins, never a full cross product.
  *   - At 1000-executor scale the window-based top-k would become a
  *     per-partition top-k + merge (treeAggregate shape); the
  *     window form is kept while |queries| × |corpus| rows fit a
  *     shuffle, which holds through the benchmark scales.
  */
object Similarity {

  /** Dot product of two float-array columns, computed in double —
    * higher-order-function form (interpreted; fine for one-off use,
    * see [[cosine]] for the hot-path native kernel). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision; 0 for zero-norm vectors.
    * Backed by the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression (registered via [[graft.GraftExtensions]]) — a single
    * tight loop per pair instead of three interpreted HOF folds, which
    * is what makes per-candidate-pair scoring viable at LSH scale.
    * Accumulation order is left-to-right, identical to a sequential
    * fold, so results are bit-deterministic. */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine_sim", a, b)

  /** Interpreted HOF formulation — kept for cross-checking the native
    * kernel in tests. */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, lit(0.0)).otherwise(d / nn)
  }

  /** Rank scored candidates per query and keep the top k. Similarity
    * must already be rounded (6 dp) so ordering — and therefore the
    * result set — is stable across engines; residual ties break on
    * corpus id.
    *
    * The EXPLICIT projection to (query id, id, sim) before the window
    * is the sort-spill lever: candidate frames arrive carrying the
    * vectors / LUT arrays / query payloads they were scored from, and
    * although the window itself needs none of them, Catalyst's column
    * pruning does not reliably push a Project below a Window whose
    * child is a join — the r15 sf100 probe measured v15's candidate
    * sort spilling full 64-dim vectors on BOTH sides past the host's
    * 60 GB scratch. Ranking 24-byte rows instead of ~1 KB rows cuts
    * the sorted (and spilled) bytes by ~40×; callers that need
    * payload columns after the cut re-join them on the surviving ids
    * (the rerank pattern every caller here already uses). */
  private def rankTopK(scored: DataFrame, queryIdCol: String, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("sim").desc, col(idCol).asc)
    scored
      .select(col(queryIdCol), col(idCol), col("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("sim"), col("rank"))
  }

  /** Brute-force cosine top-k: for each query vector, the k most
    * similar corpus vectors (excluding the query itself when ids
    * collide). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
  ): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries))
      .filter(col(queryIdCol) =!= col(idCol))
      .withColumn("sim", round(cosine(col(vecCol), col(queryVecCol)), 6))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  // -------------------------------------------------------------------
  // Int8 scalar quantization: the standard memory/bandwidth lever for
  // vector search at scale (4x smaller than float32, 8x smaller than
  // the double working form) — the same symmetric per-vector scheme
  // faiss's ScalarQuantizer QT_8bit_direct family and ScaNN's int8
  // path use. Quantization error per element is bounded by
  // 0.5/scale = maxAbs/254, so approximate cosine stays within a few
  // 1e-3 of exact for unit-ish vectors — good enough for candidate
  // generation, with exact rerank available via bruteForceTopK.
  // -------------------------------------------------------------------

  /** Per-vector symmetric scale: 127 / max|v| (1.0 for zero/empty
    * vectors so quantization is a no-op rather than a division by
    * zero). */
  def int8Scale(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, v => abs(v.cast("double"))))
    when(maxAbs.isNull || maxAbs === 0.0, lit(1.0)).otherwise(lit(127.0) / maxAbs)
  }

  /** Quantize to int in [-127, 127]: floor(v*scale + 0.5) — explicit
    * half-up, because Spark's round() (HALF_UP) and DuckDB's round()
    * (half away from zero) disagree on negative halves and the oracle
    * must replay this bit-for-bit. */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, v => floor(v.cast("double") * scale + lit(0.5)).cast("int"))

  def dequantizeInt8(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") / scale)

  /** Brute-force top-k over the int8-quantized corpus: queries stay
    * full precision, corpus vectors are quantize→dequantize
    * round-tripped — exactly the arithmetic a quantized index serves.
    * Same broadcast/narrow-scan shape as [[bruteForceTopK]]; the scale
    * win is the quantized corpus being the column that is stored and
    * shuffled. */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
  ): DataFrame = {
    val quant = corpus
      .withColumn("_scale", int8Scale(col(vecCol)))
      .withColumn("_qvec", quantizeInt8(col(vecCol), col("_scale")))
      // Bind the dequantized array BELOW the join: evaluated once per
      // corpus row instead of once per (row x query) candidate pair.
      .withColumn("_dqvec", dequantizeInt8(col("_qvec"), col("_scale")))
    val scored = quant
      .crossJoin(broadcast(queries))
      .filter(col(queryIdCol) =!= col(idCol))
      .withColumn("sim", round(cosine(col("_dqvec"), col(queryVecCol)), 6))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  /** The production ANN pattern: cheap quantized scoring proposes
    * `candidateK` candidates per query, exact full-precision cosine
    * re-ranks them to the final top-k. The expensive exact kernel runs
    * on |queries| x candidateK rows instead of |queries| x |corpus| —
    * the re-rank join carries only candidate ids, and the candidate
    * set (small by construction) broadcasts back onto the corpus to
    * fetch full-precision vectors. */
  def quantizedRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      candidateK: Int,
  ): DataFrame = {
    val cands = quantizedTopK(corpus, queries, idCol, vecCol, queryIdCol, queryVecCol, candidateK)
      .select(col(queryIdCol), col(idCol))
    val withVecs = corpus
      .join(broadcast(cands), Seq(idCol))
      .join(broadcast(queries), Seq(queryIdCol))
    val scored = withVecs
      .withColumn("sim", round(cosine(col(vecCol), col(queryVecCol)), 6))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  // -------------------------------------------------------------------
  // Product quantization (Jégou, Douze & Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)):
  // split each vector into m subspaces, vector-quantize each subspace
  // against its own ksub-entry codebook, and approximate an inner
  // product as the sum of m per-subspace table lookups (ADC —
  // asymmetric distance computation: the query side stays full
  // precision). The stored index is m small ints per vector — the
  // memory/bandwidth lever beyond int8: at m=8/ksub=256 a 64-float
  // vector stores as 8 bytes (32× under float32), and scoring a
  // candidate costs m array lookups instead of d multiplies. At 100 TB
  // the codes column is what scans and shuffles; full vectors are
  // touched only by the exact rerank on candidateK rows per query.
  // -------------------------------------------------------------------

  /** Per-subspace codebooks: (subspace j, centroid id, centroid
    * vector), cid dense in [0, ksub) per subspace, ORDERED so an ADC
    * lookup table indexes by cid. Trained with driver-side Lloyd
    * iterations over an EXPLICITLY CAPPED sample (`maxTrainRows` —
    * bounded collect by construction, the standard index-training
    * move: faiss trains its quantizers on a corpus sample too). One
    * bounded collect replaces m distributed KMeans fits, so index
    * build costs one small job regardless of m. Deterministic for a
    * fixed (corpus, seed): init picks evenly-strided rows of the
    * collected sample, ties in assignment break to the lower cid. The
    * caller persists the result next to the query output for replay /
    * audit (the oracle pattern [[ivfTopKWithCentroids]] established).
    */
  def pqCodebooks(
      df: DataFrame,
      vecCol: String,
      m: Int,
      subDim: Int,
      ksub: Int,
      maxTrainRows: Int = 2048,
      seed: Long = 42L,
      maxIter: Int = 10,
  ): Seq[(Int, Int, Seq[Double])] = {
    require(m >= 1 && subDim >= 1 && ksub >= 1, s"bad PQ shape: m=$m subDim=$subDim ksub=$ksub")
    val sample: Array[Array[Double]] = df
      .select(col(vecCol).cast("array<double>").as("v"))
      .filter(size(col("v")) >= m * subDim)
      .limit(maxTrainRows)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, s"PQ training sample is empty (need vectors of length >= ${m * subDim})")
    (0 until m).flatMap { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      val cents = lloyd(pts, ksub, maxIter, seed + j)
      cents.zipWithIndex.map { case (c, cid) => (j, cid, c.toIndexedSeq: Seq[Double]) }
    }
  }

  /** Plain Lloyd k-means on driver-held points: evenly-strided init
    * (deterministic, spread across the sample), L2 assignment with
    * lowest-index tie-break, empty clusters keep their previous
    * centroid. Bounded: points.length <= maxTrainRows by caller. */
  private def lloyd(
      points: Array[Array[Double]],
      k: Int,
      maxIter: Int,
      seed: Long,
  ): Array[Array[Double]] = {
    val n = points.length
    val dim = points(0).length
    // seed rotates the stride phase so subspaces with identical point
    // clouds still train independently
    val cents = Array.tabulate(math.min(k, n)) { i =>
      points(((i * n) / math.min(k, n) + (seed % n).toInt.abs) % n).clone()
    } ++ Array.tabulate(math.max(0, k - n))(i => points(i % n).clone())
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      var p = 0
      while (p < n) {
        var best = 0; var bestD = d2(points(p), cents(0)); var c = 1
        while (c < k) {
          val dd = d2(points(p), cents(c))
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        assign(p) = best; p += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      p = 0
      while (p < n) {
        val c = assign(p); counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += points(p)(i); i += 1 }
        p += 1
      }
      moved = false
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) {
            val v = sums(c)(i) / counts(c)
            if (v != cents(c)(i)) { cents(c)(i) = v; moved = true }
            i += 1
          }
        }
        c += 1
      }
      iter += 1
    }
    cents
  }

  /** Sum of squared differences of two double-array columns —
    * left-to-right fold, replayable as a DuckDB list_sum. */
  private def subL2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** IVF-PQ — the standard composition of the coarse quantizer and
    * product quantization (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"; the FAISS IVFPQ index): corpus
    * vectors live in IVF cells as narrow m-entry PQ codes; a query
    * probes its `nprobe` nearest cells, ADC-scores ONLY those cells'
    * codes (m LUT lookups per candidate, no vector math), keeps
    * `candidateK` proposals, and exact-cosine reranks them against
    * the original vectors.
    *
    * 100 TB shape: the scanned side is the narrow (id, cell, code)
    * frame — the full-precision vectors are touched only for the
    * |queries| × candidateK rerank rows (codes in memory, vectors on
    * storage: the FAISS deployment layout). The probe side (queries ×
    * LUTs × nprobe cell ids) broadcasts; candidate generation is a
    * broadcast hash join on the cell id, never a cross product —
    * [[pqRerankTopK]]'s crossJoin divided by the IVF selectivity
    * nprobe/|cells|. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      candidateK: Int,
      cents: Seq[(Int, Seq[Double])],
      nprobe: Int,
      codebooks: Seq[(Int, Int, Seq[Double])],
      subDim: Int,
  ): DataFrame = {
    val encoded = pqEncode(corpus, vecCol, codebooks, subDim, "_pq_code")
      .withColumn("_cell", nearestCentroid(cents, col(vecCol)))
      .select(col(idCol), col("_cell"), col("_pq_code"))
    ivfPqTopKEncoded(encoded, corpus, queries, idCol, vecCol, "_cell", "_pq_code",
      queryIdCol, queryVecCol, k, candidateK, cents, nprobe, codebooks, subDim)
  }

  /** IVF-PQ probe + ADC + rerank over a PRE-ENCODED corpus — the
    * serve path of a persisted index ([[IvfIndex]] with a PQ
    * component): `encoded` carries (idCol, cellCol, codeCol) computed
    * once at index-build time, so a query call never encodes or
    * assigns the corpus — it scans the narrow codes table (pruned to
    * the probed cells via the broadcast probe join's DPP when the
    * table is cell-partitioned), ADC-scores with m LUT lookups per
    * candidate, ranks 24-byte rows, and exact-reranks only the
    * |queries| × candidateK survivors against the full vectors. */
  def ivfPqTopKEncoded(
      encoded: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      codeCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      candidateK: Int,
      cents: Seq[(Int, Seq[Double])],
      nprobe: Int,
      codebooks: Seq[(Int, Int, Seq[Double])],
      subDim: Int,
  ): DataFrame = {
    val m = codebooks.map(_._1).max + 1
    val withLuts = (0 until m).foldLeft(queries) { (acc, j) =>
      val qsub = slice(col(queryVecCol).cast("array<double>"), j * subDim + 1, subDim)
      acc.withColumn(s"_qsub_$j", qsub)
        .withColumn(s"_lut_$j",
          transform(subCodebookLit(codebooks, j), c => dot(col(s"_qsub_$j"), c.getField("_2"))))
        .drop(s"_qsub_$j")
    }
    val probes = withLuts.withColumn("_probe",
      probeCells(cents, col(queryVecCol), nprobe))
    val adc = (0 until m)
      .map(j => element_at(col(s"_lut_$j"), element_at(col(codeCol), j + 1) + 1))
      .reduce(_ + _)
    val cands = encoded
      .join(broadcast(probes), encoded(cellCol) === probes("_probe"))
      .filter(col(queryIdCol) =!= col(idCol))
      .withColumn("sim", round(adc, 6))
    val top = rankTopK(cands, queryIdCol, idCol, candidateK)
      .select(col(queryIdCol), col(idCol))
    val scored = corpus
      .join(broadcast(top), Seq(idCol))
      .join(broadcast(queries), Seq(queryIdCol))
      .withColumn("sim", round(cosine(col(vecCol), col(queryVecCol)), 6))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  /** Codebook entries of one subspace, cid-ascending, as a literal
    * array<struct<_1:cid, _2:cvec>> (same shape as the IVF centroid
    * literal). */
  private def subCodebookLit(codebooks: Seq[(Int, Int, Seq[Double])], j: Int): Column =
    typedlit(codebooks.filter(_._1 == j).sortBy(_._2).map(c => (c._2, c._3)))

  /** PQ-encode: append `codeCol` = array of m centroid ids (argmin
    * squared L2 per subspace, ties to the lower cid — array_min on
    * struct(dist, cid) is lexicographic). A narrow projection fused
    * into the scan; the temp subspace slices are bound as columns so
    * nothing expensive re-evaluates inside the HOF lambdas. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      codebooks: Seq[(Int, Int, Seq[Double])],
      subDim: Int,
      codeCol: String = "pq_code",
  ): DataFrame = {
    val m = codebooks.map(_._1).max + 1
    val withSubs = (0 until m).foldLeft(df) { (acc, j) =>
      acc.withColumn(s"_sub_$j",
        slice(col(vecCol).cast("array<double>"), j * subDim + 1, subDim))
    }
    val codes = (0 until m).map { j =>
      array_min(transform(subCodebookLit(codebooks, j), c =>
        struct(subL2sq(col(s"_sub_$j"), c.getField("_2")).as("d"),
          c.getField("_1").as("cid")))).getField("cid")
    }
    (0 until m).foldLeft(withSubs.withColumn(codeCol, array(codes: _*))) {
      (acc, j) => acc.drop(s"_sub_$j")
    }
  }

  /** End-to-end PQ ANN: ADC scoring over the m-byte codes proposes
    * `candidateK` candidates per query, exact full-precision cosine
    * re-ranks them to the final k ([[quantizedRerankTopK]]'s contract
    * at PQ compression). Queries broadcast with their per-subspace
    * lookup tables precomputed (m × ksub doubles each), so scoring a
    * corpus row is m array lookups — no vector arithmetic touches the
    * corpus scan, and the raw vector column is read only by the
    * rerank's candidate join. */
  def pqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      candidateK: Int,
      codebooks: Seq[(Int, Int, Seq[Double])],
      subDim: Int,
  ): DataFrame = {
    val m = codebooks.map(_._1).max + 1
    val encoded = pqEncode(corpus, vecCol, codebooks, subDim, "_pq_code")
      .select(col(idCol), col("_pq_code"))
    // query-side LUTs: lut_j[cid+1] = <q_sub_j, centroid(j, cid)>
    val withLuts = (0 until m).foldLeft(queries) { (acc, j) =>
      val qsub = slice(col(queryVecCol).cast("array<double>"), j * subDim + 1, subDim)
      acc.withColumn(s"_qsub_$j", qsub)
        .withColumn(s"_lut_$j",
          transform(subCodebookLit(codebooks, j), c => dot(col(s"_qsub_$j"), c.getField("_2"))))
        .drop(s"_qsub_$j")
    }
    val adc = (0 until m)
      .map(j => element_at(col(s"_lut_$j"), element_at(col("_pq_code"), j + 1) + 1))
      .reduce(_ + _)
    val cands = encoded
      .crossJoin(broadcast(withLuts))
      .filter(col(queryIdCol) =!= col(idCol))
      .withColumn("sim", round(adc, 6))
    val top = rankTopK(cands, queryIdCol, idCol, candidateK)
      .select(col(queryIdCol), col(idCol))
    val scored = corpus
      .join(broadcast(top), Seq(idCol))
      .join(broadcast(queries), Seq(queryIdCol))
      .withColumn("sim", round(cosine(col(vecCol), col(queryVecCol)), 6))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  /** Pairs above a cosine threshold within a blocking key (embedding
    * near-dup detection). Blocking (label/shard/LSH bucket) bounds the
    * pair count; the full-corpus variant should block on
    * [[lshBucket]]. */
  def blockedCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
  ): DataFrame = {
    val s = df.select(col(blockCol).as("block"), col(idCol), col(vecCol))
    val a = s.select(col("block"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = s.select(col("block"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-cosine near-dup dedup: drop the larger id of every
    * pair at sim ≥ threshold within a blocking key (keep-min-id, the
    * same drop rule as text near-dup dedup). */
  def cosineDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
  ): DataFrame = {
    val losers = blockedCosinePairs(df, idCol, vecCol, blockCol, threshold)
      .select(col("id_b").as(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Sign-random-projection LSH signature: bit j = sign(v · plane_j)
    * with pseudo-random plane components derived from the
    * [[graft.functions.GHash]] multiply–gmix64 chain — deterministic,
    * no stored model, SQL-replayable (the v3/v6 oracles recompute the
    * buckets in HUGEINT arithmetic), `salt` selects an independent
    * hash table. nBits ≤ 32. Backed by the native
    * [[graft.functions.SrpSignature]] kernel (one tight loop per
    * vector; the HOF form below re-enters the interpreter per element
    * per bit). */
  def lshSignature(vec: Column, nBits: Int, salt: Int = 0): Column = {
    // 1 << j wraps mod 32 in the kernel — nBits > 32 would silently
    // fold high-plane votes onto low bits and corrupt every bucket.
    require(nBits >= 1 && nBits <= 32, s"nBits must be in [1, 32], got $nBits")
    call_function("graft_srp_sig", vec.cast("array<double>"), lit(nBits), lit(salt))
  }

  /** Interpreted HOF formulation — kept for cross-checking the native
    * kernel in tests (must be bit-identical). Built from the same
    * [[graft.functions.GHash]] plane chain, expressed with wrapping
    * long arithmetic + shiftrightunsigned/bitwiseXOR builtins. */
  def lshSignatureHof(vec: Column, nBits: Int, salt: Int = 0): Column = {
    import graft.functions.GHash
    val bits = (0 until nBits).map { j =>
      val a = GHash.srpA(salt, j)
      val b = GHash.srpB(salt, j)
      val proj = aggregate(
        zip_with(
          vec,
          sequence(lit(1L), size(vec).cast("long")),
          (x, i) => {
            // u = a·i + b (wrapping); m = (gmix64(u) >>> 54)/1024 − 0.5
            val u = lit(a) * i + lit(b)
            val mixed = shiftrightunsigned(u, 32).bitwiseXOR(u) * lit(GHash.FnvPrime)
            val m = shiftrightunsigned(mixed, 54).cast("double") / 1024.0 - 0.5
            x.cast("double") * m
          },
        ),
        lit(0.0),
        (acc, v) => acc + v,
      )
      when(proj > 0.0, shiftleft(lit(1), j)).otherwise(0)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH bucket id for the scale path of near-neighbor search: vectors
    * in the same bucket are candidate neighbors. */
  def lshBucket(vec: Column, nBits: Int = 16): Column = lshSignature(vec, nBits)

  /** One row per (vector, table): id, vec, the full `_buckets` array
    * and this table's (_t, _bucket) — the shared blocking frame of
    * [[lshCosinePairs]] and [[lshCosineDedup]], so the bucketing
    * scheme (salt chain, bit width, null policy) can never diverge
    * between the two operators. */
  private def lshExploded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nBits: Int,
      tables: Int,
  ): DataFrame =
    df.select(
      col(idCol), col(vecCol),
      array((0 until tables).map(t => lshSignature(col(vecCol), nBits, t)): _*).as("_buckets"))
      .select(
        col(idCol), col(vecCol), col("_buckets"),
        posexplode_outer(col("_buckets")).as(Seq("_t", "_bucket")))

  /** Full-corpus near-dup pairs with NO pre-existing blocking column:
    * multi-table sign-random-projection LSH supplies the blocks.
    * Each of the `tables` independent hash tables buckets every vector
    * into 2^nBits buckets; candidates meet in a per-(table, bucket)
    * hash join — never a cross product — and are verified with the
    * native cosine kernel, so precision is exact and only recall
    * trades against cost (more tables / fewer bits → higher recall).
    * A pair colliding in several tables is emitted from its FIRST
    * agreeing table only (array_position over the carried bucket
    * arrays — `tables` small ints per side), replacing a full
    * DISTINCT shuffle over emitted pairs with a per-row predicate.
    * Scale shape: shuffle keys are (table, bucket); hot buckets cost
    * O(B²) verified candidates — nBits controls B. */
  def lshCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 12,
      tables: Int = 4,
  ): DataFrame = {
    val exploded = lshExploded(df, idCol, vecCol, nBits, tables)
    val a = exploded.select(col("_t"), col("_bucket"),
      col(idCol).as("id_a"), col(vecCol).as("_v_a"), col("_buckets").as("_ba"))
    val b = exploded.select(col("_t"), col("_bucket"),
      col(idCol).as("id_b"), col(vecCol).as("_v_b"), col("_buckets").as("_bb"))
    // First table where the two bucket arrays agree, as a nested CASE
    // over `tables` int comparisons — fully codegen'd. (A zip_with +
    // array_position HOF here re-enters the interpreter once per
    // CANDIDATE PAIR, which dominated the whole query.)
    val firstAgreeingTable = (0 until tables).foldRight(lit(-1)) { (t, rest) =>
      when(col("_ba").getItem(t) === col("_bb").getItem(t), lit(t)).otherwise(rest)
    }
    a.join(b, Seq("_t", "_bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstAgreeingTable === col("_t"))
      .withColumn("sim", round(cosine(col("_v_a"), col("_v_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-level benchmark decontamination — the semantic analog
    * of the n-gram containment check (Decontamination): drop every
    * corpus vector whose cosine to ANY eval-set vector reaches
    * `threshold`. Candidates are blocked by the same multi-table
    * SRP-LSH as lshCosineDedup, so corpus × eval never materializes;
    * the eval side (benchmarks are small by definition) is BROADCAST
    * after its bucket explode — the corpus never shuffles for the
    * probe, only for the final distinct + anti-join on its own id.
    * Recall is the LSH recall at the chosen (nBits, tables); matches
    * are verified with exact cosine, so precision is exact. */
  def semanticDecontaminate(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      evalIdCol: String,
      evalVecCol: String,
      threshold: Double,
      nBits: Int = 6,
      tables: Int = 8,
  ): DataFrame = {
    val c = lshExploded(corpus, idCol, vecCol, nBits, tables)
      .select(col("_t"), col("_bucket"), col(idCol), col(vecCol))
    val e = lshExploded(eval, evalIdCol, evalVecCol, nBits, tables)
      .select(col("_t"), col("_bucket"), col(evalVecCol).as("_evec"))
    val contaminated = c.join(broadcast(e), Seq("_t", "_bucket"))
      .filter(round(cosine(col(vecCol), col("_evec")), 6) >= threshold)
      .select(col(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Full-corpus embedding near-dup dedup (keep-min-id survivors) —
    * [[cosineDedup]] without requiring a label/shard column: the LSH
    * tables of [[lshCosinePairs]] provide the blocking.
    *
    * Dedup does NOT need the full candidate-pair enumeration: each
    * vector is verified against at most ONE representative per table —
    * the min-id member of its bucket (min_by hash aggregate) — so
    * per-bucket cost is O(B) instead of the O(B²) of the pairs op.
    * Linear in corpus size per table: the same representative trick as
    * the MinHash dedup path. A member is dropped when it is
    * over-threshold similar to a bucket representative with a smaller
    * id; tight near-dup clusters share buckets and collapse onto the
    * cluster's min id. */
  def lshCosineDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 12,
      tables: Int = 4,
  ): DataFrame = {
    val exploded = lshExploded(df, idCol, vecCol, nBits, tables)
    val reps = exploded.groupBy("_t", "_bucket")
      .agg(min_by(struct(col(idCol), col(vecCol)), col(idCol)).as("_rep"))
      .select(col("_t"), col("_bucket"),
        col(s"_rep.$idCol").as("_rep_id"), col(s"_rep.$vecCol").as("_rep_vec"))
    val losers = exploded.join(reps, Seq("_t", "_bucket"))
      .filter(col(idCol) > col("_rep_id"))
      .filter(round(cosine(col(vecCol), col("_rep_vec")), 6) >= threshold)
      .select(col(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are
    * assigned to their nearest centroid (the "coarse quantizer"); a
    * query scores only the lists of its `nprobe` nearest centroids.
    *
    * Centroids here are seed vectors selected by `centroidFilter`,
    * capped at `maxCentroids` (deterministically, by id order) and
    * collected to the driver — the bounded index-build step; a real
    * deployment would k-means a sample, the operator shape is
    * identical. The centroid table ships to executors as ONE array
    * literal (plan size O(1), not O(C) expression terms), so
    * assignment is a pure narrow map — C native cosine kernels per
    * row, no shuffle; the only shuffle is the hash join on centroid
    * id plus the per-query top-k window. Recall/cost trades via
    * nprobe. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      centroidFilter: Column,
      nprobe: Int = 2,
      maxCentroids: Int = 256,
  ): DataFrame =
    ivfTopKWithCentroids(corpus, queries, idCol, vecCol, queryIdCol, queryVecCol,
      k, seedCentroids(corpus, idCol, vecCol, centroidFilter, maxCentroids), nprobe)

  /** Deterministic seed-vector centroid table: rows matched by
    * `filter`, capped at `maxCentroids` by id order, collected to the
    * driver (the bounded index-build step — at most maxCentroids × dim
    * doubles). Shared by [[ivfTopK]] and [[semDedup]]. */
  def seedCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      filter: Column,
      maxCentroids: Int = 256,
  ): Seq[(Int, Seq[Double])] = {
    val cents: Seq[(Int, Seq[Double])] = corpus
      .filter(filter)
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol))
      .limit(maxCentroids)
      .collect()
      .toIndexedSeq
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble)) }
    require(cents.nonEmpty, "centroid filter matched no seed vectors")
    cents
  }

  /** Real IVF index build: centroids from `spark.ml` KMeans over a
    * (sampled) corpus — the production path the seed-vector variant
    * approximates. The model holds k × dim doubles on the driver
    * (bounded by construction); everything downstream is identical to
    * [[ivfTopK]]. */
  def kmeansCentroids(
      df: DataFrame,
      vecCol: String,
      k: Int,
      sampleFraction: Double = 1.0,
      seed: Long = 42L,
      maxIter: Int = 10,
  ): Seq[(Int, Seq[Double])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sampled =
      (if (sampleFraction < 1.0) df.sample(withReplacement = false, sampleFraction, seed) else df)
        .select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter).fit(sampled)
    model.clusterCenters.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toIndexedSeq) }
  }

  def ivfTopKKMeans(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      numCentroids: Int,
      nprobe: Int = 2,
      sampleFraction: Double = 1.0,
  ): DataFrame =
    ivfTopKWithCentroids(corpus, queries, idCol, vecCol, queryIdCol, queryVecCol,
      k, kmeansCentroids(corpus, vecCol, numCentroids, sampleFraction), nprobe)

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-duplicate removal for training corpora. Cluster
    * embeddings to their nearest centroid — the paper's k-means step,
    * here the same deterministic seed-centroid coarse quantizer the
    * IVF index uses ([[seedCentroids]] / [[kmeansCentroids]] both
    * fit) — then inside each cluster drop the higher id of every pair
    * at cosine ≥ threshold (keep-min-id, the engine-wide drop rule).
    *
    * Scale shape: assignment is a pure narrow map (the centroid table
    * ships as ONE array literal, C native cosine kernels per row, no
    * shuffle); the dedup shuffles on cluster id and is quadratic only
    * within a cluster. A fixed centroid count bounds the NUMBER of
    * clusters, not the size of any one: a near-dup-heavy corpus — the
    * exact SemDeDup use case — can concentrate most embeddings near a
    * single centroid, and an unbounded in-cluster self-join is then
    * O(n²) on one shuffle key. `maxClusterSize` is the guard: clusters
    * at or under it get the paper's exact all-pairs semantics;
    * clusters over it fall through to the linear min-id-representative
    * form ([[lshCosineDedup]] / minhashDedupLinear's trick — each
    * member verifies against only its cluster's min-id vector, O(n)
    * per cluster). The trade is recall, not precision: an oversized
    * cluster drops only members over-threshold similar to its
    * representative — and oversized clusters are precisely the tight
    * near-dup blobs where everything IS similar to the representative,
    * so the fall-through loses little. Cluster sizes are one
    * centroid-count-sized aggregate (≤ |cents| rows, always
    * broadcast). Never an all-pairs corpus join, never unbounded
    * per-key work. */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Int, Seq[Double])],
      threshold: Double,
      maxClusterSize: Int = 4096,
  ): DataFrame =
    semDedupAssigned(df, df.withColumn("_cid", nearestCentroid(cents, col(vecCol))),
      idCol, vecCol, threshold, maxClusterSize)

  /** [[semDedup]] over a PRE-ASSIGNED frame — the serve path of a
    * persisted index ([[IvfIndex]]): `assigned` carries (idCol,
    * vecCol, `_cid`) with the cluster id computed once at
    * index-build/refresh time, so the per-call plan never touches the
    * centroid table at all — it is the size gate + the two loser
    * paths + the anti-join, every stage linear in the corpus with
    * cluster-bounded per-key work. `df` is the full-width corpus the
    * survivors project from (the anti-join side). */
  def semDedupAssigned(
      df: DataFrame,
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxClusterSize: Int = 4096,
  ): DataFrame = {
    require(maxClusterSize >= 1, s"maxClusterSize must be >= 1, got $maxClusterSize")
    // ≤ |cents| rows — always broadcastable, regardless of corpus size.
    val sizes = assigned.groupBy(col("_cid")).agg(count(lit(1)).as("_csize"))
    val sized = assigned.join(broadcast(sizes), Seq("_cid"))
    // Exact all-pairs inside bounded clusters (the paper's semantics).
    val losersSmall = blockedCosinePairs(
      sized.filter(col("_csize") <= maxClusterSize), idCol, vecCol, "_cid", threshold)
      .select(col("id_b").as(idCol))
    // Oversized clusters: linear min-id representative — one verified
    // candidate per member, never B² pairs on a hot key. The
    // fall-through is observable, not silent: cluster count / max size
    // / declined pair count ride the reps aggregate as an observe()
    // metric (one row per oversized cluster, zero extra jobs) and are
    // logged by SkewTelemetry after the action.
    graft.quality.SkewTelemetry.ensureRegistered(df.sparkSession)
    val big = sized.filter(col("_csize") > maxClusterSize)
    val reps = big.groupBy(col("_cid"))
      .agg(min_by(struct(col(idCol), col(vecCol)), col(idCol)).as("_rep"),
        max(col("_csize")).as("_csz"))
      .observe(graft.quality.SkewTelemetry.nextMetricName("semdedup"),
        count(lit(1)).as("oversized_clusters"),
        coalesce(max(col("_csz")), lit(0L)).as("max_cluster_size"),
        coalesce(sum(shiftright((col("_csz") - 1) * (col("_csz") - 2), 1)), lit(0L))
          .as("skipped_pairs"))
      .select(col("_cid"),
        col(s"_rep.$idCol").as("_rep_id"), col(s"_rep.$vecCol").as("_rep_vec"))
    val losersBig = big.join(reps, Seq("_cid"))
      .filter(col(idCol) > col("_rep_id"))
      .filter(round(cosine(col(vecCol), col("_rep_vec")), 6) >= threshold)
      .select(col(idCol))
    val losers = losersSmall.union(losersBig).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** IVF probe + top-k over an explicit centroid table — the shared
    * tail of [[ivfTopK]] (seed centroids) and [[ivfTopKKMeans]]
    * (fitted centroids). Public so callers that need the centroid
    * table itself (e.g. to persist it next to the result for an
    * external replay/audit) can build it once and pass it in. */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      cents: Seq[(Int, Seq[Double])],
      nprobe: Int,
  ): DataFrame = {
    val assigned = corpus.withColumn("_cell",
      nearestCentroid(cents, col(vecCol)))
    ivfTopKAssigned(assigned, queries, idCol, vecCol, "_cell",
      queryIdCol, queryVecCol, k, cents, nprobe)
  }

  /** All centroids as ONE literal column —
    * array<struct<_1:cid,_2:vec>>: plan size O(1) literal data, not
    * O(C) expression terms. Shared by every coarse-quantizer op. */
  private def centroidLit(cents: Seq[(Int, Seq[Double])]): Column = typedlit(cents)

  /** (sim, cid) struct per centroid — array_max over it is the
    * assignment rule (ties break to the LARGER cid, array_max's
    * lexicographic struct order; the oracle replays it as
    * ORDER BY cos DESC, cid DESC). */
  private def simToCentroids(cents: Seq[(Int, Seq[Double])], vec: Column): Column =
    transform(centroidLit(cents), c =>
      struct(cosine(vec, c.getField("_2")).as("sim"), c.getField("_1").as("cid")))

  def nearestCentroid(cents: Seq[(Int, Seq[Double])], vec: Column): Column =
    array_max(simToCentroids(cents, vec)).getField("cid")

  /** The nprobe nearest centroid ids of a query vector, exploded —
    * one probe row per (query, probed cell). */
  def probeCells(cents: Seq[(Int, Seq[Double])], vec: Column, nprobe: Int): Column =
    explode(transform(
      slice(reverse(array_sort(simToCentroids(cents, vec))), 1, nprobe),
      s => s.getField("cid")))

  /** IVF probe + top-k over a PRE-ASSIGNED corpus — the serve path of
    * a persisted index ([[IvfIndex]]): the corpus frame already
    * carries its cell id (computed once at index-build/refresh time),
    * so the per-call work is probes (narrow map over the small query
    * side) + one hash join on the cell id + the slim top-k. When the
    * assigned frame is a cell-partitioned published table, the join's
    * broadcast side drives dynamic partition pruning — the scan reads
    * only the probed lists, which is the whole point of IVF at
    * 100 TB. */
  def ivfTopKAssigned(
      assigned: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      cents: Seq[(Int, Seq[Double])],
      nprobe: Int,
  ): DataFrame = {
    val probes = queries
      .withColumn("_probe", probeCells(cents, col(queryVecCol), nprobe))
    val scored = assigned
      .join(broadcast(probes), assigned(cellCol) === probes("_probe"))
      .filter(col(queryIdCol) =!= col(idCol))
      .withColumn("sim", round(cosine(col(vecCol), col(queryVecCol)), 6))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  /** Cluster-balanced diversity subsample: assign each vector to its
    * nearest centroid (the same coarse quantizer as [[semDedup]] /
    * [[ivfTopK]], same max-cosine tie-to-higher-cid rule), then keep
    * at most `perClusterBudget` vectors per cluster in deterministic
    * md5-hash order. The diversity-preserving counterpart of a uniform
    * sample: dense head clusters are capped while tail clusters
    * survive whole, so the kept set covers the embedding space instead
    * of mirroring its density — the cluster-based selection move of
    * curation pipelines (SemDeDup's cluster frame, arXiv:2303.09540;
    * DataComp-style clustering filters). The per-cluster order is a
    * pure function of (salt, id) — the md5 trick every
    * [[graft.text.Sampling]] op uses — so re-runs and other engines
    * agree row-for-row, and a different salt draws a different
    * deterministic sample.
    *
    * Scale shape: assignment is a narrow map against the broadcast
    * centroid literal (no shuffle), then ONE window partitioned by
    * cluster id — per-partition work bounded by cluster size. A
    * cluster that outgrows an executor takes the same two-pass remedy
    * as the exact-budget samplers: pre-cut with
    * [[graft.text.Sampling.deterministicSample]] at fraction ≈
    * budget/size from table stats, then this exact trim. */
  def clusterBalancedSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Int, Seq[Double])],
      perClusterBudget: Int,
      salt: String = "",
  ): DataFrame = {
    require(perClusterBudget >= 1, s"perClusterBudget must be >= 1, got $perClusterBudget")
    val nearest = array_max(transform(typedlit(cents), c =>
      struct(cosine(col(vecCol), c.getField("_2")).as("sim"),
        c.getField("_1").as("cid")))).getField("cid")
    val hash = md5(concat_ws(":", lit(salt), col(idCol).cast("string")))
    val w = Window.partitionBy(col("cluster_id")).orderBy(hash, col(idCol))
    df.withColumn("cluster_id", nearest)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= perClusterBudget)
      .drop("_rn")
  }

  /** LSH-bucket probe: approximate top-k that only scores corpus
    * vectors whose LSH bucket matches one of the query's. Recall is
    * tunable via nBits (fewer bits → bigger buckets → higher recall).
    * Join is a hash shuffle on bucket — no broadcast of the corpus, no
    * cross product: the 100 TB shape. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nBits: Int = 8,
  ): DataFrame = {
    val c = corpus.withColumn("bucket", lshBucket(col(vecCol), nBits))
    val q = queries.withColumn("bucket", lshBucket(col(queryVecCol), nBits))
    val scored = c
      .join(q, Seq("bucket"))
      .filter(col(queryIdCol) =!= col(idCol))
      .withColumn("sim", round(cosine(col(vecCol), col(queryVecCol)), 6))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  /** Signature width that keeps the EXPECTED bucket size near
    * `targetBucket` as the corpus grows: the largest b in
    * [minBits, maxBits] with n ≥ targetBucket·2^b (minBits when the
    * corpus is smaller than targetBucket·2^minBits). Pure integer
    * comparisons on purpose — a floor(log2(n/target)) formulation
    * computed as doubles can disagree between engines at exact
    * power-of-two boundaries, and the DuckDB oracle replays this
    * ladder with the same integer comparisons
    * (SparkEntry.adaptiveBitsSql). This is the lever that makes
    * [[lshMultiProbeTopK]]'s candidate volume SUBLINEAR in the corpus:
    * bits (and with them bucket count) rise with log n, so
    * candidates/query ≈ probes(b)·n/2^b ≈ probes(b)·targetBucket grows
    * only with the polylog probe count, not with n. */
  def adaptiveNBits(
      n: Long,
      targetBucket: Long = 128,
      minBits: Int = 4,
      maxBits: Int = 24,
  ): Int = {
    // maxBits bounds the probe count (O(b²) at hamming 2) and must
    // stay ≤ 32 (int bucket). 24 was 16 through r14 — the r15 sf100
    // probe measured the cost of the cap directly: at 50M vectors the
    // ladder saturated at 16 bits, expected bucket size grew from
    // ~128 to 763, and v3's decade exponent jumped from 0.53 to 1.78.
    // 24 bits keeps buckets at target up to ~2.1e9 vectors (128·2^24).
    require(targetBucket >= 1 && minBits >= 1 && maxBits >= minBits && maxBits <= 32)
    var b = minBits
    while (b < maxBits && n >= (targetBucket << (b + 1))) b += 1
    b
  }

  /** The multi-probe mask set: every XOR mask of Hamming weight ≤
    * `probeHamming` over `nBits` bits, identity mask first.
    * 1 + nBits + C(nBits,2) masks at the default hamming 2,
    * + C(nBits,3) at hamming 3 — the top of the measured recall dial
    * (0.04 / 0.22 / 0.49 per radius step at sf1: ARCHITECTURE.md "The
    * knobs, measured", raw in MEASUREMENTS_R11.json ann_knobs_sf1); the
    * cap at 3 keeps probe volume O(b³), still polylog under the
    * adaptive-bits rule. */
  def multiProbeMasks(nBits: Int, probeHamming: Int): Seq[Int] = {
    require(probeHamming >= 0 && probeHamming <= 3,
      s"probeHamming must be in [0, 3], got $probeHamming")
    val h1 = if (probeHamming >= 1) (0 until nBits).map(1 << _) else Seq.empty
    val h2 =
      if (probeHamming >= 2)
        for { i <- 0 until nBits; j <- (i + 1) until nBits } yield (1 << i) | (1 << j)
      else Seq.empty
    val h3 =
      if (probeHamming >= 3)
        for {
          i <- 0 until nBits; j <- (i + 1) until nBits; l <- (j + 1) until nBits
        } yield (1 << i) | (1 << j) | (1 << l)
      else Seq.empty
    0 +: (h1 ++ h2 ++ h3)
  }

  /** Multi-probe SRP LSH top-k (Lv et al., VLDB 2007): each query
    * probes its own bucket AND every bucket within Hamming distance
    * `probeHamming` of its signature — the buckets a true neighbor
    * lands in when 1–2 plane projections flip sign, which is exactly
    * how SRP recall is lost. Probing neighbors instead of adding
    * hash tables means the signature can be WIDER at the same recall,
    * and wider signatures are what bend candidate volume sublinear
    * (see [[adaptiveNBits]]): single-probe at fixed bits scans
    * n/2^b ∝ n candidates per query (the measured 0.95 exponent of
    * the round-8 v3), while adaptive bits + multi-probe scan
    * ≈ probes(b)·targetBucket, growing only polylogarithmically.
    *
    * Scale shape: the probe explode multiplies only the QUERY side
    * (small by definition) by the mask count; the corpus computes one
    * signature per vector and shuffles once on bucket — never
    * explodes, never broadcasts. Each (query, corpus) pair meets at
    * most once because the probe buckets of one query are distinct
    * values of the single corpus bucket key, so no dedup shuffle is
    * needed before ranking. Recall is tunable via (targetBucket,
    * probeHamming); precision is exact (candidates verified with the
    * native cosine kernel). */
  def lshMultiProbeTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nBits: Int,
      probeHamming: Int = 2,
  ): DataFrame = {
    require(nBits >= 1 && nBits <= 32, s"nBits must be in [1, 32], got $nBits")
    val masks = multiProbeMasks(nBits, probeHamming)
    val c = corpus.withColumn("bucket", lshBucket(col(vecCol), nBits))
    val q = queries
      .withColumn("_sig", lshBucket(col(queryVecCol), nBits))
      .withColumn("bucket",
        explode(array(masks.map(m => col("_sig").bitwiseXOR(lit(m))): _*)))
      .drop("_sig")
    val scored = c
      .join(q, Seq("bucket"))
      .filter(col(queryIdCol) =!= col(idCol))
      .withColumn("sim", round(cosine(col(vecCol), col(queryVecCol)), 6))
    rankTopK(scored, queryIdCol, idCol, k)
  }
}
