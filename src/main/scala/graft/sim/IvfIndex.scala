package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.views.Refresh
import graft.warehouse.PersistedIndex

/** Persisted, refresh-maintained IVF index — the t30 corpus-stats
  * pattern applied to an ANN index (reference analog: the MV registry
  * of refresh_views.py:24-34 maintaining read-side summaries; engine
  * precedent: [[graft.text.CorpusStats]]).
  *
  * The r15 third-decade probe measured exactly why per-call coarse
  * quantization does not survive scale: `v4_ivf_topk` re-selected and
  * re-assigned 256 fixed centroids inside every query call (decade-3
  * exponent 1.43 — the corpus×centroids assignment pass grows with n
  * while the centroid count does not, so list occupancy grows
  * linearly and probes scan ever-fatter lists). This module moves ALL
  * of that to REFRESH time and makes the centroid count
  * scale-adaptive:
  *
  *   - '''centroid count''' k = 2^b from the SAME integer ladder as
  *     [[Similarity.adaptiveNBits]] (largest b with
  *     n ≥ targetList·2^(b+1), clamped to [minBits, maxBits]) — so
  *     expected list occupancy stays in [targetList, 2·targetList)
  *     as the corpus grows, and probe cost per query stays
  *     ≈ nprobe·targetList instead of n/k_fixed;
  *   - '''centroids''' from `spark.ml` KMeans over a bounded sample
  *     (≥ sampleFactor·k rows — the driver holds k×dim doubles, the
  *     same bounded-collect class as every index build here);
  *   - '''inverted lists''' (id, vec, cell) published PARTITIONED BY
  *     cell — a probe join against the broadcast query side prunes
  *     the scan to the probed lists (dynamic partition pruning), the
  *     I/O-level selectivity a 100 TB serve path needs;
  *   - optional '''PQ component''' (codebooks + per-row codes keyed
  *     by cell) so the IVF-PQ serve path scans only narrow codes and
  *     touches full vectors only in the exact rerank;
  *   - everything publishes through the M2 atomic swap
  *     ([[graft.views.Refresh.refreshView]]) — readers never see a
  *     half-written index — kept valid by
  *     [[graft.warehouse.PersistedIndex]], whose meta records `k`.
  *
  * At 100 TB: the build is a scheduled refresh job (one KMeans fit on
  * a sample + one assignment scan of the corpus — map-side narrow,
  * k×dim literal), amortized across every query between refreshes;
  * the serve path reads published parquet and runs probes + one hash
  * join + a slim top-k. Very large k (beyond ~2^16) would want a
  * two-level quantizer for the assignment scan; the ladder's maxBits
  * bounds k well below that here.
  */
object IvfIndex {

  /** Bumped whenever the build layout or assignment rule changes —
    * a persisted index from an older version never serves. */
  val Version = 1

  final case class PqParams(
      m: Int,
      subDim: Int,
      ksub: Int,
      maxTrainRows: Int = 2048)

  final case class Params(
      targetList: Long = 1024L,
      minBits: Int = 2,
      maxBits: Int = 12,
      sampleFactor: Int = 8,
      minSampleRows: Int = 4096,
      kmeansMaxIter: Int = 10,
      seed: Long = 42L,
      pq: Option[PqParams] = None) {
    require(targetList >= 1 && minBits >= 1 && maxBits >= minBits && maxBits <= 16,
      s"bad ladder: targetList=$targetList bits=[$minBits,$maxBits]")
    require(sampleFactor >= 1 && minSampleRows >= 1, "bad sample bounds")
  }

  /** Everything a serve path needs to locate the published tables.
    * `k` is the realized centroid count of the CURRENT build. */
  final case class Handle(warehouse: String, name: String, k: Int) {
    def centroidsPath: String = Refresh.viewPath(warehouse, s"${name}_centroids")
    def cellsPath: String = Refresh.viewPath(warehouse, s"${name}_cells")
    def codebooksPath: String = Refresh.viewPath(warehouse, s"${name}_codebooks")
    def codesPath: String = Refresh.viewPath(warehouse, s"${name}_codes")
    def metaPath: String = Refresh.viewPath(warehouse, s"${name}_meta")
  }

  /** The scale-adaptive centroid count: k = 2^adaptiveNBits — the
    * proven v3 ladder re-used verbatim, so k (and with it expected
    * list occupancy n/k ∈ [targetList, 2·targetList)) moves in exact
    * integer lockstep with corpus size on every engine. */
  def centroidCount(n: Long, p: Params): Int =
    1 << Similarity.adaptiveNBits(n, p.targetList, p.minBits, p.maxBits)

  /** Return a handle to a valid index for (corpus, params), building
    * it if absent or stale. Staleness = meta missing, or any of
    * (version, params, corpus fingerprint over the id and vector
    * columns) changed — see [[graft.warehouse.PersistedIndex]]. The
    * realized `k` comes from the meta, so a warm call counts nothing. */
  def ensure(
      spark: SparkSession,
      warehouse: String,
      name: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      p: Params,
  ): Handle = {
    val metaPath = Handle(warehouse, name, k = 0).metaPath
    val params = p.productElementNames.zip(p.productIterator).toSeq
    val meta = PersistedIndex.ensure(spark, metaPath, Version, params, corpus, Seq(idCol, vecCol)) { n =>
      require(n > 0, s"cannot build an IVF index over an empty corpus ($name)")
      val k = centroidCount(n, p)
      // KMeans over a bounded sample: ≥ sampleFactor·k rows (KMeans
      // needs comfortably more points than clusters), ≥ minSampleRows
      // for stability at small k, capped at the full corpus.
      val sampleRows = math.max(p.sampleFactor.toLong * k, p.minSampleRows.toLong)
      val fraction = math.min(1.0, sampleRows.toDouble / n)
      val cents = Similarity.kmeansCentroids(
        corpus, vecCol, k, sampleFraction = fraction,
        seed = p.seed, maxIter = p.kmeansMaxIter)

      Refresh.refreshView(spark, warehouse, Refresh.ViewJob(s"${name}_centroids",
        s => s.createDataFrame(cents).toDF("cid", "cvec").repartition(1)))

      // One assignment scan feeds BOTH published tables (cells, codes);
      // persist it across the two writes so the k×dim cosine argmax per
      // row runs once.
      val assigned = corpus
        .select(col(idCol), col(vecCol))
        .withColumn("cell", Similarity.nearestCentroid(cents, col(vecCol)))
      val doCache = p.pq.isDefined
      if (doCache) assigned.persist()
      try {
        Refresh.refreshView(spark, warehouse, Refresh.ViewJob(s"${name}_cells",
          _ => assigned, partitionBy = Seq("cell")))
        p.pq.foreach { pq =>
          val cb = Similarity.pqCodebooks(
            corpus, vecCol, pq.m, pq.subDim, pq.ksub, pq.maxTrainRows, p.seed)
          Refresh.refreshView(spark, warehouse, Refresh.ViewJob(s"${name}_codebooks",
            s => s.createDataFrame(cb).toDF("j", "cid", "cvec").repartition(1)))
          val encoded = Similarity
            .pqEncode(assigned, vecCol, cb, pq.subDim, "code")
            .select(col(idCol), col("cell"), col("code"))
          Refresh.refreshView(spark, warehouse, Refresh.ViewJob(s"${name}_codes",
            _ => encoded, partitionBy = Seq("cell")))
        }
      } finally {
        if (doCache) { assigned.unpersist(); () }
      }
      Seq("k" -> k)
    }
    Handle(warehouse, name, meta("k").toInt)
  }

  /** The published centroid table, collected — ≤ k rows by
    * construction (the bounded read every serve call starts from;
    * same class as [[graft.text.CorpusStats.read]]'s one-row scan). */
  def readCentroids(spark: SparkSession, h: Handle): Seq[(Int, Seq[Double])] =
    spark.read.parquet(h.centroidsPath)
      .orderBy(col("cid"))
      .collect()
      .toIndexedSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1)))

  /** The published inverted lists: (idCol, vecCol, cell),
    * cell-partitioned on disk. */
  def cells(spark: SparkSession, h: Handle): DataFrame =
    spark.read.parquet(h.cellsPath)

  /** The published PQ codes: (idCol, cell, code), cell-partitioned. */
  def codes(spark: SparkSession, h: Handle): DataFrame =
    spark.read.parquet(h.codesPath)

  def readCodebooks(spark: SparkSession, h: Handle): Seq[(Int, Int, Seq[Double])] =
    spark.read.parquet(h.codebooksPath)
      .orderBy(col("j"), col("cid"))
      .collect()
      .toIndexedSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))

  /** IVF top-k SERVE: published centroids (bounded read) + probe join
    * against the cell-partitioned lists (DPP prunes the scan to the
    * probed cells) + slim top-k. Zero index-build work on the query
    * path. */
  def topK(
      spark: SparkSession,
      h: Handle,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int,
  ): DataFrame = {
    val cents = readCentroids(spark, h)
    Similarity.ivfTopKAssigned(cells(spark, h), queries, idCol, vecCol, "cell",
      queryIdCol, queryVecCol, k, cents, nprobe)
  }

  /** IVF-PQ top-k SERVE: published codebooks + codes; ADC over the
    * narrow pruned codes scan, exact rerank fetches vectors from the
    * caller's corpus for the survivors only. */
  def pqTopK(
      spark: SparkSession,
      h: Handle,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      candidateK: Int,
      nprobe: Int,
  ): DataFrame = {
    val cents = readCentroids(spark, h)
    val cb = readCodebooks(spark, h)
    val subDim = cb.head._3.length
    Similarity.ivfPqTopKEncoded(codes(spark, h), corpus, queries,
      idCol, vecCol, "cell", "code", queryIdCol, queryVecCol,
      k, candidateK, cents, nprobe, cb, subDim)
  }

  /** SemDeDup SERVE from the persisted assignment: the published
    * lists ARE the clustered frame, so the per-call plan is the size
    * gate + the two loser paths + the anti-join — no centroid math at
    * all on the query path. `df` is the full-width corpus the
    * survivors project from. */
  def semDedup(
      spark: SparkSession,
      h: Handle,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxClusterSize: Int,
  ): DataFrame = {
    val assigned = cells(spark, h).withColumnRenamed("cell", "_cid")
    Similarity.semDedupAssigned(df, assigned, idCol, vecCol, threshold, maxClusterSize)
  }
}
