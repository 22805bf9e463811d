package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.unsafe.types.UTF8String

/** Model-based quality filtering: a bag-of-words logistic-regression
  * classifier trained IN Spark against a weak heuristic label, then
  * applied to the whole corpus — the "quality classifier" stage of the
  * published LLM-data pipelines (GPT-3 trains LR over web docs with
  * curated corpora as positives, Brown et al. 2020 App. A; Llama
  * distills quality heuristics into a fastText-style linear model,
  * Touvron et al. 2023). Features are term FREQUENCIES of a capped
  * vocabulary, so corpus statistics that are sums over tokens
  * (word-count gates, stopword-count gates) are linearly expressible.
  *
  * Scale design:
  *   - The vocabulary (top-`topV` document frequency) is a bounded
  *     collect (V strings — the same bounded-by-construction driver
  *     hold as the v7 KMeans centroids), broadcast back for every
  *     subsequent join; every later aggregate runs on the
  *     vocab-restricted explode, so NO driver collect scales with the
  *     raw vocabulary.
  *   - Init is multinomial naive Bayes (the NBSVM log-count-ratio,
  *     Wang & Manning 2012): one aggregate pass gives per-class
  *     collection frequencies. `steps` full-batch logistic GD
  *     iterations refine it; each step is ONE Spark action — margins,
  *     residuals and the V+1-sized gradient (bias rides along as the
  *     constant feature under the NULL token) evaluate in a single
  *     lazy plan per step. A 100 TB corpus trains on a hash-gated
  *     slice (`trainFilter`) and scores everything.
  *   - The per-doc term-frequency explode is cached for the whole
  *     training scope (CacheScope.shared), so the tokenizer runs once,
  *     not once per step.
  *   - Scoring emits the exact decimal MARGIN bias + Σ w_t·tf_t
  *     (weights quantized to DECIMAL(18,12) at persist time, tf cast
  *     DECIMAL(10,0) so the product precision 29 stays exact): decimal
  *     arithmetic is order-free, so the score is deterministic under
  *     any partitioning and replayable by any SQL engine from the
  *     persisted weights — no transcendental (sigmoid) in the compared
  *     output. The sigmoid is monotone, so thresholding the margin at
  *     0 IS thresholding the probability at 0.5.
  */
object QualityClassifier {

  /** Per-document term frequencies over the capped-vocab candidate
    * space: one (id, token, tf) row per distinct token per doc —
    * MAP-SIDE via the graft_token_tf kernel (term counts are
    * per-document, so the old explode → groupBy(id, token) idiom's
    * full-vocabulary exchange was not fundamental). */
  private def docTermFreqs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      explode(call_function("graft_token_tf", col(textCol))).as("_e"))
      .select(col(idCol), col("_e.t").as("token"), col("_e.tf").as("tf"))

  /** Top-`topV` tokens by document frequency (ties: token asc) —
    * deterministic, bounded. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String, topV: Int): DataFrame =
    docTermFreqs(df, idCol, textCol)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(topV)

  /** Trained model: bias plus one weight per vocabulary token, both
    * quantized to 12 dp so persisting and replaying them is exact. */
  final case class Model(bias: BigDecimal, weights: Seq[(String, BigDecimal)])

  /** Multinomial-NB-initialized, GD-refined logistic regression on the
    * rows passing `trainFilter`, labels from `labelCol` (boolean).
    * Driver state is one V-sized weight vector; per step the cluster
    * computes margins (broadcast-weights join + per-doc sum) and the
    * V-sized gradient (per-token residual·tf sum). */
  def train(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      topV: Int,
      steps: Int = 6,
      lr: Double = 0.05,
      trainFilter: org.apache.spark.sql.Column = lit(true),
  ): Model = graft.quality.CacheScope.shared {
    val spark = df.sparkSession
    val sample = df.filter(trainFilter).select(col(idCol), col(textCol), col(labelCol))
    // Tokenize + count the sample ONCE for the vocab count and every
    // training pass (cache held for the whole shared scope).
    val tfAll = graft.quality.CacheScope.cachedUntilAction(
      docTermFreqs(sample, idCol, textCol))
    // labels cached too: the weak-label HEURISTIC expression
    // (token-stats kernels over the sample text) is referenced by the
    // count action, the NB aggregate and every GD step's residual —
    // uncached it re-ran per consumer.
    val labels = graft.quality.CacheScope.cachedUntilAction(
      sample.select(col(idCol), col(labelCol).cast("double").as("y")))
    // ONE aggregate action yields the vocabulary, the NB class
    // frequencies AND the doc-level label totals (pre-r16: three
    // actions; pre-r17: two — the (n, nPos) count rode its own job).
    // Per-token (df, cfp, cft) over the labeled postings, top topV by
    // (df desc, token); the doc totals union in as a single SENTINEL
    // row under the NULL token (the tokenizer never yields null, and
    // the union sits BELOW the collect, above the limit, so the
    // sentinel can never be cut). All sums are integer-valued doubles
    // — exact and order-free — and the collected vocab rows are
    // re-sorted on the driver with the same (df desc, token)
    // comparator, so vocabulary order is independent of union
    // partition order. The token compares as UTF8String (unsigned
    // UTF-8 bytes, the engine's string order), not as a Java String:
    // UTF-16 order puts a supplementary-plane token (surrogate
    // 0xD800–0xDBFF) before one in U+E000–U+FFFF, and UTF-8 order puts
    // it after. The collect stays bounded by topV + 1.
    val collected = tfAll
      .join(labels, Seq(idCol))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf") * col("y")).as("cfp"),
        sum(col("tf").cast("double")).as("cft"))
      .orderBy(col("df").desc, col("token")).limit(topV)
      .select(col("token"), col("df"), col("cfp"), col("cft"))
      .unionByName(labels.agg(
        lit(null).cast("string").as("token"),
        count(lit(1)).as("df"),
        sum(col("y")).as("cfp"),
        lit(0.0).as("cft")))
      .collect()
    val (sentinel, vocabRows) = collected.partition(_.isNullAt(0))
    val n = sentinel.head.getLong(1).max(1L)
    val nPos = if (sentinel.head.isNullAt(2)) 0.0 else sentinel.head.getDouble(2)
    val vocabCf: Array[(String, Double, Double)] = vocabRows
      .sortBy(r => (-r.getLong(1), UTF8String.fromString(r.getString(0))))
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
    val vocab: Array[String] = vocabCf.map(_._1)
    // Every aggregate below runs on the vocab-restricted rows, so all
    // driver collects are bounded by topV, never the raw vocab.
    val vocabDf = spark.createDataFrame(vocab.toSeq.map(Tuple1(_))).toDF("token")
    val toks = graft.quality.CacheScope.cachedUntilAction(
      tfAll.join(broadcast(vocabDf), Seq("token")))

    // Multinomial NB warm start, Laplace α = 1 over the capped vocab.
    // Full-batch GD from zero would need tens of passes to move off
    // the flat sigmoid(0) plateau; from the NB odds it refines in a
    // few.
    val nNeg = (n - nPos).max(1.0)
    val cf: Map[String, (Double, Double)] =
      vocabCf.map { case (t, cfp, cft) => t -> ((cfp, cft)) }.toMap
    val cfPos = cf.valuesIterator.map(_._1).sum
    val cfNeg = cf.valuesIterator.map(v => v._2 - v._1).sum
    val v = vocab.length.max(1)
    def nbWeight(t: String): Double = {
      val (p, tot) = cf.getOrElse(t, (0.0, 0.0))
      math.log((p + 1.0) / (cfPos + v)) - math.log((tot - p + 1.0) / (cfNeg + v))
    }
    var bias = math.log(nPos.max(1.0) / nNeg)
    val w = scala.collection.mutable.LinkedHashMap[String, Double](
      vocab.map(t => t -> nbWeight(t)): _*)
    for (_ <- 0 until steps) {
      val wDf = spark.createDataFrame(w.toSeq).toDF("token", "w")
      val margins = toks
        .join(broadcast(wDf), Seq("token"))
        .groupBy(col(idCol))
        .agg(sum(col("w") * col("tf")).as("s"))
      // Cached: the gradient union reads resid in BOTH branches; an
      // uncached frame would run the margins shuffle twice per step.
      val resid = graft.quality.CacheScope.cachedUntilAction(labels
        .join(margins, Seq(idCol), "left")
        .select(
          col(idCol),
          (lit(1.0) / (lit(1.0) + exp(-(lit(bias) + coalesce(col("s"), lit(0.0))))) - col("y"))
            .as("r")))
      // ONE action per step: the bias is the constant feature — its
      // gradient rows union in under the NULL token (the tokenizer
      // never yields null), so the V+1-sized collect carries the whole
      // gradient.
      val grad: Map[Option[String], Double] = toks
        .join(resid, Seq(idCol))
        .select(col("token"), (col("r") * col("tf")).as("_g"))
        .unionByName(resid.select(lit(null).cast("string").as("token"), col("r").as("_g")))
        .groupBy(col("token"))
        .agg(sum(col("_g")).as("g"))
        .collect()
        .map(r => Option(r.getString(0)) -> r.getDouble(1))
        .toMap
      bias -= lr * grad.getOrElse(None, 0.0) / n
      w.mapValuesInPlace((t, v) => v - lr * grad.getOrElse(Some(t), 0.0) / n)
    }
    def q(x: Double): BigDecimal = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    Model(q(bias), w.toSeq.map { case (t, x) => (t, q(x)) })
  }

  /** Persist a model as (token, w) rows — the bias is the single
    * NULL-token row (whitespace tokenization can never produce a null
    * token, so the key is unambiguous). Any engine can replay scoring
    * from this parquet. */
  def persist(model: Model, spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val rows = Row(null, model.bias.bigDecimal) +:
      model.weights.map { case (t, x) => Row(t, x.bigDecimal) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("w", DecimalType(18, 12))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Score every document against persisted weights: exact decimal
    * margin (rounded to 6 dp for display), matched-vocab-token count,
    * and the margin-at-0 (= probability-at-0.5) predicted label. One
    * broadcast join + one aggregate over the corpus. */
  /** (n_feats, raw margin) as NARROW columns — no explode, no groupBy,
    * no shuffle: the weight table (bounded by topV at training time)
    * becomes a map literal carried in the plan, and the per-document
    * margin is an exact-decimal fold over the token array. Decimal
    * addition is order-free, so the fold equals [[score]]'s
    * sum-over-grouped-tf bit-for-bit (Σ over occurrences of w(t) ≡
    * Σ over distinct tokens of w(t)·tf(t)) — the same weights parquet
    * drives batch scoring and streaming admission with row-for-row
    * equal results. Stateless ⇒ legal on an unbounded stream in
    * append mode (a streaming groupBy would need watermark state). */
  private[graft] def narrowMargin(
      textCol: Column,
      weightsWithBias: DataFrame): (Column, Column) = {
    val biasRows = weightsWithBias.filter(col("token").isNull)
      .select(col("w").cast("double")).limit(1).collect()
    require(biasRows.nonEmpty,
      "weights frame must contain a NULL-token bias row (train()/loadWeights() " +
        "emit one; a frame without it is not a graft quality-classifier model)")
    val bias = biasRows.head.getDouble(0)
    val entries: Map[String, scala.math.BigDecimal] = weightsWithBias
      .filter(col("token").isNotNull)
      .select(col("token"), col("w").cast(DecimalType(18, 12)))
      .collect()
      .map(r => r.getString(0) -> scala.math.BigDecimal(r.getDecimal(1)))
      .toMap
    if (entries.isEmpty) (lit(0), lit(bias))
    else {
      val wmap = typedlit(entries)
      val toks = TextAnalysis.normalizedTokens(textCol)
      val accT = DecimalType(32, 12)
      val zero = lit(java.math.BigDecimal.ZERO).cast(accT)
      val ssum = aggregate(toks, zero, (acc, t) =>
        (acc + coalesce(element_at(wmap, t).cast(DecimalType(30, 12)),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(30, 12)))).cast(accT))
      val nFeats = coalesce(
        size(filter(array_distinct(toks), t => element_at(wmap, t).isNotNull)),
        lit(0)).cast("int")
      val margin = lit(bias) + coalesce(ssum.cast("double"), lit(0.0))
      (nFeats, margin)
    }
  }

  /** [[score]] computed with [[narrowMargin]] — identical output
    * (same columns, same values), but the plan is per-row narrow
    * arithmetic with zero shuffles, so it runs unchanged on a
    * Structured Streaming frame (the admission analog of the
    * streaming near-dup gate). Prefer [[score]] for batch: the
    * vocab-join form shares the tokenizer explode with training and
    * keeps the margin in whole-stage codegen. */
  def scoreNarrow(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weightsWithBias: DataFrame,
  ): DataFrame = {
    val (nFeats, margin) = narrowMargin(col(textCol), weightsWithBias)
    df.select(
      col(idCol),
      nFeats.as("n_feats"),
      round(margin, 6).as("score"),
      (margin >= 0.0).as("pred"))
  }

  def score(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weightsWithBias: DataFrame,
  ): DataFrame = {
    val bias = weightsWithBias.filter(col("token").isNull)
      .select(col("w").cast("double")).head().getDouble(0)
    val weights = weightsWithBias.filter(col("token").isNotNull)
    val per = docTermFreqs(df, idCol, textCol)
      .join(broadcast(weights), Seq("token"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_feats"),
        sum(col("w") * col("tf").cast("decimal(10,0)")).as("ssum"))
    df.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .withColumn("_m", lit(bias) + coalesce(col("ssum").cast("double"), lit(0.0)))
      .select(
        col(idCol),
        coalesce(col("n_feats"), lit(0)).as("n_feats"),
        round(col("_m"), 6).as("score"),
        (col("_m") >= 0.0).as("pred"))
  }
}
