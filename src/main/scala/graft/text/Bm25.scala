package graft.text

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ObjectLiteral
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Bm25Handle, Bm25Queries, Bm25Stats, Tokens}
import graft.quality.CacheScope

/** Okapi BM25 sparse retrieval (Robertson & Zaragoza 2009, "The
  * Probabilistic Relevance Framework: BM25 and Beyond") — the lexical
  * complement of the dense ANN family in [[graft.sim.Similarity]]:
  * score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
  * b·|d|/avgdl)), idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
  *
  * One shape, one pass over the corpus:
  *   - The query side lives on the driver: the query rows are
  *     collected and tokenized with the `graft_tokens` kernel
  *     ([[Tokens]]), and the distinct (query, term) map is broadcast
  *     once. It is bounded by [[MaxQueryTermPairs]].
  *   - `graft_bm25_postings` runs once per document: its length and
  *     the term frequency of each QUERY term it holds — never a
  *     full-vocabulary map. Its output is cached for the call.
  *   - One statistics action returns N, Σdl and every query term's df
  *     to the driver, which computes avgdl and idf there and applies
  *     `maxDfFraction`. df, N and avgdl are driver values, the inputs
  *     a score-bound pruning needs.
  *   - `graft_bm25_score` scores each document against every query
  *     that shares a term with it, as exact DECIMAL(18,12) term sums
  *     (order-free under any partitioning, so results are
  *     deterministic and SQL-replayable), and a query-partitioned
  *     `row_number` window — never a global sort — keeps the top k.
  *
  * Like LineDedup's gate count, the call runs two actions of its own
  * while it builds the plan (the query collect and the statistics) and
  * returns a lazy frame that reads the cached postings; the cache is
  * released after the caller's action ([[CacheScope.retainAcrossOwnAction]]).
  * With a parquet query set and the caller's collect, a call runs four
  * Spark jobs (Bm25Spec counts them). */
object Bm25 {

  /** Bound on the distinct (query, term) pairs the driver-side query
    * map holds (about 4 bytes each in the broadcast, plus the terms).
    * t11 at sf10 — about 5,000 whole-document queries of some 23
    * distinct terms each — needs about 120,000. */
  val MaxQueryTermPairs: Int = 1 << 20

  /** Top-k BM25 retrieval. `queries` supplies (queryIdCol,
    * queryTextCol) rows; output is (queryIdCol, idCol, score, rank).
    * Rows sharing a query id form one query. `excludeSelf` drops the
    * query row itself when queries are drawn from the corpus (the
    * ANN-query convention). N and avgdl count documents with at least
    * one token; a document with a null id counts in N, avgdl and df
    * but is never returned.
    *
    * `maxDfFraction` < 1 is the hot-term guard: terms appearing in
    * more than that fraction of documents are dropped from scoring
    * (classic stop-word elimination). Such terms carry idf ≈ ln(1+ε)
    * anyway, so the ranking loss is tiny and bounded by the cap. */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      excludeSelf: Boolean = false,
      maxDfFraction: Double = 1.0,
  ): DataFrame = {
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")
    val spark = docs.sparkSession
    val sc = spark.sparkContext
    val qmap = described(spark, "bm25TopK: query terms") {
      queryMap(queries.select(col(queryIdCol), col(queryTextCol).cast(StringType)).collect(),
        queries.schema(queryIdCol).dataType)
    }
    val qh = new Bm25Handle(sc.broadcast(qmap),
      s"bm25 query terms(${qmap.queryIds.length} queries, ${qmap.terms.length} terms)")
    val (postings, owned) = CacheScope.acquire(docs.select(col(idCol),
      call_function("graft_bm25_postings", col(textCol), ObjectLiteral(qh)).as("_p")))
    if (owned) CacheScope.retainAcrossOwnAction(postings)
    val (n, sumDl, df) = described(spark, "bm25TopK: corpus stats") {
      corpusStats(postings, qmap.terms.length)
    }
    // Spark's avg over the long lengths: a double sum (exact below
    // 2^53) over a double count
    val avgdl = sumDl.toDouble / n.toDouble
    val idf = df.map { d =>
      if (maxDfFraction < 1.0 && !(d.toDouble <= n.toDouble * maxDfFraction)) Double.NaN
      else StrictMath.log(((n - d).toDouble + 0.5) / (d.toDouble + 0.5) + 1.0)
    }
    val sh = new Bm25Handle(sc.broadcast(new Bm25Stats(idf, k1, b, avgdl)),
      s"bm25 corpus stats(N=$n, avgdl=$avgdl)")
    val scored = postings
      .select(col(idCol), explode(call_function("graft_bm25_score",
        col("_p"), ObjectLiteral(qh), ObjectLiteral(sh))).as("_e"))
      .select(col("_e.q").as(queryIdCol), col(idCol), col("_e.s").as("_s"))
      .filter(col(idCol).isNotNull)
    val kept = if (excludeSelf) scored.filter(col(queryIdCol) =!= col(idCol)) else scored
    kept
      .withColumn("score", round(col("_s").cast("double"), 6))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col(queryIdCol)).orderBy(col("score").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank").cast("int").as("rank"))
  }

  /** The driver-side query tokenization: [[Tokens]] on the text, no
    * tokens for a null text. */
  private[graft] def queryTokens(text: String): Array[UTF8String] =
    if (text == null) Array.empty
    else {
      val a = Tokens.compute(UTF8String.fromString(text))
      Array.tabulate(a.numElements())(a.getUTF8String)
    }

  /** The distinct (query, term) map of collected (query id, text) rows,
    * terms and queries numbered in first-occurrence order. Fails with
    * a message naming [[MaxQueryTermPairs]] once the pairs exceed it. */
  private[graft] def queryMap(rows: Array[Row], queryIdType: DataType): Bm25Queries = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(queryIdType)
    val texts = new java.util.LinkedHashMap[Any, scala.collection.mutable.ArrayBuffer[String]]()
    rows.foreach { r =>
      val same = texts.computeIfAbsent(toCatalyst(r.get(0)),
        _ => scala.collection.mutable.ArrayBuffer.empty[String])
      same += r.getString(1)
    }
    val termIds = new java.util.HashMap[UTF8String, Integer]()
    val terms = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val holders = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuilder.ofInt]
    val lastQuery = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ids = new Array[Any](texts.size)
    var pairs = 0L
    var qi = 0
    texts.forEach { (id, qtexts) =>
      ids(qi) = id
      qtexts.foreach(t => queryTokens(t).foreach { tok =>
        val ti = termIds.computeIfAbsent(tok, _ => {
          terms += tok
          holders += new scala.collection.mutable.ArrayBuilder.ofInt
          lastQuery += -1
          terms.length - 1
        }).intValue
        if (lastQuery(ti) != qi) {
          pairs += 1
          if (pairs > MaxQueryTermPairs)
            throw new IllegalArgumentException(
              s"bm25TopK: the query set holds more than MaxQueryTermPairs = $MaxQueryTermPairs " +
                "distinct (query, term) pairs; split it into smaller calls")
          lastQuery(ti) = qi
          holders(ti) += qi
        }
      })
      qi += 1
    }
    new Bm25Queries(terms.toArray, holders.map(_.result()).toArray, ids, queryIdType)
  }

  /** The statistics action: (N, Σdl, df per term id) over the cached
    * postings, one partial per partition merged on the driver. */
  private def corpusStats(postings: DataFrame, nTerms: Int): (Long, Long, Array[Long]) = {
    import postings.sparkSession.implicits._
    val partials = postings.select(col("_p.dl"), col("_p.t")).as[(Int, Array[Int])]
      .mapPartitions { rows =>
        var n = 0L
        var sumDl = 0L
        val df = new Array[Long](nTerms)
        rows.foreach { case (dl, ts) =>
          if (dl > 0) {
            n += 1
            sumDl += dl
            ts.foreach(t => df(t) += 1)
          }
        }
        val seen = df.indices.filter(df(_) > 0).toArray
        Iterator.single((n, sumDl, seen, seen.map(df)))
      }
      .collect()
    val df = new Array[Long](nTerms)
    partials.foreach { case (_, _, ts, counts) => ts.indices.foreach(i => df(ts(i)) += counts(i)) }
    (partials.map(_._1).sum, partials.map(_._2).sum, df)
  }

  /** Runs `body` with `label` as the job description of the jobs it
    * starts, then restores the caller's description. */
  private def described[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty("spark.job.description", caller)
  }
}
