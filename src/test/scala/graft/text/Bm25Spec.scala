package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry date cherry date"),
  ).toDF("doc_id", "text")

  // the closed form the operator must reproduce (N=3, avgdl=3.0)
  private def idf(df: Int, n: Int) = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
  private def term(tf: Int, dfq: Int, dl: Int, n: Int, avgdl: Double) =
    idf(dfq, n) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

  test("bm25TopK matches the closed-form score on a hand fixture, ranks correctly") {
    val q = Seq((100L, "apple cherry")).toDF("query_id", "qtext")
    val out = Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext", k = 3)
      .orderBy("rank").collect()
    // d1: apple tf=2 df=1 dl=3; d3: cherry tf=2 df=2 dl=4; d2: cherry tf=1 df=2 dl=2
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L))
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
    val got = out.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(got(1L) - term(2, 1, 3, 3, 3.0)) < 1e-6)
    assert(math.abs(got(3L) - term(2, 2, 4, 3, 3.0)) < 1e-6)
    assert(math.abs(got(2L) - term(1, 2, 2, 3, 3.0)) < 1e-6)
  }

  test("k truncates, excludeSelf drops the query doc, disjoint query yields nothing") {
    val self = Seq((1L, "apple banana apple")).toDF("query_id", "qtext") // = doc 1
    val incl = Bm25.bm25TopK(docs, "doc_id", "text", self, "query_id", "qtext", k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(incl.contains(1L)) // self-match ranks
    val excl = Bm25.bm25TopK(docs, "doc_id", "text", self, "query_id", "qtext", k = 10,
      excludeSelf = true).select("doc_id").as[Long].collect().toSet
    assert(excl == Set(2L)) // apple only in d1 (excluded); banana hits d2
    assert(Bm25.bm25TopK(docs, "doc_id", "text",
      Seq((5L, "zzz")).toDF("query_id", "qtext"), "query_id", "qtext", k = 3).isEmpty)
    assert(Bm25.bm25TopK(docs, "doc_id", "text",
      Seq((100L, "apple cherry")).toDF("query_id", "qtext"), "query_id", "qtext",
      k = 1).count() == 1)
  }

  test("maxDfFraction prunes hot terms: scoring equals the closed form without them") {
    val hot = Seq(
      (1L, "the apple the"),
      (2L, "the banana"),
      (3L, "the cherry"),
    ).toDF("doc_id", "text") // "the" in every doc (df = 3 = N)
    val q = Seq((100L, "the apple")).toDF("query_id", "qtext")
    val pruned = Bm25.bm25TopK(hot, "doc_id", "text", q, "query_id", "qtext",
      k = 3, maxDfFraction = 0.5).collect()
    // "the" (df/N = 1 > 0.5) contributes nothing: only d1 matches, on
    // apple alone (tf=1 df=1 dl=3, avgdl = 7/3)
    assert(pruned.map(_.getLong(1)).toSeq == Seq(1L))
    assert(math.abs(pruned.head.getDouble(2) - term(1, 1, 3, 3, 7.0 / 3.0)) < 1e-6)
    // without the cap, "the" scores every document
    val full = Bm25.bm25TopK(hot, "doc_id", "text", q, "query_id", "qtext", k = 3)
    assert(full.count() == 3)
  }

  test("multi-term scores are the sum of per-term contributions") {
    val q = Seq((100L, "banana cherry")).toDF("query_id", "qtext")
    val got = Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext", k = 3)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // d2 matches both banana (tf=1 df=2 dl=2) and cherry (tf=1 df=2 dl=2)
    val d2 = term(1, 2, 2, 3, 3.0) + term(1, 2, 2, 3, 3.0)
    assert(math.abs(got(2L) - d2) < 1e-6)
  }

  /** The join → aggregate → window form `bm25TopK` replaced, kept as
    * the reference: (doc, term, tf) postings from `graft_token_tf`
    * restricted to the query terms, df and the stats row as
    * aggregates, each (query, doc, term) contribution cast to
    * DECIMAL(18,12) and summed per (query, doc). The t11 oracle SQL
    * replays this form. */
  private def reference(docs: DataFrame, queries: DataFrame, queryIdCol: String, k: Int,
      excludeSelf: Boolean = false, maxDfFraction: Double = 1.0, idCol: String = "doc_id",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = queries.select(col(queryIdCol),
        explode(TextAnalysis.normalizedTokens(col("qtext"))).as("_t"))
      .distinct()
    val tfs = docs.select(col(idCol), call_function("graft_token_tf", col("text")).as("_tfs"))
    val tf = tfs
      .select(col(idCol), explode(col("_tfs")).as("_e"))
      .select(col(idCol), col("_e.t").as("_t"), col("_e.tf").as("_tf"))
    val dl = tfs
      .select(col(idCol),
        aggregate(col("_tfs"), lit(0L), (a, x) => a + x.getField("tf")).as("_dl"))
      .filter(col("_dl") > 0)
    val stats = dl.agg(count(lit(1)).as("_n"), avg(col("_dl")).as("_avgdl"))
    val qpost = tf.join(broadcast(qterms.select(col("_t")).distinct()), Seq("_t"))
    val dfreqAll = qpost.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    val dfreq =
      if (maxDfFraction < 1.0)
        dfreqAll.crossJoin(broadcast(stats))
          .filter(col("_df") <= col("_n") * maxDfFraction)
          .select(col("_t"), col("_df"))
      else dfreqAll
    val joined = qpost
      .join(broadcast(qterms), Seq("_t"))
      .join(dfreq, Seq("_t"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
    val filtered =
      if (excludeSelf) joined.filter(col(queryIdCol) =!= col(idCol)) else joined
    filtered
      .withColumn("_idf",
        log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0))
      .withColumn("_c",
        (col("_idf") * (col("_tf") * (k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
          .cast("decimal(18,12)"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("_c")).as("_s"))
      .withColumn("score", round(col("_s").cast("double"), 6))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col(queryIdCol)).orderBy(col("score").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank").cast("int").as("rank"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (String.valueOf(r.get(0)), r.getInt(3)))

  /** `bm25TopK` and the reference agree row for row, score for score,
    * rank for rank, and on the output schema; returns the rows. */
  private def assertSameAsReference(docs: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean = false, maxDfFraction: Double = 1.0, k1: Double = 1.2,
      b: Double = 0.75): Seq[Row] = {
    val got = Bm25.bm25TopK(docs, "doc_id", "text", queries, "query_id", "qtext", k,
      k1 = k1, b = b, excludeSelf = excludeSelf, maxDfFraction = maxDfFraction)
    val want = reference(docs, queries, "query_id", k, excludeSelf, maxDfFraction, k1 = k1, b = b)
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    val (g, w) = (rows(got), rows(want))
    assert(g == w)
    g
  }

  private def richer = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ Seq(
    (4L, "elderberry fig grape grape grape"),
    (5L, "apple date apple date fig"),
    (6L, "the apple the fig the"),
    (7L, "the the the"),
  )).toDF("doc_id", "text")

  test("one-pass core equals the reference form: hot terms under maxDfFraction") {
    val q = Seq((100L, "the apple"), (101L, "the fig grape"), (102L, "the")).toDF("query_id", "qtext")
    for (frac <- Seq(0.3, 0.5, 1.0))
      assert(assertSameAsReference(richer, q, k = 5, maxDfFraction = frac).nonEmpty)
  }

  test("one-pass core equals the reference form: excludeSelf") {
    val q = Seq((1L, "apple banana apple"), (4L, "grape fig"), (100L, "cherry date"))
      .toDF("query_id", "qtext")
    val out = assertSameAsReference(richer, q, k = 10, excludeSelf = true)
    assert(out.nonEmpty && out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("one-pass core equals the reference form: null and empty texts on both sides") {
    val withNulls = (richer.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ Seq(
      (8L, null), (9L, ""), (10L, "   \t "))).toDF("doc_id", "text")
    val q = Seq((100L, "apple"), (101L, null), (102L, ""), (103L, "fig cherry"))
      .toDF("query_id", "qtext")
    assertSameAsReference(withNulls, q, k = 10)
  }

  test("one-pass core equals the reference form: repeated query terms and rows sharing an id") {
    val q = Seq((100L, "apple apple cherry apple"), (101L, "grape"), (101L, "grape fig"))
      .toDF("query_id", "qtext")
    assertSameAsReference(richer, q, k = 10)
  }

  test("one-pass core equals the reference form: a query with no matching term") {
    val q = Seq((100L, "zzz yyy"), (101L, "apple")).toDF("query_id", "qtext")
    val out = assertSameAsReference(richer, q, k = 10)
    assert(out.map(_.getLong(0)).toSet == Set(101L))
  }

  test("one-pass core equals the reference form: score ties break by id") {
    val twins = Seq((30L, "kiwi lime"), (10L, "kiwi lime"), (20L, "kiwi lime"), (40L, "kiwi melon"))
      .toDF("doc_id", "text")
    val out = assertSameAsReference(twins, Seq((1L, "kiwi lime")).toDF("query_id", "qtext"), k = 3)
    assert(out.map(_.getLong(1)) == Seq(10L, 20L, 30L))
  }

  test("one-pass core equals the reference form: a String-typed query id keeps its type") {
    val q = Seq(("q-a", "apple cherry"), ("q-b", "fig"), (null, "grape")).toDF("query_id", "qtext")
    val out = assertSameAsReference(richer, q, k = 10)
    assert(out.map(_.get(0)).toSet == Set("q-a", "q-b", null))
  }

  test("one-pass core equals the reference form: a seeded corpus with Unicode tokens") {
    val words = IndexedSeq("caf\u00e9", "CAF\u00c9", "\u0130stanbul", "\u03a3\u0391\u03a3", "na\u00efve",
      "\u4e2d\u6587", "\ud801\udc00x", "stra\u00dfe", "\u017fun", "\u212aelvin", "e\u0301t\u00e9",
      "wind", "solar", "grid", "power", "the", "a\u00a0b", "c\u3000d")
    val rnd = new scala.util.Random(7L)
    val corpus = (1L to 300L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" ")))
    val docsU = corpus.toDF("doc_id", "text")
    val q = corpus.filter(_._1 % 15 == 0).map { case (i, t) => (i, t.split(' ').take(4).mkString(" ")) }
      .toDF("query_id", "qtext")
    for ((excl, frac) <- Seq((false, 1.0), (true, 0.6)))
      assert(assertSameAsReference(docsU, q, k = 7, excludeSelf = excl, maxDfFraction = frac).nonEmpty)
    assertSameAsReference(docsU, q, k = 7, k1 = 0.9, b = 0.4)
  }

  test("one call runs 4 Spark jobs with its collect, and its postings cache lives until then") {
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val q = corpus.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    spark.catalog.clearCache()
    var out: DataFrame = null
    var got: Array[Row] = null
    val jobs = jobStarts {
      out = Bm25.bm25TopK(corpus, "doc_id", "text", q, "query_id", "qtext", k = 10, excludeSelf = true)
      got = out.collect()
    }
    // the query collect, the statistics action, and the collect's
    // shuffle map stage and result stage (the join → aggregate
    // → window form on this fixture: 15)
    assert(jobs.size == 4, s"${jobs.size} jobs: ${jobs.map(_.properties.getProperty("spark.job.description"))}")
    assert(got.nonEmpty)
    // the caller's action read the postings the statistics action cached
    assert(out.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty)
    val deadline = System.currentTimeMillis() + 15000
    while (!spark.sharedState.cacheManager.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(spark.sharedState.cacheManager.isEmpty, "the postings cache outlived the caller's action")
  }

  test("the query-terms and statistics actions carry job descriptions; the caller's survives") {
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val q = corpus.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    var after: String = null
    val jobs = jobStarts {
      Bm25.bm25TopK(corpus, "doc_id", "text", q, "query_id", "qtext", k = 10).collect()
      after = spark.sparkContext.getLocalProperty("spark.job.description")
    }
    val descriptions = jobs.map(_.properties.getProperty("spark.job.description"))
    assert(descriptions.contains("bm25TopK: query terms"))
    assert(descriptions.contains("bm25TopK: corpus stats"))
    assert(descriptions.last == "measured") // the caller's collect
    assert(after == "measured")
    assert(jobs.forall(_.properties.getProperty("spark.jobGroup.id") == jobs.head.properties
      .getProperty("spark.jobGroup.id")))
  }

  test("the driver-side query map fails loudly above MaxQueryTermPairs") {
    val perQuery = 1024
    val nQueries = Bm25.MaxQueryTermPairs / perQuery + 1
    val text = (0 until perQuery).map(i => s"w$i").mkString(" ")
    val q = (0 until nQueries).map(i => (i.toLong, text)).toDF("query_id", "qtext")
    val e = intercept[IllegalArgumentException] {
      Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext", k = 3)
    }
    assert(e.getMessage.contains("MaxQueryTermPairs"))
  }
}
