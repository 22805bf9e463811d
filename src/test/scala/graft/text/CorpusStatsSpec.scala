package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.views.Refresh

class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("build: one row whose stats match the independent computations") {
    val row = CorpusStats.build(docs, "text").collect()
    assert(row.length === 1)
    val r = row(0)
    // n_docs / avgdl: same >=1-token convention bm25TopK uses
    val dl = docs
      .select(size(TextAnalysis.normalizedTokens(col("text"))).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .as[Long].collect()
    assert(r.getAs[Long]("n_docs") === dl.length.toLong)
    assert(math.abs(r.getAs[Double]("avgdl") -
      dl.sum.toDouble / dl.length) < 1e-5)
    // engine-side estimate == the driver-side kmvVocabEstimate math
    assert(r.getAs[Long]("vocab_estimate") ===
      Sketches.kmvVocabEstimate(docs, "text"))
    assert(r.getAs[Int]("kmv_k") === 256)
  }

  test("kmvEstimateFrame: sub-k sketch is the exact set; empty corpus is 0") {
    val tiny = Seq((1L, "alpha beta gamma"), (2L, "beta delta")).toDF("id", "text")
    val est = Sketches.kmvEstimateFrame(Sketches.kmvSketch(tiny, "text"))
      .as[Long].head()
    assert(est === 4L) // alpha beta gamma delta
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val est0 = Sketches.kmvEstimateFrame(Sketches.kmvSketch(empty, "text"))
      .as[Long].head()
    assert(est0 === 0L)
  }

  test("M2 refresh -> read roundtrip, and the read path scans one row") {
    val wh = graft.Defaults.scratchDir("corpus-stats-spec")
    val job = CorpusStats.viewJob(_ => docs, "text")
    val n = Refresh.refreshView(spark, wh, job)
    assert(n === 1L) // the published view is exactly one row
    val stats = CorpusStats.read(spark, wh)
    assert(stats.nDocs > 0 && stats.avgdl > 0.0 && stats.kmvK === 256)
    assert(stats.vocabEstimate === Sketches.kmvVocabEstimate(docs, "text"))
    // a second refresh swaps atomically and reads back the same stats
    Refresh.refreshView(spark, wh, job)
    assert(CorpusStats.read(spark, wh) === stats)
  }
}
