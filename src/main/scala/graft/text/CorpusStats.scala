package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.views.Refresh

/** Persisted corpus statistics: ONE row (n_docs, avgdl,
  * vocab_estimate, kmv_k), built like any summary view and refreshed
  * through the M2 registry's atomic swap ([[graft.views.Refresh]] —
  * readers never see a half-written row), read back with a one-row
  * parquet scan.
  *
  * It was built to feed [[graft.text.Bm25.bm25TopK]]'s physical-shape
  * selection (the `vocab_estimate` column) without a per-call corpus
  * pass. BM25 now has one shape and computes its own N, avgdl and df
  * in the call, so nothing in a query reads this table; only
  * CorpusStatsSpec does.
  *
  * Scale shape: the BUILD is a maintenance job — two map-side-combined
  * corpus aggregates (a narrow `size(tokens)` doc-length aggregate and
  * the KMV TakeOrdered, whose state is k 64-bit values) — scheduled on
  * refresh cadence like every M1 view, never on the query path. The
  * READ path is one row.
  */
object CorpusStats {

  val TableName = "corpus_stats"

  final case class Stats(nDocs: Long, avgdl: Double, vocabEstimate: Long, kmvK: Int)

  /** The one-row stats frame. `n_docs`/`avgdl` count documents with at
    * least one token — the same convention [[Bm25.bm25TopK]] uses for
    * N and avgdl; `vocab_estimate` is the engine-side KMV estimate
    * ([[Sketches.kmvEstimateFrame]] — no driver collect anywhere in
    * the build); `kmv_k` records the builder k so a reader merging
    * sketches later knows the contract bound. avgdl is rounded to 6
    * decimals (house convention for persisted floats). */
  def build(docs: DataFrame, textCol: String, kmvK: Int = 256): DataFrame = {
    val dl = docs
      .select(size(TextAnalysis.normalizedTokens(col(textCol))).cast("long").as("_dl"))
      .filter(col("_dl") > 0)
    val docStats = dl.agg(
      count(lit(1)).as("n_docs"),
      round(avg(col("_dl")), 6).as("avgdl"))
    val est = Sketches.kmvEstimateFrame(Sketches.kmvSketch(docs, textCol, kmvK), kmvK)
    // two single-row aggregates — the cross join is one row by one row
    docStats.crossJoin(est).select(
      col("n_docs"),
      col("avgdl"),
      col("vocab_estimate"),
      lit(kmvK).as("kmv_k"))
  }

  /** Registry entry for the M2 refresh machinery: refresh the stats
    * table whenever its source reloads, exactly like any other view. */
  def viewJob(
      docs: SparkSession => DataFrame,
      textCol: String,
      kmvK: Int = 256,
      name: String = TableName,
  ): Refresh.ViewJob =
    Refresh.ViewJob(name, s => build(docs(s), textCol, kmvK))

  /** Read the published stats row — a one-row parquet scan, the whole
    * point of persisting: the retrieval call path touches the corpus
    * zero extra times. */
  def read(spark: SparkSession, warehouse: String, name: String = TableName): Stats = {
    val r = spark.read.parquet(Refresh.viewPath(warehouse, name))
      .select(col("n_docs"), col("avgdl"), col("vocab_estimate"), col("kmv_k"))
      .head()
    Stats(r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3))
  }
}
