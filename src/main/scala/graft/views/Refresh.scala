package graft.views

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.warehouse.Warehouse

/** Materialized-view lifecycle (reference operators M1–M3).
  *
  * The reference maintains 17 Postgres materialized views refreshed
  * CONCURRENTLY via a source→views registry (reference
  * refresh_views.py:24-34, :50-67). Spark has no auto MV rewrite, so —
  * exactly like the reference's dashboard (refresh_views.py:22-23) —
  * readers target the summary tables explicitly and a refresh job
  * recomputes them. Refresh is atomic from the reader's point of view:
  * write to a fresh dir, then swap directories, the moral equivalent of
  * `REFRESH MATERIALIZED VIEW CONCURRENTLY` (no reader ever sees a
  * half-written view).
  *
  * At scale the MV pattern is exactly why the reference uses it: the
  * dashboard reads hundreds of pre-aggregated rows instead of scanning
  * millions (materialized_views.sql:2-3); here it reads a tiny Parquet
  * summary instead of scanning 100 TB.
  */
object Refresh {

  /** `partitionBy` lays the view out hive-partitioned on those
    * columns — readers that join or filter on them get partition
    * pruning (static or DPP) against the published directories. The
    * swap semantics are identical: the whole partitioned tree moves
    * atomically because the rename is of the view ROOT. */
  final case class ViewJob(
      name: String,
      build: SparkSession => DataFrame,
      partitionBy: Seq[String] = Nil)

  /** Registry: source → views to refresh after that source loads
    * (reference refresh_views.py:24-34). */
  final case class Registry(bySource: Map[String, Seq[ViewJob]]) {
    def viewsFor(source: String): Seq[ViewJob] =
      bySource.getOrElse(source, Seq.empty)
    def all: Seq[ViewJob] = bySource.values.flatten.toSeq.distinctBy(_.name)
  }

  def viewPath(warehouse: String, name: String): String =
    s"${warehouse.stripSuffix("/")}/$name"

  /** M2: recompute one view and swap it into place through
    * [[graft.warehouse.Warehouse.publishAtomic]]. The two renames
    * leave a sub-millisecond window where the published path is absent
    * (a plain filesystem has no true atomic directory swap); a reader
    * racing exactly into it should retry — and a crash inside it
    * leaves the previous view at `.old`, which the next refresh
    * republishes (readers see the stale view, not nothing) before
    * rebuilding. */
  def refreshView(spark: SparkSession, warehouse: String, job: ViewJob): Long =
    Warehouse.publishAtomic(spark, viewPath(warehouse, job.name)) { tmp =>
      val built = job.build(spark)
      // A partitioned view MUST cluster on its partition columns before
      // the write: dynamic partitioning from unclustered input makes
      // every write task emit a file into every value's directory —
      // measured at the sf10 IVF index build: 32 tasks × 2048 cells =
      // 92k files for ONE table (and an object store at 100 TB punishes
      // small files harder than a local disk does). One hash shuffle on
      // the partition columns makes it one file per value — the
      // standard cluster-by-partition-col write pattern.
      val df =
        if (job.partitionBy.isEmpty) built
        else built.repartition(job.partitionBy.map(org.apache.spark.sql.functions.col): _*)
      // the published row count rides the write as an observed metric —
      // the old read-the-staging-dir-back count() doubled every
      // refresh's driver actions for a number the write already knows
      val obs = new org.apache.spark.sql.Observation()
      val writer = df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
      (if (job.partitionBy.nonEmpty) writer.partitionBy(job.partitionBy: _*) else writer)
        .parquet(tmp)
      obs.get("n").asInstanceOf[Long]
    }

  /** Refresh every view registered for the given sources; returns
    * view→rowcount. Sources with no views (reference: EIA/OE read raw)
    * are skipped, like refresh_views.py:56-57. */
  def refreshForSources(
      spark: SparkSession,
      warehouse: String,
      registry: Registry,
      sources: Seq[String],
  ): Map[String, Long] = {
    // Views are INDEPENDENT tables (distinct paths, each with its own
    // atomic swap), so their refreshes submit concurrently — Spark's
    // scheduler is thread-safe for concurrent job submission, and a
    // registry's 2-3 small builds otherwise serialize their fixed
    // write+swap cost. A failed refresh propagates after the await;
    // siblings each stay individually consistent via their own swap.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    sources
      .flatMap(registry.viewsFor)
      .distinctBy(_.name)
      .map(j => j.name -> Future(refreshView(spark, warehouse, j)))
      .map { case (n, f) => n -> Await.result(f, Duration.Inf) }
      .toMap
  }
}
