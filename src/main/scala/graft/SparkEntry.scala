package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CurationQueries, DedupQueries, EtlQueries, MultimodalQueries, QueryInputs, QuerySpec, SimilarityQueries, TextQueries}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the beyond-reference training-data operators), each
  * with DuckDB oracle SQL over the same parquet tables.
  *
  * Determinism rules shared by the Spark and oracle sides:
  *   - money/measure sums go through DECIMAL(18,2) (exact, order-free)
  *     and are cast back to DOUBLE;
  *   - averages are written as SUM/COUNT (never engine AVG);
  *   - similarity scores are rounded to 6 dp *before* ranking;
  *   - month buckets are 'yyyy-MM-01' strings (reference
  *     database.py:832 TO_CHAR pattern);
  *   - "now" for validation is a frozen parameter (SURVEY.md §7.3).
  */
object SparkEntry {

  /** Every declared query, one family file each under `graft/queries/`. */
  private val specs: Seq[QuerySpec] = registry(
    EtlQueries.specs ++ TextQueries.specs ++ CurationQueries.specs ++
      DedupQueries.specs ++ SimilarityQueries.specs ++ MultimodalQueries.specs)

  /** `specs` unchanged once every name is unique: a second spec under
    * one name would shadow the first in the name-keyed maps below and
    * silently drop a query from Verify, Bench and the oracle check. */
  private[graft] def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** Flagship query on sf=0.001: crosswalk-enrichment join + monthly
    * rollup (J4 + A1 analog). */
  def entry(spark: SparkSession): DataFrame =
    queries("j4_crosswalk_enrich")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  /** Driver-contract accessor: the oracle map for the default corpus
    * dir (SPARK_GRAFT_SF_DIR, else the driver's sf0.01 correctness
    * scale). Prefer [[oracleSqlFor]] when the dir is known — Verify
    * passes its sfDir explicitly. */
  def oracleSql: Map[String, String] = oracleSqlFor(
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))

  /** The oracle map as a PURE function of the corpus dir: the
    * artifact-backed queries (t12 weights, v7 centroids, v12/v15
    * codebooks) embed parquet paths that are the same function of the
    * dir the query closures use — no mutable corpus-key state, so
    * queries and oracles stay consistent under concurrent execution. */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    specs.map(q => q.name -> q.oracle(sfDir)).toMap

  /** Delete the persisted per-corpus index warehouse (the IVF tables
    * AND the td11 base bucket index — both live under
    * [[graft.queries.QueryInputs.annWarehouseFor]]), so the CALLING
    * invocation provably rebuilds them from the parquet inputs. Every other persisted query
    * artifact (t12 weights, v12 codebooks, v7 centroids) is
    * write-through — re-trained and re-written on every call — but
    * [[graft.sim.IvfIndex.ensure]] and
    * [[graft.text.BucketIndex.ensure]] deliberately skip a rebuild
    * while their meta file still matches (version, params, base
    * fingerprint — [[graft.warehouse.PersistedIndex]], the M2
    * refresh-cadence contract). That is correct for a long-lived
    * session and WRONG for a measurement contract that requires each
    * bench/verify invocation to compute from the inputs: Bench and
    * Verify call this at startup, so the index build happens inside
    * the invocation (in Bench's untimed warm-up, exactly like the t30
    * corpus-stats session refresh), never carried over from a previous
    * process. */
  def purgePersistedIndexes(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(QueryInputs.annWarehouseFor(dir)))
  }
}
