package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.views.Refresh
import graft.warehouse.PersistedIndex

/** Persisted, refresh-maintained LSH (band, bucket) index over an
  * already-admitted BASE corpus — the [[graft.sim.IvfIndex]] pattern
  * applied to the incremental near-dup gate. [[TextDedup]] documents
  * that "in production the base side is the stored bucket index, not
  * a re-derivation from base text"; until r17 the td11 query path
  * nevertheless re-shingled, re-signed and re-bucketed the full base
  * corpus inside every call. This module makes the stored index real:
  *
  *   - the index is the distinct (band, bucket) set of
  *     [[TextDedup.minhashBuckets]] over the base — byte-identical to
  *     the per-call derivation, so the gate's drop set is unchanged;
  *   - published through the M2 atomic swap
  *     ([[graft.views.Refresh.refreshView]]) and kept valid by
  *     [[graft.warehouse.PersistedIndex]]: a crash mid-build or a base
  *     rewrite (even one keeping the row count) never serves stale;
  *   - at 100 TB the build is a scheduled refresh job (one
  *     shingle+signature pass over the base, amortized across every
  *     batch admitted between refreshes — in steady state the
  *     streaming sink APPENDS each admitted batch's buckets instead of
  *     rebuilding, which is exactly what
  *     [[graft.streaming.StreamingIngest]] does with its bucket
  *     store); the gate's query path reads published slim
  *     (band, bucket) parquet and pays one left-semi join.
  *
  * Measurement contract: Bench/Verify purge the warehouse at startup
  * ([[graft.SparkEntry.purgePersistedIndexes]]), so every invocation
  * provably rebuilds the index from the parquet inputs (in Bench's
  * untimed warm-up — the IvfIndex/t30 pattern).
  */
object BucketIndex {

  /** Bumped whenever the bucket derivation changes — a persisted
    * index from an older version never serves. */
  val Version = 1

  /** The published table's schema, known up front so reading it runs
    * no schema-inference job. */
  val BucketsSchema: StructType =
    new StructType().add("band", IntegerType).add("bucket", LongType)

  final case class Handle(warehouse: String, name: String) {
    def bucketsPath: String = Refresh.viewPath(warehouse, s"${name}_buckets")
    def metaPath: String = Refresh.viewPath(warehouse, s"${name}_meta")
  }

  /** Return a handle to a valid bucket index for (base, params),
    * building it if absent or stale. Staleness = meta missing, or any
    * of (version, k, numHashes, bands, base fingerprint over the id and
    * text columns) changed — see [[graft.warehouse.PersistedIndex]]. */
  def ensure(
      spark: SparkSession,
      warehouse: String,
      name: String,
      base: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      numHashes: Int,
      bands: Int,
  ): Handle = {
    val h = Handle(warehouse, name)
    PersistedIndex.ensure(spark, h.metaPath, Version,
      Seq("k" -> k, "num_hashes" -> numHashes, "bands" -> bands), base, Seq(idCol, textCol)) { _ =>
      Refresh.refreshView(spark, warehouse, Refresh.ViewJob(s"${name}_buckets",
        _ => TextDedup.minhashBuckets(base, idCol, textCol, k, numHashes, bands)
          .select("band", "bucket").distinct()))
      Nil
    }
    h
  }

  /** The published slim (band, bucket) table. */
  def buckets(spark: SparkSession, h: Handle): DataFrame =
    spark.read.schema(BucketsSchema).parquet(h.bucketsPath)
}
