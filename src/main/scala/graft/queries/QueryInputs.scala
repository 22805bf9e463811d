package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.CorpusStats
import graft.validate.{Rules, Validator}
import graft.views.Refresh

/** What the query bodies read besides SQL: the corpus table readers,
  * the fixtures the ETL queries and their oracles share, and the
  * dir-keyed paths of the artifacts a query persists for its oracle
  * to replay. */
private[graft] object QueryInputs {

  /** Scan-split count per (dir, table), memoized — building the scan
    * RDD just to count its partitions is cheap but not free, and tbl()
    * is called several times per query. */
  private val scanPartsByTable =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Shared table reader, with the guide's input-underparallelism
    * remedy (spark_optimization_guide §2.5: an unsplittable or
    * single-row-group input leaves the scan — and with it EVERY
    * map-side kernel before the first exchange: tokenize, shingle,
    * decode, explode+partial-agg — on a handful of cores; "fix at the
    * source if you can; otherwise repartition immediately after the
    * read"). The gate is scale-adaptive, not a local constant: it
    * fires only when the scan yields fewer splits than the session's
    * default parallelism, so a production-scale table (splits ≫
    * cores) reads untouched and pays nothing, while a small or
    * badly-laid-out input spreads once through a table-sized
    * round-robin exchange. Catalyst still pushes filters/projections
    * through the Repartition node, so PushedFilters/ReadSchema at the
    * scan are unchanged. */
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[tbl]] + the guide's input-underparallelism remedy, applied
    * PER CALL SITE (guide §2.5 "fix at the source if you can;
    * otherwise repartition immediately after the read"): the corpus
    * parquet is one row group per table, so a scan is a single split
    * and everything before the first exchange runs on one core. The
    * gate is scale-adaptive — it fires only when the scan yields fewer
    * splits than the session's default parallelism, so a
    * production-scale table reads untouched — and Catalyst still
    * pushes filters/projections through the Repartition node.
    *
    * Deliberately OPT-IN, not the tbl() default: the full-suite A/B
    * (BENCH_MID_r16 vs BENCH_BASELINE_r16) showed the blanket form
    * helps exactly the queries whose per-row KERNEL work dominates
    * (codec decode, substring/jaccard grams, the annotator scans:
    * mm* −80 %, td14 −45 %, t2/t3/t5/t7 −40–60 %) and HURTS the rest
    * of the tail — sketch aggregates carry per-PARTITION partial
    * buffers (CMS/Bloom/KMV state × 32 instead of × 1: t18/t27/t19
    * +~2×), the LSH cascade pays per-stage task overhead across its
    * many small stages (td3/td4 +25–35 %), and the embedding family
    * likewise (v1/v3 +~50 %). */
  def spreadTbl(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = tbl(s, dir, name)
    val parts = scanPartsByTable.computeIfAbsent(s"$dir/$name",
      _ => Integer.valueOf(df.rdd.getNumPartitions)).intValue()
    val par = s.sparkContext.defaultParallelism
    if (parts >= par) df else df.repartition(par)
  }

  /** events.ts normalization — the physical parquet type has varied
    * across testdata generations and the engine must accept all of
    * them:
    *   - TIMESTAMP(NANOS) read as a nanosecond long under
    *     spark.sql.legacy.parquet.nanosAsLong (set by every graft
    *     session) — convert with exact integer division (a
    *     double-division would lose precision at 1e18 ns);
    *   - TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark
    *     reads as TIMESTAMP_NTZ — cast to TIMESTAMP (identity on the
    *     micros value under the UTC session timezone every graft
    *     session pins). Without this cast every unix_millis/
    *     unix_micros call downstream fails analysis (NTZ is not
    *     implicitly coerced) — the root cause of the 12 queries that
    *     silently vanished from the r07 driver check.
    * All downstream operators see one type: TIMESTAMP (UTC). */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Exact order-independent sum of a 2-dec measure, as double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Session-lifetime corpus-stats warehouses, keyed by corpus dir:
    * the [[graft.text.CorpusStats]] table is refreshed ONCE per
    * (JVM, corpus) through the M2 registry — standing in for the
    * production out-of-band refresh cadence — and every t30 call then
    * reads the one published row. computeIfAbsent keeps concurrent
    * first callers from double-building. CONTRACT: the cache has no
    * invalidation — a corpus dir REWRITTEN inside one JVM session
    * serves the stats built from its first load (exactly the bench /
    * verify contract, where a corpus dir is immutable for the run);
    * a long-lived service would key this on the corpus snapshot
    * marker and re-refresh through the same M2 swap. */
  private val corpusStatsWhByDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def corpusStatsWarehouse(s: SparkSession, dir: String): String =
    corpusStatsWhByDir.computeIfAbsent(dir, _ => {
      val wh = Defaults.scratchDir("graft-corpus-stats")
      Refresh.refreshForSources(s, wh,
        Refresh.Registry(Map("documents" -> Seq(
          CorpusStats.viewJob(ss => tbl(ss, dir, "documents"), "text")))),
        Seq("documents"))
      wh
    })

  /** Frozen "now" for the validation queries: 2024-01-15T00:00:00Z,
    * mid-range of the events table so the not-in-future rule really
    * splits the data. */
  val NowMs = 1705276800000L
  val RunId = "550e8400-e29b-41d4-a716-446655440000"

  /** Mixed-type JSONL fixture shared verbatim with the p10 oracle SQL
    * (same lines inlined as VALUES there — both engines must agree on
    * the lexical type of every token). */
  val P10Fixture: Seq[(Int, String)] = Seq(
    1 -> """{"created_at_ms":true,"generation_mwh":100.0}""",
    2 -> """{"created_at_ms":1700000000000,"generation_mwh":"100.0"}""",
    3 -> """{"created_at_ms":1700000000000,"generation_mwh":100}""",
    4 -> """{"created_at_ms":1700000000000,"generation_mwh":100.5,"utility_id":"abc","unit":null}""",
    5 -> """{"utility_id":7,"unit":5.5,"resolution_minutes":60}""",
    6 -> """{"utility_id":1.5,"unit":true,"resolution_minutes":"60"}""",
  )

  val LineitemKey = Seq("l_orderkey", "l_linenumber")
  val LineitemOrder = Seq("l_shipdate", "l_partkey", "l_suppkey", "l_extendedprice")

  /** Event-type → category map (the PSR→fuel dictionary analog, P6). */
  val EventCategory = Map(
    "click" -> "Engagement", "view" -> "Engagement",
    "purchase" -> "Conversion", "signup" -> "Conversion",
    "error" -> "Fault",
  )

  def eventsWithMs(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("timestamp_ms", unix_millis(col("ts")))

  private def eventValidationRules: Seq[Rules.Rule] =
    Seq(Rules.required("event_id")) ++
      Rules.requiredWith("value", Rules.isNonNegative, "must be non-negative number") ++
      Rules.requiredWith("event_type", Rules.isNonEmptyString, "must be non-empty string") ++
      Rules.requiredWith("timestamp_ms", Rules.isPositiveTimestamp(_, NowMs),
        "invalid timestamp (must be positive and not in future)") ++
      Seq(Rules.required("user_id"),
        Rules.optionalWith("user_id", c => c <= 9, "must be valid code"))

  def annotatedEvents(s: SparkSession, dir: String): DataFrame =
    Validator.annotate(eventsWithMs(s, dir), eventValidationRules)

  /** Where the v7 query persists its fitted KMeans centroids, so the
    * oracle SQL can read_parquet the same files after Verify has run.
    * k×dim doubles round-trip parquet exactly, so the replay is
    * bit-identical to v4's. The path is keyed by user (two users on
    * one host never collide on /tmp permissions) AND by a hash of the
    * corpus dir: a Verify/Bench run on another corpus writes a
    * DIFFERENT path, so stale runs cannot overwrite the centroids a
    * concurrent oracle check is reading. The query and its oracle
    * derive the key from the same dir, so no state passes between
    * them. */
  def v7CorpusKeyFor(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
  def v7CentroidsPathFor(key: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_v7_centroids_${System.getProperty("user.name", "anon")}_$key").toString

  /** t12's trained classifier weights persist the same way: the query
    * trains in Spark and writes (token, w) rows; the oracle replays
    * scoring (broadcast join + exact decimal sum) from the parquet. */
  def t12WeightsPathFor(key: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_t12_weights_${System.getProperty("user.name", "anon")}_$key").toString

  /** v12's PQ codebooks persist beside v7's centroids, same
    * corpus-keyed layout. */
  def v12CodebooksPathFor(key: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_v12_codebooks_${System.getProperty("user.name", "anon")}_$key").toString

  /** Warehouse root for the persisted ANN indexes ([[graft.sim.IvfIndex]])
    * of one corpus — the same tmpdir + corpus-key convention as every
    * persisted query artifact here. Two profiles live under it:
    * `ivf_a` (serve-grade lists, targetList 1024, + the PQ component —
    * v4/v15) and `ivf_b` (SemDeDup clustering grain, targetList 16 so
    * realized cluster sizes straddle v10's maxClusterSize 32 at every
    * scale — both dedup branches stay exercised). The oracle replays
    * assignment/probes/codes from the PUBLISHED centroid + codebook
    * parquet (the v7 pattern), so a wrong persisted assignment or code
    * hash-mismatches the independent re-derivation. */
  def annWarehouseFor(dir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ann_${System.getProperty("user.name", "anon")}_${v7CorpusKeyFor(dir)}").toString
}
