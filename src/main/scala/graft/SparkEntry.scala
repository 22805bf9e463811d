package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.{AsofJoin, RangeJoin, Rollups, Sessionize, Stats}
import graft.dedup.Dedup
import graft.incr.{Backfill, Watermarks}
import graft.ingest.{Enrich, IngestJob, JsonlSource}
import graft.multimodal.Multimodal
import graft.quality.Drift
import graft.schema.Schemas
import graft.sim.{Fusion, IvfIndex, Similarity}
import graft.sink.IdempotentAppend
import graft.text.{BigramLM, Bm25, Chunking, CorpusStats, Curation, Decontamination, ImportanceResampling, LineDedup, Packing, QualityClassifier, Sampling, Scrub, Sketches, TextAnalysis, TextDedup, TrainOrder, UnigramLM}
import graft.validate.{Rules, Validator}
import graft.views.{GenerationViews, Refresh}
import graft.warehouse.Warehouse

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
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
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
  private def spreadTbl(s: SparkSession, dir: String, name: String): DataFrame = {
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
  private def events(s: SparkSession, dir: String): DataFrame = {
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
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

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
  private def corpusStatsWarehouse(s: SparkSession, dir: String): String =
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
  private val NowMs = 1705276800000L
  private val RunId = "550e8400-e29b-41d4-a716-446655440000"

  /** Mixed-type JSONL fixture shared verbatim with the p10 oracle SQL
    * (same lines inlined as VALUES there — both engines must agree on
    * the lexical type of every token). */
  private val P10Fixture: Seq[(Int, String)] = Seq(
    1 -> """{"created_at_ms":true,"generation_mwh":100.0}""",
    2 -> """{"created_at_ms":1700000000000,"generation_mwh":"100.0"}""",
    3 -> """{"created_at_ms":1700000000000,"generation_mwh":100}""",
    4 -> """{"created_at_ms":1700000000000,"generation_mwh":100.5,"utility_id":"abc","unit":null}""",
    5 -> """{"utility_id":7,"unit":5.5,"resolution_minutes":60}""",
    6 -> """{"utility_id":1.5,"unit":true,"resolution_minutes":"60"}""",
  )

  private val LineitemKey = Seq("l_orderkey", "l_linenumber")
  private val LineitemOrder = Seq("l_shipdate", "l_partkey", "l_suppkey", "l_extendedprice")

  /** Event-type → category map (the PSR→fuel dictionary analog, P6). */
  private val EventCategory = Map(
    "click" -> "Engagement", "view" -> "Engagement",
    "purchase" -> "Conversion", "signup" -> "Conversion",
    "error" -> "Fault",
  )

  private def eventsWithMs(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("timestamp_ms", unix_millis(col("ts")))

  private def eventValidationRules: Seq[Rules.Rule] =
    Seq(Rules.required("event_id")) ++
      Rules.requiredWith("value", Rules.isNonNegative, "must be non-negative number") ++
      Rules.requiredWith("event_type", Rules.isNonEmptyString, "must be non-empty string") ++
      Rules.requiredWith("timestamp_ms", Rules.isPositiveTimestamp(_, NowMs),
        "invalid timestamp (must be positive and not in future)") ++
      Seq(Rules.required("user_id"),
        Rules.optionalWith("user_id", c => c <= 9, "must be valid code"))

  private def annotatedEvents(s: SparkSession, dir: String): DataFrame =
    Validator.annotate(eventsWithMs(s, dir), eventValidationRules)

  // ---------------------------------------------------------------------

  /** Flagship query on sf=0.001: crosswalk-enrichment join + monthly
    * rollup (J4 + A1 analog). */
  def entry(spark: SparkSession): DataFrame =
    queries("j4_crosswalk_enrich")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- Aggregations (A1–A11) -----------------------------------------

    // A5/TPC-H Q1 flavor: multi-metric pricing summary.
    "a5_pricing_summary" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          // Decimal-exact end to end: price and discount are exact
          // 2-dp values, so casting them to decimal BEFORE the multiply
          // makes every per-row product and the sum identical rational
          // numbers on any engine. (Multiplying in double first and
          // converting the product to decimal rounds half-cases
          // differently across engines — observed ~1e-7 sum drift at
          // sf0.1.) round(2) = the money rendering.
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1.0).cast("decimal(8,2)") - col("l_discount").cast("decimal(8,2)")))
            .cast("double"), 2).as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"),
        )
    }),

    // A1: monthly rollup with the MW→MWh conversion inside the sum
    // (l_linenumber plays resolution_minutes).
    "a1_monthly_rollup" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(
          Rollups.monthStr(col("l_shipdate")).as("month"),
          col("l_returnflag"))
        .agg((sum(col("l_quantity") * col("l_linenumber")) / 60.0)
          .as("total_generation_mwh"))
    }),

    // A2: monthly plant rollup (user_id ≈ plant) via Rollups.monthly.
    "a2_monthly_plant_rollup" -> ((s, dir) => {
      Rollups
        .monthly(
          events(s, dir),
          col("ts"),
          Seq("user_id" -> col("user_id"), "event_type" -> col("event_type")),
          col("value").cast("decimal(18,2)"))
        .withColumn("total_generation_mwh", col("total_generation_mwh").cast("double"))
    }),

    // A4: row-count coverage matrix across three fact tables.
    "a4_coverage_matrix" -> ((s, dir) => {
      Rollups.coverageMatrix(Seq(
        ("orders", tbl(s, dir, "orders"), col("o_orderdate")),
        ("lineitem", tbl(s, dir, "lineitem"), col("l_shipdate")),
        ("events", events(s, dir), col("ts")),
      ))
    }),

    // A5: parameterized-granularity monthly export (month × priority).
    "a5_multi_metric_monthly" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(
          Rollups.monthStr(col("o_orderdate")).as("month"),
          col("o_orderpriority"))
        .agg(
          dsum(col("o_totalprice")).as("total_generation_mwh"),
          count(lit(1)).as("hours_of_data"),
          (dsum(col("o_totalprice")) / count(lit(1))).as("avg_generation_mw"),
          max(col("o_totalprice")).as("peak_generation_mw"),
        )
    }),

    // A6: distinct years probe (drives the per-year export loop).
    "a6_distinct_years" -> ((s, dir) =>
      Stats.distinctYears(tbl(s, dir, "orders"), col("o_orderdate"))),

    // A7: per-run date range (user_id ≈ extraction_run_id).
    "a7_date_range" -> ((s, dir) =>
      Stats.dateRange(events(s, dir), col("ts"), col("user_id") === 7)),

    // A8: latest-date-per-source watermark probe.
    "a8_latest_dates" -> ((s, dir) => {
      Stats.latestDates(Seq(
        ("orders", tbl(s, dir, "orders"), col("o_orderdate")),
        ("lineitem", tbl(s, dir, "lineitem"), col("l_shipdate")),
        ("events", events(s, dir), col("ts")),
      ))
    }),

    // A9: record counts across all tables.
    "a9_record_counts" -> ((s, dir) => {
      Stats.recordCounts(Seq(
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
      ).map(n => n -> tbl(s, dir, n)))
    }),

    // A10: conditional-aggregation extraction summary.
    "a10_extraction_summary" -> ((s, dir) => {
      Stats.conditionalSummary(
        tbl(s, dir, "orders"),
        col("o_orderpriority"),
        col("o_orderstatus") === "F",
        col("o_totalprice").cast("decimal(18,2)"),
        col("o_orderdate"),
        col("o_orderdate"),
      ).withColumn("total_records", col("total_records").cast("double"))
        // Render date bounds as strings: parquet TIMESTAMP vs DuckDB DATE
        // materialize to different pandas dtypes and break the hash compare.
        .withColumn("earliest_start", date_format(col("earliest_start"), "yyyy-MM-dd"))
        .withColumn("latest_end", date_format(col("latest_end"), "yyyy-MM-dd"))
    }),

    // A11: duplicate-count verification on the natural key.
    "a11_duplicate_count" -> ((s, dir) =>
      Dedup.duplicateCount(tbl(s, dir, "lineitem"), LineitemKey.map(col))),

    // --- Dedup / upsert (D1–D4, W1, S7/J3) -----------------------------

    // D1/W1: first-occurrence-wins dedup with a stable tiebreak.
    "d1_dedup_first_wins" -> ((s, dir) =>
      Dedup.firstWinsByName(tbl(s, dir, "lineitem"), LineitemKey, LineitemOrder)),

    // W1 (counting half): per-key duplicate histogram.
    "w1_duplicate_groups" -> ((s, dir) =>
      Dedup
        .duplicateGroups(tbl(s, dir, "lineitem"), LineitemKey.map(col))
        .orderBy("l_orderkey", "l_linenumber")),

    // D2/J3/S7: idempotent-upsert anti-join — new rows only.
    "d2_upsert_new_rows" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val incoming = Dedup.firstWinsByName(
        li.filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp")),
        LineitemKey, LineitemOrder)
      val existing = li.filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      IdempotentAppend.newRows(incoming, existing, LineitemKey)
    }),

    // S7: the "rows actually inserted" accounting of the staged upsert.
    // One pass: rank incoming in-place, left-join distinct existing keys,
    // and take all three counts from a single aggregate — no recomputed
    // lineage, no cross-joined sub-aggregates.
    "s7_upsert_counts" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val rawIncoming = li.filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp"))
      val w = Window.partitionBy(LineitemKey.map(col): _*).orderBy(LineitemOrder.map(col): _*)
      val existingKeys = li.filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(LineitemKey.map(col): _*).distinct().withColumn("_exists", lit(1))
      rawIncoming
        .withColumn("_rn", row_number().over(w))
        .join(existingKeys, LineitemKey, "left")
        .agg(
          count(lit(1)).as("incoming_records"),
          count(when(col("_rn") === 1, 1)).as("batch_records"),
          count(when(col("_rn") === 1 && col("_exists").isNull, 1)).as("inserted_records"),
        )
    }),

    // D4: metadata merge — latest version wins per key.
    "d4_metadata_merge" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      IdempotentAppend.mergeLatest(
        o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 3 === 0),
        Seq("o_orderkey"),
        Seq(col("o_orderdate").desc, col("o_totalprice").desc,
          col("o_orderstatus").asc, col("o_orderpriority").asc, col("o_custkey").asc),
      )
    }),

    // --- Joins (J1, J4) ------------------------------------------------

    // J1: crosswalk drift anti-join (nation plays plant_crosswalk).
    "j1_drift_missing" -> ((s, dir) =>
      Drift.missingFromCrosswalk(
        tbl(s, dir, "customer"),
        col("c_nationkey"),
        tbl(s, dir, "nation"),
        col("n_nationkey"),
        col("n_regionkey") <= 2,
      )),

    // J4: crosswalk enrichment join + monthly rollup (broadcast dims).
    "j4_crosswalk_enrich" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(Rollups.monthStr(col("o_orderdate")).as("month"), col("r_name"))
        .agg(
          dsum(col("o_totalprice")).as("total_revenue"),
          count(lit(1)).as("order_count"))
    }),

    // J6: capacity-enrichment join — the reference's generator-level
    // metadata joins (eia_generator_info on (plant_code, generator_id),
    // gcpt_coal_metadata on eia_unit_id; reference
    // schema/eia_generator_info.sql:4-12, gcpt_coal_metadata.sql:4-14).
    // Dimension rows are built deterministically by id arithmetic
    // (standing in for the reference's XLSX/CSV bootstrap loads) with
    // the Schemas.eiaGeneratorInfo / gcptCoalMetadata shapes; both
    // dims BROADCAST — facts never shuffle for the enrichment, only
    // for the per-generator rollup. Capacity factor =
    // generation / (nameplate × 8760 h).
    "j6_capacity_enrich" -> ((s, dir) => {
      val tech = (col("n_nationkey") + col("g")) % 4
      val gens = tbl(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"),
          explode(sequence(lit(0), lit(3))).as("g"))
      val ginfo = gens.select(
        col("n_nationkey").cast("string").as("plant_code"),
        col("g").cast("string").as("generator_id"),
        when(tech === 0, "Conventional Steam Coal")
          .when(tech === 1, "Natural Gas Fired Combined Cycle")
          .when(tech === 2, "Onshore Wind Turbine")
          .otherwise("Solar Photovoltaic").as("technology"),
        when(tech === 0, "ST").when(tech === 1, "CT")
          .when(tech === 2, "WT").otherwise("PV").as("prime_mover"),
        when(tech === 0, "BIT").when(tech === 1, "NG")
          .when(tech === 2, "WND").otherwise("SUN").as("energy_source_1"),
        (lit(100) + lit(37) * ((col("n_nationkey") * 4 + col("g")) % 13))
          .cast("double").as("nameplate_capacity_mw"),
        col("n_name"))
      val gcpt = ginfo.filter(col("prime_mover") === "ST").select(
        concat(lit("G"), col("plant_code"), lit("-"), col("generator_id")).as("gcpt_unit_id"),
        concat(col("plant_code"), lit("_"), col("generator_id")).as("eia_unit_id"),
        concat(lit("Plant "), col("n_name")).as("plant_name"),
        concat(lit("Unit "), col("generator_id")).as("unit_name"),
        when(col("plant_code").cast("int") % 2 === 0, "Bituminous")
          .otherwise("Lignite").as("coal_type"),
        lit("subcritical").as("technology"),
        col("nameplate_capacity_mw").as("capacity_mw"),
        col("n_name").as("country"))
      val facts = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(
          col("c_nationkey").cast("string").as("plant_code"),
          (col("o_orderkey") % 4).cast("string").as("generator_id"),
          col("o_totalprice"))
      facts
        .join(broadcast(ginfo.drop("n_name")), Seq("plant_code", "generator_id"))
        .groupBy(col("plant_code"), col("generator_id"),
          col("technology"), col("nameplate_capacity_mw"))
        .agg(dsum(col("o_totalprice")).as("total_net_generation_mwh"))
        .withColumn("capacity_factor",
          round(col("total_net_generation_mwh") / (col("nameplate_capacity_mw") * 8760.0), 6))
        .join(broadcast(gcpt.select(col("eia_unit_id"), col("coal_type"), col("country"))),
          concat(col("plant_code"), lit("_"), col("generator_id")) === col("eia_unit_id"),
          "left")
        .drop("eia_unit_id")
    }),

    // --- Validation (P9–P18) -------------------------------------------

    // P17/P18 + A12: single-row validation summary (conservation law).
    "p18_validate_summary" -> ((s, dir) => Validator.summary(annotatedEvents(s, dir))),

    // P18: error-type histogram over the invalid branch.
    "p18_error_stats" -> ((s, dir) =>
      Validator.errorStats(annotatedEvents(s, dir)).orderBy("error_type")),

    // P18: the valid branch itself.
    "p17_valid_records" -> ((s, dir) =>
      Validator
        .validRecords(annotatedEvents(s, dir))
        .select("event_id", "timestamp_ms", "user_id", "event_type", "value")),

    // P10: lexical JSON type checks over a mixed-type fixture — the
    // raw token type (from the line parsed as VARIANT) decides, not
    // the schema-on-read column type. Pins the reference's edges:
    // bool is NOT int/float, int IS float, quoted "100.0" is NOT float
    // (validator.py:326-362; test_validator.py:440-480).
    "p10_lexical_types" -> ((s, dir) => {
      import s.implicits._
      val df = P10Fixture.toDF("rid", "line")
        .withColumn("_v", try_parse_json(col("line")))
      def ok(f: String, t: String): Column =
        !coalesce(Rules.typeRule(col("_v"), f, t).violated, lit(false))
      df.select(col("rid"),
        ok("created_at_ms", "int").as("created_at_is_int"),
        ok("generation_mwh", "float").as("mwh_is_float"),
        ok("utility_id", "int_or_str").as("utility_is_int_or_str"),
        ok("unit", "str_or_null_or_number").as("unit_is_str_null_num"),
        ok("resolution_minutes", "int_or_null").as("resolution_is_int_or_null"))
    }),

    // --- Enrichment / transforms (P1–P8, S1) ---------------------------

    // P1: whitelist projection.
    "p1_projection" -> ((s, dir) =>
      Enrich.project(tbl(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))),

    // P2+P5: envelope enrichment with frozen run metadata + ms coercion.
    "p2_enrich_envelope" -> ((s, dir) => {
      Enrich
        .ensureRunMetadata(eventsWithMs(s, dir), RunId, NowMs)
        .select("event_id", "extraction_run_id", "created_at_ms", "timestamp_ms")
    }),

    // P5: timestamp coercion of string-typed timestamps (UTC).
    "p5_ts_coercion" -> ((s, dir) => {
      events(s, dir)
        .withColumn("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .select(col("event_id"),
          Enrich.coerceTimestampMs(col("ts_str")).as("timestamp_ms"))
    }),

    // P6: dictionary lookup via broadcast literal map.
    "p6_dict_lookup" -> ((s, dir) => {
      val m = typedLit(EventCategory)
      events(s, dir)
        .select(col("event_id"), col("event_type"),
          coalesce(m(col("event_type")), lit("Unknown")).as("category"))
    }),

    // P7: leaked-suffix strip (longest-first, one per family).
    "p7_suffix_strip" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          Enrich.stripPlantSuffixes(
            concat(col("event_type"), lit("_Actual Aggregated"))).as("plant_name"))
    }),

    // S1/S2: schema-enforced JSONL parse — rows round-trip through
    // JSONL text and back under the declared schema (the scan parser
    // exercised inside the oracle gate; file-based variants are
    // covered in JsonlSourceSpec).
    "s2_ingest_roundtrip" -> ((s, dir) => {
      val src = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val lines = src.select(to_json(struct(src.columns.toIndexedSeq.map(col): _*)).as("line"))
      graft.ingest.JsonlSource.parseJsonLines(lines, "line", src.schema)
    }),

    // S1-ish: JSON field extraction (the JSONB metadata analog).
    "s1_json_extract" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_value"))),

    // --- MV / ordering (M3) --------------------------------------------

    // M3: recent-first top-k (the reference's only sort+limit).
    "m3_topk_recent" -> ((s, dir) =>
      events(s, dir)
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(20)
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("user_id"), col("event_type"), col("value"))),

    // §2.6 harmonization: stack three "sources" into one canonical
    // envelope via unionByName, then roll up per source-month — the
    // Spark-native version of the reference dashboard's
    // UNION-by-convention over per-source aggregates.
    "u1_harmonized_stack" -> ((s, dir) => {
      val o = tbl(s, dir, "orders").select(
        lit("orders").as("source"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("timestamp_ms"),
        col("o_totalprice").as("measure"))
      val l = tbl(s, dir, "lineitem").select(
        lit("lineitem").as("source"),
        unix_millis(col("l_shipdate").cast("timestamp")).as("timestamp_ms"),
        col("l_extendedprice").as("measure"))
      val e = events(s, dir).select(
        lit("events").as("source"),
        unix_millis(col("ts")).as("timestamp_ms"),
        col("value").as("measure"))
      o.unionByName(l).unionByName(e)
        .groupBy(col("source"),
          Rollups.monthStr(timestamp_millis(col("timestamp_ms"))).as("month"))
        .agg(dsum(col("measure")).as("total"), count(lit(1)).as("records"))
    }),

    // A5 at ALL granularities in ONE scan via GROUPING SETS — the
    // reference runs three separate queries per granularity
    // (database.py:829-861); grouping sets make it a single pass,
    // which is the difference between one and three 100 TB scans.
    "a5_grouping_sets" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .withColumn("month", Rollups.monthStr(col("o_orderdate")))
        .groupingSets(
          Seq(Seq(col("month")), Seq(col("month"), col("o_orderpriority")),
            Seq(col("month"), col("o_orderpriority"), col("o_orderstatus"))),
          col("month"), col("o_orderpriority"), col("o_orderstatus"))
        .agg(dsum(col("o_totalprice")).as("total_generation_mwh"),
          count(lit(1)).as("hours_of_data"))
    }),

    // M3+J4 combo: top-k revenue customers (join + agg + sort-limit).
    "m3_top_customers" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("orders"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(25)
    }),

    // Window beyond row_number (lead/lag family the dashboard layer
    // uses, SURVEY.md §2.5 note): month-over-month revenue delta.
    "w2_mom_delta" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = tbl(s, dir, "orders")
        .groupBy(Rollups.monthStr(col("o_orderdate")).as("month"))
        .agg(dsum(col("o_totalprice")).as("revenue"))
      // unpartitioned window is safe here: the frame is the already-
      // aggregated monthly series (bounded by calendar cardinality,
      // ~100s of rows at any corpus scale), not the fact table.
      // The "WindowExec: No Partition Defined ... single partition"
      // WARN this line triggers in bench logs is Spark flagging
      // exactly that bound — expected, audited, harmless; BenchSpec
      // pins this as the repo's ONE unpartitioned-window site.
      val w = Window.orderBy(col("month"))
      monthly.select(col("month"), col("revenue"),
        round(col("revenue") - coalesce(lag(col("revenue"), 1).over(w), lit(0.0)), 2)
          .as("mom_delta"))
    }),

    // Point-in-time attribution: each click joined to the latest view
    // (≤ its timestamp) by the same user — the as-of join Spark lacks
    // as a built-in, via the union + keyed-window form (one shuffle,
    // no range cross-product). DuckDB's native ASOF LEFT JOIN is the
    // oracle.
    "j7_asof_attribution" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("ts").as("view_ts"), col("value").as("view_value"))
      AsofJoin
        .asofJoinLast(clicks, views, Seq("user_id"), "ts", "ts",
          Seq("view_id", "view_ts", "view_value"))
        .select("event_id", "user_id", "ts", "value", "view_id", "view_ts", "view_value")
    }),

    // Lookback interval join: every (click, view-within-the-prior-hour)
    // pair per user, via the bucketed form (equi-join on (key, hour
    // bucket), right side duplicated exactly 2x) — never a range-only
    // or cross join. Oracle is the plain inequality join.
    "j8_lookback_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"), col("ts").as("click_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          unix_micros(col("ts")).as("view_us"), col("ts").as("view_ts"))
      RangeJoin
        .lookbackJoin(clicks, views, Seq("user_id"), "click_us", "view_us",
          windowUs = 3600000000L)
        .select("click_id", "user_id", "view_id", "click_ts", "view_ts")
    }),

    // Gap-based sessionization: per-user sessions open when the
    // inter-event gap exceeds 6h; one user-keyed shuffle computes the
    // break flag, the running session counter, and the per-session
    // rollup (agg/Sessionize.scala). The streaming analog is
    // session_window; this is the batch form a clickstream corpus
    // needs.
    "w3_sessionize" -> ((s, dir) =>
      Sessionize.sessionStats(
        events(s, dir), "user_id", "ts", "value",
        gapUs = 21600000000L, tieBreak = Seq("event_id"))),

    // The hot-user skew mitigation must be provably semantics-free:
    // same oracle SQL as w3, so bucketed ≡ plain is an oracle-checked
    // fact, not just a spec assertion. Stage-1 window partitions by
    // (user, day bucket); stage 2 merges boundary sessions over
    // session rows only (agg/Sessionize.scala).
    "w4_sessionize_bucketed" -> ((s, dir) =>
      Sessionize.sessionStatsBucketed(
        events(s, dir), "user_id", "ts", "value",
        gapUs = 21600000000L, bucketUs = 86400000000L,
        tieBreak = Seq("event_id"))),

    // --- Incremental (I1, I3) ------------------------------------------

    // I1: high-watermark resume point, clamped to a minimum start.
    "i1_watermark_resume" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("latest"))
        .select(Watermarks.resumeFromCol(col("latest"), "1996-01-01").as("resume_date"))),

    // I3: month-window chunking frame.
    "i3_month_windows" -> ((s, dir) =>
      Watermarks.monthWindowFrame(tbl(s, dir, "orders"), col("o_orderdate"))),

    // --- Text analysis (beyond-reference) ------------------------------

    "t1_token_stats" -> ((s, dir) => {
      val t = col("text")
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.charCount(t).as("n_chars"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(t).as("n_bpeish_tokens"),
        round(TextAnalysis.meanWordLength(t), 6).as("mean_word_len"),
      )
    }),

    "t2_lang_id" -> ((s, dir) =>
      spreadTbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),

    "t3_quality_score" -> ((s, dir) =>
      spreadTbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))),

    "t4_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))),

    // Rolling 64-bit content hash (order-sensitive) — no SQL oracle.
    "t5_rolling_hash" -> ((s, dir) =>
      spreadTbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.rollingHash64(col("text")).as("rhash"))),

    // Composed curation pipeline, deterministic prefix: annotate
    // (lang/quality/tokens) → filter → exact dedup keep-min-id, all
    // one plan — the narrow annotate+filter fuses into the scan, the
    // dedup is the single shuffle. Oracle reproduces every stage.
    "tp1_curation_filters" -> ((s, dir) =>
      Curation
        .filterAndExactDedup(tbl(s, dir, "documents"), "doc_id", "text",
          Curation.Config(minQuality = 0.6, langs = Seq("en"), minTokens = 20,
            maxTokens = 1 << 20, nearDupThreshold = None))
        .select("doc_id", "curation_lang", "curation_quality", "curation_tokens")),

    // Full curation: + MinHash near-dup stage (linear representative
    // form) over the deterministic survivors. Hash-checked end to end
    // (tp1 prefix SQL composed with the GHash linear-dedup replay);
    // CurationSpec additionally pins containment and idempotence laws.
    "tp2_curation_full" -> ((s, dir) =>
      Curation
        .curate(tbl(s, dir, "documents"), "doc_id", "text",
          Curation.Config(minQuality = 0.6, langs = Seq("en"), minTokens = 20,
            maxTokens = 1 << 20, nearDupThreshold = Some(0.9)))
        .select("doc_id", "curation_lang", "curation_quality", "curation_tokens")),

    // Budgeted sequence packing: running token total per source (one
    // partitioned window — never a global-order window) and
    // pack_no = floor(exclusive_cumsum / budget). Contiguous bin-fill,
    // SQL-exact.
    "tp3_pack_by_budget" -> ((s, dir) =>
      Packing
        .packByBudget(tbl(s, dir, "documents"), "doc_id",
          TextAnalysis.tokenCount(col("text")), Seq("source"), budgetTokens = 2000L)
        .select("doc_id", "source", "pack_no", "pack_cum_tokens")),

    // Deterministic stratified sampling for corpus mixing: keep iff
    // md5(salt:key) < per-stratum hex threshold — pure function of the
    // key, so re-runs and other engines agree row-for-row.
    "tp4_stratified_sample" -> ((s, dir) =>
      Sampling
        .stratifiedSample(tbl(s, dir, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25), defaultFraction = 0.1)
        .select("doc_id", "lang", "source")),

    // Token-budget corpus mixing: each source keeps documents in a
    // deterministic md5-shuffled order until its char budget is spent
    // (boundary straddler kept, like tp3 packing). The absolute-budget
    // form of tp4's fractional mixing — exact domain shares even when
    // stratum sizes drift between crawls.
    "tp7_token_budget_mix" -> ((s, dir) =>
      Sampling
        .tokenBudgetSample(tbl(s, dir, "documents"), col("doc_id"), col("source"),
          col("n_chars"), Map("src0" -> 4000L, "src1" -> 4000L, "src2" -> 1000L),
          defaultBudget = 2000L, salt = "mix")
        .select("doc_id", "source", "n_chars")),

    // Temperature-scaled mixture shares (XLM-R sampling, alpha=0.3):
    // the engine-side statistic the mixing operators consume — one
    // bounded per-stratum aggregate + a single-row denominator. The
    // UniMax epoch-capped budget variant (driver-side water-filling
    // over the same bounded totals) is spec-covered and feeds
    // tokenBudgetSample's budgets map directly.
    "t29_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureShares(tbl(s, dir, "documents"), col("lang"),
        col("n_chars"), alpha = 0.3)),

    // tp7's two-pass bucketed form (the hot-stratum remedy: the exact
    // running-sum cut assembles from hash-range buckets). Same oracle
    // SQL as tp7 — output-identical by construction.
    "tp21_budget_mix_bucketed" -> ((s, dir) =>
      Sampling
        .tokenBudgetSampleBucketed(tbl(s, dir, "documents"), col("doc_id"), col("source"),
          col("n_chars"), Map("src0" -> 4000L, "src1" -> 4000L, "src2" -> 1000L),
          defaultBudget = 2000L, salt = "mix")
        .select("doc_id", "source", "n_chars")),

    // The temperature pipeline composed END TO END (r13 verdict ask
    // #5): t29's temperature statistic → UniMax budgets → the bucketed
    // exact budget cut, engine-side the whole way. The budgets map is
    // a bounded driver statistic BY DESIGN (one row per stratum, the
    // QualityClassifier topV-collect pattern); the sampler itself is
    // one lazy plan over the corpus. alpha=0.3 upsamples low-resource
    // languages; budgets are floors of the temperature shares, so the
    // oracle replays the whole chain (floor(pow-share × budget) CTE +
    // the tp7 running-sum cut) in SQL. maxEpochs is left unbounded
    // here — the capped water-filling path is pinned by spec against
    // hand-computed budgets (PackingSamplingSpec).
    "tp22_temperature_budget_mix" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val budgets = Sampling.temperatureBudgets(docs, col("lang"),
        col("n_chars"), alpha = 0.3, totalBudget = 60000L)
      Sampling.tokenBudgetSampleBucketed(docs, col("doc_id"), col("lang"),
        col("n_chars"), budgets, defaultBudget = 0L, salt = "tmix")
        .select("doc_id", "lang", "n_chars")
    }),

    // The full curation-to-serving pipeline as ONE chained plan:
    // annotate -> hard gates -> exact dedup -> linear MinHash near-dup
    // -> quality-weighted soft sample -> per-source token-budget mix
    // -> deterministic shard/position assignment. Every stage is the
    // already-oracle-checked operator; the composition stays lazy, so
    // Catalyst fuses the narrow stages and the plan carries exactly
    // the dedup + window shuffles.
    "tp12_curation_to_serving" -> ((s, dir) => {
      val cur = Curation.curate(tbl(s, dir, "documents"), "doc_id", "text",
        Curation.Config(minQuality = 0.6, langs = Seq("en"), minTokens = 20,
          maxTokens = 1 << 20, nearDupThreshold = Some(0.9)))
      val soft = Sampling.weightedSample(cur, col("doc_id"),
        col("curation_quality"), salt = "tp12")
      val mixed = Sampling.tokenBudgetSample(soft, col("doc_id"), col("source"),
        col("curation_tokens"), budgets = Map.empty, defaultBudget = 1500L,
        salt = "tp12mix")
      TrainOrder.shardOrder(mixed, col("doc_id"), numShards = 4, salt = "tp12ep")
        .select("doc_id", "source", "curation_quality", "curation_tokens",
          "shard", "pos")
    }),

    // Overlapping token-window chunking (width 64, stride 48): the
    // context-window preprocessing step for training/retrieval
    // corpora. Fully narrow — fuses into the scan, no shuffle.
    "tp11_chunk_windows" -> ((s, dir) =>
      Chunking.chunkByTokens(tbl(s, dir, "documents"), "doc_id", "text",
        width = 64, stride = 48)),

    // BM25 sparse retrieval: lexical top-k over the corpus via an
    // inverted-index join (distinct query terms broadcast against the
    // postings; the corpus never cross-joins the query set). DECIMAL
    // term-contribution sums make the score order-free and the DuckDB
    // replay exact.
    "t11_bm25_topk" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val q = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext",
        k = 10, excludeSelf = true)
    }),

    // BM25 with the physical shape AUTO-SELECTED from the engine's own
    // corpus-vocabulary estimate (the KMV sketch t17 maintains): point
    // queries — short texts, the |query vocab| ≪ |corpus vocab| regime
    // — against the corpus. Results are shape-independent (Bm25Spec
    // pins both shapes decimal-exact), so the oracle replay is shape-
    // blind; what this query adds is the production call path where
    // the measured selection rule fires from a real estimate instead
    // of lying dormant behind a hand-fed parameter.
    "t28_bm25_auto" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val q = docs.filter(col("doc_id") % 250 === 0)
        .select(col("doc_id").as("query_id"),
          substring(col("text"), 1, 40).as("qtext"))
      val vocab = Sketches.kmvVocabEstimate(docs, "text")
      Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext",
        k = 10, corpusVocabEstimate = Some(vocab))
    }),

    // t28's production endgame (the r13 verdict's ask #3): the shape
    // selection reads the PERSISTED corpus-stats row — a one-row
    // summary table built like any M1 view and refreshed through the
    // M2 registry's atomic swap, once per session per corpus here
    // (standing in for the out-of-band refresh cadence) — instead of
    // re-scanning the corpus per call for the KMV estimate. The
    // executed retrieval plan touches the corpus zero extra times
    // beyond its own postings work. Results are shape-blind (Bm25Spec
    // pins both shapes decimal-exact), so the oracle replay is t28's
    // SQL verbatim.
    "t30_bm25_stats_view" -> ((s, dir) => {
      val stats = CorpusStats.read(s, corpusStatsWarehouse(s, dir))
      val docs = tbl(s, dir, "documents")
      val q = docs.filter(col("doc_id") % 250 === 0)
        .select(col("doc_id").as("query_id"),
          substring(col("text"), 1, 40).as("qtext"))
      Bm25.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext",
        k = 10, corpusVocabEstimate = Some(stats.vocabEstimate))
    }),

    // Hybrid retrieval: BM25 lexical top-20 over documents fused with
    // dense cosine top-20 over the parallel embeddings table (same id
    // space by test-data construction) via reciprocal-rank fusion —
    // rank-based, so no score calibration; fusion never re-touches the
    // corpus.
    "v11_hybrid_rrf" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val lexQ = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val bm = Bm25.bm25TopK(docs, "doc_id", "text", lexQ, "query_id", "qtext",
        k = 20, excludeSelf = true)
      val denseQ = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val dense = Similarity
        .bruteForceTopK(emb, denseQ, "vec_id", "embedding", "query_id", "qvec", k = 20)
        .withColumnRenamed("vec_id", "doc_id")
      Fusion.rrfFuse(Seq(bm, dense), "query_id", "doc_id", k = 10)
    }),

    // Deterministic train/val/test assignment: one md5 draw per doc,
    // banded by two thresholds — disjoint + exhaustive by
    // construction, and growing the corpus never moves an existing
    // document between splits (the frozen-eval-set property). French
    // holds out 10%/10% (the low-resource stratum keeps a bigger eval
    // share); everything else 5%/5%.
    "tp13_split_assignment" -> ((s, dir) =>
      Sampling
        .assignSplit(tbl(s, dir, "documents"), col("doc_id"), col("lang"),
          valFraction = 0.05, testFraction = 0.05,
          overrides = Map("fr" -> (0.1, 0.1)), salt = "tp13")
        .select("doc_id", "lang", "split")),

    // Quality-weighted (soft) sampling: keep probability = the t3
    // quality score per document, decision still a pure function of
    // (salt, key) — high-quality docs survive more often than a hard
    // gate would allow, reproducibly.
    "tp9_weighted_sample" -> ((s, dir) =>
      Sampling
        .weightedSample(tbl(s, dir, "documents"), col("doc_id"),
          TextAnalysis.qualityScore(col("text")), salt = "q")
        .select("doc_id", "lang", "source")),

    // Relative quality gate: top half of each language by the t3
    // quality score — a percentile cut survives corpus-mix drift where
    // an absolute threshold would not. Partitioned window only.
    "tp10_top_fraction" -> ((s, dir) =>
      Sampling
        .topFractionByScore(tbl(s, dir, "documents"), col("lang"),
          TextAnalysis.qualityScore(col("text")), col("doc_id"), fraction = 0.5)
        .select("doc_id", "lang", "source")),

    // tp10's two-pass bucketed form (the hot-stratum remedy: the exact
    // rank assembles from score-range buckets, so a dominant stratum
    // never serializes its full sort into one task). r16: the grid is
    // now scale-ADAPTIVE — the r15 sf100 probe measured the fixed
    // 32-bucket grid's decade-3 exponent at 0.95 (per-bucket occupancy
    // growing linearly); the v3 integer ladder over the largest
    // stratum's count now holds occupancy flat at any scale. Same
    // oracle SQL as tp10 — output-identical by construction (the grid
    // steers only sort-task balance).
    "tp20_top_fraction_bucketed" -> ((s, dir) =>
      Sampling
        .topFractionByScoreBucketed(spreadTbl(s, dir, "documents"), col("lang"),
          TextAnalysis.qualityScore(col("text")), col("doc_id"), fraction = 0.5)
        .select("doc_id", "lang", "source")),

    // Per-domain cap (RefinedWeb/C4 anti-spam cut): keep the best 15
    // docs of each source by quality. The rank filter rewrites to
    // WindowGroupLimit, so a hot domain pre-prunes to its local top-15
    // per map partition before the shuffle.
    "tp14_domain_cap" -> ((s, dir) =>
      Sampling
        .capPerStratum(tbl(s, dir, "documents"), col("source"),
          TextAnalysis.qualityScore(col("text")), col("doc_id"), cap = 15)
        .select("doc_id", "source", "lang")),

    // CCNet head/middle/tail terciles per language by unigram-LM mean
    // surprisal (Wenzek et al. 2020): rank-based buckets (percent_rank
    // is the exact ratio both engines agree on; an interpolated
    // quantile threshold could flip boundary docs at the last ulp).
    "t15_ccnet_buckets" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val scores = UnigramLM.unigramScores(docs, "doc_id", "text", topV = 20)
      Sampling
        .rankBuckets(
          docs.select(col("doc_id"), col("lang")).join(scores, Seq("doc_id")),
          col("lang"), col("mean_neg_logprob"), col("doc_id"))
        .select("doc_id", "lang", "mean_neg_logprob", "bucket")
    }),

    // Deterministic training-order shuffle: shard and in-shard
    // position are pure functions of (salt, key) — a reproducible,
    // restart-safe global shuffle with no global sort (hash shuffle on
    // shard + per-shard sort only). Salt = epoch.
    "tp8_shard_order" -> ((s, dir) =>
      TrainOrder
        .shardOrder(tbl(s, dir, "documents"), col("doc_id"), numShards = 8, salt = "ep0")
        .select("doc_id", "source", "shard", "pos")),

    // Per-language corpus length distribution: exact interpolated
    // percentiles (Spark `percentile` ≡ DuckDB quantile_cont linear
    // interpolation) — the length-histogram probe a curation run
    // reports. Exact percentile needs a per-group sort, which is fine
    // for a stats probe over grouped metadata; the streaming-friendly
    // approximation is percentile_approx (not oracle-matchable across
    // engines by construction).
    "t6_corpus_stats" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("docs"),
          round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))),

    // Duplicate-2-gram repetition score — the repetitive-document
    // curation signal (boilerplate / stuffing / generation loops) the
    // length-punct quality score can't see. Tokens bound as a real
    // column first (HOF lambda re-evaluation gotcha).
    "t7_repetition" -> ((s, dir) =>
      spreadTbl(s, dir, "documents")
        .withColumn("_toks", TextAnalysis.normalizedTokens(col("text")))
        .select(col("doc_id"),
          TextAnalysis.repetitionScore(col("_toks"), 2).as("rep_2gram"))),

    // Corpus vocabulary probe: top-200 normalized tokens by frequency
    // (tokenizer/vocab construction input). Explode → hash-agg with
    // map-side partial counts → TakeOrderedAndProject: the only data
    // that reaches the driver is the k rows. Ties break on token text
    // so the limit is deterministic across engines.
    "t8_vocab_topk" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(TextAnalysis.normalizedTokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(200)),

    // Bounded-state sketches (integer-exact, fully oracle-replayed):
    // count-min frequency cells evaluated at the exact top-20 tokens —
    // the one-sided overcount is part of the compared output — and the
    // KMV k-minimum-values distinct estimator with its signed error.
    "t16_cms_topk_counts" -> ((s, dir) =>
      Sketches.cmsTopkCounts(tbl(s, dir, "documents"), "text",
        depth = CmsDepth, width = CmsWidth, topK = CmsTopK)),

    "t17_kmv_distinct" -> ((s, dir) =>
      Sketches.kmvDistinct(tbl(s, dir, "documents"), "text", k = KmvK)),

    // Mergeability proofs for the two sketches, run as queries: the
    // corpus splits into two disjoint halves by doc_id parity, each
    // half builds its own sketch, the halves MERGE, and the merged
    // sketch is evaluated exactly as t16/t17 evaluate the whole-corpus
    // one. The oracle for both is the UNMERGED whole-corpus SQL replay
    // (t16's / t17's own), which is the strongest possible check:
    // merge ≡ recompute must hold bit-for-bit, or the hash compare
    // fails. This is the per-partition / per-micro-batch accumulator
    // contract the sketch doc comments claim, made falsifiable.
    "t18_cms_merge" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val cellsA = Sketches.cmsCells(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", CmsDepth, CmsWidth)
      val cellsB = Sketches.cmsCells(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", CmsDepth, CmsWidth)
      Sketches.cmsTopkCountsFromCells(
        docs, "text", Sketches.cmsMerge(cellsA, cellsB), CmsDepth, CmsWidth, CmsTopK)
    }),

    "t19_kmv_merge" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val a = Sketches.kmvSketch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", KmvK)
      val b = Sketches.kmvSketch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", KmvK)
      Sketches.kmvDistinctFromSketch(docs, "text", Sketches.kmvMerge(a, b, KmvK), KmvK)
    }),

    // Integer-exact HyperLogLog (Flajolet et al. 2007): rank from a
    // generated power-of-two comparison chain, harmonic mean as an
    // exact integer sum, fixed-point alpha, lookup-table linear
    // counting — no float executes in either engine, so the estimate
    // is bit-replayable like the CMS/KMV rows above. t21 is the
    // register-merge proof on the same halves-merge-vs-whole-replay
    // contract as t18/t19.
    "t20_hll_distinct" -> ((s, dir) =>
      Sketches.hllDistinct(tbl(s, dir, "documents"), "text", p = HllP)),

    "t21_hll_merge" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val a = Sketches.hllRegisters(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", HllP)
      val b = Sketches.hllRegisters(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", HllP)
      Sketches.hllDistinctFromRegisters(docs, "text", Sketches.hllMerge(a, b), HllP)
    }),

    // Misra–Gries heavy hitters in the order-free top-k-with-offset
    // form (classic streaming MG is processing-order-dependent —
    // useless under nondeterministic partitioning). Completes the
    // sketch quadrant: CMS = "how often" (one-sided OVERcount), MG =
    // "which are frequent" (one-sided UNDERcount + membership
    // guarantee). The bound_ok column IS the MG guarantee
    // undercount ≤ m/(k+1), decided in integer arithmetic and
    // hash-compared like any other output bit.
    "t22_mg_heavy_hitters" -> ((s, dir) =>
      Sketches.mgTopk(tbl(s, dir, "documents"), "text", k = MgK, topK = CmsTopK)),

    // The merge proof: MG's merge is LOSSY (merged ≠ recomputed, so
    // the whole-corpus replay can't serve as the oracle like t18/t19/
    // t21) but DETERMINISTIC — the oracle replays the two-part
    // algebra (per-half reduce, counter sums, re-reduce) exactly, and
    // the merged summary must still satisfy the global m/(k+1) bound
    // (Agarwal et al. 2013), carried as the compared bound_ok column.
    "t23_mg_merge" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val a = Sketches.mgSummary(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", MgK)
      val b = Sketches.mgSummary(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", MgK)
      Sketches.mgHeavyHitters(docs, "text", Sketches.mgMerge(a, b, MgK), MgK, CmsTopK)
    }),

    // Bottom-k sample quantiles (Cohen & Kaplan 2007) of the per-doc
    // token counts: the distribution sketch completing the family —
    // CMS "how often", KMV/HLL "how many distinct", MG "which are
    // frequent", bottom-k "how are values distributed". Integer-exact:
    // draws are the unsigned token-hash of the stringified doc_id,
    // selection is ceil-rank arithmetic, so DuckDB replays every bit
    // including the sampled estimates.
    "t24_qs_quantiles" -> ((s, dir) =>
      Sketches.qsTokenCountQuantiles(tbl(s, dir, "documents"), "doc_id", "text",
        k = QsK, probsPct = QsProbs)),

    // The merge proof, strongest form (like t18/t19/t21): bottom-k of
    // a disjoint union equals the whole-corpus sketch EXACTLY, so the
    // oracle is the unmerged whole-corpus replay — merge ≡ recompute
    // bit-for-bit or the hash compare fails.
    "t25_qs_merge" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val v = size(TextAnalysis.normalizedTokens(col("text")))
      val a = Sketches.qsSketch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), col("doc_id"), v, QsK)
      val b = Sketches.qsSketch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), col("doc_id"), v, QsK)
      Sketches.qsEval(docs, col("doc_id"), v, Sketches.qsMerge(a, b, QsK), QsProbs)
    }),

    // Bloom-filter decontamination pre-filter (Bloom 1970): the
    // benchmark vocabulary (every 50th doc — the tp6/v14 split)
    // builds a depth×width bit frame; the corpus vocabulary probes
    // it. The summary row carries the no-false-negative guarantee and
    // the observed FP rate — the quantities that decide whether the
    // broadcast pre-filter is safe to put in front of the exact
    // decontamination join at 100 TB (it always is: FN are impossible
    // by construction, FP only cost re-checks).
    "t26_bloom_decontam" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      Sketches.bloomDecontamEval(corpus, bench, "text",
        Sketches.bloomBits(bench, "text", BloomDepth, BloomWidth),
        BloomDepth, BloomWidth)
    }),

    // Bit-union merge proof: per-half filters union to the whole-
    // vocabulary filter exactly (sets, not counters), so the oracle is
    // again the unmerged whole replay.
    "t27_bloom_merge" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val bits = Sketches.bloomMerge(
        Sketches.bloomBits(bench.filter(pmod(col("doc_id"), lit(100)) === 0),
          "text", BloomDepth, BloomWidth),
        Sketches.bloomBits(bench.filter(pmod(col("doc_id"), lit(100)) =!= 0),
          "text", BloomDepth, BloomWidth))
      Sketches.bloomDecontamEval(corpus, bench, "text", bits, BloomDepth, BloomWidth)
    }),

    // Gopher-style hard quality gates (Rae et al. 2021 A1.1), one
    // boolean per rule + the conjunction — the per-rule report a
    // curation run logs. All gates are integer-derived doubles, so the
    // comparisons are exact in both engines without rounding.
    "t9_gopher_rules" -> ((s, dir) => {
      val wc = size(col("_toks"))
      val mwl = TextAnalysis.meanWordLengthOf(col("_toks"))
      val symr = TextAnalysis.symbolWordRatio(col("text"), col("_toks"))
      val alpha = TextAnalysis.alphaWordFraction(col("_toks"))
      val stop = TextAnalysis.stopwordCount(col("text"))
      val passWords = wc.between(20, 100000)
      val passMwl = mwl.between(3.0, 10.0)
      val passSym = symr <= 0.1
      val passAlpha = alpha >= 0.8
      val passStop = stop >= 2
      spreadTbl(s, dir, "documents")
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
        .select(col("doc_id"),
          wc.as("n_words"),
          passWords.as("pass_word_count"),
          passMwl.as("pass_mean_word_len"),
          passSym.as("pass_symbol_ratio"),
          passAlpha.as("pass_alpha_frac"),
          passStop.as("pass_stopwords"),
          (passWords && passMwl && passSym && passAlpha && passStop).as("gopher_pass"))
    }),

    // Unigram-LM scoring (CCNet-style perplexity stand-in): mean
    // -ln p(token) under the corpus's own unigram distribution, vocab
    // capped at the top 20 (so the OOV floor path is exercised),
    // per-doc sums in exact order-free DECIMAL.
    "t10_unigram_logprob" -> ((s, dir) =>
      UnigramLM.unigramScores(tbl(s, dir, "documents"), "doc_id", "text", topV = 20)),

    // Bigram-LM scoring (one rung up the CCNet perplexity ladder):
    // mean -ln p(w2|w1) under the corpus's own Laplace-smoothed bigram
    // model, vocab capped at top 20 + <unk> — flags improbable
    // TRANSITIONS (shuffled/stitched text) that unigram stats miss.
    // All model tables are vocab-bounded broadcasts; only corpus-wide
    // shuffle is the per-doc aggregate.
    "t13_bigram_logprob" -> ((s, dir) =>
      BigramLM.bigramScores(tbl(s, dir, "documents"), "doc_id", "text", topV = 20)),

    // Model-based quality filter (the GPT-3/Llama pipeline stage):
    // logistic regression over top-256 document-frequency token
    // presence, trained IN Spark on the even-doc_id half against the
    // Gopher-gate conjunction as the weak label, weights persisted to
    // parquet (quantized DECIMAL(18,12)), then the WHOLE corpus scored
    // with the exact order-free decimal margin — no transcendental in
    // the compared output, so the oracle replays scoring bit-exactly
    // from the persisted weights.
    "t12_quality_filter" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val labeled = docs
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
        .withColumn("label",
          size(col("_toks")).between(20, 100000) &&
            TextAnalysis.meanWordLengthOf(col("_toks")).between(3.0, 10.0) &&
            (TextAnalysis.symbolWordRatio(col("text"), col("_toks")) <= 0.1) &&
            (TextAnalysis.alphaWordFraction(col("_toks")) >= 0.8) &&
            (TextAnalysis.stopwordCount(col("text")) >= 2))
      // steps=3: the lr sweep shows accuracy flat from 3 steps on (the
      // NB warm start does the heavy lifting); each extra step is one
      // more full pass at 100 TB.
      val model = QualityClassifier.train(labeled, "doc_id", "text", "label",
        topV = 256, steps = 3, lr = 0.05, trainFilter = col("doc_id") % 2 === 0)
      val path = t12WeightsPathFor(v7CorpusKeyFor(dir))
      QualityClassifier.persist(model, s, path)
      // narrow scorer, not the vocab-join batch scorer: training only
      // tokenized the doc_id%2==0 SAMPLE, so the full-corpus scoring
      // pass shares nothing with it — the vocab-join form would pay a
      // corpus explode plus two shuffles for a margin the map-literal
      // decimal fold computes per-row with ZERO shuffles, and the two
      // paths are bit-identical (StreamingIngestSpec "narrow scorer is
      // the batch scorer's exact twin"; decimal addition is order-free)
      QualityClassifier.scoreNarrow(docs, "doc_id", "text", s.read.parquet(path))
    }),

    // The stream-admission scorer (QualityClassifier.scoreNarrow):
    // the bounded weight table folds into the plan as a map literal
    // and the margin is an exact-decimal fold over the token array —
    // zero shuffles, stateless, so it runs unchanged on an unbounded
    // stream (StreamingIngest.curationStream wiring). Weights are a
    // fixed literal shared with the oracle; the batch-vs-narrow
    // bit-equality is separately pinned by StreamingIngestSpec.
    "t14_quality_score_narrow" -> ((s, dir) =>
      QualityClassifier.scoreNarrow(
        tbl(s, dir, "documents"), "doc_id", "text", t14WeightsDf(s))),

    // PII hygiene pass: email → IP → phone redaction (order matters),
    // over text with deterministically injected PII so the transform
    // provably fires; output the scrubbed hash + per-kind redaction
    // counts. Patterns stay in the Java-regex ∩ RE2 subset, which is
    // what makes the oracle reproducible.
    "tp5_pii_scrub" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
        col("doc_id") % 256, lit("."), col("doc_id") % 100,
        lit(" tel +1 555 867-53"), col("doc_id") % 100)
      spreadTbl(s, dir, "documents")
        .select(col("doc_id"), Scrub.redact(injected).as("_scrubbed"))
        .select(col("doc_id"),
          md5(col("_scrubbed")).as("scrubbed_md5"),
          Scrub.redactionCount(col("_scrubbed"), "<EMAIL>").as("n_emails"),
          Scrub.redactionCount(col("_scrubbed"), "<IP>").as("n_ips"),
          Scrub.redactionCount(col("_scrubbed"), "<PHONE>").as("n_phones"))
    }),

    // Benchmark decontamination: containment of each benchmark doc's
    // 3-gram set inside every other corpus doc, via inverted-index
    // broadcast join (never corpus × benchmark). Benchmark analog =
    // every 97th document.
    "tp6_decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Decontamination.containmentScores(
        docs, bench, "doc_id", "doc_id", "text", k = 2, threshold = 0.2)
    }),

    // The 100 TB form of tp6: the benchmark gram vocabulary packed
    // into a ~3.5 KB Bloom bitmask evaluated as a narrow LITERAL
    // filter over the corpus gram stream (no join, no shuffle for the
    // gate); only survivors reach the exact containment join. No false
    // negatives by construction, so gated ≡ ungated — proven every
    // round by answering tp6's oracle SQL verbatim (the td14/td15
    // two-implementations-one-oracle pattern).
    "tp15_bloom_gated_decontam" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Decontamination.bloomGatedContainmentScores(
        docs, bench, "doc_id", "doc_id", "text", k = 2, threshold = 0.2)
    }),

    // Admission-time decontamination signal: per document, the
    // fraction of its distinct 2-grams hitting the benchmark-
    // vocabulary Bloom filter — ONE narrow projection (HOF filter over
    // literal masks; no explode, join, shuffle or state), so the
    // identical chain gates an unbounded curation stream. Over-
    // approximates overlap (bounded-rate FPs, never FNs); the oracle
    // replays the filter arithmetic bit-for-bit, FPs included.
    "tp16_bloom_suspicion" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bGrams = TextDedup
        .withShingles(docs.filter(col("doc_id") % 97 === 0), "text", 2, "_sh")
        .select(explode_outer(col("_sh")).as("_gram"))
        .filter(col("_gram") =!= "")
      val masks = Sketches.bloomMasks(
        Sketches.bloomBitsOf(bGrams, "_gram", BloomDepth, BloomWidth),
        BloomDepth, BloomWidth)
      Decontamination.bloomSuspicionScores(
        docs, "doc_id", "text", masks, k = 2, width = BloomWidth)
    }),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+
    // bigram bucket multinomials — target = the English slice, source
    // = the corpus itself — scored per doc as an order-free DECIMAL
    // sum over a ≤ B-row broadcast of per-bucket log deltas.
    // Hash-checked: buckets replay as gmix64(fnv1a(gram)) % B.
    "tp17_dsir_weights" -> ((s, dir) => {
      val docs = spreadTbl(s, dir, "documents")
      ImportanceResampling.logWeights(
        docs, "doc_id", "text", docs.filter(col("lang") === "en"), DsirBuckets)
    }),

    // Gumbel-top-k resample over the DSIR weights: deterministic
    // sampling-without-replacement ∝ exp(logw); the selection plan is
    // TakeOrderedAndProject, so only k rows ever cross the wire.
    "tp18_dsir_resample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val w = ImportanceResampling.logWeights(
        docs, "doc_id", "text", docs.filter(col("lang") === "en"), DsirBuckets)
      ImportanceResampling.gumbelTopK(w, "doc_id", "logw", k = DsirK)
    }),

    // Admission-time DSIR: the delta table frozen into a plan literal
    // (bounded: exactly B doubles), scoring = ONE narrow projection —
    // no explode/join/shuffle/state, so the identical chain gates an
    // unbounded stream. Answers tp17's oracle SQL VERBATIM: admission
    // ≡ batch is hash-checked every round (the tp15/td15 pattern).
    "tp19_dsir_admission" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val deltas = ImportanceResampling.deltaArray(
        docs.filter(col("lang") === "en"), docs, "text", DsirBuckets)
      ImportanceResampling.admissionLogWeights(docs, "doc_id", "text", deltas, DsirBuckets)
    }),

    // --- Text dedup (beyond-reference) ---------------------------------

    "td1_exact_dedup" -> ((s, dir) =>
      TextDedup
        .exactDedup(tbl(s, dir, "documents"), col("text"), col("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")),

    // Word-set (k=1 shingle) Jaccard pairs within a blocking key.
    "td2_ngram_jaccard" -> ((s, dir) =>
      TextDedup.blockedJaccardPairs(
        spreadTbl(s, dir, "documents"), "doc_id", "text", "source", k = 1, threshold = 0.5)),

    // MinHash+LSH near-dup pairs, exact-Jaccard-verified at ≥0.9.
    // Identical word sets ⇒ identical signatures ⇒ recall 1 at j=1.
    // Hash-checked: the GHash family (FNV-1a shingles, multiply-add
    // permutations, poly-fold buckets) replays exactly in the oracle.
    "td3_minhash_pairs" -> ((s, dir) =>
      TextDedup.minhashNearDupPairs(
        tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.9, k = 1)),

    // MinHash dedup: survivors after dropping near-dup losers.
    "td4_minhash_dedup" -> ((s, dir) =>
      TextDedup
        .minhashDedup(tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.9)
        .select("doc_id")),

    // Duplicate CLUSTERS: connected components over the td3 near-dup
    // pair graph (iterative min-label propagation; the oracle replays
    // it as a recursive-CTE label closure over the same GHash pairs).
    // Every document gets a cluster id — the min doc_id of its
    // component, its own id for singletons — the form curation uses
    // to keep one member per cluster or size-stratify clusters.
    "td10_dup_clusters" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = TextDedup.minhashNearDupPairs(
        docs, "doc_id", "text", threshold = 0.9, k = 1)
      val comp = graft.graph.ConnectedComponents
        .components(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),

    // TRANSITIVE near-dup dedup: keep one member (the min id) per
    // connected component of the pair graph — stricter than td4's
    // pairwise keep-min-id (A~B~C drops B and C even when A and C are
    // not themselves a near-dup pair), which is what a chained
    // near-dup cluster needs at corpus scale. The anti side is the
    // CC label frame, tiny relative to the corpus.
    "td13_transitive_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = TextDedup.minhashNearDupPairs(
        docs, "doc_id", "text", threshold = 0.9, k = 1)
      val losers = graft.graph.ConnectedComponents
        .components(pairs, "id_a", "id_b")
        .filter(col("component") =!= col("id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    }),

    // SimHash signatures, packed into one BIGINT per doc so the column
    // is sortable/hashable externally (+ banded near-dup pairs in tests).
    // Hash-checked: gmix64(fnv1a(token)) bit votes replay in the oracle.
    "td5_simhash_sigs" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextDedup.simhash64(col("text")).as("simhash64"))),

    // Banded SimHash near-dup pairs: 16-bit-band bucket join (any pair
    // within hamming ≤ 3 of 64 bits shares ≥ 1 exact band), verified
    // by codegen'd bit_count(xor). Hash-checked via the GHash replay.
    "td7_simhash_pairs" -> ((s, dir) =>
      TextDedup
        .simhashPairs(tbl(s, dir, "documents"), "doc_id", "text", maxHamming = 3)),

    // Incremental exact dedup: the doc_id%3==0 slice plays the
    // already-ingested corpus, the rest is the new shard — in-batch
    // keep-min-id first, then a fingerprint anti-join against the
    // base. Re-ingesting an already-stored document inserts nothing.
    "td9_incremental_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      TextDedup
        .exactDedupAgainstBase(batch, base, "doc_id", "text")
        .select("doc_id", "lang", "source")
    }),

    // Incremental NEAR-dup dedup: the batch collapses internally with
    // verified all-pairs semantics, then survivors are gated against
    // the base corpus's (band, bucket) index — td9's cross-run
    // guarantee extended from exact to near-duplicate, and the batch
    // form of the streaming admission gate (same collisionGate
    // kernel). Hash-checked: batch and base signature CTEs replay via
    // the GHash family; cross-corpus collision = band-slice equality.
    "td11_minhash_vs_base" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      // The base side is the STORED (band, bucket) index — persisted,
      // refresh-maintained, purged per Bench/Verify invocation
      // (purgePersistedIndexes) and rebuilt inside the invocation, the
      // IvfIndex pattern. Pre-r17 the query re-shingled and re-signed
      // the full base corpus on every call; the gate's drop set is
      // bucket-for-bucket identical (TextDedupSpec pins the two forms,
      // and the oracle re-derives the base buckets from text).
      val h = graft.text.BucketIndex.ensure(s, annWarehouseFor(dir), "td11_base",
        base, "doc_id", "text", k = 1, numHashes = 30, bands = 6)
      TextDedup
        .minhashDedupAgainstBaseBuckets(batch,
          graft.text.BucketIndex.buckets(s, h), "doc_id", "text", threshold = 0.9)
        .select("doc_id", "lang", "source")
    }),

    // CCNet-style line-level dedup: drop lines appearing in > 50 docs
    // (synthesized boilerplate: a shared header on every doc, a footer
    // shared by each doc_id%5 class), keep per-doc body lines in
    // order. One line-frequency shuffle + a BROADCAST anti-join of the
    // heavy-hitter set — the corpus lines never re-shuffle on text.
    // Sub-document duplicated-span statistics (Lee et al. 2021 at
    // token-3-gram granularity): per doc, how many gram instances
    // also occur in another document — the trim/drop signal a
    // span-level dedup pass gates on.
    "td12_dup_gram_stats" -> ((s, dir) =>
      TextDedup.dupGramStats(tbl(s, dir, "documents"), "doc_id", "text", k = 3)),

    // Span REMOVAL over the td12 signal (Lee et al. ExactSubstr at
    // token-8-gram alignment): every corpus-duplicated gram instance's
    // span is cut, overlapping/adjacent spans coalesce per doc, and the
    // rebuilt text is md5-compared — so the oracle re-derives the full
    // interval-union algebra, not just counts.
    "td14_exact_substring_dedup" -> ((s, dir) =>
      TextDedup.exactSubstringDedup(spreadTbl(s, dir, "documents"), "doc_id", "text", k = SubstrK)),

    // td14 with the gram shuffle key hash-packed to 128 bits (two
    // independent xxhash64 draws) — the 100 TB shuffle-bytes knob.
    // Answers to the SAME oracle SQL as td14, so packed ≡ exact is an
    // oracle-checked fact every round, not only a spec assertion.
    "td15_substring_dedup_packed" -> ((s, dir) =>
      TextDedup.exactSubstringDedupPacked(spreadTbl(s, dir, "documents"), "doc_id", "text", k = SubstrK)),

    "td8_line_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(
        col("doc_id"),
        concat_ws("\n",
          lit("shared boilerplate header"),
          col("text"),
          concat(lit("footer variant "), col("doc_id") % 5)).as("text"))
      LineDedup
        .removeFrequentLines(docs, "doc_id", "text", maxDocFreq = 50)
        .select(col("doc_id"), col("n_lines_kept"), md5(col("clean_text")).as("clean_md5"))
    }),

    // --- Similarity search (beyond-reference) --------------------------

    "v1_cosine_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", "query_id", "qvec", k = 10)
    }),

    "v2_cosine_pairs" -> ((s, dir) =>
      Similarity.blockedCosinePairs(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", "label", threshold = 0.3)),

    // Multi-probe adaptive-bits SRP LSH top-k (the ANN scale path).
    // Bits rise with log(corpus) to hold expected bucket size at 128
    // (one exact integer ladder shared with the oracle), and each
    // query probes the Hamming ≤ 2 neighborhood of its signature —
    // the buckets true neighbors land in when a plane projection
    // flips — so candidate volume stays ≈ probes·128 per query,
    // polylog in n, where the round-8 single-probe fixed-bits form
    // measured exponent 0.95. Hash-checked: SRP planes, ladder and
    // probe masks all replay in HUGEINT arithmetic.
    "v3_lsh_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val bits = Similarity.adaptiveNBits(e.count())
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.lshMultiProbeTopK(e, q, "vec_id", "embedding", "query_id", "qvec",
        k = 10, nBits = bits, probeHamming = 2)
    }),

    // IVF approximate top-k SERVED FROM THE PERSISTED INDEX (r16: the
    // r15 sf100 probe measured the per-call fixed-256-centroid form at
    // decade-3 exponent 1.43 — assignment work grows with n, lists
    // fatten linearly). ensure() builds at refresh cadence (KMeans
    // centroids, scale-adaptive k from the v3 integer ladder,
    // cell-partitioned lists through the M2 swap); the query path is
    // probes + one DPP-pruned hash join + slim top-k. Hash-checked:
    // the oracle re-derives assignment/probes/top-k from the PUBLISHED
    // centroid parquet (the v7 pattern), so the persisted assignment
    // is verified against an independent replay.
    "v4_ivf_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val h = IvfIndex.ensure(s, annWarehouseFor(dir), "ivf_a",
        e, "vec_id", "embedding", AnnParamsA)
      IvfIndex.topK(s, h, q, "vec_id", "embedding", "query_id", "qvec",
        k = 10, nprobe = 3)
    }),

    // Cluster-balanced diversity subsample: nearest seed centroid
    // (v4's coarse quantizer), then at most 8 vectors per cluster in
    // deterministic md5 order — dense clusters capped, tail clusters
    // kept whole. Hash-checked: centroid selection, cosine argmax and
    // the md5 order all replay in SQL.
    "v13_cluster_balanced" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cents = Similarity.seedCentroids(e, "vec_id", "embedding",
        col("vec_id") % 31 === 0, maxCentroids = 256)
      Similarity
        .clusterBalancedSample(e, "vec_id", "embedding", cents,
          perClusterBudget = 8, salt = "v13")
        .select("vec_id", "cluster_id")
    }),

    // Embedding-cosine near-dup dedup (keep-min-id survivors).
    "v5_embed_dedup" -> ((s, dir) =>
      Similarity
        .cosineDedup(tbl(s, dir, "embeddings"), "vec_id", "embedding", "label", 0.3)
        .select("vec_id", "label")),

    // Linear-per-bucket MinHash dedup: each doc verifies against only
    // its bucket's min-id representative per band — the O(B)-per-bucket
    // form that survives pathological buckets at 100 TB. Hash-checked
    // via the GHash replay (bucket folds included).
    "td6_minhash_dedup_linear" -> ((s, dir) =>
      TextDedup
        .minhashDedupLinear(tbl(s, dir, "documents"), "doc_id", "text", 0.9)
        .select("doc_id", "source")),

    // IVF with a REAL index build: centroids from spark.ml KMeans over
    // a half-sample of the corpus (driver holds k×dim doubles,
    // bounded), then the same assign → probe → top-k pipeline as v4.
    // The fitted centroids aren't re-derivable in SQL, but they don't
    // have to be: the query persists them to parquet (k×dim doubles —
    // exact round-trip) and the oracle replays assignment + probes +
    // top-k from the persisted values — the identical arithmetic v4's
    // green oracle already proves DuckDB can do.
    "v7_ivf_kmeans_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val cents = Similarity.kmeansCentroids(e, "embedding", k = 16,
        sampleFraction = 0.5)
      s.createDataFrame(cents).toDF("cid", "cvec")
        .repartition(1).write.mode("overwrite")
        .parquet(v7CentroidsPathFor(v7CorpusKeyFor(dir)))
      Similarity.ivfTopKWithCentroids(e, q, "vec_id", "embedding",
        "query_id", "qvec", k = 10, cents, nprobe = 4)
    }),

    // Full-corpus embedding dedup with NO pre-existing blocking column
    // — multi-table sign-random-projection LSH supplies the blocks
    // (native graft_srp_sig kernel), candidates verified with the
    // native cosine. Hash-checked: bucket membership replays exactly
    // (GHash SRP planes), and precision is exact by construction.
    // (threshold 0.35 sits in the corpus's near-dup band — see v2/v5;
    // 6-bit buckets × 8 tables ≈ 0.4 recall at that cosine with ~4×
    // fewer candidate evaluations than 4-bit buckets — candidate
    // volume, not recall, is what explodes at 100 TB.)
    "v6_lsh_embed_dedup" -> ((s, dir) =>
      Similarity
        .lshCosineDedup(tbl(s, dir, "embeddings"), "vec_id", "embedding", 0.35,
          nBits = 6, tables = 8)
        .select("vec_id", "label")),

    // Embedding-level benchmark decontamination (semantic analog of
    // tp6): every 50th vector plays the benchmark; corpus vectors
    // within cosine 0.35 of ANY benchmark vector are dropped. LSH
    // blocks the candidates (same SRP tables as v6 — bucket membership
    // replays exactly in SQL) and the tiny benchmark side broadcasts,
    // so the corpus never shuffles for the probe.
    "v14_semantic_decontam" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.semanticDecontaminate(
        e.filter(col("vec_id") % 50 =!= 0),
        e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("eval_id"), col("embedding").as("evec")),
        "vec_id", "embedding", "eval_id", "evec",
        threshold = 0.35, nBits = 6, tables = 8)
        .select("vec_id", "label")
    }),

    // SemDeDup (arXiv:2303.09540) SERVED FROM THE PERSISTED INDEX
    // (r16: the per-call fixed-256-centroid clustering was the same
    // scale-fixed-quantizer class the sf100 probe flagged on v4 —
    // decade-3 exponent 0.98). The `ivf_b` profile's targetList 16
    // holds expected cluster size ≈ 16–32 at EVERY scale, so the cap
    // of 32 keeps splitting the realized KMeans size range and the
    // oracle exercises BOTH loser branches (all-pairs ≤ 32, linear
    // min-id-representative above). The query path reads the published
    // assignment — the size gate, both loser paths and the anti-join,
    // zero centroid math per call. Hash-checked: the oracle re-derives
    // assignment from the published centroid parquet and replays the
    // size-gated dedup.
    "v10_semdedup" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val h = IvfIndex.ensure(s, annWarehouseFor(dir), "ivf_b",
        e, "vec_id", "embedding", AnnParamsB)
      IvfIndex.semDedup(s, h, e, "vec_id", "embedding", threshold = 0.35,
          maxClusterSize = 32)
        .select("vec_id", "label")
    }),

    // Int8-quantized cosine top-k: corpus vectors quantize→dequantize
    // round-tripped (the arithmetic a 4x-smaller stored index serves),
    // queries full-precision. Hash-checked: floor(v*scale+0.5) and the
    // double cosine replay exactly in SQL.
    "v8_quantized_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.quantizedTopK(e, q, "vec_id", "embedding", "query_id", "qvec", k = 10)
    }),

    // The production ANN pattern end-to-end: quantized scoring
    // proposes CandK candidates per query, exact cosine re-ranks to
    // the final 10 — the exact kernel touches |q|xCandK rows, not the
    // corpus. CandK=200 is the measured sweet spot (ARCHITECTURE.md
    // "The knobs, measured", raw in MEASUREMENTS_R11.json
    // ann_knobs_sf1: recall indistinguishable from exact at the same
    // wall as 50).
    "v9_quantized_rerank" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.quantizedRerankTopK(e, q, "vec_id", "embedding", "query_id", "qvec",
        k = 10, candidateK = CandK)
    }),

    // Product-quantization ANN end-to-end (Jégou et al. 2011): per-
    // subspace codebooks (m=4 × ksub=16 over dim 64) trained on a
    // capped sample, corpus stored as 4 small ints per vector (32×
    // under float32), ADC lookup-table scoring proposes CandK
    // candidates per query, exact cosine re-ranks to 10 (CandK=200:
    // the knob sweep prices candidateK as ~free wall here, and the
    // tiny oracle-sized codebooks need the wider rerank for recall). Hash-checked: the
    // fitted codebooks persist to parquet (the v7 pattern) and the
    // oracle replays encode → ADC → rerank from them.
    "v12_pq_rerank_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val cb = Similarity.pqCodebooks(e, "embedding", m = 4, subDim = 16, ksub = 16)
      s.createDataFrame(cb).toDF("j", "cid", "cvec")
        .repartition(1).write.mode("overwrite")
        .parquet(v12CodebooksPathFor(v7CorpusKeyFor(dir)))
      Similarity.pqRerankTopK(e, q, "vec_id", "embedding", "query_id", "qvec",
        k = 10, candidateK = CandK, cb, subDim = 16)
    }),

    // IVF-PQ (the FAISS IVFPQ composition) SERVED FROM THE PERSISTED
    // INDEX (r16): the `ivf_a` profile's PQ component publishes the
    // codebooks AND the cell-partitioned codes table at build time, so
    // the query path scans only narrow pruned codes (DPP on the probed
    // cells), ADC-proposes over 24-byte ranked rows (the r15 sf100
    // spill carried full vectors through this sort), and exact-reranks
    // the CandK survivors against the corpus vectors. The r15 failure
    // mode — 16 FIXED cells at 2M rows → 500k-row lists → a 60 GB
    // spill wall — is gone structurally: the ladder holds lists at
    // ~1–2k rows at any scale. Hash-checked: the oracle re-derives
    // cells from the published centroids and codes from the published
    // codebooks, then replays ADC → rerank.
    "v15_ivfpq_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val h = IvfIndex.ensure(s, annWarehouseFor(dir), "ivf_a",
        e, "vec_id", "embedding", AnnParamsA)
      IvfIndex.pqTopK(s, h, e, q, "vec_id", "embedding", "query_id", "qvec",
        k = 10, candidateK = CandK, nprobe = 4)
    }),

    // --- Multimodal plumbing (beyond-reference) ------------------------

    "mm1_media_meta" -> ((s, dir) =>
      Multimodal
        .asMediaTable(spreadTbl(s, dir, "documents"), "doc_id", "text")
        .select("media_id", "media_type", "n_bytes")),

    // Real javax.imageio decode over synthesized PNG payloads: the
    // codec round-trip is exact (lossless PNG, uniform fill), so
    // dimensions and channel means are oracle-reproducible from the
    // id arithmetic in ImageIoCodec.synthPng.
    "mm2_media_features" -> ((s, dir) => {
      val media = Multimodal.asSyntheticImageTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      Multimodal
        .extractImageFeatures(s, media)
        .select("media_id", "media_type", "decoded", "width", "height",
          "mean_r", "mean_g", "mean_b")
    }),

    // Real codec thumbnail: decode → rescale → re-encode → decode; a
    // solid-fill source keeps the rescale exact, so the round-trip is
    // oracle-checkable too.
    "mm3_thumbnail" -> ((s, dir) => {
      val media = Multimodal.asSyntheticImageTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      val thumbs = Multimodal.resizeImages(s, media, 20, 12)
      Multimodal
        .extractImageFeatures(s, thumbs)
        .select("media_id", "decoded", "width", "height",
          "mean_r", "mean_g", "mean_b")
    }),

    // Real javax.sound.sampled decode over synthesized WAV payloads:
    // square-wave PCM makes RMS/peak exact integers, so every feature
    // is oracle-reproducible from the id arithmetic in
    // WavCodec.synthWav.
    "mm4_audio_features" -> ((s, dir) => {
      val media = Multimodal.asSyntheticAudioTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      Multimodal
        .extractAudioFeatures(s, media)
        .select("media_id", "media_type", "decoded", "sample_rate",
          "channels", "bit_depth", "n_frames", "duration_ms", "rms", "peak")
    }),

    // Real audio resample: decode → decimate by 2 → re-encode →
    // decode. Keeping even frames of the ±amp square wave leaves a
    // constant +amp signal, so RMS and peak stay exactly amplitude at
    // half the rate and frame count.
    "mm6_audio_resample" -> ((s, dir) => {
      val media = Multimodal.asSyntheticAudioTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      val resampled = Multimodal.resampleAudio(s, media, factor = 2)
      Multimodal
        .extractAudioFeatures(s, resampled)
        .select("media_id", "decoded", "sample_rate", "channels",
          "n_frames", "duration_ms", "rms", "peak")
    }),

    // Real multi-frame GIF demux + decode, keep every 2nd frame — one
    // row per sampled frame; geometry and per-frame gray level are
    // oracle-reproducible from the id arithmetic in
    // GifFrameCodec.synthGif.
    "mm5_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asSyntheticVideoTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      Multimodal
        .sampleFrameFeatures(s, media, every = 2)
        .select("media_id", "frame_no", "decoded", "width", "height",
          "mean_r", "mean_g", "mean_b")
    }),

    // Real VIDEO frame sampling: RIFF-AVI demux + per-frame JPEG
    // decode (AviMjpegFrameCodec), keep every 2nd frame. Geometry and
    // frame count are exact (container + JPEG headers) and oracle-
    // replayed from AviMjpeg.synthAvi's id arithmetic; channel means
    // are deliberately NOT in the compared output — JPEG is lossy, so
    // their tolerance contract lives in MultimodalSpec instead.
    "mm7_avi_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asSyntheticAviTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      Multimodal
        .sampleFrameFeatures(s, media, every = 2)
        .select("media_id", "frame_no", "decoded", "width", "height")
    }),

    // --- Warehouse lifecycle / sinks (S5, S6, S8–S11, S10, P19, P20, I5) ---

    // S5: create every declared table (8 fact sources + the 2
    // reference/metadata tables), then read each one's schema back
    // from the written parquet — the declared column counts must
    // round-trip through the storage layer.
    "s5_create_tables" -> ((s, dir) => {
      import s.implicits._
      val wh = Defaults.scratchDir("graft-s5")
      Warehouse.createWarehouse(s, wh)
      Warehouse.createAllTables(s, wh)
      (Schemas.schemas.keys.toSeq.sorted
        .map(src => (src, s.read.parquet(Warehouse.tablePath(wh, src)).schema.fields.length)) ++
        Schemas.referenceTables.keys.toSeq.sorted
          .map(t => (t, s.read.parquet(Warehouse.referenceTablePath(wh, t)).schema.fields.length)))
        .toDF("table_name", "column_count")
    }),

    // S6: warehouse bootstrap — dir exists, all 8 tables registered.
    "s6_bootstrap" -> ((s, dir) => {
      import s.implicits._
      val wh = Defaults.scratchDir("graft-s6")
      Warehouse.createWarehouse(s, wh)
      Warehouse.createAllTables(s, wh)
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val exists = fs.exists(new org.apache.hadoop.fs.Path(wh))
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(wh))
        .count(_.getPath.getName.endsWith("_generation_data"))
      Seq((exists, n)).toDF("warehouse_exists", "table_count")
    }),

    // S8: per-year CSV export round-trip — counts by year must survive
    // the partitioned CSV write + read (reference database.py:893-898).
    "s8_csv_export" -> ((s, dir) => {
      val out = Defaults.scratchDir("graft-s8")
      val src = events(s, dir).select(col("event_id"), col("value"), year(col("ts")).as("yr"))
      Warehouse.exportCsvByYear(src, "yr", out)
      s.read.option("header", "true")
        .schema("event_id LONG, value DOUBLE, yr INT")
        .csv(out)
        .groupBy(col("yr")).agg(count(lit(1)).as("record_count"))
    }),

    // S9: validation-report JSON sink round-trip — the counts written
    // by the report sink must read back equal to the direct aggregate.
    "s9_report_json" -> ((s, dir) => {
      val p = java.nio.file.Paths.get(Defaults.scratchDir("graft-s9")).resolve("report.json").toString
      val row = Validator.summary(annotatedEvents(s, dir)).head()
      Warehouse.saveJsonReport(p, Seq(
        "total_records" -> row.getLong(0),
        "valid_records" -> row.getLong(1),
        "invalid_records" -> row.getLong(2)))
      s.read.json(p).select("total_records", "valid_records", "invalid_records")
    }),

    // S10: truncate with pre-count — fill an npp-shaped table from
    // events, truncate, re-read (reference database.py:910-935).
    "s10_truncate" -> ((s, dir) => {
      import s.implicits._
      val wh = Defaults.scratchDir("graft-s10")
      val fact = events(s, dir).select(
        lit(RunId).as("extraction_run_id"),
        lit(NowMs).as("created_at_ms"),
        unix_millis(col("ts")).as("timestamp_ms"),
        lit(1440).as("resolution_minutes"),
        col("event_type").as("plant"),
        concat_ws(" ", col("event_type"), col("user_id")).as("plant_and_unit"),
        lit(null).cast("string").as("unit"),
        col("value").as("generation_mwh"))
      fact.write.parquet(Warehouse.tablePath(wh, "npp"))
      val before = Warehouse.truncateTable(s, wh, "npp")
      val after = s.read.parquet(Warehouse.tablePath(wh, "npp")).count()
      Seq((before, after)).toDF("before_records", "after_records")
    }),

    // S11: drift-report JSON sink round-trip (missing-key count).
    "s11_drift_report" -> ((s, dir) => {
      val p = java.nio.file.Paths.get(Defaults.scratchDir("graft-s11")).resolve("drift.json").toString
      val missing = Drift.missingFromCrosswalk(
        tbl(s, dir, "customer"), col("c_nationkey"),
        tbl(s, dir, "nation"), col("n_nationkey"), col("n_regionkey") <= 2).count()
      Warehouse.saveJsonReport(p, Seq("missing_count" -> missing))
      s.read.json(p).select("missing_count")
    }),

    // P19: SQL-identifier guard over edge-case names (reference
    // database.py:111-156); oracle re-derives via regex in DuckDB.
    "p19_identifier_guard" -> ((s, dir) => {
      import s.implicits._
      val names = Seq("npp", "entsoe_generation_data", "_ok", "ok_2",
        "bad-name", "1bad", "has space", "drop;table", "", "a" * 63, "a" * 64)
      names.map(n => (n, Warehouse.isValidIdentifier(n))).toDF("name", "is_valid")
    }),

    // P20: empty-input guard — 0-record file is a success no-op.
    "p20_empty_guard" -> ((s, dir) => {
      import s.implicits._
      val f = java.nio.file.Paths.get(Defaults.scratchDir("graft-p20")).resolve("empty.jsonl")
      java.nio.file.Files.writeString(f, "")
      val df = JsonlSource.readJsonlWithVariant(s, f.toString, Schemas.readSchemas("npp"))
      Seq((Warehouse.isEmptyInput(df), df.count())).toDF("is_empty", "record_count")
    }),

    // I5: retry-with-backoff — two IOException failures then success.
    "i5_retry_backoff" -> ((s, dir) => {
      import s.implicits._
      var attempts = 0
      val result = Warehouse.withRetry(attempts = 3, baseDelayMs = 1, maxDelayMs = 4) {
        attempts += 1
        if (attempts < 3) throw new java.io.IOException("transient")
        "ok"
      }
      Seq((attempts, result == "ok")).toDF("attempts_used", "succeeded")
    }),

    // --- Enrichment edge operators (P3, P4, P8) ------------------------

    // P3: legacy renames — npp date(seconds)→timestamp_ms + scrape_id
    // drop, chile plant_id→chile_plant_id (value-level coalesces).
    "p3_legacy_renames" -> ((s, dir) => {
      val legacy = events(s, dir).select(
        col("event_id"),
        (unix_millis(col("ts")) / 1000L).cast("long").as("date"),
        lit("legacy-run").as("scrape_id"),
        col("user_id").cast("string").as("plant_id"))
      Enrich.chileLegacyRename(Enrich.nppLegacyRename(legacy))
        .select("event_id", "timestamp_ms", "chile_plant_id")
    }),

    // P4: numeric ids → string (EIA utility/plant/generator ids).
    "p4_ids_to_string" -> ((s, dir) =>
      Enrich.idsToString(tbl(s, dir, "orders"), Seq("o_orderkey", "o_custkey"))
        .select("o_orderkey", "o_custkey")),

    // P8: missing optional columns default to NULL of declared type /
    // per-source resolution default.
    "p8_default_missing" -> ((s, dir) => {
      val base = events(s, dir).select("event_id")
      Enrich.defaultResolution(
        Enrich.defaultMissing(base, Map("fuel_source" -> "string")), 60)
        .select("event_id", "fuel_source", "resolution_minutes")
    }),

    // --- Validation predicates as standalone ops (P11, P14, P16) ------

    // P11: UUID predicate over md5-derived uuids (every 10th corrupted).
    "p11_uuid_check" -> ((s, dir) => {
      val h = md5(col("event_id").cast("string"))
      val u = concat(
        substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
        substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
        substring(h, 21, 12))
      val uuid = when(col("event_id") % 10 === 0, regexp_replace(u, "-", "_")).otherwise(u)
      events(s, dir).select(
        col("event_id"), uuid.as("run_uuid"), Rules.isUuid(uuid).as("is_valid"))
    }),

    // P14: US-state predicate over edge-case codes.
    "p14_state_check" -> ((s, dir) => {
      import s.implicits._
      Seq("CA", "ny", "DC", "pr", "ZZ", "Cali", "", "A L", "wa ", "GU")
        .toDF("code")
        .select(col("code"), Rules.isUsStateCode(col("code")).as("is_valid"))
    }),

    // P16: positive-number predicate as a per-type conditional count.
    "p16_positive_check" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(when(Rules.isPositive(col("value")), 1)).as("positive_count"))),

    // --- Rollups / views (A3, M1, M2) ----------------------------------

    // A3: MWh passthrough monthly rollup (no unit conversion —
    // reference materialized_views.sql:55-65).
    "a3_passthrough_rollup" -> ((s, dir) =>
      Rollups.monthly(
        events(s, dir), col("ts"),
        Seq("fuel_type" -> col("event_type")),
        col("value").cast("decimal(18,2)"))
        .withColumn("total_generation_mwh", col("total_generation_mwh").cast("double"))),

    // M1: the MV registry itself — source → view-name map (reference
    // refresh_views.py:24-34).
    "m1_view_definitions" -> ((s, dir) => {
      import s.implicits._
      GenerationViews.registry("wh").bySource.toSeq
        .flatMap { case (src, views) => views.map(v => (src, v.name)) }
        .toDF("source", "view_name")
    }),

    // M2: refresh a view through the atomic swap and read it back.
    "m2_view_refresh" -> ((s, dir) => {
      val wh = Defaults.scratchDir("graft-m2")
      val fact = events(s, dir).select(
        lit(RunId).as("extraction_run_id"),
        lit(NowMs).as("created_at_ms"),
        unix_millis(col("ts")).as("timestamp_ms"),
        lit(1440).as("resolution_minutes"),
        col("event_type").as("plant"),
        concat_ws(" ", col("event_type"), col("user_id")).as("plant_and_unit"),
        lit(null).cast("string").as("unit"),
        col("value").as("generation_mwh"))
      fact.write.parquet(GenerationViews.factPath(wh, "npp"))
      Refresh.refreshForSources(s, wh, GenerationViews.registry(wh), Seq("npp"))
      s.read.parquet(Refresh.viewPath(wh, "mv_npp_row_counts"))
        .select("month", "row_count")
    }),

    // --- Incremental edges (I2, I4, I8, I9) ----------------------------

    // I2: override-window resolution (blank falls through to computed).
    "i2_override_resolution" -> ((s, dir) => {
      import s.implicits._
      val cases = Seq(
        (Option(""), "2024-03-05"),
        (Option("   "), "2021-01-01"),
        (Option("2023-07-01"), "2021-01-01"),
        (Option.empty[String], "2020-06-15"))
      cases.map { case (o, f) =>
        (o.orNull, f, Watermarks.resolveOverride(o, java.time.LocalDate.parse(f)).toString)
      }.toDF("override", "fallback", "resolved")
    }),

    // I4: long-window warning with month-clamped addition edges.
    "i4_long_window_flag" -> ((s, dir) => {
      import s.implicits._
      val cases = Seq(
        ("2020-01-01", "2020-12-31"), ("2020-01-31", "2021-01-30"),
        ("2020-01-01", "2021-01-02"), ("2019-02-28", "2020-02-28"),
        ("2023-01-31", "2024-02-01"), ("2024-02-29", "2025-03-01"))
      cases.map { case (a, b) =>
        (a, b, Watermarks.windowTooLong(
          java.time.LocalDate.parse(a), java.time.LocalDate.parse(b)))
      }.toDF("start_date", "end_date", "too_long")
    }),

    // I8: extraction-metadata row through the full load pipeline
    // (valid + in-file dup + invalid record → pinned accounting).
    "i8_metadata_row" -> ((s, dir) => {
      val tmp = java.nio.file.Paths.get(Defaults.scratchDir("graft-i8"))
      val jsonl = tmp.resolve("in.jsonl")
      val ts = 1704067200000L // 2024-01-01, inside the frozen "now" window
      java.nio.file.Files.writeString(jsonl, Seq(
        s"""{"extraction_run_id":"$RunId","created_at_ms":$NowMs,"timestamp_ms":$ts,"plant":"P","plant_and_unit":"P 1","generation_mwh":10.5,"resolution_minutes":1440}""",
        s"""{"extraction_run_id":"$RunId","created_at_ms":$NowMs,"timestamp_ms":$ts,"plant":"P","plant_and_unit":"P 1","generation_mwh":99.0,"resolution_minutes":1440}""",
        s"""{"extraction_run_id":"$RunId","created_at_ms":$NowMs,"timestamp_ms":$ts,"plant":"Q","plant_and_unit":"Q 1","generation_mwh":-1.0,"resolution_minutes":1440}""",
      ).mkString("\n"))
      val result = IngestJob.load(
        s, "npp", jsonl.toString, tmp.resolve("table").toString, RunId, NowMs)
      IngestJob.recordMetadata(s, tmp.resolve("meta").toString, result, NowMs,
        sourceUrls = Seq("in.jsonl"), configSnapshot = Map("source" -> "npp"))
      s.read.parquet(tmp.resolve("meta").toString)
        .select("source", "total_records", "inserted_records",
          "invalid_records", "duplicate_records", "success")
    }),

    // I9: metadata date backfill from fact timestamps (NULL-only fill).
    "i9_backfill_dates" -> ((s, dir) => {
      val fact = tbl(s, dir, "orders").select(
        col("o_orderpriority").as("extraction_run_id"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("timestamp_ms"))
      val pinned = col("extraction_run_id").isin("1-URGENT", "3-MEDIUM")
      val metadata = fact.select("extraction_run_id").distinct()
        .withColumn("start_date", when(pinned, lit("1990-01-01")))
        .withColumn("end_date", when(pinned, lit("1990-12-31")))
      Backfill.backfillDates(metadata, fact)
        .select("extraction_run_id", "start_date", "end_date")
    }),
  )

  // ---------------------------------------------------------------------
  // Oracle fragments for the replayable hash family (GHash): the same
  // FNV-1a / multiply-add / gmix64 / poly-fold arithmetic the Catalyst
  // kernels run, expressed in DuckDB HUGEINT mod-2^64 terms. Constants
  // are inlined as decimal literals from GHash — the oracle engine
  // never derives them. Same ASCII caveat as the t5 oracle: Spark
  // hashes UTF-8 bytes, the replay hashes codepoints.
  // ---------------------------------------------------------------------

  import graft.functions.GHash

  private val M64 = "18446744073709551616::HUGEINT" // 2^64

  /** DuckDB replay of TextAnalysis.qualityScore — a CTE chain ending
    * in table `q(doc_id, quality)`. Shared by the t3 oracle and the
    * tp9 weighted-sample oracle (identical scores, so the sampling
    * boundary agrees bit-for-bit). */
  private val QualityCteSql: String =
    """f AS (SELECT doc_id,
      |  CAST(LENGTH(text) AS DOUBLE) AS chars,
      |  CASE WHEN TRIM(text) = '' THEN 0.0
      |    ELSE CAST(len(string_split_regex(TRIM(text), '\s+')) AS DOUBLE) END AS toks,
      |  CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) AS punct,
      |  CAST(len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|with|for|was)\b')) AS DOUBLE) AS stop,
      |  CASE WHEN TRIM(text) = '' THEN 0.0
      |    ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\s+'), w -> LENGTH(w))) AS DOUBLE)
      |      / len(string_split_regex(TRIM(text), '\s+')) END AS mwl
      |FROM documents),
      |q AS (SELECT doc_id, ROUND(
      |  0.4 * LEAST(chars / 200.0, 1.0)
      |  + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(stop / toks, 0.5) * 2.0 END)
      |  + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(mwl / 5.0, 1.0) END)
      |  + 0.2 * (1.0 - LEAST((CASE WHEN chars = 0 THEN 1.0 ELSE punct / chars END) * 5.0, 1.0)), 6) AS quality
      |FROM f)""".stripMargin
  private def hlist(vals: Seq[Long]): String =
    vals.map(GHash.u64).mkString("[", ",", "]") + "::HUGEINT[]"

  /** MinHash permutation constants for H=30 (the family default). */
  private val MinhashH = 30
  private val MinhashBands = 6
  private val MinhashRpb = MinhashH / MinhashBands
  private val NearDupThreshold = 0.9
  private val MinhashMinAgree = // mirror of TextDedup.nearDupPairsOfHashed
    math.max(0, math.ceil((NearDupThreshold - 0.25) * MinhashH).toInt)
  private val MinhashMaxBucket = text.TextDedup.DefaultMaxBucketSize
  private val PermASql = hlist((0 until MinhashH).map(GHash.permA))
  private val PermBSql = hlist((0 until MinhashH).map(GHash.permB))

  // Sketch / span-removal parameters, shared between each query
  // registration and its oracle SQL (the PermASql/M64 pattern): a
  // call-site parameter change re-derives the paired SQL instead of
  // silently de-pairing it.
  private val CmsDepth = 4
  private val CmsWidth = 1024 // power of two: unsigned mod == AND on the Spark side
  private val CmsTopK = 20
  private val KmvK = 256
  private val HllP = 8 // m = 256 registers, same state budget as KmvK
  private val MgK = 64 // Misra–Gries counters; guarantee: undercount ≤ m/65
  private val QsK = 256 // bottom-k quantile sample; rank error ~ 1/√k ≈ 6%
  private val QsProbs = Seq(10, 25, 50, 75, 90, 99)
  private val BloomDepth = 7 // hash functions; FP ≈ (1−e^(−7n/4096))^7
  private val CandK = 200 // propose-cheap candidates per query before exact rerank

  private val BloomWidth = 4096 // power of two, same mask rule as CmsWidth
  private val SubstrK = 8
  private val DsirBuckets = ImportanceResampling.DefaultBuckets // 8192, power of two
  private val DsirK = 100 // resample size; fixed, so the top-k plan is scale-free

  /** Whole-corpus count-min replay (cells = multiply-add permutation
    * buckets mod 2^64 masked to CmsWidth, summed from the collapsed
    * (token, count) frame; exact top-CmsTopK probes; min-over-rows
    * estimate with its one-sided overcount). Shared VERBATIM by
    * `t16_cms_topk_counts` and `t18_cms_merge`: the merged two-part
    * sketch must equal the whole-corpus sketch bit-for-bit (cells are
    * linear sums), so the strongest oracle for the merge is the
    * unmerged replay. */
  private lazy val CmsTopkSql =
    s"""WITH c AS (SELECT $PermASql AS pa, $PermBSql AS pb),
       |tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |inst AS (SELECT unnest(t) AS tok FROM tk),
       |cnt AS (SELECT tok, COUNT(*) AS n_exact FROM inst GROUP BY tok),
       |h AS (SELECT tok, n_exact, ${gmixSql(fnvSql("tok"))} AS hv FROM cnt),
       |jb AS (SELECT tok, n_exact, j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $CmsWidth AS bucket
       |  FROM h, c, (SELECT unnest(range(0, $CmsDepth)) AS j) js),
       |cells AS (SELECT j, bucket, SUM(n_exact) AS cell FROM jb GROUP BY j, bucket),
       |probes AS (SELECT tok FROM cnt ORDER BY n_exact DESC, tok LIMIT $CmsTopK),
       |sel AS (SELECT jb.tok, jb.n_exact, MIN(cl.cell) AS n_cms
       |  FROM jb JOIN probes p USING (tok)
       |  JOIN cells cl ON cl.j = jb.j AND cl.bucket = jb.bucket
       |  GROUP BY jb.tok, jb.n_exact)
       |SELECT tok, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_cms AS BIGINT) AS n_cms,
       |  CAST(n_cms - n_exact AS BIGINT) AS overcount FROM sel""".stripMargin

  /** Whole-corpus KMV replay (distinct-token unsigned hash stream, k
    * smallest values, (k-1)·2^64 // u_k floor division) — shared
    * VERBATIM by `t17_kmv_distinct` and `t19_kmv_merge` on the same
    * merge ≡ recompute argument as [[CmsTopkSql]]. */
  private lazy val KmvSql =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |it AS (SELECT unnest(t) AS tok FROM tk),
       |dt AS (SELECT DISTINCT tok FROM it),
       |h AS (SELECT ${gmixSql(fnvSql("tok"))} AS u FROM dt),
       |low AS (SELECT u FROM h ORDER BY u LIMIT $KmvK),
       |s AS (SELECT COUNT(*) AS k_used, MAX(u) AS uk FROM low),
       |n AS (SELECT COUNT(*) AS n_exact FROM h),
       |e AS (SELECT n_exact, k_used, uk,
       |    CASE WHEN k_used < $KmvK OR uk IS NULL OR uk = 0 THEN n_exact
       |      ELSE (${KmvK - 1}::HUGEINT * $M64) // uk END AS est
       |  FROM n, s)
       |SELECT CAST(n_exact AS BIGINT) AS n_distinct_exact,
       |  CAST(k_used AS INT) AS k_used,
       |  CAST(est AS BIGINT) AS est_distinct,
       |  CASE WHEN n_exact = 0 THEN 0.0
       |    ELSE ROUND(CAST(est - n_exact AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
       |  END AS rel_err
       |FROM e""".stripMargin
  /** Whole-corpus integer-exact HLL replay (Sketches.hllDistinct):
    * low-p-bit buckets of the distinct-token unsigned hashes, rank =
    * leading-zero count over the next 40 bits via a generated
    * power-of-two comparison chain (double log2 mis-floors near 2^k
    * past ~2^45, so neither engine runs a float log), harmonic-mean
    * denominator as the exact integer S = Σ 2^(41−r), fixed-point
    * alpha floor division, and the linear-counting branch as the same
    * precomputed integer lookup list the Scala side evaluates. Shared
    * VERBATIM by `t20_hll_distinct` and `t21_hll_merge` on the same
    * merge ≡ recompute argument as [[CmsTopkSql]]/[[KmvSql]]. */
  private lazy val HllSql = {
    val rb = Sketches.HllRankBits // 40
    val m = 1 << HllP
    val mask = (1L << rb) - 1
    // descending CASE chain: floor(log2(w)) for w in [1, 2^rb)
    val flog2 = (rb - 1 to 0 by -1)
      .map(j => s"WHEN w >= ${1L << j} THEN $j").mkString("CASE ", " ", " END")
    val termList = hlist((1 to rb + 1).map(r => 1L << (rb + 1 - r)))
    val lcList = hlist(Sketches.hllLinearCountTable(m))
    val num = java.math.BigInteger.valueOf(Sketches.hllAlphaNum(m))
      .multiply(java.math.BigInteger.valueOf(m.toLong * m))
      .multiply(java.math.BigInteger.ONE.shiftLeft(rb + 1))
    s"""WITH c AS (SELECT $termList AS tl, $lcList AS lc),
       |tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |it AS (SELECT unnest(t) AS tok FROM tk),
       |dt AS (SELECT DISTINCT tok FROM it),
       |h AS (SELECT ${gmixSql(fnvSql("tok"))} AS u FROM dt),
       |br AS (SELECT u % $m AS bucket, (u // $m) % ${mask + 1} AS w FROM h),
       |rk AS (SELECT bucket,
       |    CASE WHEN w = 0 THEN ${rb + 1} ELSE $rb - ($flog2) END AS r FROM br),
       |regs AS (SELECT bucket, MAX(r) AS r FROM rk GROUP BY bucket),
       |s AS (SELECT COUNT(*) AS occupied,
       |    COALESCE(SUM(tl[CAST(r AS INT)]), 0) AS s_occ FROM regs, c),
       |e AS (SELECT ($m - occupied) AS v_zero,
       |    (($m - occupied) * ${1L << (rb + 1)}::HUGEINT + s_occ) AS s2 FROM s),
       |n AS (SELECT COUNT(*) AS n_exact FROM h),
       |est AS (SELECT n_exact, v_zero,
       |    ($num::HUGEINT) // (s2::HUGEINT * ${Sketches.HllAlphaDen}) AS raw
       |  FROM n, e),
       |f AS (SELECT n_exact, v_zero,
       |    CASE WHEN v_zero > 0 AND raw * 2 <= ${5L * m}
       |      THEN lc[CAST(v_zero AS INT)] ELSE raw END AS est
       |  FROM est, c)
       |SELECT CAST(n_exact AS BIGINT) AS n_distinct_exact,
       |  CAST($m AS INT) AS m,
       |  CAST(v_zero AS INT) AS v_zero,
       |  CAST(est AS BIGINT) AS est_distinct,
       |  CASE WHEN n_exact = 0 THEN 0.0
       |    ELSE ROUND(CAST(est - n_exact AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
       |  END AS rel_err
       |FROM f""".stripMargin
  }

  /** Whole-corpus Misra–Gries replay: exact (token, count) frame,
    * ROW_NUMBER over the total order (count desc, token asc), offset
    * t = the (k+1)-th count (0 when absent), summary = top-k with
    * counter − t > 0, evaluated at the exact top-CmsTopK probes with
    * the integer-decided undercount·(k+1) ≤ m bound. Every step is a
    * pure function of the exact counts — the whole point of the
    * order-free MG formulation. */
  private lazy val MgTopkSql =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |inst AS (SELECT unnest(t) AS tok FROM tk),
       |cnt AS (SELECT tok, COUNT(*) AS n FROM inst GROUP BY tok),
       |mm AS (SELECT COUNT(*) AS m FROM inst),
       |ord AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn FROM cnt),
       |toff AS (SELECT COALESCE(MAX(CASE WHEN rn = ${MgK + 1} THEN n END), 0) AS t
       |  FROM ord WHERE rn <= ${MgK + 1}),
       |summ AS (SELECT tok, n - toff.t AS counter FROM ord, toff
       |  WHERE rn <= $MgK AND n - toff.t > 0),
       |probes AS (SELECT tok, n FROM ord WHERE rn <= $CmsTopK)
       |SELECT p.tok, CAST(p.n AS BIGINT) AS n_exact,
       |  CAST(COALESCE(s.counter, 0) AS BIGINT) AS n_mg_lower,
       |  CAST(p.n - COALESCE(s.counter, 0) AS BIGINT) AS undercount,
       |  (p.n - COALESCE(s.counter, 0)) * ${MgK + 1} <= mm.m AS bound_ok
       |FROM probes p LEFT JOIN summ s USING (tok), mm""".stripMargin

  /** Two-part Misra–Gries merge replay: the same reduce applied to
    * each doc_id-parity half, counters summed per token, re-reduced
    * with the same offset rule, then evaluated against the WHOLE
    * corpus's exact top tokens and total-m bound — step-for-step the
    * algebra `t23_mg_merge` runs in Spark. */
  private lazy val MgMergeSql =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |cntA AS (SELECT tok, COUNT(*) AS n FROM (SELECT unnest(t) AS tok FROM tk WHERE doc_id % 2 = 0) GROUP BY tok),
       |cntB AS (SELECT tok, COUNT(*) AS n FROM (SELECT unnest(t) AS tok FROM tk WHERE doc_id % 2 = 1) GROUP BY tok),
       |ordA AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn FROM cntA),
       |ordB AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn FROM cntB),
       |tA AS (SELECT COALESCE(MAX(CASE WHEN rn = ${MgK + 1} THEN n END), 0) AS t
       |  FROM ordA WHERE rn <= ${MgK + 1}),
       |tB AS (SELECT COALESCE(MAX(CASE WHEN rn = ${MgK + 1} THEN n END), 0) AS t
       |  FROM ordB WHERE rn <= ${MgK + 1}),
       |summA AS (SELECT tok, n - tA.t AS counter FROM ordA, tA
       |  WHERE rn <= $MgK AND n - tA.t > 0),
       |summB AS (SELECT tok, n - tB.t AS counter FROM ordB, tB
       |  WHERE rn <= $MgK AND n - tB.t > 0),
       |comb AS (SELECT tok, SUM(counter) AS counter
       |  FROM (SELECT * FROM summA UNION ALL SELECT * FROM summB) GROUP BY tok),
       |ordC AS (SELECT tok, counter, ROW_NUMBER() OVER (ORDER BY counter DESC, tok) AS rn FROM comb),
       |tC AS (SELECT COALESCE(MAX(CASE WHEN rn = ${MgK + 1} THEN counter END), 0) AS t
       |  FROM ordC WHERE rn <= ${MgK + 1}),
       |merged AS (SELECT tok, counter - tC.t AS counter FROM ordC, tC
       |  WHERE rn <= $MgK AND counter - tC.t > 0),
       |inst AS (SELECT unnest(t) AS tok FROM tk),
       |cnt AS (SELECT tok, COUNT(*) AS n FROM inst GROUP BY tok),
       |mm AS (SELECT COUNT(*) AS m FROM inst),
       |probes AS (SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT $CmsTopK)
       |SELECT p.tok, CAST(p.n AS BIGINT) AS n_exact,
       |  CAST(COALESCE(s.counter, 0) AS BIGINT) AS n_mg_lower,
       |  CAST(p.n - COALESCE(s.counter, 0) AS BIGINT) AS undercount,
       |  (p.n - COALESCE(s.counter, 0)) * ${MgK + 1} <= mm.m AS bound_ok
       |FROM probes p LEFT JOIN merged s USING (tok), mm""".stripMargin

  /** Whole-corpus bottom-k sample-quantile replay (Sketches.qsSketch
    * → qsQuantiles → qsEval): per-doc token counts, draws = unsigned
    * token hash of the stringified doc_id, bottom-QsK by (u, v),
    * ceil-rank selection via the lexicographic self-join, exact side
    * from the value histogram's non-equi cumulative counts. Shared
    * VERBATIM by `t24_qs_quantiles` and `t25_qs_merge`: bottom-k of a
    * disjoint union equals the whole-corpus bottom-k exactly, so the
    * strongest oracle for the merge is the unmerged replay. */
  private lazy val QsSql = {
    val probList = QsProbs.mkString("[", ", ", "]")
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |dv AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS v FROM tk),
       |h AS (SELECT ${gmixSql(fnvSql("CAST(doc_id AS VARCHAR)"))} AS u, v FROM dv),
       |sk AS (SELECT u, v FROM h ORDER BY u, v LIMIT $QsK),
       |s AS (SELECT COUNT(*) AS s_used FROM sk),
       |rk AS (SELECT a.v AS v1, a.u AS u1, COUNT(*) AS r
       |  FROM sk a JOIN sk b ON (b.v < a.v) OR (b.v = a.v AND b.u <= a.u)
       |  GROUP BY a.v, a.u),
       |ps AS (SELECT unnest($probList) AS p),
       |est AS (SELECT p, s_used, MIN(v1) AS est_v
       |  FROM ps, s, rk WHERE r >= (p * s_used + 99) // 100
       |  GROUP BY p, s_used),
       |hist AS (SELECT v, COUNT(*) AS c FROM dv GROUP BY v),
       |cum AS (SELECT a.v AS hv, SUM(b.c) AS cum
       |  FROM hist a JOIN hist b ON b.v <= a.v GROUP BY a.v),
       |n AS (SELECT COUNT(*) AS n_rows FROM dv),
       |ex AS (SELECT p, s_used, est_v, n_rows, MIN(hv) AS exact_v
       |  FROM est, n, cum WHERE cum >= (p * n_rows + 99) // 100
       |  GROUP BY p, s_used, est_v, n_rows)
       |SELECT CAST(ex.p AS INT) AS p, CAST(ex.s_used AS INT) AS s_used,
       |  CAST(ex.est_v AS BIGINT) AS est_v, CAST(ex.exact_v AS BIGINT) AS exact_v,
       |  CASE WHEN ex.n_rows = 0 THEN 0.0
       |    ELSE ROUND(ABS(CAST(c2.cum AS DOUBLE) / CAST(ex.n_rows AS DOUBLE)
       |      - CAST(ex.p AS DOUBLE) / 100.0), 6) END AS rank_err
       |FROM ex JOIN cum c2 ON c2.hv = ex.est_v
       |ORDER BY p""".stripMargin
  }

  /** Whole-corpus Bloom decontamination replay (Sketches.bloomBits →
    * bloomProbe → bloomDecontamEval): benchmark vocabulary (every
    * 50th doc) sets DISTINCT (j, bucket) positions via the CMS
    * multiply-add bucket arithmetic; corpus vocabulary probes all
    * BloomDepth positions, passes iff every one is set. Shared
    * VERBATIM by `t26_bloom_decontam` and `t27_bloom_merge`: bits are
    * a set union, so per-half filters merge to the whole-vocabulary
    * filter exactly. */
  private lazy val BloomSql =
    s"""WITH c AS (SELECT $PermASql AS pa, $PermBSql AS pb),
       |js AS (SELECT unnest(range(0, $BloomDepth)) AS j),
       |btk AS (SELECT doc_id, $ToksSql AS t FROM documents WHERE doc_id % 50 = 0),
       |bv AS (SELECT DISTINCT tok FROM (SELECT unnest(t) AS tok FROM btk)),
       |bh AS (SELECT tok, ${gmixSql(fnvSql("tok"))} AS hv FROM bv),
       |bits AS (SELECT DISTINCT j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $BloomWidth AS bucket
       |  FROM bh, c, js),
       |ctk AS (SELECT doc_id, $ToksSql AS t FROM documents WHERE doc_id % 50 <> 0),
       |cv AS (SELECT DISTINCT tok FROM (SELECT unnest(t) AS tok FROM ctk)),
       |ch AS (SELECT tok, ${gmixSql(fnvSql("tok"))} AS hv FROM cv),
       |cpos AS (SELECT tok, j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $BloomWidth AS bucket
       |  FROM ch, c, js),
       |hits AS (SELECT cpos.tok,
       |    SUM(CASE WHEN bits.bucket IS NOT NULL THEN 1 ELSE 0 END) AS hits
       |  FROM cpos LEFT JOIN bits ON bits.j = cpos.j AND bits.bucket = cpos.bucket
       |  GROUP BY cpos.tok),
       |flag AS (SELECT cv.tok, COALESCE(h.hits, 0) = $BloomDepth AS in_filter,
       |    (bv.tok IS NOT NULL) AS in_vocab
       |  FROM cv LEFT JOIN hits h ON h.tok = cv.tok
       |  LEFT JOIN bv ON bv.tok = cv.tok)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_tokens,
       |  CAST(COALESCE(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true_members,
       |  CAST(COALESCE(SUM(CASE WHEN in_filter THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_filter_pass,
       |  CAST(COALESCE(SUM(CASE WHEN in_filter AND NOT in_vocab THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_false_pos,
       |  CAST(COALESCE(MIN(CASE WHEN in_vocab THEN CAST(in_filter AS INT) ELSE 1 END), 1) AS BOOLEAN) AS no_false_negatives,
       |  CASE WHEN COUNT(*) = COALESCE(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END), 0) THEN 0.0
       |    ELSE ROUND(CAST(COALESCE(SUM(CASE WHEN in_filter AND NOT in_vocab THEN 1 ELSE 0 END), 0) AS DOUBLE) * 100.0
       |      / CAST(COUNT(*) - COALESCE(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END), 0) AS DOUBLE), 6)
       |  END AS fp_pct
       |FROM flag""".stripMargin

  /** Exact 2-gram containment replay, shared VERBATIM by
    * `tp6_decontaminate` and `tp15_bloom_gated_decontam`: the Bloom
    * gate has no false negatives, so the gated composition must equal
    * the ungated operator bit-for-bit — one oracle, two
    * implementations, the td14/td15 pattern. */
  private lazy val Tp6Sql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')), '\s+') AS tk
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    list_distinct(list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
      |      i -> array_to_string(tk[(i+1):(i+2)], ' '))) AS grams
      |  FROM toks),
      |bench AS (SELECT doc_id AS bench_id, grams AS bgrams FROM sh WHERE doc_id % 97 = 0)
      |SELECT c.doc_id, b.bench_id,
      |  ROUND(CAST(len(list_intersect(c.grams, b.bgrams)) AS DOUBLE) / len(b.bgrams), 6) AS containment
      |FROM sh c CROSS JOIN bench b
      |WHERE c.doc_id <> b.bench_id
      |  AND ROUND(CAST(len(list_intersect(c.grams, b.bgrams)) AS DOUBLE) / len(b.bgrams), 6) >= 0.2""".stripMargin

  /** Per-doc Bloom suspicion replay (`tp16_bloom_suspicion`): tp6's
    * gram CTEs feed the t26/t27 bucket arithmetic at GRAM level —
    * benchmark grams set distinct (j, bucket) positions, every corpus
    * gram probes all BloomDepth positions, a gram is suspect iff all
    * hit, suspicion = suspects / grams. The replay rebuilds the filter
    * bits exactly, so DuckDB reproduces every false positive the Spark
    * masks produce — the fractions hash-match bit-for-bit. */
  /** DSIR hashed-ngram importance-weight replay: unigram + bigram
    * instances bucketed via gmix64(fnv1a(gram)) % DsirBuckets; add-one
    * smoothed target (lang='en') vs source (whole corpus) bucket
    * multinomials; per-doc order-free DECIMAL(18,12) sum of the
    * per-bucket log deltas (the t10 pattern). Ends in table
    * `w(doc_id, n_grams, logw)` — shared by `tp17_dsir_weights` and
    * the `tp18_dsir_resample` Gumbel top-k. */
  private lazy val DsirWeightsCteSql =
    s"""tk AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
       |g AS (SELECT doc_id, lang, list_concat(t,
       |    CASE WHEN len(t) >= 2
       |      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |      ELSE CAST([] AS VARCHAR[]) END) AS grams
       |  FROM tk),
       |inst AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g),
       |bk AS (SELECT doc_id, lang, ${gmixSql(fnvSql("gram"))} % $DsirBuckets AS bucket FROM inst),
       |sc AS (SELECT bucket, COUNT(*) AS cs FROM bk GROUP BY bucket),
       |tc AS (SELECT bucket, COUNT(*) AS ct FROM bk WHERE lang = 'en' GROUP BY bucket),
       |tn AS (SELECT SUM(ct) AS nt FROM tc), sn AS (SELECT SUM(cs) AS ns FROM sc),
       |dl AS (SELECT sc.bucket,
       |    ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / CAST(nt + $DsirBuckets AS DOUBLE))
       |      - ln(CAST(sc.cs + 1 AS DOUBLE) / CAST(ns + $DsirBuckets AS DOUBLE)) AS delta
       |  FROM sc LEFT JOIN tc USING (bucket), tn, sn),
       |per AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_grams,
       |    SUM(CAST(delta AS DECIMAL(18,12))) AS dsum
       |  FROM bk JOIN dl USING (bucket) GROUP BY doc_id),
       |w AS (SELECT d0.doc_id,
       |    COALESCE(per.n_grams, 0) AS n_grams,
       |    CASE WHEN per.n_grams IS NULL THEN 0.0
       |      ELSE ROUND(CAST(per.dsum AS DOUBLE), 6) END AS logw
       |  FROM documents d0 LEFT JOIN per USING (doc_id))""".stripMargin

  private lazy val Tp16Sql =
    s"""WITH c AS (SELECT $PermASql AS pa, $PermBSql AS pb),
       |js AS (SELECT unnest(range(0, $BloomDepth)) AS j),
       |toks AS (SELECT doc_id,
       |    string_split_regex(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), '\\s+') AS tk
       |  FROM documents),
       |sh AS (SELECT doc_id,
       |    list_filter(list_distinct(list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
       |      i -> array_to_string(tk[(i+1):(i+2)], ' '))), x -> x <> '') AS grams
       |  FROM toks),
       |bgr AS (SELECT DISTINCT g FROM (SELECT unnest(grams) AS g FROM sh WHERE doc_id % 97 = 0)),
       |bh AS (SELECT ${gmixSql(fnvSql("g"))} AS hv FROM bgr),
       |bits AS (SELECT DISTINCT j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $BloomWidth AS bucket
       |  FROM bh, c, js),
       |cg AS (SELECT doc_id, unnest(grams) AS g FROM sh),
       |ch AS (SELECT doc_id, g, ${gmixSql(fnvSql("g"))} AS hv FROM cg),
       |cpos AS (SELECT doc_id, g, j,
       |    ((pa[CAST(j AS INT)+1] * hv + pb[CAST(j AS INT)+1]) % $M64) % $BloomWidth AS bucket
       |  FROM ch, c, js),
       |gh AS (SELECT doc_id, g,
       |    SUM(CASE WHEN bits.bucket IS NOT NULL THEN 1 ELSE 0 END) AS hits
       |  FROM cpos LEFT JOIN bits ON bits.j = cpos.j AND bits.bucket = cpos.bucket
       |  GROUP BY doc_id, g),
       |sus AS (SELECT doc_id, COUNT(*) AS n_suspect FROM gh WHERE hits = $BloomDepth GROUP BY doc_id),
       |ng AS (SELECT doc_id, CAST(len(grams) AS INT) AS n_grams FROM sh)
       |SELECT ng.doc_id, ng.n_grams,
       |  CAST(COALESCE(s.n_suspect, 0) AS INT) AS n_suspect,
       |  CASE WHEN ng.n_grams = 0 THEN 0.0
       |    ELSE ROUND(CAST(COALESCE(s.n_suspect, 0) AS DOUBLE) / CAST(ng.n_grams AS DOUBLE), 6) END AS suspicion
       |FROM ng LEFT JOIN sus s ON s.doc_id = ng.doc_id""".stripMargin

  private val Pw64Sql = hlist((0 until 64).map(b => 1L << b))
  private val Pw16Sql = hlist((0 until 4).map(b => 1L << (16 * b)))
  private val FnvOffU = GHash.u64(GHash.FnvOffset)
  private val FnvP = GHash.FnvPrime.toString

  /** Whitespace tokens of the normal form (proven by the td2 oracle). */
  private val ToksSql =
    """list_filter(string_split_regex(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')), '\s+'), x -> x <> '')"""

  /** FNV-1a 64 fold over the codepoints of `v` (HashShingles replay). */
  private def fnvSql(v: String): String =
    s"list_reduce(list_prepend($FnvOffU::HUGEINT, " +
      s"list_transform(string_split($v, ''), c -> CAST(greatest(unicode(c), 0) AS HUGEINT))), " +
      s"(h, c) -> (xor(h, c) * $FnvP::HUGEINT) % $M64)"

  /** gmix64 finalizer replay: (xor(y, y >>> 32) · FnvPrime) mod 2^64. */
  private def gmixSql(y: String): String =
    s"(xor($y, ($y) // 4294967296) * $FnvP::HUGEINT) % $M64"

  /** Shared CTE prefix for the MinHash oracles over table `src`
    * (must expose doc_id + text): token hash sets, identical-set
    * groups with min-id representatives, and signatures (unsigned min
    * of the multiply-add permutations — MinHashSignature replay).
    * `p` prefixes every CTE name so one query can carry two corpora
    * (td11's batch + base); the permutation-constant CTE `c` is
    * emitted once (`withConsts = false` on the second expansion). */
  private def minhashCtes(src: String, p: String = "", withConsts: Boolean = true): String = {
    val consts = if (withConsts) s"c AS (SELECT $PermASql AS pa, $PermBSql AS pb),\n" else ""
    s"""$consts${p}toks AS (SELECT doc_id, $ToksSql AS tk FROM $src),
       |${p}hs AS (SELECT doc_id, list_sort(list_distinct(list_transform(tk, t -> ${fnvSql("t")}))) AS cs FROM ${p}toks),
       |${p}reps AS (SELECT cs, MIN(doc_id) AS rep_id FROM ${p}hs GROUP BY cs),
       |${p}sigs AS (SELECT rep_id, cs,
       |  list_transform(range(0, $MinhashH), j ->
       |    CASE WHEN len(cs) = 0 THEN 18446744073709551615::HUGEINT
       |         ELSE list_min(list_transform(cs, x -> (pa[j+1] * x + pb[j+1]) % $M64)) END) AS sig
       |  FROM ${p}reps, c)""".stripMargin
  }

  /** Exact jaccard of two sorted distinct hash sets (JaccardSortedLong
    * replay), rounded to 6 dp. */
  private def jaccardSql(a: String, b: String): String =
    s"ROUND(CASE WHEN len($a) + len($b) - len(list_intersect($a, $b)) = 0 THEN 0.0 " +
      s"ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE) " +
      s"/ (len($a) + len($b) - len(list_intersect($a, $b))) END, 6)"

  /** Band rows with the raw signature slice — candidate generation for
    * the all-pairs MinHash ops (a pair is a candidate iff some band's
    * slices FULLY agree, which is exactly BucketPairs' first-agreeing-
    * band emission condition). */
  /** LSH candidate set with the bucket-size gate replicated: a pair's
    * first fully-agreeing band is MIN(band) over its slice collisions;
    * the pair is a candidate if THAT band's bucket is at or under
    * [[graft.text.TextDedup.DefaultMaxBucketSize]] (all-pairs branch)
    * or if its smaller id IS the bucket's min-id representative
    * (linear branch) — byte-for-byte the kernel gate, so the oracle
    * stays green even on a corpus with a hot bucket. */
  private val BandSliceCte =
    s"""bands AS (SELECT rep_id, band, array_slice(sig, band*$MinhashRpb+1, band*$MinhashRpb+$MinhashRpb) AS bslice
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS band) b),
       |bsizes AS (SELECT band, bslice, COUNT(*) AS bsz, MIN(rep_id) AS bmin
       |  FROM bands GROUP BY band, bslice),
       |coll AS (SELECT a.rep_id AS ra, b.rep_id AS rb, MIN(a.band) AS fb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bslice = b.bslice AND a.rep_id < b.rep_id
       |  GROUP BY a.rep_id, b.rep_id),
       |cand AS (SELECT c.ra, c.rb FROM coll c
       |  JOIN bands ab ON ab.rep_id = c.ra AND ab.band = c.fb
       |  JOIN bsizes s ON s.band = c.fb AND s.bslice = ab.bslice
       |  WHERE s.bsz <= $MinhashMaxBucket OR c.ra = s.bmin)""".stripMargin

  /** Rep pairs surviving the minAgree prefilter + exact-jaccard verify
    * — the output pair set of nearDupPairsOfHashed. */
  private val RepPairsCte =
    s"""verified AS (
       |  SELECT c2.ra, c2.rb, ${jaccardSql("sa.cs", "sb.cs")} AS jaccard
       |  FROM cand c2
       |  JOIN sigs sa ON sa.rep_id = c2.ra
       |  JOIN sigs sb ON sb.rep_id = c2.rb
       |  WHERE len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2])) >= $MinhashMinAgree),
       |reppairs AS (SELECT ra, rb, jaccard FROM verified WHERE jaccard >= $NearDupThreshold)""".stripMargin

  /** td3's pair graph closed into components: shared CTE body for
    * td10 (labels) and td13 (the transitive corpus cut) — one closure
    * definition, two final SELECTs, so the two oracles cannot drift. */
  private def Td10ClosureCtes: String =
    s"""${minhashCtes("documents")},
       |mem AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY cs) AS rep_id FROM hs),
       |$BandSliceCte,
       |$RepPairsCte,
       |cross_pairs AS (
       |  SELECT LEAST(ma.doc_id, mb.doc_id) AS id_a, GREATEST(ma.doc_id, mb.doc_id) AS id_b
       |  FROM reppairs p JOIN mem ma ON ma.rep_id = p.ra JOIN mem mb ON mb.rep_id = p.rb),
       |intra AS (
       |  SELECT m1.doc_id AS id_a, m2.doc_id AS id_b
       |  FROM mem m1 JOIN mem m2 ON m1.rep_id = m2.rep_id AND m1.doc_id < m2.doc_id),
       |dedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM cross_pairs
       |  UNION SELECT id_b, id_a FROM cross_pairs
       |  UNION SELECT id_a, id_b FROM intra
       |  UNION SELECT id_b, id_a FROM intra),
       |walk(id, label) AS (
       |  SELECT src, src FROM dedges
       |  UNION
       |  SELECT e.dst, w.label FROM walk w JOIN dedges e ON e.src = w.id),
       |cc AS (SELECT id, MIN(label) AS component FROM walk GROUP BY id)""".stripMargin

  /** Linear-per-bucket loser set (minhashDedupLinear replay): band
    * buckets are the PolyFoldLong of each signature slice; each member
    * verifies only against its bucket's min-id representative. */
  private val LinearLosersCtes =
    s"""banded AS (SELECT rep_id, cs, band,
       |    list_reduce(list_prepend($FnvOffU::HUGEINT, array_slice(sig, band*$MinhashRpb+1, band*$MinhashRpb+$MinhashRpb)),
       |      (a, v) -> (a * $FnvP::HUGEINT + v) % $M64) AS bucket
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS band) b),
       |bucketreps AS (SELECT band, bucket, MIN(rep_id) AS brep FROM banded GROUP BY band, bucket),
       |losers AS (SELECT DISTINCT m2.rep_id
       |  FROM banded m2
       |  JOIN bucketreps r ON m2.band = r.band AND m2.bucket = r.bucket
       |  JOIN sigs rs ON rs.rep_id = r.brep
       |  WHERE m2.rep_id > r.brep
       |    AND ${jaccardSql("m2.cs", "rs.cs")} >= $NearDupThreshold)""".stripMargin

  /** SimHash signature CTEs over `src` (SimHash64 replay): per-token
    * gmix64(fnv1a(token)), bit votes, packed unsigned signature. */
  private def simhashCtes(src: String): String =
    s"""c AS (SELECT $Pw64Sql AS pw, $Pw16Sql AS pw16),
       |toks AS (SELECT doc_id, $ToksSql AS tk FROM $src),
       |hsim AS (SELECT doc_id, list_transform(tk, t -> ${gmixSql(fnvSql("t"))}) AS th FROM toks),
       |ssigs AS (SELECT doc_id,
       |  CAST(coalesce(list_sum(list_transform(range(0, 64), b ->
       |    CASE WHEN coalesce(list_sum(list_transform(th,
       |        h -> CASE WHEN (h // pw[b+1]) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0
       |      THEN pw[b+1] ELSE 0::HUGEINT END)), 0) AS HUGEINT) AS usig
       |  FROM hsim, c)""".stripMargin

  /** Unsigned → signed BIGINT (two's-complement reinterpretation). */
  private def signedSql(u: String): String =
    s"CAST(CASE WHEN $u >= 9223372036854775808::HUGEINT THEN $u - $M64 ELSE $u END AS BIGINT)"

  /** Where the v7 query persists its fitted KMeans centroids, so the
    * oracle SQL can read_parquet the same files after Verify has run.
    * k×dim doubles round-trip parquet exactly, so the replay is
    * bit-identical to v4's. The path is keyed by user (two users on
    * one host never collide on /tmp permissions) AND by a hash of the
    * corpus dir: a Verify/Bench run on another corpus writes a
    * DIFFERENT path, so stale runs cannot overwrite the centroids a
    * concurrent oracle check is reading. The volatile key carries the
    * corpus from the v7 query run to the oracle dump within one
    * Verify JVM (queries all complete before oracleSql is written);
    * a JVM that never ran v7 falls back to the "default" key. */

  /** v12's PQ codebooks persist beside v7's centroids, same
    * corpus-keyed layout and the same single-flow volatile-key
    * handoff from the query run to the oracle dump. */

  /** One oracle, two plans: w3 (single user-keyed window) and w4 (the
    * bucketed skew mitigation) both answer to this SQL — semantic
    * equivalence of the mitigation is an oracle-checked fact. */
  /** td14/td15's shared DuckDB oracle — the full ExactSubstr removal
    * algebra (positional k-grams at k = SubstrK with start ordinals,
    * corpus-wide
    * instance counts, per-doc interval union, span-complement token
    * filter, md5 of the rebuilt text). Two queries answer to it: the
    * exact-text-key form and the 128-bit packed-key form, so the
    * packing's output-equivalence is oracle-checked every round. */
  private lazy val ExactSubstrOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |gl AS (SELECT doc_id, t, CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(0, greatest(len(t) - $SubstrK, 0) + 1),
         |      i -> array_to_string(array_slice(t, i + 1, i + $SubstrK), ' ')) END AS gs
         |  FROM tk),
         |g AS (SELECT doc_id, unnest(gs) AS gram,
         |    generate_subscripts(gs, 1) - 1 AS st FROM gl),
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
         |ds AS (SELECT doc_id, st FROM g WHERE gram IN (SELECT gram FROM dup)),
         |br AS (SELECT doc_id, st,
         |    CASE WHEN st > LAG(st) OVER (PARTITION BY doc_id ORDER BY st) + $SubstrK
         |      THEN 1 ELSE 0 END AS brk FROM ds),
         |gr AS (SELECT doc_id, st,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY st) AS grp FROM br),
         |sp AS (SELECT doc_id, grp, MIN(st) AS s, MAX(st) + ${SubstrK - 1} AS e
         |  FROM gr GROUP BY doc_id, grp),
         |tp AS (SELECT doc_id, unnest(t) AS tok,
         |    generate_subscripts(t, 1) - 1 AS idx FROM tk),
         |kept AS (SELECT tp.doc_id, tp.tok, tp.idx FROM tp
         |  WHERE NOT EXISTS (SELECT 1 FROM sp
         |    WHERE sp.doc_id = tp.doc_id AND tp.idx BETWEEN sp.s AND sp.e)),
         |reb AS (SELECT doc_id, COUNT(*) AS nk,
         |    string_agg(tok, ' ' ORDER BY idx) AS txt FROM kept GROUP BY doc_id),
         |nsp AS (SELECT doc_id, COUNT(*) AS ns FROM sp GROUP BY doc_id)
         |SELECT k.doc_id, CAST(len(k.t) AS INT) AS n_tokens,
         |  CAST(COALESCE(r.nk, 0) AS INT) AS n_tokens_kept,
         |  CAST(COALESCE(n.ns, 0) AS INT) AS n_spans_removed,
         |  md5(COALESCE(r.txt, '')) AS clean_md5
         |FROM tk k LEFT JOIN reb r USING (doc_id) LEFT JOIN nsp n USING (doc_id)""".stripMargin

  private val SessionizeOracleSql: String =
    """WITH flag AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WHERE ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM flag)
      |SELECT user_id, session_seq,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events,
      |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, session_seq""".stripMargin

  /** Fixed scoring weights for t14 (the narrow/streaming scorer):
    * scoring — not training — is the operator under test, so the
    * weight table is a deterministic literal shared token-for-token
    * with the oracle's VALUES clause. Bias rides as the NULL token,
    * exactly like persisted t12 weights. */
  private val T14Weights: Seq[(String, String)] = Seq(
    (null, "-0.45"),
    ("the", "0.05"), ("and", "0.04"), ("of", "0.03"), ("to", "0.03"),
    ("in", "0.02"), ("data", "0.30"), ("model", "0.25"), ("learn", "0.20"),
    ("compute", "0.18"), ("error", "-0.35"), ("spam", "-0.60"),
    ("click", "-0.25"), ("free", "-0.15"), ("system", "0.12"),
  )

  private def t14WeightsDf(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}
    val rows = T14Weights.map { case (t, w) =>
      org.apache.spark.sql.Row(t, new java.math.BigDecimal(w).setScale(12))
    }
    s.createDataFrame(
      s.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("token", StringType),
        StructField("w", DecimalType(18, 12)))))
  }

  private def t14WeightsValuesSql: String = T14Weights.map { case (t, w) =>
    val tok = if (t == null) "NULL" else s"'$t'"
    s"($tok, CAST($w AS DECIMAL(18,12)))"
  }.mkString(", ")

  /** t12's trained classifier weights persist the same way: the query
    * trains in Spark and writes (token, w) rows; the oracle replays
    * scoring (broadcast join + exact decimal sum) from the parquet. */
  private def t12WeightsPathFor(key: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_t12_weights_${System.getProperty("user.name", "anon")}_$key").toString

  private def v12CodebooksPathFor(key: String): String =
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
  private def annWarehouseFor(dir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ann_${System.getProperty("user.name", "anon")}_${v7CorpusKeyFor(dir)}").toString

  /** Delete the persisted per-corpus index warehouse (the IVF tables
    * AND the td11 base bucket index — both live under
    * [[annWarehouseFor]]), so the CALLING invocation provably rebuilds
    * them from the parquet inputs. Every other persisted query
    * artifact (t12 weights, v12 codebooks, v7 centroids) is
    * write-through — re-trained and re-written on every call — but
    * [[graft.sim.IvfIndex.ensure]] and
    * [[graft.text.BucketIndex.ensure]] deliberately skip a rebuild
    * when the published meta row still matches (the M2
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
    rm(new java.io.File(annWarehouseFor(dir)))
  }

  private val AnnParamsA = IvfIndex.Params(targetList = 1024L,
    pq = Some(IvfIndex.PqParams(m = 4, subDim = 16, ksub = 16)))
  private val AnnParamsB = IvfIndex.Params(targetList = 16L)

  private def v7CorpusKeyFor(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
  private def v7CentroidsPathFor(key: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_v7_centroids_${System.getProperty("user.name", "anon")}_$key").toString

  /** Unrounded cosine of two FLOAT[] expressions (CosineSimilarity
    * replay — same double arithmetic as the v1/v2 oracles). */
  private def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))" +
      s" / (sqrt(list_sum(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"

  /** SRP plane + bucket CTEs (SrpSignature replay): plane vectors are
    * materialized once per (table, bit) — component i (1-based) is
    * (gmix64(srpA·i + srpB) >>> 54)/1024 − 0.5 — then each vector's
    * bucket is the packed sign pattern of its plane projections.
    * Requires a `c` CTE exposing flat constant lists sa/sb indexed
    * [t*nBits + j + 1]. */
  private def srpCtes(nBits: Int, tables: Int): String = {
    val y = s"(sa[t*$nBits + j + 1] * CAST(i AS HUGEINT) + sb[t*$nBits + j + 1]) % $M64"
    val m = s"(CAST((${gmixSql(y)}) // 18014398509481984 AS DOUBLE) / 1024.0 - 0.5)"
    s"""planes AS (
       |  SELECT t, j, list_transform(range(1, (SELECT MAX(len(embedding)) FROM embeddings) + 1), i -> $m) AS plane
       |  FROM (SELECT unnest(range(0, $tables)) AS t) ts
       |  CROSS JOIN (SELECT unnest(range(0, $nBits)) AS j) js, c),
       |bx AS (
       |  SELECT vec_id, embedding, t,
       |    CAST(coalesce(SUM(CASE WHEN list_sum(list_transform(list_zip(embedding, plane), x -> CAST(x[1] AS DOUBLE) * x[2])) > 0
       |      THEN (1::BIGINT << j) ELSE 0 END), 0) AS INT) AS bucket
       |  FROM embeddings CROSS JOIN planes
       |  GROUP BY vec_id, embedding, t)""".stripMargin
  }

  private def srpConstsSql(nBits: Int, tables: Int): String = {
    val sa = hlist(for (t <- 0 until tables; j <- 0 until nBits) yield GHash.srpA(t, j))
    val sb = hlist(for (t <- 0 until tables; j <- 0 until nBits) yield GHash.srpB(t, j))
    s"c AS (SELECT $sa AS sa, $sb AS sb)"
  }

  /** Adaptive-bits ladder (Similarity.adaptiveNBits replay): largest b
    * in [4, 24] with count ≥ 128·2^b. Integer comparisons only — a
    * floor(log2(…)) as doubles could disagree with the JVM at exact
    * power-of-two corpus sizes. The 24 cap is adaptiveNBits' maxBits;
    * both sides of the oracle must move together. */
  private def adaptiveBitsSql(src: String): String = {
    val ladder = (24 to 5 by -1)
      .map(b => s"WHEN COUNT(*) >= ${128L << b} THEN $b")
      .mkString(" ")
    s"nb AS (SELECT CASE $ladder ELSE 4 END AS nb FROM $src)"
  }

  /** Single-table SRP bucket CTEs with RUNTIME bit width (the v3
    * multi-probe oracle): plane j < nb from the maxBits-plane constant
    * lists (salt 0 — plane constants depend only on (salt, j), so the
    * dynamic prefix matches lshSignature exactly), plus the Hamming ≤ 2
    * probe-mask CTE. Expects `c` (maxBits-entry sa/sb, currently 24)
    * and `nb` CTEs. */
  private def srpCtesAdaptive(src: String): String = {
    val y = s"(sa[j + 1] * CAST(i AS HUGEINT) + sb[j + 1]) % $M64"
    val m = s"(CAST((${gmixSql(y)}) // 18014398509481984 AS DOUBLE) / 1024.0 - 0.5)"
    s"""js AS (SELECT unnest(range(0, (SELECT nb FROM nb))) AS j),
       |planes AS (
       |  SELECT j, list_transform(range(1, (SELECT MAX(len(embedding)) FROM $src) + 1), i -> $m) AS plane
       |  FROM js, c),
       |bx AS (
       |  SELECT vec_id, embedding,
       |    coalesce(SUM(CASE WHEN list_sum(list_transform(list_zip(embedding, plane), x -> CAST(x[1] AS DOUBLE) * x[2])) > 0
       |      THEN (1::BIGINT << j) ELSE 0 END), 0) AS bucket
       |  FROM $src CROSS JOIN planes
       |  GROUP BY vec_id, embedding),
       |masks AS (
       |  SELECT 0::BIGINT AS mask
       |  UNION ALL SELECT (1::BIGINT << j) FROM js
       |  UNION ALL SELECT xor(1::BIGINT << a.j, 1::BIGINT << b.j) FROM js a JOIN js b ON a.j < b.j)""".stripMargin
  }

  // ---------------------------------------------------------------------

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
  def oracleSqlFor(sfDir: String): Map[String, String] = {
  val base = Map(
    "a5_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE), 2) AS sum_disc_price,
        |  SUM(l_quantity) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a1_monthly_rollup" ->
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-01') AS month,
        |  l_returnflag,
        |  SUM(l_quantity * l_linenumber) / 60.0 AS total_generation_mwh
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "a2_monthly_plant_rollup" ->
      """SELECT strftime(date_trunc('month', ts), '%Y-%m-01') AS month,
        |  user_id, event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_generation_mwh
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "a4_coverage_matrix" ->
      """SELECT 'orders' AS source, strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month, COUNT(*) AS row_count FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'lineitem', strftime(date_trunc('month', l_shipdate), '%Y-%m-01'), COUNT(*) FROM lineitem GROUP BY 2
        |UNION ALL
        |SELECT 'events', strftime(date_trunc('month', ts), '%Y-%m-01'), COUNT(*) FROM events GROUP BY 2""".stripMargin,

    "a5_multi_metric_monthly" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
        |  o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_generation_mwh,
        |  COUNT(*) AS hours_of_data,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_generation_mw,
        |  MAX(o_totalprice) AS peak_generation_mw
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "a6_distinct_years" ->
      """SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year
        |FROM orders ORDER BY year""".stripMargin,

    "a7_date_range" ->
      """SELECT strftime(MIN(ts), '%Y-%m-%d') AS start_date,
        |  strftime(MAX(ts), '%Y-%m-%d') AS end_date
        |FROM events WHERE user_id = 7""".stripMargin,

    "a8_latest_dates" ->
      """SELECT 'orders' AS source, COALESCE(CAST(MAX(o_orderdate) AS DATE), DATE '1970-01-01') AS latest_date FROM orders
        |UNION ALL
        |SELECT 'lineitem', COALESCE(CAST(MAX(l_shipdate) AS DATE), DATE '1970-01-01') FROM lineitem
        |UNION ALL
        |SELECT 'events', COALESCE(CAST(MAX(ts) AS DATE), DATE '1970-01-01') FROM events""".stripMargin,

    "a9_record_counts" ->
      """SELECT 'region' AS table_name, COUNT(*) AS record_count FROM region
        |UNION ALL SELECT 'nation', COUNT(*) FROM nation
        |UNION ALL SELECT 'customer', COUNT(*) FROM customer
        |UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        |UNION ALL SELECT 'part', COUNT(*) FROM part
        |UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        |UNION ALL SELECT 'events', COUNT(*) FROM events
        |UNION ALL SELECT 'documents', COUNT(*) FROM documents
        |UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings""".stripMargin,

    "a10_extraction_summary" ->
      """SELECT o_orderpriority AS source,
        |  COUNT(*) AS total_runs,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS successful_runs,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_records,
        |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS earliest_start,
        |  strftime(MAX(o_orderdate), '%Y-%m-%d') AS latest_end
        |FROM orders GROUP BY 1""".stripMargin,

    "a11_duplicate_count" ->
      """SELECT COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS duplicate_count
        |FROM lineitem""".stripMargin,

    "d1_dedup_first_wins" ->
      """SELECT * FROM lineitem
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |  ORDER BY l_shipdate, l_partkey, l_suppkey, l_extendedprice) = 1""".stripMargin,

    "w1_duplicate_groups" ->
      """SELECT l_orderkey, l_linenumber, COUNT(*) AS occurrences
        |FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1 ORDER BY 1, 2""".stripMargin,

    "d2_upsert_new_rows" ->
      """WITH incoming AS (
        |  SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |    ORDER BY l_shipdate, l_partkey, l_suppkey, l_extendedprice) = 1),
        |existing AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01')
        |SELECT i.* FROM incoming i
        |WHERE NOT EXISTS (SELECT 1 FROM existing e
        |  WHERE e.l_orderkey = i.l_orderkey AND e.l_linenumber = i.l_linenumber)""".stripMargin,

    "s7_upsert_counts" ->
      """WITH raw_incoming AS (
        |  SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'),
        |incoming AS (
        |  SELECT * FROM raw_incoming
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |    ORDER BY l_shipdate, l_partkey, l_suppkey, l_extendedprice) = 1),
        |existing AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01'),
        |ins AS (SELECT i.* FROM incoming i
        |  WHERE NOT EXISTS (SELECT 1 FROM existing e
        |    WHERE e.l_orderkey = i.l_orderkey AND e.l_linenumber = i.l_linenumber))
        |SELECT (SELECT COUNT(*) FROM raw_incoming) AS incoming_records,
        |  (SELECT COUNT(*) FROM incoming) AS batch_records,
        |  (SELECT COUNT(*) FROM ins) AS inserted_records""".stripMargin,

    "d4_metadata_merge" ->
      """WITH u AS (
        |  SELECT * FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT * FROM u
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |  ORDER BY o_orderdate DESC, o_totalprice DESC, o_orderstatus, o_orderpriority, o_custkey) = 1""".stripMargin,

    "j1_drift_missing" ->
      """SELECT DISTINCT c_nationkey AS plant_key FROM customer
        |WHERE c_nationkey IS NOT NULL
        |  AND c_nationkey NOT IN (
        |    SELECT n_nationkey FROM nation
        |    WHERE n_regionkey <= 2 AND n_nationkey IS NOT NULL)
        |ORDER BY plant_key""".stripMargin,

    "j4_crosswalk_enrich" ->
      """SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m-01') AS month,
        |  r.r_name,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  COUNT(*) AS order_count
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "j6_capacity_enrich" ->
      """WITH gens AS (
        |  SELECT n_nationkey, n_name, g, (n_nationkey + g) % 4 AS tech
        |  FROM nation CROSS JOIN (SELECT unnest(range(0, 4)) AS g) gs),
        |ginfo AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) AS plant_code,
        |    CAST(g AS VARCHAR) AS generator_id,
        |    CASE tech WHEN 0 THEN 'Conventional Steam Coal'
        |      WHEN 1 THEN 'Natural Gas Fired Combined Cycle'
        |      WHEN 2 THEN 'Onshore Wind Turbine'
        |      ELSE 'Solar Photovoltaic' END AS technology,
        |    CASE tech WHEN 0 THEN 'ST' WHEN 1 THEN 'CT' WHEN 2 THEN 'WT' ELSE 'PV' END AS prime_mover,
        |    CAST(100 + 37 * ((n_nationkey * 4 + g) % 13) AS DOUBLE) AS nameplate_capacity_mw,
        |    n_name
        |  FROM gens),
        |gcpt AS (
        |  SELECT plant_code || '_' || generator_id AS eia_unit_id,
        |    CASE WHEN CAST(plant_code AS INT) % 2 = 0 THEN 'Bituminous' ELSE 'Lignite' END AS coal_type,
        |    n_name AS country
        |  FROM ginfo WHERE prime_mover = 'ST'),
        |facts AS (
        |  SELECT CAST(c.c_nationkey AS VARCHAR) AS plant_code,
        |    CAST(o.o_orderkey % 4 AS VARCHAR) AS generator_id,
        |    o.o_totalprice
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |rolled AS (
        |  SELECT f.plant_code, f.generator_id, gi.technology, gi.nameplate_capacity_mw,
        |    CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_net_generation_mwh
        |  FROM facts f
        |  JOIN ginfo gi ON f.plant_code = gi.plant_code AND f.generator_id = gi.generator_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT r.plant_code, r.generator_id, r.technology, r.nameplate_capacity_mw,
        |  r.total_net_generation_mwh,
        |  ROUND(r.total_net_generation_mwh / (r.nameplate_capacity_mw * 8760.0), 6) AS capacity_factor,
        |  g.coal_type, g.country
        |FROM rolled r
        |LEFT JOIN gcpt g ON r.plant_code || '_' || r.generator_id = g.eia_unit_id""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN replays the union+window form's
    // inclusive (<=) latest-match semantics. Both engines compare at
    // microsecond precision (DuckDB reads the parquet ns timestamps as
    // TIMESTAMP µs; the Spark side uses the ts DIV 1000 convention),
    // and (user_id, ts) is collision-free at µs in this data.
    "j7_asof_attribution" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts AS view_ts, event_id AS view_id, value AS view_value
        |  FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, c.ts, c.value, v.view_id, v.view_ts, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.view_ts""".stripMargin,

    // The bucketed interval join must equal the declarative inequality
    // join — the oracle IS the naive form the bucketing optimizes.
    "j8_lookback_join" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT event_id AS view_id, user_id, ts AS view_ts FROM events WHERE event_type = 'view')
        |SELECT c.click_id, c.user_id, v.view_id, c.click_ts, v.view_ts
        |FROM clicks c JOIN views v ON c.user_id = v.user_id
        |  AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        |  AND v.view_ts < c.click_ts""".stripMargin,

    "p18_validate_summary" ->
      """SELECT COUNT(*) AS total_records,
        |  CAST(SUM(CASE WHEN event_id IS NOT NULL AND value IS NOT NULL AND value >= 0
        |        AND event_type IS NOT NULL AND TRIM(event_type) <> ''
        |        AND epoch_ms(ts) IS NOT NULL AND epoch_ms(ts) > 0 AND epoch_ms(ts) <= 1705363200000
        |        AND user_id IS NOT NULL AND user_id <= 9
        |      THEN 1 ELSE 0 END) AS BIGINT) AS valid_records,
        |  CAST(SUM(CASE WHEN event_id IS NOT NULL AND value IS NOT NULL AND value >= 0
        |        AND event_type IS NOT NULL AND TRIM(event_type) <> ''
        |        AND epoch_ms(ts) IS NOT NULL AND epoch_ms(ts) > 0 AND epoch_ms(ts) <= 1705363200000
        |        AND user_id IS NOT NULL AND user_id <= 9
        |      THEN 0 ELSE 1 END) AS BIGINT) AS invalid_records
        |FROM events""".stripMargin,

    "p18_error_stats" ->
      """SELECT error_type, error_count FROM (
        |  SELECT 'missing required field' AS error_type,
        |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS error_count
        |  FROM events
        |  UNION ALL
        |  SELECT 'value', CAST(SUM(CASE WHEN value IS NOT NULL AND value < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'event_type', CAST(SUM(CASE WHEN event_type IS NOT NULL AND TRIM(event_type) = '' THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'timestamp_ms', CAST(SUM(CASE WHEN ts IS NOT NULL AND (epoch_ms(ts) <= 0 OR epoch_ms(ts) > 1705363200000) THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(SUM(CASE WHEN user_id IS NOT NULL AND user_id > 9 THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |) WHERE error_count > 0 ORDER BY error_type""".stripMargin,

    "p17_valid_records" ->
      """SELECT event_id, epoch_ms(ts) AS timestamp_ms, user_id, event_type, value
        |FROM events
        |WHERE event_id IS NOT NULL AND value IS NOT NULL AND value >= 0
        |  AND event_type IS NOT NULL AND TRIM(event_type) <> ''
        |  AND epoch_ms(ts) IS NOT NULL AND epoch_ms(ts) > 0 AND epoch_ms(ts) <= 1705363200000
        |  AND user_id IS NOT NULL AND user_id <= 9""".stripMargin,

    // Same fixture lines as P10Fixture; DuckDB json_type gives the raw
    // token type (BIGINT/DOUBLE/VARCHAR/BOOLEAN/'NULL'/SQL NULL).
    "p10_lexical_types" ->
      """WITH t(rid, line) AS (VALUES
        |  (1, '{"created_at_ms":true,"generation_mwh":100.0}'),
        |  (2, '{"created_at_ms":1700000000000,"generation_mwh":"100.0"}'),
        |  (3, '{"created_at_ms":1700000000000,"generation_mwh":100}'),
        |  (4, '{"created_at_ms":1700000000000,"generation_mwh":100.5,"utility_id":"abc","unit":null}'),
        |  (5, '{"utility_id":7,"unit":5.5,"resolution_minutes":60}'),
        |  (6, '{"utility_id":1.5,"unit":true,"resolution_minutes":"60"}')),
        |ty AS (SELECT rid,
        |  json_type(line::JSON, '$.created_at_ms') AS t_created,
        |  json_type(line::JSON, '$.generation_mwh') AS t_mwh,
        |  json_type(line::JSON, '$.utility_id') AS t_util,
        |  json_type(line::JSON, '$.unit') AS t_unit,
        |  json_type(line::JSON, '$.resolution_minutes') AS t_res
        |FROM t)
        |SELECT rid,
        |  (t_created IS NULL OR t_created = 'NULL' OR t_created IN ('BIGINT','UBIGINT')) AS created_at_is_int,
        |  (t_mwh IS NULL OR t_mwh = 'NULL' OR t_mwh IN ('BIGINT','DOUBLE','UBIGINT')) AS mwh_is_float,
        |  (t_util IS NULL OR t_util = 'NULL' OR t_util IN ('BIGINT','UBIGINT','VARCHAR')) AS utility_is_int_or_str,
        |  (t_unit IS NULL OR t_unit = 'NULL' OR t_unit IN ('VARCHAR','BIGINT','DOUBLE','UBIGINT')) AS unit_is_str_null_num,
        |  (t_res IS NULL OR t_res = 'NULL' OR t_res IN ('BIGINT','UBIGINT')) AS resolution_is_int_or_null
        |FROM ty""".stripMargin,

    "p1_projection" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem",

    "p2_enrich_envelope" ->
      """SELECT event_id,
        |  '550e8400-e29b-41d4-a716-446655440000' AS extraction_run_id,
        |  1705276800000 AS created_at_ms,
        |  epoch_ms(ts) AS timestamp_ms
        |FROM events""".stripMargin,

    "p5_ts_coercion" ->
      "SELECT event_id, epoch_ms(ts) AS timestamp_ms FROM events",

    "p6_dict_lookup" ->
      """SELECT event_id, event_type,
        |  CASE event_type
        |    WHEN 'click' THEN 'Engagement' WHEN 'view' THEN 'Engagement'
        |    WHEN 'purchase' THEN 'Conversion' WHEN 'signup' THEN 'Conversion'
        |    WHEN 'error' THEN 'Fault' ELSE 'Unknown' END AS category
        |FROM events""".stripMargin,

    "p7_suffix_strip" ->
      """SELECT event_id,
        |  regexp_replace(event_type || '_Actual Aggregated', '_Actual Aggregated$', '') AS plant_name
        |FROM events""".stripMargin,

    "s1_json_extract" ->
      """SELECT event_id, CAST(props->>'k' AS INTEGER) AS k_value FROM events""",

    "s2_ingest_roundtrip" ->
      "SELECT event_id, user_id, event_type, value FROM events",

    "m3_topk_recent" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id DESC LIMIT 20""".stripMargin,

    "u1_harmonized_stack" ->
      """WITH stacked AS (
        |  SELECT 'orders' AS source, epoch_ms(o_orderdate) AS timestamp_ms, o_totalprice AS measure FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', epoch_ms(l_shipdate), l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'events', epoch_ms(ts), value FROM events)
        |SELECT source, strftime(date_trunc('month', to_timestamp(timestamp_ms / 1000)), '%Y-%m-01') AS month,
        |  CAST(SUM(CAST(measure AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS records
        |FROM stacked GROUP BY 1, 2""".stripMargin,

    "a5_grouping_sets" ->
      """SELECT month, o_orderpriority, o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_generation_mwh,
        |  COUNT(*) AS hours_of_data
        |FROM (SELECT *, strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month FROM orders)
        |GROUP BY GROUPING SETS ((month), (month, o_orderpriority), (month, o_orderpriority, o_orderstatus))""".stripMargin,

    "m3_top_customers" ->
      """SELECT c.c_custkey, c.c_name,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 25""".stripMargin,

    "w2_mom_delta" ->
      """WITH monthly AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  ROUND(revenue - COALESCE(LAG(revenue, 1) OVER (ORDER BY month), 0.0), 2) AS mom_delta
        |FROM monthly""".stripMargin,

    "w3_sessionize" -> SessionizeOracleSql,

    // bucketed ≡ plain: the skew-mitigated form answers to the SAME
    // oracle — any divergence between the two-stage plan and the
    // single-window semantics turns this row red.
    "w4_sessionize_bucketed" -> SessionizeOracleSql,

    "i1_watermark_resume" ->
      """SELECT GREATEST(CAST(MAX(o_orderdate) AS DATE) + INTERVAL 1 DAY, DATE '1996-01-01')::DATE AS resume_date
        |FROM orders""".stripMargin,

    "i3_month_windows" ->
      """SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS month_start
        |FROM (SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
        |             date_trunc('month', MAX(o_orderdate)) AS hi FROM orders)""".stripMargin,

    "t1_token_stats" ->
      """SELECT doc_id,
        |  LENGTH(text) AS n_chars,
        |  CASE WHEN TRIM(text) = '' THEN 0 ELSE len(string_split_regex(TRIM(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_bpeish_tokens,
        |  ROUND(CASE WHEN TRIM(text) = '' THEN 0.0
        |    ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\s+'), w -> LENGTH(w))) AS DOUBLE)
        |      / len(string_split_regex(TRIM(text), '\s+')) END, 6) AS mean_word_len
        |FROM documents""".stripMargin,

    "t2_lang_id" ->
      """WITH s AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|with|for|was)\b')) AS en,
        |  len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b')) AS de,
        |  len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|une|des|dans|pour|que)\b')) AS fr,
        |  len(regexp_extract_all(text, '(?i)\b(el|los|las|es|una|para|con|por|del|como)\b')) AS es,
        |  3 * len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
        |FROM documents),
        |m AS (SELECT *, GREATEST(en, de, fr, es, zh) AS mx FROM s)
        |SELECT doc_id, CASE WHEN mx <= 0 THEN 'und'
        |  WHEN zh = mx THEN 'zh' WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
        |  WHEN en = mx THEN 'en' ELSE 'de' END AS lang_pred
        |FROM m""".stripMargin,

    "t3_quality_score" ->
      s"""WITH $QualityCteSql
         |SELECT doc_id, quality FROM q""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    // Reproduces TextAnalysis.rollingHash64's wrapping-Long base-31
    // fold in HUGEINT-mod-2^64 arithmetic, folded via list_reduce with
    // the seed prepended (DuckDB 1.0 list_reduce takes no initial
    // value). greatest(unicode(c),0) maps DuckDB's unicode('') = -1 to
    // Spark's ascii('') = 0. Caveat: for non-BMP characters Spark
    // splits into UTF-16 surrogates while DuckDB splits by codepoint —
    // equal here because the corpus is ASCII; a production oracle
    // would normalize to codepoints on both sides.
    "t5_rolling_hash" ->
      """WITH codes AS (
        |  SELECT doc_id,
        |    list_transform(string_split(
        |      trim(regexp_replace(lower(coalesce(text,'')), '\s+', ' ', 'g')), ''),
        |      c -> CAST(greatest(unicode(c), 0) AS HUGEINT)) AS cs
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS rhash
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(1125899906842597::HUGEINT, cs),
        |      (acc, c) -> (acc * 31 + c) % 18446744073709551616::HUGEINT) AS h
        |  FROM codes)""".stripMargin,

    // Composes the t1/t2/t3/td1 oracle expressions end-to-end:
    // annotations, then the curation filters, then keep-min-id per
    // fingerprint (QUALIFY runs after WHERE, matching the pipeline's
    // filter-before-dedup order).
    "tp1_curation_filters" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS chars,
        |    CASE WHEN TRIM(text) = '' THEN 0.0
        |      ELSE CAST(len(string_split_regex(TRIM(text), '\s+')) AS DOUBLE) END AS toks,
        |    CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) AS punct,
        |    CASE WHEN TRIM(text) = '' THEN 0.0
        |      ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\s+'), w -> LENGTH(w))) AS DOUBLE)
        |        / len(string_split_regex(TRIM(text), '\s+')) END AS mwl,
        |    len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|with|for|was)\b')) AS en,
        |    len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b')) AS de,
        |    len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|une|des|dans|pour|que)\b')) AS fr,
        |    len(regexp_extract_all(text, '(?i)\b(el|los|las|es|una|para|con|por|del|como)\b')) AS es,
        |    3 * len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh,
        |    md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |m AS (SELECT *, GREATEST(en, de, fr, es, zh) AS mx FROM raw),
        |ann AS (
        |  SELECT doc_id, fp,
        |    CASE WHEN mx <= 0 THEN 'und'
        |      WHEN zh = mx THEN 'zh' WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
        |      WHEN en = mx THEN 'en' ELSE 'de' END AS curation_lang,
        |    ROUND(0.4 * LEAST(chars / 200.0, 1.0)
        |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(en / toks, 0.5) * 2.0 END)
        |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(mwl / 5.0, 1.0) END)
        |      + 0.2 * (1.0 - LEAST((CASE WHEN chars = 0 THEN 1.0 ELSE punct / chars END) * 5.0, 1.0)), 6) AS curation_quality,
        |    CAST(toks AS INT) AS curation_tokens
        |  FROM m)
        |SELECT doc_id, curation_lang, curation_quality, curation_tokens
        |FROM ann
        |WHERE curation_quality >= 0.6 AND curation_lang = 'en'
        |  AND curation_tokens BETWEEN 20 AND 1048576
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1""".stripMargin,

    "tp3_pack_by_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(CASE WHEN TRIM(text) = '' THEN 0
        |    ELSE len(string_split_regex(TRIM(text), '\s+')) END AS BIGINT) AS toks
        |FROM documents)
        |SELECT doc_id, source,
        |  CAST(FLOOR((SUM(toks) OVER w - toks) / 2000.0) AS INT) AS pack_no,
        |  CAST(SUM(toks) OVER w AS BIGINT) AS pack_cum_tokens
        |FROM t
        |WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    // Thresholds come from the same Sampling.hexThreshold the engine
    // uses — lowercase-hex md5 compares identically in both engines.
    "tp4_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE md5(concat_ws(':', '', CAST(doc_id AS VARCHAR))) <
         |  CASE WHEN lang = 'en' THEN '${Sampling.hexThreshold(1.0)}'
         |       WHEN lang = 'de' THEN '${Sampling.hexThreshold(0.5)}'
         |       WHEN lang = 'fr' THEN '${Sampling.hexThreshold(0.25)}'
         |       ELSE '${Sampling.hexThreshold(0.1)}' END""".stripMargin,

    // One md5 draw banded by two per-stratum thresholds; the same
    // Sampling.hexThreshold constants, so the band edges are
    // bit-identical in both engines.
    "tp13_split_assignment" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN h < (CASE WHEN lang = 'fr' THEN '${Sampling.hexThreshold(0.1)}'
         |                      ELSE '${Sampling.hexThreshold(0.05)}' END) THEN 'test'
         |       WHEN h < (CASE WHEN lang = 'fr' THEN '${Sampling.hexThreshold(0.2)}'
         |                      ELSE '${Sampling.hexThreshold(0.1)}' END) THEN 'val'
         |       ELSE 'train' END AS split
         |FROM (SELECT doc_id, lang,
         |        md5(concat_ws(':', 'tp13', CAST(doc_id AS VARCHAR))) AS h
         |      FROM documents)""".stripMargin,

    // The same md5-shuffled per-stratum order and exclusive running
    // sum; the budget-boundary straddler (prior < budget) is kept in
    // both engines.
    // Per-stratum weight totals + pow-share; ROUND(,6) absorbs the
    // last-ulp pow() difference between the engines (house convention
    // for float outputs).
    "t29_temperature_mix" ->
      """WITH t AS (SELECT lang AS stratum,
        |    CAST(SUM(GREATEST(n_chars, 0)) AS BIGINT) AS total_weight
        |  FROM documents GROUP BY lang),
        |d AS (SELECT SUM(pow(total_weight, 0.3)) AS den FROM t)
        |SELECT stratum, total_weight,
        |  CASE WHEN den > 0 THEN ROUND(pow(total_weight, 0.3) / den, 6)
        |       ELSE 0.0 END AS share
        |FROM t CROSS JOIN d""".stripMargin,

    "tp7_token_budget_mix" ->
      """WITH h AS (SELECT doc_id, source, n_chars,
        |    md5(concat_ws(':', 'mix', CAST(doc_id AS VARCHAR))) AS hk
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_chars,
        |    COALESCE(SUM(GREATEST(n_chars, 0)) OVER (PARTITION BY source ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM h)
        |SELECT doc_id, source, n_chars FROM c
        |WHERE prior < (CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 4000
        |               WHEN 'src2' THEN 1000 ELSE 2000 END)""".stripMargin,

    // The whole composed chain in SQL: per-stratum temperature budgets
    // (floor(pow-share × total), NULL strata excluded — they fall to
    // the sampler's defaultBudget 0, i.e. the inner join drops them)
    // feeding the tp7 running-sum cut. Same IEEE pow both engines;
    // the floor of the share product is the one float-boundary risk
    // and it is the same arithmetic the engine's driver side runs.
    "tp22_temperature_budget_mix" ->
      """WITH t AS (SELECT lang AS stratum,
        |    CAST(SUM(GREATEST(n_chars, 0)) AS BIGINT) AS w
        |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |d AS (SELECT SUM(pow(w, 0.3)) AS den FROM t),
        |b AS (SELECT stratum,
        |    CASE WHEN den > 0 THEN CAST(FLOOR(pow(w, 0.3) / den * 60000) AS BIGINT)
        |         ELSE 0 END AS budget
        |  FROM t CROSS JOIN d),
        |h AS (SELECT doc_id, lang, n_chars,
        |    md5(concat_ws(':', 'tmix', CAST(doc_id AS VARCHAR))) AS hk
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_chars,
        |    COALESCE(SUM(GREATEST(n_chars, 0)) OVER (PARTITION BY lang ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM h)
        |SELECT c.doc_id, c.lang, c.n_chars FROM c
        |JOIN b ON b.stratum = c.lang
        |WHERE c.prior < b.budget""".stripMargin,

    // tp2's full replay chain (annotate/gate/exact/linear-minhash)
    // extended stage-for-stage: the 60-bit weighted draw, the
    // token-budget window, and the shard/pos assignment — each the
    // already-proven replay with the tp12 salts.
    "tp12_curation_to_serving" ->
      s"""WITH raw AS (
         |  SELECT doc_id, text,
         |    CAST(LENGTH(text) AS DOUBLE) AS chars,
         |    CASE WHEN TRIM(text) = '' THEN 0.0
         |      ELSE CAST(len(string_split_regex(TRIM(text), '\\s+')) AS DOUBLE) END AS toks,
         |    CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) AS punct,
         |    CASE WHEN TRIM(text) = '' THEN 0.0
         |      ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\\s+'), w -> LENGTH(w))) AS DOUBLE)
         |        / len(string_split_regex(TRIM(text), '\\s+')) END AS mwl,
         |    len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|in|is|that|with|for|was)\\b')) AS en,
         |    len(regexp_extract_all(text, '(?i)\\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\\b')) AS de,
         |    len(regexp_extract_all(text, '(?i)\\b(le|la|les|et|est|une|des|dans|pour|que)\\b')) AS fr,
         |    len(regexp_extract_all(text, '(?i)\\b(el|los|las|es|una|para|con|por|del|como)\\b')) AS es,
         |    3 * len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh,
         |    md5(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |m AS (SELECT *, GREATEST(en, de, fr, es, zh) AS mx FROM raw),
         |ann AS (
         |  SELECT doc_id, text, fp,
         |    CASE WHEN mx <= 0 THEN 'und'
         |      WHEN zh = mx THEN 'zh' WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
         |      WHEN en = mx THEN 'en' ELSE 'de' END AS curation_lang,
         |    ROUND(0.4 * LEAST(chars / 200.0, 1.0)
         |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(en / toks, 0.5) * 2.0 END)
         |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(mwl / 5.0, 1.0) END)
         |      + 0.2 * (1.0 - LEAST((CASE WHEN chars = 0 THEN 1.0 ELSE punct / chars END) * 5.0, 1.0)), 6) AS curation_quality,
         |    CAST(toks AS INT) AS curation_tokens
         |  FROM m),
         |exact AS (
         |  SELECT doc_id, text, curation_lang, curation_quality, curation_tokens
         |  FROM ann
         |  WHERE curation_quality >= 0.6 AND curation_lang = 'en'
         |    AND curation_tokens BETWEEN 20 AND 1048576
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
         |${minhashCtes("exact")},
         |$LinearLosersCtes,
         |surv AS (
         |  SELECT e.doc_id, e.curation_quality, e.curation_tokens, d.source
         |  FROM exact e
         |  JOIN (SELECT rep_id FROM reps WHERE rep_id NOT IN (SELECT rep_id FROM losers)) s
         |    ON e.doc_id = s.rep_id
         |  JOIN documents d ON d.doc_id = e.doc_id),
         |soft AS (SELECT * FROM surv
         |  WHERE CAST(('0x' || substring(md5(concat_ws(':', 'tp12', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         |    < CAST(FLOOR(LEAST(1.0, GREATEST(0.0, curation_quality)) * power(2, 60)) AS BIGINT)),
         |mixed AS (SELECT doc_id, source, curation_quality, curation_tokens FROM (
         |  SELECT *, COALESCE(SUM(GREATEST(curation_tokens, 0)) OVER (
         |      PARTITION BY source
         |      ORDER BY md5(concat_ws(':', 'tp12mix', CAST(doc_id AS VARCHAR))), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |    FROM soft)
         |  WHERE prior < 1500),
         |sh AS (SELECT doc_id, source, curation_quality, curation_tokens,
         |    md5(concat_ws(':', 'tp12ep', CAST(doc_id AS VARCHAR))) AS hk
         |  FROM mixed)
         |SELECT doc_id, source, curation_quality, curation_tokens,
         |  CAST(CAST(('0x' || substring(hk, 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
         |  CAST(ROW_NUMBER() OVER (
         |    PARTITION BY CAST(('0x' || substring(hk, 1, 8)) AS BIGINT) % 4
         |    ORDER BY hk, doc_id) AS INT) AS pos
         |FROM sh""".stripMargin,

    // Shared tokenization, then start offsets from range(0, n, 48)
    // and 1-based inclusive list_slice — integer division (//) for
    // the chunk ordinal like Spark's cast-to-int.
    "tp11_chunk_windows" ->
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |nz AS (SELECT doc_id, tk, len(tk) AS n FROM tok WHERE len(tk) > 0),
         |st AS (SELECT doc_id, tk, n, unnest(range(0, n, 48)) AS s FROM nz)
         |SELECT doc_id,
         |  CAST(s // 48 AS INT) AS chunk_no,
         |  array_to_string(list_slice(tk, s + 1, least(s + 64, n)), ' ') AS chunk_text,
         |  CAST(least(s + 64, n) - s AS INT) AS n_tokens
         |FROM st""".stripMargin,

    // Replays tokenization (shared ToksSql), the BM25 statistics, and
    // the exact contribution arithmetic — parenthesized identically to
    // the Spark expression tree so the IEEE double chain agrees — with
    // DECIMAL(18,12) sums for order-free accumulation.
    "t11_bm25_topk" ->
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM documents),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
         |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
         |q AS (SELECT DISTINCT doc_id AS query_id, t FROM (
         |  SELECT doc_id, unnest($ToksSql) AS t FROM documents WHERE doc_id % 100 = 0)),
         |contrib AS (SELECT q.query_id, tf.doc_id,
         |    CAST((ln(((st.n - dfreq.df) + 0.5) / (dfreq.df + 0.5) + 1.0) * (tf.tf * (1.2 + 1.0))) /
         |      (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl)) AS DECIMAL(18,12)) AS c
         |  FROM tf JOIN q USING (t) JOIN dfreq USING (t)
         |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats st
         |  WHERE q.query_id <> tf.doc_id),
         |scored AS (SELECT query_id, doc_id,
         |    ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
         |  FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // t11 replay with point queries (first 40 chars of every 250th
    // doc) and no self-exclusion. Shape-blind: the engine picks its
    // physical form from the KMV vocab estimate, but both forms are
    // decimal-exact equal, so one SQL replay covers either.
    "t28_bm25_auto" ->
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM documents),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
         |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
         |q AS (SELECT DISTINCT doc_id AS query_id, t FROM (
         |  SELECT doc_id, unnest($ToksSql) AS t FROM (
         |    SELECT doc_id, substring(text, 1, 40) AS text FROM documents
         |    WHERE doc_id % 250 = 0))),
         |contrib AS (SELECT q.query_id, tf.doc_id,
         |    CAST((ln(((st.n - dfreq.df) + 0.5) / (dfreq.df + 0.5) + 1.0) * (tf.tf * (1.2 + 1.0))) /
         |      (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl)) AS DECIMAL(18,12)) AS c
         |  FROM tf JOIN q USING (t) JOIN dfreq USING (t)
         |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats st),
         |scored AS (SELECT query_id, doc_id,
         |    ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
         |  FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // Composes the t11 BM25 replay (at k=20) with the v1 dense-cosine
    // replay (at k=20), then the RRF sum as DECIMAL with the same
    // CAST(1.0 AS DOUBLE)/(60 + rank) IEEE division.
    "v11_hybrid_rrf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM documents),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
         |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
         |lq AS (SELECT DISTINCT doc_id AS query_id, t FROM (
         |  SELECT doc_id, unnest($ToksSql) AS t FROM documents WHERE doc_id % 100 = 0)),
         |contrib AS (SELECT lq.query_id, tf.doc_id,
         |    CAST((ln(((st.n - dfreq.df) + 0.5) / (dfreq.df + 0.5) + 1.0) * (tf.tf * (1.2 + 1.0))) /
         |      (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl)) AS DECIMAL(18,12)) AS c
         |  FROM tf JOIN lq USING (t) JOIN dfreq USING (t)
         |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats st
         |  WHERE lq.query_id <> tf.doc_id),
         |bmscored AS (SELECT query_id, doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
         |  FROM contrib GROUP BY query_id, doc_id),
         |bm AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM bmscored) WHERE rank <= 20),
         |qv AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0),
         |sims AS (SELECT qv.query_id, e.vec_id AS doc_id,
         |    ROUND(${cosSql("e.embedding", "qv.qvec")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN qv WHERE qv.query_id <> e.vec_id),
         |dn AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
         |  FROM sims) WHERE rank <= 20),
         |u AS (SELECT * FROM bm UNION ALL SELECT * FROM dn),
         |f AS (SELECT query_id, doc_id,
         |    SUM(CAST(CAST(1.0 AS DOUBLE) / (60 + rank) AS DECIMAL(18,12))) AS s,
         |    CAST(COUNT(*) AS INT) AS sources
         |  FROM u GROUP BY query_id, doc_id),
         |f2 AS (SELECT query_id, doc_id, ROUND(CAST(s AS DOUBLE), 6) AS rrf_score, sources FROM f)
         |SELECT query_id, doc_id, rrf_score, sources, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
         |  FROM f2)
         |WHERE rank <= 10""".stripMargin,

    // The shared quality CTE reproduces the exact per-doc keep
    // probability; the 60-bit draw (first 15 md5 hex digits) and
    // floor(p·2^60) boundary are identical IEEE arithmetic in both
    // engines.
    "tp9_weighted_sample" ->
      s"""WITH $QualityCteSql
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN q USING (doc_id)
         |WHERE CAST(('0x' || substring(md5(concat_ws(':', 'q', CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         |  < CAST(FLOOR(LEAST(1.0, GREATEST(0.0, q.quality)) * power(2, 60)) AS BIGINT)""".stripMargin,

    // Shared quality CTE + the same percent_rank ((i-1)/(n-1), IEEE
    // division) over (lang, quality desc, doc_id).
    "tp10_top_fraction" ->
      s"""WITH $QualityCteSql,
         |r AS (SELECT d.doc_id, d.lang, d.source,
         |    PERCENT_RANK() OVER (PARTITION BY d.lang ORDER BY q.quality DESC, d.doc_id) AS pr
         |  FROM documents d JOIN q USING (doc_id))
         |SELECT doc_id, lang, source FROM r WHERE pr <= 0.5""".stripMargin,

    "tp14_domain_cap" ->
      s"""WITH $QualityCteSql,
         |r AS (SELECT d.doc_id, d.source, d.lang,
         |    ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY q.quality DESC, d.doc_id) AS rn
         |  FROM documents d JOIN q USING (doc_id))
         |SELECT doc_id, source, lang FROM r WHERE rn <= 15""".stripMargin,

    // Replays t10's unigram surprisal, then the same percent_rank
    // tercile arithmetic (floor(pr*3) capped at 2) per language.
    "t15_ccnet_buckets" ->
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS token FROM documents),
         |tot AS (SELECT COUNT(*) AS n FROM tok),
         |vocab AS (SELECT token, COUNT(*) AS c FROM tok
         |  GROUP BY token ORDER BY c DESC, token LIMIT 20),
         |scored AS (SELECT t.doc_id,
         |    CAST(-ln(CAST(COALESCE(v.c, 1) AS DOUBLE) / (SELECT n FROM tot)) AS DECIMAL(18,12)) AS s
         |  FROM tok t LEFT JOIN vocab v USING (token)),
         |per AS (SELECT doc_id, COUNT(*) AS nt, SUM(s) AS ssum FROM scored GROUP BY doc_id),
         |sc AS (SELECT d.doc_id, d.lang,
         |    CASE WHEN p.nt IS NULL THEN 0.0
         |      ELSE ROUND(CAST(p.ssum AS DOUBLE) / p.nt, 6) END AS mean_neg_logprob
         |  FROM documents d LEFT JOIN per p USING (doc_id)),
         |r AS (SELECT doc_id, lang, mean_neg_logprob,
         |    PERCENT_RANK() OVER (PARTITION BY lang ORDER BY mean_neg_logprob, doc_id) AS pr
         |  FROM sc)
         |SELECT doc_id, lang, mean_neg_logprob,
         |  CASE LEAST(CAST(FLOOR(pr * 3) AS INT), 2)
         |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM r""".stripMargin,

    // Same md5 shard hash (first 8 hex digits as unsigned int) and
    // per-shard (hash, key) order.
    "tp8_shard_order" ->
      """WITH h AS (SELECT doc_id, source,
        |    md5(concat_ws(':', 'ep0', CAST(doc_id AS VARCHAR))) AS hk
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(CAST(('0x' || substring(hk, 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY CAST(('0x' || substring(hk, 1, 8)) AS BIGINT) % 8
        |    ORDER BY hk, doc_id) AS INTEGER) AS pos
        |FROM h""".stripMargin,

    "t6_corpus_stats" ->
      """SELECT lang, COUNT(*) AS docs,
        |  ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
        |  ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang""".stripMargin,

    // Same injection + redaction chain in RE2; len() counts are
    // BIGINT-cast to INT to match Spark's size().
    "tp5_pii_scrub" ->
      """WITH inj AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.'
        |    || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
        |    || ' tel +1 555 867-53' || CAST(doc_id % 100 AS VARCHAR) AS t
        |FROM documents),
        |scrub AS (SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS sc
        |FROM inj)
        |SELECT doc_id, md5(sc) AS scrubbed_md5,
        |  CAST(len(regexp_extract_all(sc, '<EMAIL>')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(sc, '<IP>')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(sc, '<PHONE>')) AS INT) AS n_phones
        |FROM scrub""".stripMargin,

    // Exact containment over distinct 2-gram lists (the corpus's
    // near-dups are word-order-shuffled, so longer grams never
    // overlap); DuckDB slices are 1-based inclusive and clamp like
    // Spark's slice().
    "tp6_decontaminate" -> Tp6Sql,

    // The Bloom gate removes nothing the exact join would keep (no
    // false negatives by construction), so the gated composition
    // answers the UNGATED oracle verbatim — gated ≡ exact is
    // hash-checked every round.
    "tp15_bloom_gated_decontam" -> Tp6Sql,

    // Per-doc suspicion replay: tp6's gram CTEs + the t26 bucket
    // arithmetic at gram level — DuckDB rebuilds the benchmark filter
    // bit-for-bit and reproduces every false positive, so the
    // suspicion fractions (exact rationals rounded at 6) hash-match.
    "tp16_bloom_suspicion" -> Tp16Sql,

    "tp17_dsir_weights" ->
      s"""WITH $DsirWeightsCteSql
         |SELECT doc_id, n_grams, logw FROM w""".stripMargin,

    // VERBATIM tp17 oracle: the literal-delta admission projection
    // must reproduce the distributed join+aggregate weights exactly
    // (decimal sums are order-free; the frozen array covers every
    // bucket incl. the both-unseen smoothing floor).
    "tp19_dsir_admission" ->
      s"""WITH $DsirWeightsCteSql
         |SELECT doc_id, n_grams, logw FROM w""".stripMargin,

    // The same weights CTE + deterministic Gumbel noise: the md5
    // 60-bit draw (the tp9 idiom) through u = (draw + 0.5)/2^60,
    // g = −ln(−ln(u)); top-DsirK by (rounded key desc, doc_id).
    "tp18_dsir_resample" ->
      s"""WITH $DsirWeightsCteSql,
         |sel AS (SELECT doc_id, n_grams, logw,
         |    ROUND(logw + (- ln(- ln(
         |      (CAST(CAST(('0x' || substring(md5(concat_ws(':', 'dsir', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)
         |        / power(2, 60)))), 6) AS gumbel_key
         |  FROM w)
         |SELECT doc_id, n_grams, logw, gumbel_key FROM sel
         |ORDER BY gumbel_key DESC, doc_id LIMIT $DsirK""".stripMargin,

    "v1_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0),
        |sims AS (SELECT q.query_id, e.vec_id,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, q.qvec), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qvec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE q.query_id <> e.vec_id)
        |SELECT query_id, vec_id, sim, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
        |  FROM sims)
        |WHERE rank <= 10""".stripMargin,

    "v2_cosine_pairs" ->
      """WITH sims AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM sims WHERE sim >= 0.3""".stripMargin,

    "v5_embed_dedup" ->
      """WITH sims AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id_b FROM sims WHERE sim >= 0.3)""".stripMargin,

    "td1_exact_dedup" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fp FROM documents)
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1""".stripMargin,

    // list_filter drops the [''] that DuckDB's split yields for an
    // empty/whitespace-only doc — Spark's tokenizer returns an empty
    // array there, and two empty docs must NOT pair at jaccard 1.0.
    "td2_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT source AS block, doc_id,
        |    list_filter(list_distinct(string_split_regex(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')), '\s+')), x -> x <> '') AS s
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5""".stripMargin,

    "mm1_media_meta" ->
      """SELECT doc_id AS media_id, 'image' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,

    // Mirrors ImageIoCodec.synthPng's id arithmetic: the Spark side
    // decodes real PNG bytes; the oracle recomputes what the decode
    // must yield.
    "mm2_media_features" ->
      """SELECT doc_id AS media_id, 'image' AS media_type, TRUE AS decoded,
        |  CAST(16 + doc_id % 16 AS INT) AS width,
        |  CAST(16 + (doc_id // 16) % 16 AS INT) AS height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id // 256) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id // 65536) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin,

    "mm3_thumbnail" ->
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |  CAST(20 AS INT) AS width, CAST(12 AS INT) AS height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id // 256) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id // 65536) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin,

    // Mirrors WavCodec.synthWav's id arithmetic: the Spark side decodes
    // real RIFF/WAV bytes; the oracle recomputes what the decode must
    // yield (square wave → rms = peak = amplitude exactly).
    "mm4_audio_features" ->
      """SELECT doc_id AS media_id, 'audio' AS media_type, TRUE AS decoded,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(16 AS INT) AS bit_depth,
        |  CAST(400 + 2 * (doc_id % 50) AS BIGINT) AS n_frames,
        |  CAST(400 + 2 * (doc_id % 50) AS DOUBLE) / 8 AS duration_ms,
        |  CAST(((doc_id % 1000) + 1) * 16 AS DOUBLE) AS rms,
        |  CAST(((doc_id % 1000) + 1) * 16 AS INT) AS peak
        |FROM documents""".stripMargin,

    // Half the rate and frames of mm4; duration unchanged
    // ((n/2) / 4 kHz = n / 8 kHz); constant-signal RMS = peak = amp.
    "mm6_audio_resample" ->
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |  CAST(4000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(200 + doc_id % 50 AS BIGINT) AS n_frames,
        |  CAST(200 + doc_id % 50 AS DOUBLE) / 4 AS duration_ms,
        |  CAST(((doc_id % 1000) + 1) * 16 AS DOUBLE) AS rms,
        |  CAST(((doc_id % 1000) + 1) * 16 AS INT) AS peak
        |FROM documents""".stripMargin,

    // Mirrors GifFrameCodec.synthGif's id arithmetic; the sampled
    // frame numbers are 0, 2, ... below n_frames = 4 + id % 4.
    "mm5_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(u.f AS INT) AS frame_no,
        |  TRUE AS decoded,
        |  CAST(8 + doc_id % 8 AS INT) AS width,
        |  CAST(8 + (doc_id // 8) % 8 AS INT) AS height,
        |  CAST((doc_id + 37 * u.f) % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id + 37 * u.f) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id + 37 * u.f) % 256 AS DOUBLE) AS mean_b
        |FROM documents, UNNEST(range(0, CAST(4 + doc_id % 4 AS BIGINT), 2)) AS u(f)""".stripMargin,

    // Mirrors AviMjpeg.synthAvi's id arithmetic (geometry/frame count
    // are container-exact; lossy JPEG means are spec-checked, not
    // oracle-compared).
    "mm7_avi_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(u.f AS INT) AS frame_no,
        |  TRUE AS decoded,
        |  CAST(16 + doc_id % 8 AS INT) AS width,
        |  CAST(16 + (doc_id // 8) % 8 AS INT) AS height
        |FROM documents, UNNEST(range(0, CAST(3 + doc_id % 4 AS BIGINT), 2)) AS u(f)""".stripMargin,

    // --- Warehouse lifecycle / sinks -----------------------------------

    "s5_create_tables" ->
      """SELECT * FROM (VALUES
        |  ('chile', 10), ('eia', 14), ('entsoe', 10), ('npp', 8),
        |  ('occto', 12), ('oe', 9), ('oe_facility', 14), ('ons', 15),
        |  ('eia_generator_info', 6), ('gcpt_coal_metadata', 8)
        |) t(table_name, column_count)""".stripMargin,

    "s6_bootstrap" ->
      "SELECT TRUE AS warehouse_exists, CAST(8 AS INT) AS table_count",

    "s8_csv_export" ->
      """SELECT CAST(year(ts) AS INT) AS yr, COUNT(*) AS record_count
        |FROM events GROUP BY 1""".stripMargin,

    "s9_report_json" ->
      """SELECT COUNT(*) AS total_records,
        |  CAST(SUM(CASE WHEN event_id IS NOT NULL AND value IS NOT NULL AND value >= 0
        |        AND event_type IS NOT NULL AND TRIM(event_type) <> ''
        |        AND epoch_ms(ts) IS NOT NULL AND epoch_ms(ts) > 0 AND epoch_ms(ts) <= 1705363200000
        |        AND user_id IS NOT NULL AND user_id <= 9
        |      THEN 1 ELSE 0 END) AS BIGINT) AS valid_records,
        |  CAST(SUM(CASE WHEN event_id IS NOT NULL AND value IS NOT NULL AND value >= 0
        |        AND event_type IS NOT NULL AND TRIM(event_type) <> ''
        |        AND epoch_ms(ts) IS NOT NULL AND epoch_ms(ts) > 0 AND epoch_ms(ts) <= 1705363200000
        |        AND user_id IS NOT NULL AND user_id <= 9
        |      THEN 0 ELSE 1 END) AS BIGINT) AS invalid_records
        |FROM events""".stripMargin,

    "s10_truncate" ->
      """SELECT (SELECT COUNT(*) FROM events) AS before_records,
        |  CAST(0 AS BIGINT) AS after_records""".stripMargin,

    "s11_drift_report" ->
      """SELECT COUNT(*) AS missing_count FROM (
        |  SELECT DISTINCT c_nationkey FROM customer
        |  WHERE c_nationkey IS NOT NULL
        |    AND c_nationkey NOT IN (
        |      SELECT n_nationkey FROM nation
        |      WHERE n_regionkey <= 2 AND n_nationkey IS NOT NULL))""".stripMargin,

    "p19_identifier_guard" ->
      """WITH t(name) AS (
        |  SELECT 'npp' UNION ALL SELECT 'entsoe_generation_data'
        |  UNION ALL SELECT '_ok' UNION ALL SELECT 'ok_2'
        |  UNION ALL SELECT 'bad-name' UNION ALL SELECT '1bad'
        |  UNION ALL SELECT 'has space' UNION ALL SELECT 'drop;table'
        |  UNION ALL SELECT '' UNION ALL SELECT repeat('a', 63)
        |  UNION ALL SELECT repeat('a', 64))
        |SELECT name, regexp_matches(name, '^[A-Za-z_][A-Za-z0-9_]{0,62}$') AS is_valid
        |FROM t""".stripMargin,

    "p20_empty_guard" ->
      "SELECT TRUE AS is_empty, CAST(0 AS BIGINT) AS record_count",

    "i5_retry_backoff" ->
      "SELECT CAST(3 AS INT) AS attempts_used, TRUE AS succeeded",

    // --- Enrichment edges ----------------------------------------------

    "p3_legacy_renames" ->
      """SELECT event_id,
        |  (epoch_ms(ts) // 1000) * 1000 AS timestamp_ms,
        |  CAST(user_id AS VARCHAR) AS chile_plant_id
        |FROM events""".stripMargin,

    "p4_ids_to_string" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
        |  CAST(o_custkey AS VARCHAR) AS o_custkey
        |FROM orders""".stripMargin,

    "p8_default_missing" ->
      """SELECT event_id, CAST(NULL AS VARCHAR) AS fuel_source,
        |  CAST(60 AS INT) AS resolution_minutes
        |FROM events""".stripMargin,

    // --- Validation predicates -----------------------------------------

    "p11_uuid_check" ->
      """WITH u AS (SELECT event_id,
        |  substring(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-' ||
        |  substring(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-' ||
        |  substring(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-' ||
        |  substring(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-' ||
        |  substring(md5(CAST(event_id AS VARCHAR)), 21, 12) AS base
        |FROM events)
        |SELECT event_id,
        |  CASE WHEN event_id % 10 = 0 THEN replace(base, '-', '_') ELSE base END AS run_uuid,
        |  regexp_matches(
        |    CASE WHEN event_id % 10 = 0 THEN replace(base, '-', '_') ELSE base END,
        |    '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$') AS is_valid
        |FROM u""".stripMargin,

    "p14_state_check" ->
      """SELECT v AS code, upper(v) IN (
        |  'AL','AK','AZ','AR','CA','CO','CT','DE','FL','GA',
        |  'HI','ID','IL','IN','IA','KS','KY','LA','ME','MD',
        |  'MA','MI','MN','MS','MO','MT','NE','NV','NH','NJ',
        |  'NM','NY','NC','ND','OH','OK','OR','PA','RI','SC',
        |  'SD','TN','TX','UT','VT','VA','WA','WV','WI','WY',
        |  'DC','AS','GU','MP','PR','VI') AS is_valid
        |FROM (VALUES ('CA'),('ny'),('DC'),('pr'),('ZZ'),('Cali'),(''),('A L'),('wa '),('GU')) t(v)""".stripMargin,

    "p16_positive_check" ->
      """SELECT event_type,
        |  COUNT(*) FILTER (WHERE value IS NOT NULL AND value > 0) AS positive_count
        |FROM events GROUP BY 1""".stripMargin,

    // --- Rollups / views -----------------------------------------------

    "a3_passthrough_rollup" ->
      """SELECT strftime(date_trunc('month', ts), '%Y-%m-01') AS month,
        |  event_type AS fuel_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_generation_mwh
        |FROM events GROUP BY 1, 2""".stripMargin,

    "m1_view_definitions" ->
      """SELECT * FROM (VALUES
        |  ('entsoe', 'mv_entsoe_monthly'), ('entsoe', 'mv_entsoe_plant_monthly'), ('entsoe', 'mv_entsoe_row_counts'),
        |  ('ons', 'mv_ons_monthly'), ('ons', 'mv_ons_plant_monthly'), ('ons', 'mv_ons_row_counts'),
        |  ('npp', 'mv_npp_monthly'), ('npp', 'mv_npp_plant_monthly'), ('npp', 'mv_npp_row_counts'),
        |  ('occto', 'mv_occto_monthly'), ('occto', 'mv_occto_plant_monthly'), ('occto', 'mv_occto_row_counts'),
        |  ('chile', 'mv_chile_monthly'), ('chile', 'mv_chile_plant_monthly'), ('chile', 'mv_chile_row_counts'),
        |  ('eia', 'mv_eia_row_counts'), ('oe', 'mv_oe_row_counts'), ('oe_facility', 'mv_oe_facility_row_counts')
        |) t(source, view_name)""".stripMargin,

    "m2_view_refresh" ->
      """SELECT strftime(date_trunc('month', ts), '%Y-%m-01') AS month,
        |  COUNT(*) AS row_count
        |FROM events GROUP BY 1""".stripMargin,

    // --- Incremental edges ---------------------------------------------

    "i2_override_resolution" ->
      """SELECT o AS override, f AS fallback,
        |  CASE WHEN o IS NULL OR TRIM(o) = '' THEN f ELSE o END AS resolved
        |FROM (VALUES ('', '2024-03-05'), ('   ', '2021-01-01'),
        |  ('2023-07-01', '2021-01-01'), (NULL, '2020-06-15')) t(o, f)""".stripMargin,

    "i4_long_window_flag" ->
      """SELECT s AS start_date, e AS end_date,
        |  (CAST(s AS DATE) + INTERVAL 12 MONTH) < CAST(e AS DATE) AS too_long
        |FROM (VALUES ('2020-01-01', '2020-12-31'), ('2020-01-31', '2021-01-30'),
        |  ('2020-01-01', '2021-01-02'), ('2019-02-28', '2020-02-28'),
        |  ('2023-01-31', '2024-02-01'), ('2024-02-29', '2025-03-01')) t(s, e)""".stripMargin,

    "i8_metadata_row" ->
      """SELECT 'npp' AS source, CAST(3 AS BIGINT) AS total_records,
        |  CAST(1 AS BIGINT) AS inserted_records, CAST(1 AS BIGINT) AS invalid_records,
        |  CAST(1 AS BIGINT) AS duplicate_records, FALSE AS success""".stripMargin,

    "i9_backfill_dates" ->
      """WITH fact AS (
        |  SELECT o_orderpriority AS extraction_run_id,
        |    epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS timestamp_ms
        |  FROM orders),
        |meta AS (
        |  SELECT DISTINCT extraction_run_id,
        |    CASE WHEN extraction_run_id IN ('1-URGENT', '3-MEDIUM') THEN '1990-01-01' END AS start_date,
        |    CASE WHEN extraction_run_id IN ('1-URGENT', '3-MEDIUM') THEN '1990-12-31' END AS end_date
        |  FROM fact),
        |ranges AS (
        |  SELECT extraction_run_id,
        |    strftime(epoch_ms(MIN(timestamp_ms)), '%Y-%m-%d') AS ds,
        |    strftime(epoch_ms(MAX(timestamp_ms)), '%Y-%m-%d') AS de
        |  FROM fact GROUP BY 1)
        |SELECT m.extraction_run_id,
        |  COALESCE(m.start_date, r.ds) AS start_date,
        |  COALESCE(m.end_date, r.de) AS end_date
        |FROM meta m LEFT JOIN ranges r USING (extraction_run_id)""".stripMargin,

    // --- Replayable-hash family: MinHash / SimHash / SRP / IVF ---------
    // Full bit-exact replays of the probabilistic operators (GHash
    // arithmetic — see the fragment builders above). Identical-set
    // groups are reproduced by grouping on the hash set itself rather
    // than replaying xxhash64 of the array (same partition, no
    // collision caveat); candidate pairs require a fully-agreeing band
    // slice, exactly BucketPairs' emission condition.

    // Gram construction mirrors shinglesOfTokens WITHOUT the distinct:
    // sequence(0, max(n-k, 0)) → clamped slices, so a 1-token doc
    // yields one short "gram" but total = n-k+1 <= 0 routes it to 0.0.
    "t7_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |grams AS (SELECT doc_id, len(tk) AS n,
         |    list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
         |      i -> array_to_string(tk[(i+1):(i+2)], ' ')) AS g
         |  FROM toks)
         |SELECT doc_id,
         |  CASE WHEN n - 1 <= 0 THEN 0.0
         |    ELSE ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / (n - 1), 6) END AS rep_2gram
         |FROM grams""".stripMargin,

    "t8_vocab_topk" ->
      s"""WITH tok AS (SELECT unnest($ToksSql) AS token FROM documents)
         |SELECT token, COUNT(*) AS n FROM tok
         |GROUP BY token
         |ORDER BY n DESC, token
         |LIMIT 200""".stripMargin,

    // Replays the count-min cells (multiply-add permutation buckets
    // mod 2^64 masked to CmsWidth, cells summed from the collapsed
    // (token, count) frame), the exact top-k probe set, and the
    // min-over-rows estimate with its one-sided overcount.
    "t16_cms_topk_counts" -> CmsTopkSql,

    // Replays the distinct-token unsigned hash stream, the k smallest
    // values, and the (k-1)·2^64 // u_k floor-division estimate —
    // integer arithmetic end to end; rel_err is one double division
    // over integer operands, identical in both engines.
    "t17_kmv_distinct" -> KmvSql,

    // The merge queries' oracle is the UNMERGED whole-corpus replay:
    // merge ≡ recompute must hold bit-for-bit or the hash compare
    // fails — see the t18/t19 registrations.
    "t18_cms_merge" -> CmsTopkSql,
    "t19_kmv_merge" -> KmvSql,

    // Replays the integer-exact HLL end to end (bucket/rank from the
    // unsigned hash stream, exact harmonic-sum denominator,
    // fixed-point-alpha floor division, lookup-table linear counting);
    // the merge query shares the unmerged replay per the t18/t19
    // argument.
    "t20_hll_distinct" -> HllSql,
    "t21_hll_merge" -> HllSql,

    // Replays the order-free Misra–Gries reduce (ROW_NUMBER over
    // (count desc, tok), (k+1)-th-count offset, zero-drop) and the
    // top-k probe evaluation with the integer-decided m/(k+1) bound.
    "t22_mg_heavy_hitters" -> MgTopkSql,

    // Replays the TWO-PART algebra exactly (per-half reduce → counter
    // sums → re-reduce): MG's merge is lossy, so unlike t18/t19/t21
    // the whole-corpus replay cannot stand in for it — determinism of
    // the offset form is what makes this oracle possible at all.
    "t23_mg_merge" -> MgMergeSql,

    // The quantile-merge and bloom-merge oracles are the UNMERGED
    // whole-corpus replays (the t18/t19/t21 pattern): bottom-k and
    // bit-union merges are exact, so merge ≡ recompute bit-for-bit or
    // the hash compare fails.
    "t24_qs_quantiles" -> QsSql,
    "t25_qs_merge" -> QsSql,
    "t26_bloom_decontam" -> BloomSql,
    "t27_bloom_merge" -> BloomSql,

    // All gate inputs are integer-derived doubles (counts and count
    // ratios), so the threshold comparisons are exact in both engines
    // without rounding.
    "t9_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(TRIM(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    len(tk) AS wc,
        |    CASE WHEN len(tk) = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(tk, w -> LENGTH(w))) AS DOUBLE) / len(tk) END AS mwl,
        |    CASE WHEN len(tk) = 0 THEN 1.0
        |      ELSE CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(tk) END AS symr,
        |    CASE WHEN len(tk) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(tk) END AS alpha,
        |    len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|with|for|was)\b')) AS stop
        |  FROM t)
        |SELECT doc_id,
        |  CAST(wc AS INT) AS n_words,
        |  wc BETWEEN 20 AND 100000 AS pass_word_count,
        |  mwl BETWEEN 3.0 AND 10.0 AS pass_mean_word_len,
        |  symr <= 0.1 AS pass_symbol_ratio,
        |  alpha >= 0.8 AS pass_alpha_frac,
        |  stop >= 2 AS pass_stopwords,
        |  (wc BETWEEN 20 AND 100000 AND mwl BETWEEN 3.0 AND 10.0 AND symr <= 0.1
        |   AND alpha >= 0.8 AND stop >= 2) AS gopher_pass
        |FROM f""".stripMargin,

    // Replays the capped vocabulary (count desc, token asc, LIMIT 20),
    // the 1/total OOV floor, and the exact DECIMAL(18,12) surprisal
    // sum; the final mean divides as DOUBLE in both engines.
    "t10_unigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS token FROM documents),
         |tot AS (SELECT COUNT(*) AS n FROM tok),
         |vocab AS (SELECT token, COUNT(*) AS c FROM tok
         |  GROUP BY token ORDER BY c DESC, token LIMIT 20),
         |scored AS (SELECT t.doc_id,
         |    CAST(-ln(CAST(COALESCE(v.c, 1) AS DOUBLE) / (SELECT n FROM tot)) AS DECIMAL(18,12)) AS s
         |  FROM tok t LEFT JOIN vocab v USING (token)),
         |per AS (SELECT doc_id, COUNT(*) AS nt, SUM(s) AS ssum FROM scored GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.nt, 0) AS INT) AS n_tokens,
         |  CASE WHEN p.nt IS NULL THEN 0.0
         |    ELSE ROUND(CAST(p.ssum AS DOUBLE) / p.nt, 6) END AS mean_neg_logprob
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    // Replays the bigram model: top-20 vocab + <unk> closure,
    // positional bigrams via range(1, len) (empty for < 2 tokens),
    // Laplace p = (c12+1)/(c1+V), DECIMAL(18,12) surprisal sums.
    "t13_bigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS token FROM documents),
         |vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS c FROM tok
         |  GROUP BY token ORDER BY c DESC, token LIMIT 20)),
         |vs AS (SELECT COUNT(*) + 1 AS vsz FROM vocab),
         |tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |g0 AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]})) AS bg
         |  FROM tk),
         |m AS (SELECT doc_id,
         |  CASE WHEN bg.w1 IN (SELECT token FROM vocab) THEN bg.w1 ELSE '<unk>' END AS w1,
         |  CASE WHEN bg.w2 IN (SELECT token FROM vocab) THEN bg.w2 ELSE '<unk>' END AS w2
         |  FROM g0),
         |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM m GROUP BY w1, w2),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM m GROUP BY w1),
         |sc AS (SELECT m.doc_id,
         |    CAST(-ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + (SELECT vsz FROM vs))) AS DECIMAL(18,12)) AS s
         |  FROM m JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
         |per AS (SELECT doc_id, COUNT(*) AS nb, SUM(s) AS ssum FROM sc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.nb, 0) AS INT) AS n_bigrams,
         |  CASE WHEN p.nb IS NULL THEN 0.0
         |    ELSE ROUND(CAST(p.ssum AS DOUBLE) / p.nb, 6) END AS mean_neg_logprob
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    // Replays t12 scoring from the weights parquet the query persists:
    // distinct-token presence join + exact decimal margin. The NULL
    // token row is the bias; the inner USING join drops it naturally.
    "t12_quality_filter" ->
      s"""WITH wb AS (SELECT token, w FROM read_parquet('${t12WeightsPathFor(v7CorpusKeyFor(sfDir))}/*.parquet')),
         |b AS (SELECT CAST(w AS DOUBLE) AS bw FROM wb WHERE token IS NULL),
         |tok AS (SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($ToksSql) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |per AS (SELECT t.doc_id, COUNT(*) AS nf, SUM(w.w * CAST(t.tf AS DECIMAL(10,0))) AS ssum
         |  FROM tok t JOIN wb w USING (token) GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.nf, 0) AS INT) AS n_feats,
         |  ROUND((SELECT bw FROM b) + CAST(COALESCE(p.ssum, 0) AS DOUBLE), 6) AS score,
         |  ((SELECT bw FROM b) + CAST(COALESCE(p.ssum, 0) AS DOUBLE)) >= 0.0 AS pred
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    // Replays t14 narrow scoring: same tokenization, inline VALUES
    // weights (shared literal with the Spark side), exact decimal
    // margin. The USING join drops the NULL-token bias row naturally.
    "t14_quality_score_narrow" ->
      s"""WITH wb AS (SELECT * FROM (VALUES $t14WeightsValuesSql) AS v(token, w)),
         |b AS (SELECT CAST(w AS DOUBLE) AS bw FROM wb WHERE token IS NULL),
         |tok AS (SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($ToksSql) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |per AS (SELECT t.doc_id, COUNT(*) AS nf, SUM(w.w * CAST(t.tf AS DECIMAL(10,0))) AS ssum
         |  FROM tok t JOIN wb w USING (token) GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.nf, 0) AS INT) AS n_feats,
         |  ROUND((SELECT bw FROM b) + CAST(COALESCE(p.ssum, 0) AS DOUBLE), 6) AS score,
         |  ((SELECT bw FROM b) + CAST(COALESCE(p.ssum, 0) AS DOUBLE)) >= 0.0 AS pred
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    "td9_incremental_dedup" ->
      """WITH fp AS (
        |  SELECT *, md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS f
        |  FROM documents),
        |base AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT * FROM fp WHERE doc_id % 3 <> 0
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1)
        |SELECT doc_id, lang, source FROM batch
        |WHERE f NOT IN (SELECT f FROM base)""".stripMargin,

    // Replays positional 3-grams (1-based inclusive array_slice ≡
    // Spark's slice), the (doc, gram) collapse, the cross-doc
    // document frequency, and the per-doc instance sums.
    "td12_dup_gram_stats" ->
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(0, greatest(len(t) - 3, 0) + 1),
         |      i -> array_to_string(array_slice(t, i + 1, i + 3), ' ')) END) AS gram
         |  FROM tk),
         |g2 AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g GROUP BY doc_id, gram),
         |nd AS (SELECT gram, COUNT(*) AS ndocs FROM g2 GROUP BY gram),
         |per AS (SELECT doc_id, SUM(tf) AS ng,
         |    SUM(CASE WHEN ndocs > 1 THEN tf ELSE 0 END) AS ndup
         |  FROM g2 JOIN nd USING (gram) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.ng, 0) AS INT) AS n_grams,
         |  CAST(COALESCE(p.ndup, 0) AS INT) AS n_dup_grams,
         |  CASE WHEN COALESCE(p.ng, 0) = 0 THEN 0.0
         |    ELSE ROUND(CAST(p.ndup AS DOUBLE) / p.ng, 6) END AS dup_frac
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    // Replays the positional 8-grams with their start ordinals, the
    // corpus-wide instance count, the per-doc interval union
    // (lag gap test + running-sum group ids + min/max span bounds),
    // the span-complement token filter, and the md5 of the rebuilt
    // text — the full ExactSubstr removal algebra.
    "td14_exact_substring_dedup" -> ExactSubstrOracleSql,

    // packed ≡ exact: the 128-bit hash-packed-key variant answers to
    // the SAME SQL, so any divergence introduced by the key packing
    // (a double-xxhash64 collision, a plan-shape bug) turns this row
    // red — the oracle-checked form of TextDedupSpec's equivalence.
    "td15_substring_dedup_packed" -> ExactSubstrOracleSql,

    // Replays the synthesized boilerplate, the per-line document
    // frequency, the >50 removal, and the order-preserving reassembly
    // (string_agg ORDER BY the line ordinal).
    "td8_line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    'shared boilerplate header' || chr(10) || text || chr(10)
        |      || 'footer variant ' || CAST(doc_id % 5 AS VARCHAR) AS t
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS line,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS line_no
        |  FROM d),
        |freq AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) > 50),
        |kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM freq)),
        |reb AS (SELECT doc_id, COUNT(*) AS n, string_agg(line, chr(10) ORDER BY line_no) AS txt
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(r.n, 0) AS INT) AS n_lines_kept,
        |  md5(COALESCE(r.txt, '')) AS clean_md5
        |FROM d LEFT JOIN reb r USING (doc_id)""".stripMargin,

    "td3_minhash_pairs" ->
      s"""WITH ${minhashCtes("documents")},
         |mem AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY cs) AS rep_id FROM hs),
         |$BandSliceCte,
         |$RepPairsCte,
         |cross_pairs AS (
         |  SELECT LEAST(ma.doc_id, mb.doc_id) AS id_a, GREATEST(ma.doc_id, mb.doc_id) AS id_b, p.jaccard
         |  FROM reppairs p JOIN mem ma ON ma.rep_id = p.ra JOIN mem mb ON mb.rep_id = p.rb),
         |intra AS (
         |  SELECT m1.doc_id AS id_a, m2.doc_id AS id_b, 1.0 AS jaccard
         |  FROM mem m1 JOIN mem m2 ON m1.rep_id = m2.rep_id AND m1.doc_id < m2.doc_id)
         |SELECT id_a, id_b, jaccard FROM cross_pairs
         |UNION ALL
         |SELECT id_a, id_b, jaccard FROM intra""".stripMargin,

    "td4_minhash_dedup" ->
      s"""WITH ${minhashCtes("documents")},
         |$BandSliceCte,
         |$RepPairsCte
         |SELECT rep_id AS doc_id FROM reps
         |WHERE rep_id NOT IN (SELECT rb FROM reppairs)""".stripMargin,

    // td4's in-batch dedup over the non-base slice, then the base-side
    // signature CTEs (prefixed 'b') and the bucket gate: a survivor
    // drops iff any of its band slices equals a base band slice —
    // band-slice equality IS bucket equality (the bucket is a hash of
    // the slice).
    "td11_minhash_vs_base" ->
      s"""WITH ${minhashCtes("(SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0)")},
         |$BandSliceCte,
         |$RepPairsCte,
         |${minhashCtes("(SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0)", "b", withConsts = false)},
         |bobands AS (SELECT DISTINCT band, array_slice(sig, band*$MinhashRpb+1, band*$MinhashRpb+$MinhashRpb) AS bslice
         |  FROM bsigs CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS band) bbx),
         |surv AS (SELECT rep_id FROM reps WHERE rep_id NOT IN (SELECT rb FROM reppairs)),
         |collided AS (SELECT DISTINCT a.rep_id FROM bands a
         |  JOIN surv s ON s.rep_id = a.rep_id
         |  JOIN bobands bo ON bo.band = a.band AND bo.bslice = a.bslice)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |JOIN (SELECT rep_id FROM surv WHERE rep_id NOT IN (SELECT rep_id FROM collided)) f
         |  ON d.doc_id = f.rep_id""".stripMargin,

    // td3's pair graph, then connected components as a recursive-CTE
    // min-label closure: walk carries every (vertex, reachable label)
    // over symmetrized edges (set-semantics UNION terminates it), and
    // MIN(label) per vertex is the component's minimum id — exactly
    // the fixpoint the Spark min-label propagation reaches.
    "td10_dup_clusters" ->
      s"""WITH RECURSIVE $Td10ClosureCtes
         |SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component
         |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id""".stripMargin,

    // Same closure, applied as a corpus cut: only component minima
    // (and untouched singletons) survive.
    "td13_transitive_dedup" ->
      s"""WITH RECURSIVE $Td10ClosureCtes
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
         |WHERE cc.component IS NULL OR cc.component = d.doc_id""".stripMargin,

    "td5_simhash_sigs" ->
      s"""WITH ${simhashCtes("documents")}
         |SELECT doc_id, ${signedSql("usig")} AS simhash64 FROM ssigs""".stripMargin,

    "td6_minhash_dedup_linear" ->
      s"""WITH ${minhashCtes("documents")},
         |$LinearLosersCtes
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN (SELECT rep_id FROM reps WHERE rep_id NOT IN (SELECT rep_id FROM losers)) s
         |  ON d.doc_id = s.rep_id""".stripMargin,

    // Pairs are emitted from their FIRST colliding 16-bit band (the
    // list_min condition mirrors simhashPairs' firstBand predicate).
    "td7_simhash_pairs" ->
      s"""WITH ${simhashCtes("documents")},
         |banded AS (SELECT doc_id, usig, band, (usig // pw16[band+1]) % 65536 AS bucket
         |  FROM ssigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b, c)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(${signedSql("a.usig")}, ${signedSql("b.usig")})) AS INT) AS hamming
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id, c
         |WHERE a.band = list_min(list_filter(range(0, 4), t -> (xor(a.usig, b.usig) // pw16[t+1]) % 65536 = 0))
         |  AND bit_count(xor(${signedSql("a.usig")}, ${signedSql("b.usig")})) <= 3""".stripMargin,

    // tp1's deterministic prefix (annotate → filter → exact dedup,
    // the oracle-proven SQL) composed with the linear MinHash stage —
    // the full Curation.curate pipeline, now hash-checked end to end.
    "tp2_curation_full" ->
      s"""WITH raw AS (
         |  SELECT doc_id, text,
         |    CAST(LENGTH(text) AS DOUBLE) AS chars,
         |    CASE WHEN TRIM(text) = '' THEN 0.0
         |      ELSE CAST(len(string_split_regex(TRIM(text), '\\s+')) AS DOUBLE) END AS toks,
         |    CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) AS punct,
         |    CASE WHEN TRIM(text) = '' THEN 0.0
         |      ELSE CAST(list_sum(list_transform(string_split_regex(TRIM(text), '\\s+'), w -> LENGTH(w))) AS DOUBLE)
         |        / len(string_split_regex(TRIM(text), '\\s+')) END AS mwl,
         |    len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|in|is|that|with|for|was)\\b')) AS en,
         |    len(regexp_extract_all(text, '(?i)\\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\\b')) AS de,
         |    len(regexp_extract_all(text, '(?i)\\b(le|la|les|et|est|une|des|dans|pour|que)\\b')) AS fr,
         |    len(regexp_extract_all(text, '(?i)\\b(el|los|las|es|una|para|con|por|del|como)\\b')) AS es,
         |    3 * len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh,
         |    md5(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |m AS (SELECT *, GREATEST(en, de, fr, es, zh) AS mx FROM raw),
         |ann AS (
         |  SELECT doc_id, text, fp,
         |    CASE WHEN mx <= 0 THEN 'und'
         |      WHEN zh = mx THEN 'zh' WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es'
         |      WHEN en = mx THEN 'en' ELSE 'de' END AS curation_lang,
         |    ROUND(0.4 * LEAST(chars / 200.0, 1.0)
         |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(en / toks, 0.5) * 2.0 END)
         |      + 0.2 * (CASE WHEN toks = 0 THEN 0.0 ELSE LEAST(mwl / 5.0, 1.0) END)
         |      + 0.2 * (1.0 - LEAST((CASE WHEN chars = 0 THEN 1.0 ELSE punct / chars END) * 5.0, 1.0)), 6) AS curation_quality,
         |    CAST(toks AS INT) AS curation_tokens
         |  FROM m),
         |exact AS (
         |  SELECT doc_id, text, curation_lang, curation_quality, curation_tokens
         |  FROM ann
         |  WHERE curation_quality >= 0.6 AND curation_lang = 'en'
         |    AND curation_tokens BETWEEN 20 AND 1048576
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
         |${minhashCtes("exact")},
         |$LinearLosersCtes
         |SELECT e.doc_id, e.curation_lang, e.curation_quality, e.curation_tokens
         |FROM exact e
         |JOIN (SELECT rep_id FROM reps WHERE rep_id NOT IN (SELECT rep_id FROM losers)) s
         |  ON e.doc_id = s.rep_id""".stripMargin,

    "v3_lsh_topk" ->
      s"""WITH ${srpConstsSql(24, 1)},
         |${adaptiveBitsSql("embeddings")},
         |${srpCtesAdaptive("embeddings")},
         |q AS (
         |  SELECT b.vec_id AS query_id, b.embedding AS qvec, xor(b.bucket, m.mask) AS bucket
         |  FROM bx b, masks m WHERE b.vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.query_id, s.vec_id, ROUND(${cosSql("s.embedding", "q.qvec")}, 6) AS sim
         |  FROM bx s JOIN q ON s.bucket = q.bucket
         |  WHERE q.query_id <> s.vec_id)
         |SELECT query_id, vec_id, sim, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // Persisted-index IVF replay (the v7 pattern): the centroid table
    // is read from the parquet the index build published (learned
    // KMeans geometry; doubles round-trip parquet exactly), then
    // assignment (ties → larger cid, matching array_max's
    // lexicographic struct order), nprobe probes and the
    // rounded-cosine top-k are re-derived independently — a wrong
    // persisted assignment in the engine's serve path would
    // hash-mismatch this replay.
    "v4_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT cid, cvec FROM read_parquet('${annWarehouseFor(sfDir)}/ivf_a_centroids/*.parquet')),
         |asn AS (
         |  SELECT vec_id, embedding, cid
         |  FROM embeddings CROSS JOIN cents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${cosSql("embedding", "cvec")} DESC, cid DESC) = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0),
         |probes AS (
         |  SELECT query_id, qvec, cid
         |  FROM q CROSS JOIN cents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ${cosSql("qvec", "cvec")} DESC, cid DESC) <= 3),
         |scored AS (
         |  SELECT p.query_id, a.vec_id, ROUND(${cosSql("a.embedding", "p.qvec")}, 6) AS sim
         |  FROM asn a JOIN probes p ON a.cid = p.cid
         |  WHERE p.query_id <> a.vec_id)
         |SELECT query_id, vec_id, sim, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // v4's centroid table and assignment rule, then the md5-ordered
    // per-cluster prefix (same rn <= budget cut as the engine window).
    "v13_cluster_balanced" ->
      s"""WITH cents AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cvec
         |  FROM embeddings WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 256),
         |asn AS (
         |  SELECT vec_id, cid
         |  FROM embeddings CROSS JOIN cents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${cosSql("embedding", "cvec")} DESC, cid DESC) = 1)
         |SELECT vec_id, cluster_id FROM (
         |  SELECT vec_id, cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY cid
         |      ORDER BY md5(concat_ws(':', 'v13', CAST(vec_id AS VARCHAR))), vec_id) AS rn
         |  FROM asn)
         |WHERE rn <= 8""".stripMargin,

    // v4's assignment/probe/top-k replay, with the centroid table read
    // from the parquet the v7 query persists (learned KMeans geometry;
    // doubles round-trip parquet exactly) instead of re-derived in SQL.
    "v7_ivf_kmeans_topk" ->
      s"""WITH cents AS (
         |  SELECT cid, cvec FROM read_parquet('${v7CentroidsPathFor(v7CorpusKeyFor(sfDir))}/*.parquet')),
         |asn AS (
         |  SELECT vec_id, embedding, cid
         |  FROM embeddings CROSS JOIN cents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${cosSql("embedding", "cvec")} DESC, cid DESC) = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0),
         |probes AS (
         |  SELECT query_id, qvec, cid
         |  FROM q CROSS JOIN cents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ${cosSql("qvec", "cvec")} DESC, cid DESC) <= 4),
         |scored AS (
         |  SELECT p.query_id, a.vec_id, ROUND(${cosSql("a.embedding", "p.qvec")}, 6) AS sim
         |  FROM asn a JOIN probes p ON a.cid = p.cid
         |  WHERE p.query_id <> a.vec_id)
         |SELECT query_id, vec_id, sim, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin,

    "v6_lsh_embed_dedup" ->
      s"""WITH ${srpConstsSql(6, 8)},
         |${srpCtes(6, 8)},
         |reps AS (SELECT t, bucket, MIN(vec_id) AS rep_id FROM bx GROUP BY t, bucket),
         |losers AS (SELECT DISTINCT e.vec_id
         |  FROM bx e
         |  JOIN reps r ON e.t = r.t AND e.bucket = r.bucket
         |  JOIN embeddings rv ON rv.vec_id = r.rep_id
         |  WHERE e.vec_id > r.rep_id
         |    AND ROUND(${cosSql("e.embedding", "rv.embedding")}, 6) >= 0.35)
         |SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM losers)""".stripMargin,

    // v14 replay: same SRP bucket CTEs as v6; benchmark = every 50th
    // vector, corpus = the rest; a corpus vector is contaminated when
    // it shares any (table, bucket) with a benchmark vector at
    // cosine ≥ 0.35.
    "v14_semantic_decontam" ->
      s"""WITH ${srpConstsSql(6, 8)},
         |${srpCtes(6, 8)},
         |ev AS (SELECT t, bucket, embedding AS evec FROM bx WHERE vec_id % 50 = 0),
         |bad AS (SELECT DISTINCT c.vec_id
         |  FROM bx c
         |  JOIN ev e ON c.t = e.t AND c.bucket = e.bucket
         |  WHERE c.vec_id % 50 <> 0
         |    AND ROUND(${cosSql("c.embedding", "e.evec")}, 6) >= 0.35)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id % 50 <> 0 AND vec_id NOT IN (SELECT vec_id FROM bad)""".stripMargin,

    // Persisted-index assignment replay (centroids from the published
    // ivf_b parquet), then the size-gated dedup: keep-min-id all-pairs
    // inside clusters of ≤ 32 members, linear min-id-representative
    // verification inside larger ones (the bounded-skew fall-through).
    "v10_semdedup" ->
      s"""WITH cents AS (
         |  SELECT cid, cvec FROM read_parquet('${annWarehouseFor(sfDir)}/ivf_b_centroids/*.parquet')),
         |asn AS (
         |  SELECT vec_id, embedding, cid
         |  FROM embeddings CROSS JOIN cents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${cosSql("embedding", "cvec")} DESC, cid DESC) = 1),
         |sized AS (
         |  SELECT vec_id, embedding, cid, COUNT(*) OVER (PARTITION BY cid) AS csize
         |  FROM asn),
         |losers_small AS (SELECT DISTINCT b.vec_id
         |  FROM sized a JOIN sized b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE a.csize <= 32
         |    AND ROUND(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.35),
         |reps AS (
         |  SELECT cid, MIN(vec_id) AS rep_id FROM sized WHERE csize > 32 GROUP BY cid),
         |losers_big AS (SELECT DISTINCT e.vec_id
         |  FROM sized e
         |  JOIN reps r ON e.cid = r.cid
         |  JOIN embeddings rv ON rv.vec_id = r.rep_id
         |  WHERE e.vec_id > r.rep_id
         |    AND ROUND(${cosSql("e.embedding", "rv.embedding")}, 6) >= 0.35)
         |SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (
         |  SELECT vec_id FROM losers_small UNION SELECT vec_id FROM losers_big)""".stripMargin,

    // Replays the symmetric int8 quantization (scale = 127/max|v|,
    // q = floor(v*scale + 0.5) — explicit half-up, engine-neutral) and
    // the double cosine over the dequantized corpus.
    "v8_quantized_topk" ->
      s"""WITH s AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
         |  FROM embeddings),
         |qz AS (SELECT vec_id,
         |    CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE 127.0 / m END AS scale,
         |    list_transform(v, x -> floor(x * (CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE 127.0 / m END) + 0.5)) AS q
         |  FROM s),
         |dq AS (SELECT vec_id, list_transform(q, x -> x / scale) AS dv FROM qz),
         |qs AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0),
         |sims AS (SELECT q.query_id, d.vec_id, ROUND(${cosSql("d.dv", "q.qvec")}, 6) AS sim
         |  FROM dq d CROSS JOIN qs q WHERE q.query_id <> d.vec_id)
         |SELECT query_id, vec_id, sim, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM sims)
         |WHERE rank <= 10""".stripMargin,

    // v8's quantized scoring down to CandK candidates per query, then
    // the exact full-precision cosine re-ranks to 10.
    "v9_quantized_rerank" ->
      s"""WITH s AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
         |  FROM embeddings),
         |qz AS (SELECT vec_id,
         |    CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE 127.0 / m END AS scale,
         |    list_transform(v, x -> floor(x * (CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE 127.0 / m END) + 0.5)) AS q
         |  FROM s),
         |dq AS (SELECT vec_id, list_transform(q, x -> x / scale) AS dv FROM qz),
         |qs AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0),
         |qsims AS (SELECT q.query_id, d.vec_id, ROUND(${cosSql("d.dv", "q.qvec")}, 6) AS sim
         |  FROM dq d CROSS JOIN qs q WHERE q.query_id <> d.vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS r
         |  FROM qsims) WHERE r <= $CandK),
         |ex AS (SELECT c.query_id, c.vec_id, ROUND(${cosSql("e.embedding", "q.qvec")}, 6) AS sim
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN qs q ON q.query_id = c.query_id)
         |SELECT query_id, vec_id, sim, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM ex)
         |WHERE rank <= 10""".stripMargin,

    // PQ replay from the persisted codebooks: encode every vector
    // (argmin squared-L2 per subspace, ties to the lower cid), score
    // query×code by summing per-subspace LUT dot products in subspace
    // order (list(... ORDER BY j) keeps the double fold order equal to
    // Spark's left-to-right reduce), then the v9 exact-cosine rerank.
    "v12_pq_rerank_topk" ->
      s"""WITH cb AS (
         |  SELECT j, cid, cvec FROM read_parquet('${v12CodebooksPathFor(v7CorpusKeyFor(sfDir))}/*.parquet')),
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |codes AS (
         |  SELECT vec_id, j, cid FROM (
         |    SELECT v.vec_id, cb.j, cb.cid,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, cb.j ORDER BY
         |        list_sum(list_transform(list_zip(list_slice(v.v, cb.j*16 + 1, cb.j*16 + 16), cb.cvec),
         |                 p -> (p[1]-p[2])*(p[1]-p[2]))) ASC,
         |        cb.cid ASC) AS r
         |    FROM v CROSS JOIN cb) WHERE r = 1),
         |qs AS (SELECT vec_id AS query_id, embedding AS qvec,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |parts AS (
         |  SELECT q.query_id, c.vec_id, c.j,
         |    list_sum(list_transform(list_zip(list_slice(q.qv, c.j*16 + 1, c.j*16 + 16), cb.cvec),
         |             p -> p[1]*p[2])) AS part
         |  FROM codes c
         |  JOIN cb ON cb.j = c.j AND cb.cid = c.cid
         |  CROSS JOIN qs q
         |  WHERE q.query_id <> c.vec_id),
         |adc AS (
         |  SELECT query_id, vec_id, ROUND(list_sum(list(part ORDER BY j)), 6) AS sim
         |  FROM parts GROUP BY query_id, vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS r
         |  FROM adc) WHERE r <= $CandK),
         |ex AS (SELECT c.query_id, c.vec_id, ROUND(${cosSql("e.embedding", "q.qvec")}, 6) AS sim
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN qs q ON q.query_id = c.query_id)
         |SELECT query_id, vec_id, sim, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM ex)
         |WHERE rank <= 10""".stripMargin,

    // v15 replay from the persisted index: cells re-derived from the
    // published ivf_a centroids, PQ codes/LUT parts from the published
    // ivf_a codebooks (verifying the engine's persisted codes table
    // against an independent re-encode), candidates restricted to
    // (cell = probed cell), ADC top-CandK → exact rerank.
    "v15_ivfpq_topk" ->
      s"""WITH cb AS (
         |  SELECT j, cid, cvec FROM read_parquet('${annWarehouseFor(sfDir)}/ivf_a_codebooks/*.parquet')),
         |cents AS (
         |  SELECT cid AS ccid, cvec AS cvec2
         |  FROM read_parquet('${annWarehouseFor(sfDir)}/ivf_a_centroids/*.parquet')),
         |asn AS (
         |  SELECT vec_id, ccid AS cell
         |  FROM embeddings CROSS JOIN cents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${cosSql("embedding", "cvec2")} DESC, ccid DESC) = 1),
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |codes AS (
         |  SELECT vec_id, j, cid FROM (
         |    SELECT v.vec_id, cb.j, cb.cid,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, cb.j ORDER BY
         |        list_sum(list_transform(list_zip(list_slice(v.v, cb.j*16 + 1, cb.j*16 + 16), cb.cvec),
         |                 p -> (p[1]-p[2])*(p[1]-p[2]))) ASC,
         |        cb.cid ASC) AS r
         |    FROM v CROSS JOIN cb) WHERE r = 1),
         |qs AS (SELECT vec_id AS query_id, embedding AS qvec,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |probes AS (
         |  SELECT query_id, ccid AS cell
         |  FROM qs CROSS JOIN cents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ${cosSql("qvec", "cvec2")} DESC, ccid DESC) <= 4),
         |parts AS (
         |  SELECT p.query_id, c.vec_id, c.j,
         |    list_sum(list_transform(list_zip(list_slice(q.qv, c.j*16 + 1, c.j*16 + 16), cb.cvec),
         |             p2 -> p2[1]*p2[2])) AS part
         |  FROM codes c
         |  JOIN asn a ON a.vec_id = c.vec_id
         |  JOIN probes p ON p.cell = a.cell
         |  JOIN qs q ON q.query_id = p.query_id
         |  JOIN cb ON cb.j = c.j AND cb.cid = c.cid
         |  WHERE q.query_id <> c.vec_id),
         |adc AS (
         |  SELECT query_id, vec_id, ROUND(list_sum(list(part ORDER BY j)), 6) AS sim
         |  FROM parts GROUP BY query_id, vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS r
         |  FROM adc) WHERE r <= $CandK),
         |ex AS (SELECT c.query_id, c.vec_id, ROUND(${cosSql("e.embedding", "q.qvec")}, 6) AS sim
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN qs q ON q.query_id = c.query_id)
         |SELECT query_id, vec_id, sim, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM ex)
         |WHERE rank <= 10""".stripMargin,
  )
  // The bucketed two-pass stratum operators are output-identical to
  // their plain counterparts BY CONSTRUCTION (SamplingSpec pins the
  // row-for-row equivalence) — so the oracle replay is the same SQL,
  // and a green row here is DuckDB proving the equivalence at sf0.01
  // independently of the spec fixtures.
  // t30 reads the persisted corpus-stats row for its shape selection;
  // both BM25 shapes are decimal-exact equal, so its replay is t28's
  // SQL verbatim (shape-blind, like t28's own).
  base ++ Map(
    "tp20_top_fraction_bucketed" -> base("tp10_top_fraction"),
    "tp21_budget_mix_bucketed" -> base("tp7_token_budget_mix"),
    "t30_bm25_stats_view" -> base("t28_bm25_auto"))
  }
}
