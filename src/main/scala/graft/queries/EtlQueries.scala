package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.{AsofJoin, RangeJoin, Rollups, Sessionize, Stats}
import graft.dedup.Dedup
import graft.incr.{Backfill, Watermarks}
import graft.ingest.{Enrich, IngestJob, JsonlSource}
import graft.quality.Drift
import graft.schema.Schemas
import graft.sink.IdempotentAppend
import graft.validate.{Rules, Validator}
import graft.views.{GenerationViews, Refresh}
import graft.warehouse.Warehouse

import QueryInputs._

/** The reference ETL surface (SURVEY.md §2): aggregations, dedup and
  * upsert, joins, validation, enrichment, views, incremental loads and
  * the warehouse lifecycle — query prefixes `a d i j m p s u w`. */
private[graft] object EtlQueries {

  /** One oracle, two plans: w3 (single user-keyed window) and w4 (the
    * bucketed skew mitigation) both answer to this SQL — semantic
    * equivalence of the mitigation is an oracle-checked fact. */
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

  val specs: Seq[QuerySpec] = Seq(
    // --- Aggregations (A1–A11) -----------------------------------------

    // A5/TPC-H Q1 flavor: multi-metric pricing summary.
    QuerySpec("a5_pricing_summary", (s, dir) => {
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
    }, _ =>
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE), 2) AS sum_disc_price,
        |  SUM(l_quantity) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // A1: monthly rollup with the MW→MWh conversion inside the sum
    // (l_linenumber plays resolution_minutes).
    QuerySpec("a1_monthly_rollup", (s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(
          Rollups.monthStr(col("l_shipdate")).as("month"),
          col("l_returnflag"))
        .agg((sum(col("l_quantity") * col("l_linenumber")) / 60.0)
          .as("total_generation_mwh"))
    }, _ =>
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-01') AS month,
        |  l_returnflag,
        |  SUM(l_quantity * l_linenumber) / 60.0 AS total_generation_mwh
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // A2: monthly plant rollup (user_id ≈ plant) via Rollups.monthly.
    QuerySpec("a2_monthly_plant_rollup", (s, dir) => {
      Rollups
        .monthly(
          events(s, dir),
          col("ts"),
          Seq("user_id" -> col("user_id"), "event_type" -> col("event_type")),
          col("value").cast("decimal(18,2)"))
        .withColumn("total_generation_mwh", col("total_generation_mwh").cast("double"))
    }, _ =>
      """SELECT strftime(date_trunc('month', ts), '%Y-%m-01') AS month,
        |  user_id, event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_generation_mwh
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    // A4: row-count coverage matrix across three fact tables.
    QuerySpec("a4_coverage_matrix", (s, dir) => {
      Rollups.coverageMatrix(Seq(
        ("orders", tbl(s, dir, "orders"), col("o_orderdate")),
        ("lineitem", tbl(s, dir, "lineitem"), col("l_shipdate")),
        ("events", events(s, dir), col("ts")),
      ))
    }, _ =>
      """SELECT 'orders' AS source, strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month, COUNT(*) AS row_count FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'lineitem', strftime(date_trunc('month', l_shipdate), '%Y-%m-01'), COUNT(*) FROM lineitem GROUP BY 2
        |UNION ALL
        |SELECT 'events', strftime(date_trunc('month', ts), '%Y-%m-01'), COUNT(*) FROM events GROUP BY 2""".stripMargin),

    // A5: parameterized-granularity monthly export (month × priority).
    QuerySpec("a5_multi_metric_monthly", (s, dir) => {
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
    }, _ =>
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
        |  o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_generation_mwh,
        |  COUNT(*) AS hours_of_data,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_generation_mw,
        |  MAX(o_totalprice) AS peak_generation_mw
        |FROM orders GROUP BY 1, 2""".stripMargin),

    // A6: distinct years probe (drives the per-year export loop).
    QuerySpec("a6_distinct_years", (s, dir) =>
      Stats.distinctYears(tbl(s, dir, "orders"), col("o_orderdate")), _ =>
      """SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year
        |FROM orders ORDER BY year""".stripMargin),

    // A7: per-run date range (user_id ≈ extraction_run_id).
    QuerySpec("a7_date_range", (s, dir) =>
      Stats.dateRange(events(s, dir), col("ts"), col("user_id") === 7), _ =>
      """SELECT strftime(MIN(ts), '%Y-%m-%d') AS start_date,
        |  strftime(MAX(ts), '%Y-%m-%d') AS end_date
        |FROM events WHERE user_id = 7""".stripMargin),

    // A8: latest-date-per-source watermark probe.
    QuerySpec("a8_latest_dates", (s, dir) => {
      Stats.latestDates(Seq(
        ("orders", tbl(s, dir, "orders"), col("o_orderdate")),
        ("lineitem", tbl(s, dir, "lineitem"), col("l_shipdate")),
        ("events", events(s, dir), col("ts")),
      ))
    }, _ =>
      """SELECT 'orders' AS source, COALESCE(CAST(MAX(o_orderdate) AS DATE), DATE '1970-01-01') AS latest_date FROM orders
        |UNION ALL
        |SELECT 'lineitem', COALESCE(CAST(MAX(l_shipdate) AS DATE), DATE '1970-01-01') FROM lineitem
        |UNION ALL
        |SELECT 'events', COALESCE(CAST(MAX(ts) AS DATE), DATE '1970-01-01') FROM events""".stripMargin),

    // A9: record counts across all tables.
    QuerySpec("a9_record_counts", (s, dir) => {
      Stats.recordCounts(Seq(
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
      ).map(n => n -> tbl(s, dir, n)))
    }, _ =>
      """SELECT 'region' AS table_name, COUNT(*) AS record_count FROM region
        |UNION ALL SELECT 'nation', COUNT(*) FROM nation
        |UNION ALL SELECT 'customer', COUNT(*) FROM customer
        |UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        |UNION ALL SELECT 'part', COUNT(*) FROM part
        |UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        |UNION ALL SELECT 'events', COUNT(*) FROM events
        |UNION ALL SELECT 'documents', COUNT(*) FROM documents
        |UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings""".stripMargin),

    // A10: conditional-aggregation extraction summary.
    QuerySpec("a10_extraction_summary", (s, dir) => {
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
    }, _ =>
      """SELECT o_orderpriority AS source,
        |  COUNT(*) AS total_runs,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS successful_runs,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_records,
        |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS earliest_start,
        |  strftime(MAX(o_orderdate), '%Y-%m-%d') AS latest_end
        |FROM orders GROUP BY 1""".stripMargin),

    // A11: duplicate-count verification on the natural key.
    QuerySpec("a11_duplicate_count", (s, dir) =>
      Dedup.duplicateCount(tbl(s, dir, "lineitem"), LineitemKey.map(col)), _ =>
      """SELECT COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS duplicate_count
        |FROM lineitem""".stripMargin),

    // --- Dedup / upsert (D1–D4, W1, S7/J3) -----------------------------

    // D1/W1: first-occurrence-wins dedup with a stable tiebreak.
    QuerySpec("d1_dedup_first_wins", (s, dir) =>
      Dedup.firstWinsByName(tbl(s, dir, "lineitem"), LineitemKey, LineitemOrder), _ =>
      """SELECT * FROM lineitem
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |  ORDER BY l_shipdate, l_partkey, l_suppkey, l_extendedprice) = 1""".stripMargin),

    // W1 (counting half): per-key duplicate histogram.
    QuerySpec("w1_duplicate_groups", (s, dir) =>
      Dedup
        .duplicateGroups(tbl(s, dir, "lineitem"), LineitemKey.map(col))
        .orderBy("l_orderkey", "l_linenumber"), _ =>
      """SELECT l_orderkey, l_linenumber, COUNT(*) AS occurrences
        |FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1 ORDER BY 1, 2""".stripMargin),

    // D2/J3/S7: idempotent-upsert anti-join — new rows only.
    QuerySpec("d2_upsert_new_rows", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val incoming = Dedup.firstWinsByName(
        li.filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp")),
        LineitemKey, LineitemOrder)
      val existing = li.filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      IdempotentAppend.newRows(incoming, existing, LineitemKey)
    }, _ =>
      """WITH incoming AS (
        |  SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |    ORDER BY l_shipdate, l_partkey, l_suppkey, l_extendedprice) = 1),
        |existing AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01')
        |SELECT i.* FROM incoming i
        |WHERE NOT EXISTS (SELECT 1 FROM existing e
        |  WHERE e.l_orderkey = i.l_orderkey AND e.l_linenumber = i.l_linenumber)""".stripMargin),

    // S7: the "rows actually inserted" accounting of the staged upsert.
    // One pass: rank incoming in-place, left-join distinct existing keys,
    // and take all three counts from a single aggregate — no recomputed
    // lineage, no cross-joined sub-aggregates.
    QuerySpec("s7_upsert_counts", (s, dir) => {
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
    }, _ =>
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
        |  (SELECT COUNT(*) FROM ins) AS inserted_records""".stripMargin),

    // D4: metadata merge — latest version wins per key.
    QuerySpec("d4_metadata_merge", (s, dir) => {
      val o = tbl(s, dir, "orders")
      IdempotentAppend.mergeLatest(
        o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 3 === 0),
        Seq("o_orderkey"),
        Seq(col("o_orderdate").desc, col("o_totalprice").desc,
          col("o_orderstatus").asc, col("o_orderpriority").asc, col("o_custkey").asc),
      )
    }, _ =>
      """WITH u AS (
        |  SELECT * FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT * FROM u
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |  ORDER BY o_orderdate DESC, o_totalprice DESC, o_orderstatus, o_orderpriority, o_custkey) = 1""".stripMargin),

    // --- Joins (J1, J4) ------------------------------------------------

    // J1: crosswalk drift anti-join (nation plays plant_crosswalk).
    QuerySpec("j1_drift_missing", (s, dir) =>
      Drift.missingFromCrosswalk(
        tbl(s, dir, "customer"),
        col("c_nationkey"),
        tbl(s, dir, "nation"),
        col("n_nationkey"),
        col("n_regionkey") <= 2,
      ), _ =>
      """SELECT DISTINCT c_nationkey AS plant_key FROM customer
        |WHERE c_nationkey IS NOT NULL
        |  AND c_nationkey NOT IN (
        |    SELECT n_nationkey FROM nation
        |    WHERE n_regionkey <= 2 AND n_nationkey IS NOT NULL)
        |ORDER BY plant_key""".stripMargin),

    // J4: crosswalk enrichment join + monthly rollup (broadcast dims).
    QuerySpec("j4_crosswalk_enrich", (s, dir) => {
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
    }, _ =>
      """SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m-01') AS month,
        |  r.r_name,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  COUNT(*) AS order_count
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1, 2""".stripMargin),

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
    QuerySpec("j6_capacity_enrich", (s, dir) => {
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
    }, _ =>
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
        |LEFT JOIN gcpt g ON r.plant_code || '_' || r.generator_id = g.eia_unit_id""".stripMargin),

    // --- Validation (P9–P18) -------------------------------------------

    // P17/P18 + A12: single-row validation summary (conservation law).
    QuerySpec("p18_validate_summary", (s, dir) => Validator.summary(annotatedEvents(s, dir)), _ =>
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
        |FROM events""".stripMargin),

    // P18: error-type histogram over the invalid branch.
    QuerySpec("p18_error_stats", (s, dir) =>
      Validator.errorStats(annotatedEvents(s, dir)).orderBy("error_type"), _ =>
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
        |) WHERE error_count > 0 ORDER BY error_type""".stripMargin),

    // P18: the valid branch itself.
    QuerySpec("p17_valid_records", (s, dir) =>
      Validator
        .validRecords(annotatedEvents(s, dir))
        .select("event_id", "timestamp_ms", "user_id", "event_type", "value"), _ =>
      """SELECT event_id, epoch_ms(ts) AS timestamp_ms, user_id, event_type, value
        |FROM events
        |WHERE event_id IS NOT NULL AND value IS NOT NULL AND value >= 0
        |  AND event_type IS NOT NULL AND TRIM(event_type) <> ''
        |  AND epoch_ms(ts) IS NOT NULL AND epoch_ms(ts) > 0 AND epoch_ms(ts) <= 1705363200000
        |  AND user_id IS NOT NULL AND user_id <= 9""".stripMargin),

    // P10: lexical JSON type checks over a mixed-type fixture — the
    // raw token type (from the line parsed as VARIANT) decides, not
    // the schema-on-read column type. Pins the reference's edges:
    // bool is NOT int/float, int IS float, quoted "100.0" is NOT float
    // (validator.py:326-362; test_validator.py:440-480).
    QuerySpec("p10_lexical_types", (s, dir) => {
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
    }, _ =>
      // Same fixture lines as P10Fixture; DuckDB json_type gives the raw
      // token type (BIGINT/DOUBLE/VARCHAR/BOOLEAN/'NULL'/SQL NULL).
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
        |FROM ty""".stripMargin),

    // --- Enrichment / transforms (P1–P8, S1) ---------------------------

    // P1: whitelist projection.
    QuerySpec("p1_projection", (s, dir) =>
      Enrich.project(tbl(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")), _ =>
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem"),

    // P2+P5: envelope enrichment with frozen run metadata + ms coercion.
    QuerySpec("p2_enrich_envelope", (s, dir) => {
      Enrich
        .ensureRunMetadata(eventsWithMs(s, dir), RunId, NowMs)
        .select("event_id", "extraction_run_id", "created_at_ms", "timestamp_ms")
    }, _ =>
      """SELECT event_id,
        |  '550e8400-e29b-41d4-a716-446655440000' AS extraction_run_id,
        |  1705276800000 AS created_at_ms,
        |  epoch_ms(ts) AS timestamp_ms
        |FROM events""".stripMargin),

    // P5: timestamp coercion of string-typed timestamps (UTC).
    QuerySpec("p5_ts_coercion", (s, dir) => {
      events(s, dir)
        .withColumn("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .select(col("event_id"),
          Enrich.coerceTimestampMs(col("ts_str")).as("timestamp_ms"))
    }, _ =>
      "SELECT event_id, epoch_ms(ts) AS timestamp_ms FROM events"),

    // P6: dictionary lookup via broadcast literal map.
    QuerySpec("p6_dict_lookup", (s, dir) => {
      val m = typedLit(EventCategory)
      events(s, dir)
        .select(col("event_id"), col("event_type"),
          coalesce(m(col("event_type")), lit("Unknown")).as("category"))
    }, _ =>
      """SELECT event_id, event_type,
        |  CASE event_type
        |    WHEN 'click' THEN 'Engagement' WHEN 'view' THEN 'Engagement'
        |    WHEN 'purchase' THEN 'Conversion' WHEN 'signup' THEN 'Conversion'
        |    WHEN 'error' THEN 'Fault' ELSE 'Unknown' END AS category
        |FROM events""".stripMargin),

    // P7: leaked-suffix strip (longest-first, one per family).
    QuerySpec("p7_suffix_strip", (s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          Enrich.stripPlantSuffixes(
            concat(col("event_type"), lit("_Actual Aggregated"))).as("plant_name"))
    }, _ =>
      """SELECT event_id,
        |  regexp_replace(event_type || '_Actual Aggregated', '_Actual Aggregated$', '') AS plant_name
        |FROM events""".stripMargin),

    // S1/S2: schema-enforced JSONL parse — rows round-trip through
    // JSONL text and back under the declared schema (the scan parser
    // exercised inside the oracle gate; file-based variants are
    // covered in JsonlSourceSpec).
    QuerySpec("s2_ingest_roundtrip", (s, dir) => {
      val src = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val lines = src.select(to_json(struct(src.columns.toIndexedSeq.map(col): _*)).as("line"))
      graft.ingest.JsonlSource.parseJsonLines(lines, "line", src.schema)
    }, _ =>
      "SELECT event_id, user_id, event_type, value FROM events"),

    // S1-ish: JSON field extraction (the JSONB metadata analog).
    QuerySpec("s1_json_extract", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_value")), _ =>
      """SELECT event_id, CAST(props->>'k' AS INTEGER) AS k_value FROM events"""),

    // --- MV / ordering (M3) --------------------------------------------

    // M3: recent-first top-k (the reference's only sort+limit).
    QuerySpec("m3_topk_recent", (s, dir) =>
      events(s, dir)
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(20)
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("user_id"), col("event_type"), col("value")), _ =>
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id DESC LIMIT 20""".stripMargin),

    // §2.6 harmonization: stack three "sources" into one canonical
    // envelope via unionByName, then roll up per source-month — the
    // Spark-native version of the reference dashboard's
    // UNION-by-convention over per-source aggregates.
    QuerySpec("u1_harmonized_stack", (s, dir) => {
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
    }, _ =>
      """WITH stacked AS (
        |  SELECT 'orders' AS source, epoch_ms(o_orderdate) AS timestamp_ms, o_totalprice AS measure FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', epoch_ms(l_shipdate), l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'events', epoch_ms(ts), value FROM events)
        |SELECT source, strftime(date_trunc('month', to_timestamp(timestamp_ms / 1000)), '%Y-%m-01') AS month,
        |  CAST(SUM(CAST(measure AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS records
        |FROM stacked GROUP BY 1, 2""".stripMargin),

    // A5 at ALL granularities in ONE scan via GROUPING SETS — the
    // reference runs three separate queries per granularity
    // (database.py:829-861); grouping sets make it a single pass,
    // which is the difference between one and three 100 TB scans.
    QuerySpec("a5_grouping_sets", (s, dir) => {
      tbl(s, dir, "orders")
        .withColumn("month", Rollups.monthStr(col("o_orderdate")))
        .groupingSets(
          Seq(Seq(col("month")), Seq(col("month"), col("o_orderpriority")),
            Seq(col("month"), col("o_orderpriority"), col("o_orderstatus"))),
          col("month"), col("o_orderpriority"), col("o_orderstatus"))
        .agg(dsum(col("o_totalprice")).as("total_generation_mwh"),
          count(lit(1)).as("hours_of_data"))
    }, _ =>
      """SELECT month, o_orderpriority, o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_generation_mwh,
        |  COUNT(*) AS hours_of_data
        |FROM (SELECT *, strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month FROM orders)
        |GROUP BY GROUPING SETS ((month), (month, o_orderpriority), (month, o_orderpriority, o_orderstatus))""".stripMargin),

    // M3+J4 combo: top-k revenue customers (join + agg + sort-limit).
    QuerySpec("m3_top_customers", (s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("orders"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(25)
    }, _ =>
      """SELECT c.c_custkey, c.c_name,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 25""".stripMargin),

    // Window beyond row_number (lead/lag family the dashboard layer
    // uses, SURVEY.md §2.5 note): month-over-month revenue delta.
    QuerySpec("w2_mom_delta", (s, dir) => {
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
    }, _ =>
      """WITH monthly AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  ROUND(revenue - COALESCE(LAG(revenue, 1) OVER (ORDER BY month), 0.0), 2) AS mom_delta
        |FROM monthly""".stripMargin),

    // Point-in-time attribution: each click joined to the latest view
    // (≤ its timestamp) by the same user — the as-of join Spark lacks
    // as a built-in, via the union + keyed-window form (one shuffle,
    // no range cross-product). DuckDB's native ASOF LEFT JOIN is the
    // oracle.
    QuerySpec("j7_asof_attribution", (s, dir) => {
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
    }, _ =>
      // DuckDB's native ASOF LEFT JOIN replays the union+window form's
      // inclusive (<=) latest-match semantics. Both engines compare at
      // microsecond precision (DuckDB reads the parquet ns timestamps as
      // TIMESTAMP µs; the Spark side uses the ts DIV 1000 convention),
      // and (user_id, ts) is collision-free at µs in this data.
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts AS view_ts, event_id AS view_id, value AS view_value
        |  FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, c.ts, c.value, v.view_id, v.view_ts, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.view_ts""".stripMargin),

    // Lookback interval join: every (click, view-within-the-prior-hour)
    // pair per user, via the bucketed form (equi-join on (key, hour
    // bucket), right side duplicated exactly 2x) — never a range-only
    // or cross join. Oracle is the plain inequality join.
    QuerySpec("j8_lookback_join", (s, dir) => {
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
    }, _ =>
      // The bucketed interval join must equal the declarative inequality
      // join — the oracle IS the naive form the bucketing optimizes.
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT event_id AS view_id, user_id, ts AS view_ts FROM events WHERE event_type = 'view')
        |SELECT c.click_id, c.user_id, v.view_id, c.click_ts, v.view_ts
        |FROM clicks c JOIN views v ON c.user_id = v.user_id
        |  AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        |  AND v.view_ts < c.click_ts""".stripMargin),

    // Gap-based sessionization: per-user sessions open when the
    // inter-event gap exceeds 6h; one user-keyed shuffle computes the
    // break flag, the running session counter, and the per-session
    // rollup (agg/Sessionize.scala). The streaming analog is
    // session_window; this is the batch form a clickstream corpus
    // needs.
    QuerySpec("w3_sessionize", (s, dir) =>
      Sessionize.sessionStats(
        events(s, dir), "user_id", "ts", "value",
        gapUs = 21600000000L, tieBreak = Seq("event_id")), _ => SessionizeOracleSql),

    // The hot-user skew mitigation must be provably semantics-free:
    // same oracle SQL as w3, so bucketed ≡ plain is an oracle-checked
    // fact, not just a spec assertion. Stage-1 window partitions by
    // (user, day bucket); stage 2 merges boundary sessions over
    // session rows only (agg/Sessionize.scala).
    QuerySpec("w4_sessionize_bucketed", (s, dir) =>
      Sessionize.sessionStatsBucketed(
        events(s, dir), "user_id", "ts", "value",
        gapUs = 21600000000L, bucketUs = 86400000000L,
        tieBreak = Seq("event_id")), _ =>
      // bucketed ≡ plain: the skew-mitigated form answers to the SAME
      // oracle — any divergence between the two-stage plan and the
      // single-window semantics turns this row red.
      SessionizeOracleSql),

    // --- Incremental (I1, I3) ------------------------------------------

    // I1: high-watermark resume point, clamped to a minimum start.
    QuerySpec("i1_watermark_resume", (s, dir) =>
      tbl(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("latest"))
        .select(Watermarks.resumeFromCol(col("latest"), "1996-01-01").as("resume_date")), _ =>
      """SELECT GREATEST(CAST(MAX(o_orderdate) AS DATE) + INTERVAL 1 DAY, DATE '1996-01-01')::DATE AS resume_date
        |FROM orders""".stripMargin),

    // I3: month-window chunking frame.
    QuerySpec("i3_month_windows", (s, dir) =>
      Watermarks.monthWindowFrame(tbl(s, dir, "orders"), col("o_orderdate")), _ =>
      """SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS month_start
        |FROM (SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
        |             date_trunc('month', MAX(o_orderdate)) AS hi FROM orders)""".stripMargin),

    // --- Warehouse lifecycle / sinks (S5, S6, S8–S11, S10, P19, P20, I5) ---

    // S5: create every declared table (8 fact sources + the 2
    // reference/metadata tables), then read each one's schema back
    // from the written parquet — the declared column counts must
    // round-trip through the storage layer.
    QuerySpec("s5_create_tables", (s, dir) => {
      import s.implicits._
      val wh = Defaults.scratchDir("graft-s5")
      Warehouse.createWarehouse(s, wh)
      Warehouse.createAllTables(s, wh)
      (Schemas.schemas.keys.toSeq.sorted
        .map(src => (src, s.read.parquet(Warehouse.tablePath(wh, src)).schema.fields.length)) ++
        Schemas.referenceTables.keys.toSeq.sorted
          .map(t => (t, s.read.parquet(Warehouse.referenceTablePath(wh, t)).schema.fields.length)))
        .toDF("table_name", "column_count")
    }, _ =>
      """SELECT * FROM (VALUES
        |  ('chile', 10), ('eia', 14), ('entsoe', 10), ('npp', 8),
        |  ('occto', 12), ('oe', 9), ('oe_facility', 14), ('ons', 15),
        |  ('eia_generator_info', 6), ('gcpt_coal_metadata', 8)
        |) t(table_name, column_count)""".stripMargin),

    // S6: warehouse bootstrap — dir exists, all 8 tables registered.
    QuerySpec("s6_bootstrap", (s, dir) => {
      import s.implicits._
      val wh = Defaults.scratchDir("graft-s6")
      Warehouse.createWarehouse(s, wh)
      Warehouse.createAllTables(s, wh)
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val exists = fs.exists(new org.apache.hadoop.fs.Path(wh))
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(wh))
        .count(_.getPath.getName.endsWith("_generation_data"))
      Seq((exists, n)).toDF("warehouse_exists", "table_count")
    }, _ =>
      "SELECT TRUE AS warehouse_exists, CAST(8 AS INT) AS table_count"),

    // S8: per-year CSV export round-trip — counts by year must survive
    // the partitioned CSV write + read (reference database.py:893-898).
    QuerySpec("s8_csv_export", (s, dir) => {
      val out = Defaults.scratchDir("graft-s8")
      val src = events(s, dir).select(col("event_id"), col("value"), year(col("ts")).as("yr"))
      Warehouse.exportCsvByYear(src, "yr", out)
      s.read.option("header", "true")
        .schema("event_id LONG, value DOUBLE, yr INT")
        .csv(out)
        .groupBy(col("yr")).agg(count(lit(1)).as("record_count"))
    }, _ =>
      """SELECT CAST(year(ts) AS INT) AS yr, COUNT(*) AS record_count
        |FROM events GROUP BY 1""".stripMargin),

    // S9: validation-report JSON sink round-trip — the counts written
    // by the report sink must read back equal to the direct aggregate.
    QuerySpec("s9_report_json", (s, dir) => {
      val p = java.nio.file.Paths.get(Defaults.scratchDir("graft-s9")).resolve("report.json").toString
      val row = Validator.summary(annotatedEvents(s, dir)).head()
      Warehouse.saveJsonReport(p, Seq(
        "total_records" -> row.getLong(0),
        "valid_records" -> row.getLong(1),
        "invalid_records" -> row.getLong(2)))
      s.read.json(p).select("total_records", "valid_records", "invalid_records")
    }, _ =>
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
        |FROM events""".stripMargin),

    // S10: truncate with pre-count — fill an npp-shaped table from
    // events, truncate, re-read (reference database.py:910-935).
    QuerySpec("s10_truncate", (s, dir) => {
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
    }, _ =>
      """SELECT (SELECT COUNT(*) FROM events) AS before_records,
        |  CAST(0 AS BIGINT) AS after_records""".stripMargin),

    // S11: drift-report JSON sink round-trip (missing-key count).
    QuerySpec("s11_drift_report", (s, dir) => {
      val p = java.nio.file.Paths.get(Defaults.scratchDir("graft-s11")).resolve("drift.json").toString
      val missing = Drift.missingFromCrosswalk(
        tbl(s, dir, "customer"), col("c_nationkey"),
        tbl(s, dir, "nation"), col("n_nationkey"), col("n_regionkey") <= 2).count()
      Warehouse.saveJsonReport(p, Seq("missing_count" -> missing))
      s.read.json(p).select("missing_count")
    }, _ =>
      """SELECT COUNT(*) AS missing_count FROM (
        |  SELECT DISTINCT c_nationkey FROM customer
        |  WHERE c_nationkey IS NOT NULL
        |    AND c_nationkey NOT IN (
        |      SELECT n_nationkey FROM nation
        |      WHERE n_regionkey <= 2 AND n_nationkey IS NOT NULL))""".stripMargin),

    // P19: SQL-identifier guard over edge-case names (reference
    // database.py:111-156); oracle re-derives via regex in DuckDB.
    QuerySpec("p19_identifier_guard", (s, dir) => {
      import s.implicits._
      val names = Seq("npp", "entsoe_generation_data", "_ok", "ok_2",
        "bad-name", "1bad", "has space", "drop;table", "", "a" * 63, "a" * 64)
      names.map(n => (n, Warehouse.isValidIdentifier(n))).toDF("name", "is_valid")
    }, _ =>
      """WITH t(name) AS (
        |  SELECT 'npp' UNION ALL SELECT 'entsoe_generation_data'
        |  UNION ALL SELECT '_ok' UNION ALL SELECT 'ok_2'
        |  UNION ALL SELECT 'bad-name' UNION ALL SELECT '1bad'
        |  UNION ALL SELECT 'has space' UNION ALL SELECT 'drop;table'
        |  UNION ALL SELECT '' UNION ALL SELECT repeat('a', 63)
        |  UNION ALL SELECT repeat('a', 64))
        |SELECT name, regexp_matches(name, '^[A-Za-z_][A-Za-z0-9_]{0,62}$') AS is_valid
        |FROM t""".stripMargin),

    // P20: empty-input guard — 0-record file is a success no-op.
    QuerySpec("p20_empty_guard", (s, dir) => {
      import s.implicits._
      val f = java.nio.file.Paths.get(Defaults.scratchDir("graft-p20")).resolve("empty.jsonl")
      java.nio.file.Files.writeString(f, "")
      val df = JsonlSource.readJsonlWithVariant(s, f.toString, Schemas.readSchemas("npp"))
      Seq((Warehouse.isEmptyInput(df), df.count())).toDF("is_empty", "record_count")
    }, _ =>
      "SELECT TRUE AS is_empty, CAST(0 AS BIGINT) AS record_count"),

    // I5: retry-with-backoff — two IOException failures then success.
    QuerySpec("i5_retry_backoff", (s, dir) => {
      import s.implicits._
      var attempts = 0
      val result = Warehouse.withRetry(attempts = 3, baseDelayMs = 1, maxDelayMs = 4) {
        attempts += 1
        if (attempts < 3) throw new java.io.IOException("transient")
        "ok"
      }
      Seq((attempts, result == "ok")).toDF("attempts_used", "succeeded")
    }, _ =>
      "SELECT CAST(3 AS INT) AS attempts_used, TRUE AS succeeded"),

    // --- Enrichment edge operators (P3, P4, P8) ------------------------

    // P3: legacy renames — npp date(seconds)→timestamp_ms + scrape_id
    // drop, chile plant_id→chile_plant_id (value-level coalesces).
    QuerySpec("p3_legacy_renames", (s, dir) => {
      val legacy = events(s, dir).select(
        col("event_id"),
        (unix_millis(col("ts")) / 1000L).cast("long").as("date"),
        lit("legacy-run").as("scrape_id"),
        col("user_id").cast("string").as("plant_id"))
      Enrich.chileLegacyRename(Enrich.nppLegacyRename(legacy))
        .select("event_id", "timestamp_ms", "chile_plant_id")
    }, _ =>
      """SELECT event_id,
        |  (epoch_ms(ts) // 1000) * 1000 AS timestamp_ms,
        |  CAST(user_id AS VARCHAR) AS chile_plant_id
        |FROM events""".stripMargin),

    // P4: numeric ids → string (EIA utility/plant/generator ids).
    QuerySpec("p4_ids_to_string", (s, dir) =>
      Enrich.idsToString(tbl(s, dir, "orders"), Seq("o_orderkey", "o_custkey"))
        .select("o_orderkey", "o_custkey"), _ =>
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
        |  CAST(o_custkey AS VARCHAR) AS o_custkey
        |FROM orders""".stripMargin),

    // P8: missing optional columns default to NULL of declared type /
    // per-source resolution default.
    QuerySpec("p8_default_missing", (s, dir) => {
      val base = events(s, dir).select("event_id")
      Enrich.defaultResolution(
        Enrich.defaultMissing(base, Map("fuel_source" -> "string")), 60)
        .select("event_id", "fuel_source", "resolution_minutes")
    }, _ =>
      """SELECT event_id, CAST(NULL AS VARCHAR) AS fuel_source,
        |  CAST(60 AS INT) AS resolution_minutes
        |FROM events""".stripMargin),

    // --- Validation predicates as standalone ops (P11, P14, P16) ------

    // P11: UUID predicate over md5-derived uuids (every 10th corrupted).
    QuerySpec("p11_uuid_check", (s, dir) => {
      val h = md5(col("event_id").cast("string"))
      val u = concat(
        substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
        substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
        substring(h, 21, 12))
      val uuid = when(col("event_id") % 10 === 0, regexp_replace(u, "-", "_")).otherwise(u)
      events(s, dir).select(
        col("event_id"), uuid.as("run_uuid"), Rules.isUuid(uuid).as("is_valid"))
    }, _ =>
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
        |FROM u""".stripMargin),

    // P14: US-state predicate over edge-case codes.
    QuerySpec("p14_state_check", (s, dir) => {
      import s.implicits._
      Seq("CA", "ny", "DC", "pr", "ZZ", "Cali", "", "A L", "wa ", "GU")
        .toDF("code")
        .select(col("code"), Rules.isUsStateCode(col("code")).as("is_valid"))
    }, _ =>
      """SELECT v AS code, upper(v) IN (
        |  'AL','AK','AZ','AR','CA','CO','CT','DE','FL','GA',
        |  'HI','ID','IL','IN','IA','KS','KY','LA','ME','MD',
        |  'MA','MI','MN','MS','MO','MT','NE','NV','NH','NJ',
        |  'NM','NY','NC','ND','OH','OK','OR','PA','RI','SC',
        |  'SD','TN','TX','UT','VT','VA','WA','WV','WI','WY',
        |  'DC','AS','GU','MP','PR','VI') AS is_valid
        |FROM (VALUES ('CA'),('ny'),('DC'),('pr'),('ZZ'),('Cali'),(''),('A L'),('wa '),('GU')) t(v)""".stripMargin),

    // P16: positive-number predicate as a per-type conditional count.
    QuerySpec("p16_positive_check", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(when(Rules.isPositive(col("value")), 1)).as("positive_count")), _ =>
      """SELECT event_type,
        |  COUNT(*) FILTER (WHERE value IS NOT NULL AND value > 0) AS positive_count
        |FROM events GROUP BY 1""".stripMargin),

    // --- Rollups / views (A3, M1, M2) ----------------------------------

    // A3: MWh passthrough monthly rollup (no unit conversion —
    // reference materialized_views.sql:55-65).
    QuerySpec("a3_passthrough_rollup", (s, dir) =>
      Rollups.monthly(
        events(s, dir), col("ts"),
        Seq("fuel_type" -> col("event_type")),
        col("value").cast("decimal(18,2)"))
        .withColumn("total_generation_mwh", col("total_generation_mwh").cast("double")), _ =>
      """SELECT strftime(date_trunc('month', ts), '%Y-%m-01') AS month,
        |  event_type AS fuel_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_generation_mwh
        |FROM events GROUP BY 1, 2""".stripMargin),

    // M1: the MV registry itself — source → view-name map (reference
    // refresh_views.py:24-34).
    QuerySpec("m1_view_definitions", (s, dir) => {
      import s.implicits._
      GenerationViews.registry("wh").bySource.toSeq
        .flatMap { case (src, views) => views.map(v => (src, v.name)) }
        .toDF("source", "view_name")
    }, _ =>
      """SELECT * FROM (VALUES
        |  ('entsoe', 'mv_entsoe_monthly'), ('entsoe', 'mv_entsoe_plant_monthly'), ('entsoe', 'mv_entsoe_row_counts'),
        |  ('ons', 'mv_ons_monthly'), ('ons', 'mv_ons_plant_monthly'), ('ons', 'mv_ons_row_counts'),
        |  ('npp', 'mv_npp_monthly'), ('npp', 'mv_npp_plant_monthly'), ('npp', 'mv_npp_row_counts'),
        |  ('occto', 'mv_occto_monthly'), ('occto', 'mv_occto_plant_monthly'), ('occto', 'mv_occto_row_counts'),
        |  ('chile', 'mv_chile_monthly'), ('chile', 'mv_chile_plant_monthly'), ('chile', 'mv_chile_row_counts'),
        |  ('eia', 'mv_eia_row_counts'), ('oe', 'mv_oe_row_counts'), ('oe_facility', 'mv_oe_facility_row_counts')
        |) t(source, view_name)""".stripMargin),

    // M2: refresh a view through the atomic swap and read it back.
    QuerySpec("m2_view_refresh", (s, dir) => {
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
    }, _ =>
      """SELECT strftime(date_trunc('month', ts), '%Y-%m-01') AS month,
        |  COUNT(*) AS row_count
        |FROM events GROUP BY 1""".stripMargin),

    // --- Incremental edges (I2, I4, I8, I9) ----------------------------

    // I2: override-window resolution (blank falls through to computed).
    QuerySpec("i2_override_resolution", (s, dir) => {
      import s.implicits._
      val cases = Seq(
        (Option(""), "2024-03-05"),
        (Option("   "), "2021-01-01"),
        (Option("2023-07-01"), "2021-01-01"),
        (Option.empty[String], "2020-06-15"))
      cases.map { case (o, f) =>
        (o.orNull, f, Watermarks.resolveOverride(o, java.time.LocalDate.parse(f)).toString)
      }.toDF("override", "fallback", "resolved")
    }, _ =>
      """SELECT o AS override, f AS fallback,
        |  CASE WHEN o IS NULL OR TRIM(o) = '' THEN f ELSE o END AS resolved
        |FROM (VALUES ('', '2024-03-05'), ('   ', '2021-01-01'),
        |  ('2023-07-01', '2021-01-01'), (NULL, '2020-06-15')) t(o, f)""".stripMargin),

    // I4: long-window warning with month-clamped addition edges.
    QuerySpec("i4_long_window_flag", (s, dir) => {
      import s.implicits._
      val cases = Seq(
        ("2020-01-01", "2020-12-31"), ("2020-01-31", "2021-01-30"),
        ("2020-01-01", "2021-01-02"), ("2019-02-28", "2020-02-28"),
        ("2023-01-31", "2024-02-01"), ("2024-02-29", "2025-03-01"))
      cases.map { case (a, b) =>
        (a, b, Watermarks.windowTooLong(
          java.time.LocalDate.parse(a), java.time.LocalDate.parse(b)))
      }.toDF("start_date", "end_date", "too_long")
    }, _ =>
      """SELECT s AS start_date, e AS end_date,
        |  (CAST(s AS DATE) + INTERVAL 12 MONTH) < CAST(e AS DATE) AS too_long
        |FROM (VALUES ('2020-01-01', '2020-12-31'), ('2020-01-31', '2021-01-30'),
        |  ('2020-01-01', '2021-01-02'), ('2019-02-28', '2020-02-28'),
        |  ('2023-01-31', '2024-02-01'), ('2024-02-29', '2025-03-01')) t(s, e)""".stripMargin),

    // I8: extraction-metadata row through the full load pipeline
    // (valid + in-file dup + invalid record → pinned accounting).
    QuerySpec("i8_metadata_row", (s, dir) => {
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
    }, _ =>
      """SELECT 'npp' AS source, CAST(3 AS BIGINT) AS total_records,
        |  CAST(1 AS BIGINT) AS inserted_records, CAST(1 AS BIGINT) AS invalid_records,
        |  CAST(1 AS BIGINT) AS duplicate_records, FALSE AS success""".stripMargin),

    // I9: metadata date backfill from fact timestamps (NULL-only fill).
    QuerySpec("i9_backfill_dates", (s, dir) => {
      val fact = tbl(s, dir, "orders").select(
        col("o_orderpriority").as("extraction_run_id"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("timestamp_ms"))
      val pinned = col("extraction_run_id").isin("1-URGENT", "3-MEDIUM")
      val metadata = fact.select("extraction_run_id").distinct()
        .withColumn("start_date", when(pinned, lit("1990-01-01")))
        .withColumn("end_date", when(pinned, lit("1990-12-31")))
      Backfill.backfillDates(metadata, fact)
        .select("extraction_run_id", "start_date", "end_date")
    }, _ =>
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
        |FROM meta m LEFT JOIN ranges r USING (extraction_run_id)""".stripMargin),
  )
}
