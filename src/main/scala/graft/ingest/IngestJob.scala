package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.schema.Schemas
import graft.sink.IdempotentAppend
import graft.validate.{Rules, Validator}
import graft.warehouse.Warehouse

/** The composed `load-data <source> <file>` pipeline — the reference's
  * main entry point (reference src/database_management.py:105-181 →
  * insert_<source>_jsonl_data, database.py; lifecycle in SURVEY.md
  * §3.1):
  *
  *   scan → enrich → validate → in-file first-wins dedup →
  *   idempotent upsert → extraction-metadata row
  *
  * One Spark job per load; the narrow chain (scan/enrich/validate) is
  * pipelined, with shuffles only at the dedup window and the
  * anti-join. The reference's 500k-record batching (database.py:568)
  * is obsolete — Spark partitions the file.
  */
object IngestJob {

  final case class LoadResult(
      source: String,
      report: Validator.Report,
      upsert: IdempotentAppend.UpsertResult,
      runId: String,
  )

  /** Per-source enrichment chain (reference operators P2–P8 wired per
    * source exactly as insert_<source>_jsonl_data does). */
  def enrich(source: String, df: DataFrame, runId: String, nowMs: Long): DataFrame = {
    val legacy = source match {
      case "npp" => Enrich.nppLegacyRename(df)
      case "chile" => Enrich.chileLegacyRename(df)
      case "eia" => Enrich.idsToString(df, Seq("utility_id", "plant_code", "generator_id"))
      case "entsoe" =>
        Enrich.stripPlantSuffixes(
          Enrich.fixFuelTypeFromPsr(Enrich.coerceTimestampMs(df)))
      case _ => df
    }
    val withMeta = Enrich.ensureRunMetadata(legacy, runId, nowMs)
    Schemas.defaultResolutionMinutes.get(source) match {
      case Some(m) if source != "eia" => Enrich.defaultResolution(withMeta, m)
      case _ => withMeta
    }
  }

  /** P10: lexical type rules over the raw-line variant (reference
    * validator.py:326-362 via the per-source type tables). */
  def typeRules(source: String): Seq[Rules.Rule] =
    Schemas.lexicalTypes.getOrElse(source, Seq.empty).map { case (f, t) =>
      Rules.typeRule(col(JsonlSource.VariantCol), f, t)
    }

  /** Validation rule set per source: envelope + measure/dimension
    * rules from the validator schema tables (reference
    * validator.py:123-276). `isMissing` picks the presence test: the
    * pipeline passes the variant-aware form so a wrong-typed token is
    * a P10 type error, not "missing". */
  def rules(
      source: String,
      nowMs: Long,
      isMissing: String => org.apache.spark.sql.Column = Rules.colMissing,
  ): Seq[Rules.Rule] = {
    val envelope = Rules.envelopeRules(nowMs, isMissing)
    val measure = Schemas.measureColumn(source)
    val measureRules =
      Rules.requiredWith(measure, Rules.isNonNegative, "must be non-negative number", isMissing)
    def req(f: String, pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        err: String): Seq[Rules.Rule] =
      Rules.requiredWith(f, pred, err, isMissing)
    val dims: Seq[Rules.Rule] = source match {
      case "npp" =>
        req("plant", Rules.isNonEmptyString, "must be non-empty string") ++
          req("plant_and_unit", Rules.isNonEmptyString, "must be non-empty string")
      case "eia" =>
        req("state", Rules.isUsStateCode, "must be 2-character state code") ++
          Seq("utility_id", "plant_code", "generator_id", "prime_mover").flatMap(f =>
            req(f, Rules.isNonEmptyString, "must be non-empty string"))
      case "entsoe" =>
        Seq("country_code", "psr_type", "plant_name", "fuel_type", "data_type").flatMap(f =>
          req(f, Rules.isNonEmptyString, "must be non-empty string")) ++
          req("resolution_minutes", Rules.isPositive, "must be a positive number") ++
          // P5 coercion can null a PRESENT-but-unparseable timestamp
          // token; without this rule such a row validates with a NULL
          // natural-key timestamp and re-inserts on every run (the
          // anti-join NULL never matches). The reference skips these
          // records with a warning (database.py:633-665).
          Seq(Rules.Rule("timestamp_ms: unparseable timestamp",
            col("timestamp_ms").isNull && !isMissing("timestamp_ms")))
      case "ons" | "occto" | "chile" =>
        req("plant", Rules.isNonEmptyString, "must be non-empty string")
      case "oe" =>
        req("network_code", Rules.isNonEmptyString, "must be non-empty string") ++
          req("fueltech", Rules.isNonEmptyString, "must be non-empty string")
      case "oe_facility" =>
        Seq("network_code", "facility_code", "facility_name", "fueltech").flatMap(f =>
          req(f, Rules.isNonEmptyString, "must be non-empty string")) ++
          Seq(
            Rules.optionalWith("latitude", c => c >= -90 && c <= 90, "must be in [-90, 90]"),
            Rules.optionalWith("longitude", c => c >= -180 && c <= 180, "must be in [-180, 180]"),
          )
      case _ => Seq.empty
    }
    envelope ++ measureRules ++ dims
  }

  /** Full load: returns the validation report + upsert accounting the
    * CLI prints, and appends only genuinely new natural keys to the
    * target table (reference §3.1 steps 1–6). The `strict` gate of
    * database_management.py:172-175 is the caller's decision on the
    * returned counts.
    *
    * The whole load runs in a [[graft.quality.CacheScope.shared]]
    * block: the parsed-JSONL and annotated frames stay cached across
    * the load's several actions (corrupt count, batch-stats aggregate,
    * upsert write, report message collapse) and are released at block
    * end — on
    * success AND on exception, which the previous manual
    * cache()/unpersist() pair did not guarantee. */
  def load(
      spark: SparkSession,
      source: String,
      jsonlPath: String,
      tablePath: String,
      runId: String = java.util.UUID.randomUUID().toString,
      nowMs: Long = System.currentTimeMillis(),
  ): LoadResult = graft.quality.CacheScope.shared {
    val schema = Schemas.readSchemas(source)
    val raw = JsonlSource.readJsonlWithVariant(spark, jsonlPath, schema)
    // (Tried and reverted: riding the corrupt count on the parse cache
    // as an observe() metric read after the stats aggregate. The
    // metric arrives via the async listener bus, and Observation.get
    // stalled ~0.2-0.3s per load waiting on it - more than the 0.12s
    // count it replaced. The count over the cached parse stays.)
    val (good, bad) = JsonlSource.splitCorrupt(raw)
    val corrupt = bad.count()
    val enriched = enrich(source, good, runId, nowMs)
    val variant = col(JsonlSource.VariantCol)
    val allRules =
      rules(source, nowMs, isMissing = Rules.variantMissing(variant)) ++ typeRules(source)
    val annotated =
      graft.quality.CacheScope.cachedUntilAction(Validator.annotate(enriched, allRules))
    val valid = Validator.validRecords(annotated).drop(JsonlSource.VariantCol)

    val keys = Schemas.naturalKeys(source)
    val nullSafe = Schemas.nullSafeKeyParts(source)
    // In-file first-wins dedup ordered by physical line order
    // (reference validator.py:507-519). Window.partitionBy groups
    // NULL key parts together, matching the reference's Python-tuple
    // key where None == None; the COALESCE('') form only applies at
    // the cross-run DB key (nullSafeCols below). The order column is
    // dropped so it never reaches the table.
    val deduped = Dedup
      .firstWinsByName(valid, keys, Seq(JsonlSource.LineOrderCol))
      .drop(JsonlSource.LineOrderCol)
    // ONE batch-stats aggregate instead of three separate actions
    // (valid.count for the upsert accounting, the report's summary,
    // the effective-run-id probe): a load is dominated by per-action
    // launch cost on small batches — i8 profiled at ~10 driver
    // actions of ~0.1–0.2 s each — and every count here is derivable
    // from one pass over the cached annotated frame. The run id on
    // the metadata row must be the one actually ON the loaded rows,
    // or downstream per-run joins (date backfill, A7) match nothing;
    // min() = deterministic pick if a file mixes runs (reference: the
    // extraction process stamps rows and the metadata row alike).
    val stats = annotated.agg(
      count(lit(1)).as("total"),
      coalesce(sum(when(Validator.isValid, 1L).otherwise(0L)), lit(0L)).as("valid"),
      min(when(Validator.isValid, col("extraction_run_id"))).as("run_id")).head()
    val (total, vc) = (stats.getLong(0), stats.getLong(1))
    val upsert = IdempotentAppend.appendNew(
      spark, deduped, tablePath, keys, nullSafeCols = nullSafe,
      incomingCount = Some(vc))
    val report = Validator.reportWith(annotated, total, vc, total - vc,
      duplicates = upsert.duplicates, corrupt = corrupt)
    val effectiveRunId = Option(stats.getString(2)).getOrElse(runId)
    LoadResult(source, report, upsert, effectiveRunId)
  }

  /** I8: one extraction-metadata row per load (reference
    * database.py:1730-1824), merged keep-latest on run id (D4).
    *
    * JSONB parity with the reference's extraction_metadata table
    * (extraction_metadata.sql:35-37, serialized at database.py:
    * 1798-1805): `failed_details` (error histogram + capped sample),
    * `config_snapshot` (run parameters) and `source_urls` (inputs)
    * are carried as JSON strings via `to_json(struct/map/array)`.
    *
    * The published table is swapped through
    * [[graft.warehouse.Warehouse.publishAtomic]]: a crash between steps
    * always leaves a recoverable copy — never the delete-then-rename
    * window where no table exists — and the read-and-merge below runs
    * after that copy is restored, so the history never collapses to
    * this run's single row. */
  def recordMetadata(
      spark: SparkSession,
      metadataPath: String,
      result: LoadResult,
      nowMs: Long,
      sourceUrls: Seq[String] = Seq.empty,
      configSnapshot: Map[String, String] = Map.empty,
      startDate: Option[String] = None,
      endDate: Option[String] = None,
  ): Unit = {
    import spark.implicits._
    val row = Seq((
      result.runId, result.source, result.report.total,
      result.upsert.inserted, result.report.invalid, result.upsert.duplicates,
      result.report.invalid == 0L, nowMs, startDate, endDate,
    )).toDF("extraction_run_id", "source", "total_records",
      "inserted_records", "invalid_records", "duplicate_records",
      "success", "extraction_timestamp_ms", "start_date", "end_date")
      .withColumn("failed_details", to_json(struct(
        typedlit(result.report.errorCounts).as("error_counts"),
        typedlit(result.report.sampleErrors).as("sample_errors"))))
      .withColumn("config_snapshot", to_json(typedlit(configSnapshot)))
      .withColumn("source_urls", to_json(typedlit(sourceUrls)))
    Warehouse.publishAtomic(spark, metadataPath) { tmp =>
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val merged =
        if (fs.exists(new org.apache.hadoop.fs.Path(metadataPath))) {
          IdempotentAppend.mergeLatest(
            spark.read.parquet(metadataPath), row,
            Seq("extraction_run_id"), Seq(col("extraction_timestamp_ms").desc))
        } else row
      merged.write.mode("overwrite").parquet(tmp)
    }
  }
}
