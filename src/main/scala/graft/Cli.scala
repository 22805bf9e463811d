package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.{Rollups, Stats}
import graft.ingest.IngestJob
import graft.schema.Schemas
import graft.warehouse.Warehouse

/** Thin management CLI composing the engine pieces — the Spark
  * counterpart of the reference's driver surface
  * (database_management.py:262-426 argparse dispatch):
  *
  *   setup [all|<source>]            create warehouse + declared tables
  *   load-data <source> <jsonl>      validate → dedup → idempotent upsert
  *       [--validation-report R] [--strict]
  *   stats                           per-table + total record counts
  *   aggregate-export entsoe --output-dir O
  *       [--granularity plant|country-fuel|country]
  *   clear-table <source> --confirm  truncate with pre-count
  *   update-schema [all|<source>]    evolve stored tables to the current
  *       declared schemas (add-column NULL backfill + re-type casts,
  *       atomic rewrite — the reference's ALTER migration analog)
  *   maintenance-status <source>     inspect a held maintenance lock
  *       (operation + age); a crashed rewrite keeps its lock by design
  *   unlock <source> --force         clear a stale maintenance lock after
  *       manual triage (refuses without --force)
  *
  * Every command takes `--warehouse <dir>` (or env GRAFT_WAREHOUSE) in
  * place of the reference's DB connection config. Commands return an
  * exit code like the reference (`sys.exit(0 if success else 1)`,
  * database_management.py:423); the strict gate reproduces
  * database_management.py:172-175 — any invalid OR duplicate record
  * fails the load after the report is written.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val cpus = Defaults.cpus
    val spark = Defaults.sessionBuilder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try run(spark, args.toIndexedSeq)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Parse + dispatch; returns the process exit code (testable without
    * forking a JVM). */
  def run(spark: SparkSession, args: Seq[String]): Int =
    try {
      val (flags, positional) = parse(args)
      def warehouse: String =
        flags.get("warehouse").orElse(sys.env.get("GRAFT_WAREHOUSE")).getOrElse {
          throw new IllegalArgumentException(
            "missing --warehouse <dir> (or env GRAFT_WAREHOUSE)")
        }
      positional match {
        case Seq("setup") => setup(spark, warehouse, "all")
        case Seq("setup", tableType) => setup(spark, warehouse, tableType)
        case Seq("update-schema") => updateSchema(spark, warehouse, "all")
        case Seq("update-schema", tableType) => updateSchema(spark, warehouse, tableType)
        case Seq("load-data", source, jsonl) =>
          loadData(spark, warehouse, source, jsonl,
            reportPath = flags.get("validation-report"),
            strict = flags.contains("strict"))
        case Seq("stats") => stats(spark, warehouse)
        case Seq("aggregate-export", source) =>
          aggregateExport(spark, warehouse, source,
            outputDir = flags.getOrElse("output-dir",
              throw new IllegalArgumentException("aggregate-export requires --output-dir")),
            granularity = flags.getOrElse("granularity", "plant"))
        case Seq("clear-table", source) =>
          clearTable(spark, warehouse, source, confirm = flags.contains("confirm"))
        case Seq("refresh-views", source) => refreshViews(spark, warehouse, source)
        case Seq("backfill", source) => backfill(spark, warehouse, source)
        case Seq("compact", source) =>
          compact(spark, warehouse, source,
            targetMb = flags.get("target-mb").map(_.toLong).getOrElse(128L))
        case Seq("maintenance-status", source) =>
          maintenanceStatus(spark, warehouse, source)
        case Seq("unlock", source) =>
          unlock(spark, warehouse, source, force = flags.contains("force"))
        case other =>
          System.err.println(s"unknown command: ${other.mkString(" ")}")
          System.err.println(
            "commands: setup | load-data | stats | aggregate-export | clear-table | " +
              "refresh-views | backfill | update-schema | compact | " +
              "maintenance-status | unlock")
          1
      }
    } catch {
      // The reference CLI converts every failure into a False return →
      // exit 1 (database_management.py:416-423); mirror that, keeping
      // the message on stderr.
      case e: Exception =>
        System.err.println(s"error: ${e.getMessage}")
        1
    }

  /** `--flag value` and bare `--flag` (boolean) options, anywhere on
    * the line; everything else positional, in order. A value-taking
    * flag with no value — end of line, or followed by another flag —
    * is an error, NOT a silent "true" (which would e.g. load into a
    * directory literally named `true`, or swallow `--strict` as a
    * report path and quietly disable the strict gate). */
  private[graft] def parse(args: Seq[String]): (Map[String, String], Seq[String]) = {
    val boolFlags = Set("strict", "confirm", "force")
    val flags = Map.newBuilder[String, String]
    val positional = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val name = a.drop(2)
        if (boolFlags(name)) { flags += name -> "true"; i += 1 }
        else if (i + 1 >= args.length || args(i + 1).startsWith("--")) {
          throw new IllegalArgumentException(s"missing value for --$name")
        } else { flags += name -> args(i + 1); i += 2 }
      } else { positional += a; i += 1 }
    }
    (flags.result(), positional.result())
  }

  /** Schema evolution — reference update_schema
    * (database_management.py:68-102): reconcile existing tables to
    * their current declared StructTypes (add-column NULL backfill +
    * re-type casts) via an atomic rewrite. Tables not created yet are
    * skipped for `all`, an error for an explicit source. */
  private def updateSchema(spark: SparkSession, warehouse: String, tableType: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val known = Schemas.schemas.keySet ++ Schemas.referenceTables.keySet
    def exists(s: String) =
      fs.exists(new org.apache.hadoop.fs.Path(Warehouse.declaredTable(warehouse, s)._1))
    val targets = tableType match {
      case "all" => known.toSeq.sorted.filter(exists)
      case s if known.contains(s) =>
        if (exists(s)) Seq(s)
        else { System.err.println(s"update-schema: table not created: $s"); return 1 }
      case other => System.err.println(s"unknown table type: $other"); return 1
    }
    targets.foreach { s =>
      val r = Warehouse.updateSchema(spark, warehouse, s)
      val changes =
        (if (r.added.nonEmpty) s" added=${r.added.mkString(",")}" else "") +
          (if (r.retyped.nonEmpty) s" retyped=${r.retyped.mkString(",")}" else "") +
          (if (r.dropped.nonEmpty) s" DROPPED=${r.dropped.mkString(",")}" else "")
      println(s"update-schema $s: ${r.rows} rows${if (changes.isEmpty) " (no changes)" else changes}")
    }
    0
  }

  /** Small-file compaction (engine-native maintenance; no reference
    * analog — Postgres has VACUUM, parquet warehouses have this). */
  private def compact(
      spark: SparkSession, warehouse: String, source: String, targetMb: Long): Int = {
    if (!Schemas.schemas.contains(source) && !Schemas.referenceTables.contains(source)) {
      System.err.println(s"unknown table type: $source"); 1
    } else {
      val r = Warehouse.compact(spark,
        Warehouse.declaredTable(warehouse, source)._1, targetMb * 1024 * 1024)
      println(s"compact $source: ${r.filesBefore} -> ${r.filesAfter} files, ${r.rows} rows")
      0
    }
  }

  /** Triage surface for the crash-keeps-the-lock design
    * ([[graft.warehouse.MaintenanceLock.withLock]]): a rewrite that
    * died mid-flight intentionally leaves `<table>.lock` so appends
    * keep refusing; these two commands are how an operator inspects
    * and clears that state without raw filesystem surgery. */
  private def maintenanceStatus(
      spark: SparkSession, warehouse: String, source: String): Int = {
    if (!Schemas.schemas.contains(source) && !Schemas.referenceTables.contains(source)) {
      System.err.println(s"unknown table type: $source"); 1
    } else {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val table = Warehouse.declaredTable(warehouse, source)._1
      graft.warehouse.MaintenanceLock.status(fs, table) match {
        case None =>
          println(s"maintenance-status $source: unlocked"); 0
        case Some(st) =>
          val age = st.ageMs(System.currentTimeMillis())
            .map(ms => f"${ms / 1000.0}%.1f s ago")
            .getOrElse("claim time unparseable")
          println(s"maintenance-status $source: LOCKED by '${st.op}' ($age)")
          println(s"  lock: ${graft.warehouse.MaintenanceLock.lockPath(table)}")
          println("  appends refuse while held. If the maintenance process is dead, " +
            s"inspect $table (and any $table.old) then `unlock $source --force`.")
          0
      }
    }
  }

  private def unlock(
      spark: SparkSession, warehouse: String, source: String, force: Boolean): Int = {
    if (!Schemas.schemas.contains(source) && !Schemas.referenceTables.contains(source)) {
      System.err.println(s"unknown table type: $source"); 1
    } else {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val table = Warehouse.declaredTable(warehouse, source)._1
      graft.warehouse.MaintenanceLock.status(fs, table) match {
        case None =>
          println(s"unlock $source: no maintenance lock held"); 0
        case Some(st) if !force =>
          // deliberate friction: the lock may be protecting the only
          // complete copy of the table (in `.old`) after a crashed
          // rewrite — same reason clear-table demands --confirm
          System.err.println(
            s"unlock $source: lock held by '${st.op}'. Verify no maintenance " +
              "process is alive and the table directory is complete, then re-run " +
              "with --force")
          1
        case Some(st) =>
          graft.warehouse.MaintenanceLock.release(fs, table)
          println(s"unlock $source: removed lock held by '${st.op}'")
          0
      }
    }
  }

  private def setup(spark: SparkSession, warehouse: String, tableType: String): Int = {
    Warehouse.createWarehouse(spark, warehouse)
    tableType match {
      case "all" => Warehouse.createAllTables(spark, warehouse)
      case s if Schemas.schemas.contains(s) => Warehouse.createTable(spark, warehouse, s)
      case other => System.err.println(s"unknown table type: $other"); return 1
    }
    println(s"setup: tables ready under $warehouse")
    0
  }

  private def loadData(
      spark: SparkSession,
      warehouse: String,
      source: String,
      jsonl: String,
      reportPath: Option[String],
      strict: Boolean,
  ): Int = {
    if (!Schemas.schemas.contains(source)) {
      System.err.println(s"unknown data source: $source")
      return 1
    }
    if (!new java.io.File(jsonl).exists()) {
      System.err.println(s"file not found: $jsonl")
      return 1
    }
    val result = IngestJob.load(
      spark, source, jsonl, Warehouse.tablePath(warehouse, source))
    IngestJob.recordMetadata(
      spark, s"${warehouse.stripSuffix("/")}/extraction_metadata", result,
      nowMs = System.currentTimeMillis(), sourceUrls = Seq(jsonl),
      configSnapshot = Map("source" -> source, "strict" -> strict.toString))
    val r = result.report
    // validator.py:527-552 report shape
    reportPath.foreach(p => Warehouse.saveJsonReport(p, Seq(
      "source" -> source,
      "total_records" -> r.total,
      "valid_records" -> r.valid,
      "invalid_records" -> r.invalid,
      "duplicate_records" -> r.duplicates,
      "inserted_records" -> result.upsert.inserted,
      "error_counts" -> r.errorCounts,
      "sample_errors" -> r.sampleErrors,
    )))
    println(s"load-data $source: total=${r.total} valid=${r.valid} " +
      s"invalid=${r.invalid} duplicates=${r.duplicates} inserted=${result.upsert.inserted}")
    if (strict && (r.invalid > 0 || r.duplicates > 0)) {
      System.err.println("strict mode: failing due to validation errors")
      1
    } else 0
  }

  private def stats(spark: SparkSession, warehouse: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tables = Schemas.schemas.keys.toSeq.sorted.flatMap { s =>
      val path = Warehouse.tablePath(warehouse, s)
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        Some(s -> spark.read.parquet(path))
      else None
    }
    if (tables.isEmpty) { System.err.println(s"no tables under $warehouse"); return 1 }
    val counts = Stats.recordCounts(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    println(s"Total records across all tables: ${counts.map(_._2).sum}")
    counts.sortBy(_._1).foreach { case (t, n) => println(s"  $t: $n records") }
    0
  }

  /** Monthly rollup at the requested granularity, one CSV per year —
    * reference aggregate_entsoe_to_monthly (database.py:812-908). */
  private def aggregateExport(
      spark: SparkSession,
      warehouse: String,
      source: String,
      outputDir: String,
      granularity: String,
  ): Int = {
    if (source != "entsoe") {
      System.err.println(s"aggregation not supported for: $source")
      return 1
    }
    val dims: Seq[String] = granularity match {
      case "plant" => Seq("country_code", "psr_type", "plant_name")
      case "country-fuel" => Seq("country_code", "psr_type")
      case "country" => Seq("country_code")
      case other => System.err.println(s"unknown granularity: $other"); return 1
    }
    val table = spark.read.parquet(Warehouse.tablePath(warehouse, source))
    if (table.isEmpty) { println(s"no data in $source table"); return 0 }
    val monthly = Rollups.multiMetricMonthly(
      table,
      Rollups.msToTs(col("timestamp_ms")),
      dims.map(d => d -> col(d)),
      col(Schemas.measureColumn(source)),
    ).withColumn("year", substring(col("month"), 1, 4))
    Warehouse.exportCsvByYear(monthly, "year", outputDir,
      sortCols = "month" +: dims)
    println(s"aggregate-export $source ($granularity) -> $outputDir")
    0
  }

  /** Refresh the registered materialized views for one source —
    * reference refresh_views.py:50-67 (post-load hook). */
  private def refreshViews(spark: SparkSession, warehouse: String, source: String): Int = {
    if (!Schemas.schemas.contains(source)) {
      System.err.println(s"unknown data source: $source")
      return 1
    }
    val counts = graft.views.Refresh.refreshForSources(
      spark, warehouse, graft.views.GenerationViews.registry(warehouse), Seq(source))
    if (counts.isEmpty) println(s"refresh-views $source: no views registered")
    else counts.toSeq.sortBy(_._1).foreach { case (v, n) => println(s"  $v: $n rows") }
    0
  }

  /** Fill NULL start_date/end_date in extraction metadata from the
    * fact table's actual per-run date range — reference
    * backfill_extraction_dates.py:47-103. Republished through
    * [[Warehouse.publishAtomic]], like recordMetadata: a prior run that
    * died between the swap renames is recovered before the read. */
  private def backfill(spark: SparkSession, warehouse: String, source: String): Int = {
    if (!Schemas.schemas.contains(source)) {
      System.err.println(s"unknown data source: $source")
      return 1
    }
    val metaPath = s"${warehouse.stripSuffix("/")}/extraction_metadata"
    Warehouse.publishAtomic(spark, metaPath) { tmp =>
      val meta = spark.read.parquet(metaPath)
      val fact = spark.read.parquet(Warehouse.tablePath(warehouse, source))
      graft.incr.Backfill.backfillDates(meta, fact).write.mode("overwrite").parquet(tmp)
    }
    val published = spark.read.parquet(metaPath)
    val remaining = published.filter(col("start_date").isNull).count()
    println(s"backfill $source: ${published.count()} metadata rows, $remaining still missing dates")
    0
  }

  private def clearTable(
      spark: SparkSession,
      warehouse: String,
      source: String,
      confirm: Boolean,
  ): Int = {
    if (!confirm) {
      System.err.println("Must use --confirm flag to delete data")
      return 1
    }
    if (!Schemas.schemas.contains(source)) {
      System.err.println(s"unknown data source: $source")
      return 1
    }
    val before = Warehouse.truncateTable(spark, warehouse, source)
    println(s"clear-table $source: deleted $before records")
    0
  }
}
