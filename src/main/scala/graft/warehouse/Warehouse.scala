package graft.warehouse

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.Schemas

/** Warehouse lifecycle + export/report sinks (reference operators
  * S5/S6/S8/S9/S10/S11, P19, I5).
  *
  * The reference's "database" is Postgres DDL executed per table
  * (database.py:362-449) plus CREATE DATABASE bootstrap (:320-360);
  * here a warehouse is a directory of per-source parquet fact tables
  * with declared StructTypes — creation registers empty tables so
  * downstream readers see a schema before first load.
  */
object Warehouse {

  /** P19: SQL-identifier guard (reference database.py:111-156) — the
    * same whitelist discipline, applied to table/source names before
    * they reach a path or SQL string. */
  private val IdentifierRe = "^[A-Za-z_][A-Za-z0-9_]{0,62}$".r

  def isValidIdentifier(name: String): Boolean = IdentifierRe.matches(name)

  def requireValidIdentifier(name: String): String = {
    require(isValidIdentifier(name), s"invalid identifier: '$name'")
    name
  }

  def requireKnownSource(source: String): String = {
    require(Schemas.schemas.contains(source), s"unknown source table: '$source'")
    source
  }

  /** Resolve any managed table — fact source or reference/metadata
    * table — to its on-disk path and declared schema, so maintenance
    * commands (update-schema, compact) reach both families. */
  def declaredTable(warehouse: String, table: String): (String, org.apache.spark.sql.types.StructType) =
    if (Schemas.schemas.contains(table))
      (tablePath(warehouse, table), Schemas.schemas(table))
    else if (Schemas.referenceTables.contains(table))
      (referenceTablePath(warehouse, table), Schemas.referenceTables(table))
    else throw new IllegalArgumentException(s"unknown table: '$table'")

  def tablePath(warehouse: String, source: String): String =
    s"${warehouse.stripSuffix("/")}/${requireValidIdentifier(source)}_generation_data"

  /** Reference/metadata tables keep their exact reference table name
    * (no `_generation_data` suffix — reference database.py:132-133). */
  def referenceTablePath(warehouse: String, table: String): String =
    s"${warehouse.stripSuffix("/")}/${requireValidIdentifier(table)}"

  /** S6: bootstrap the warehouse directory. */
  def createWarehouse(spark: SparkSession, warehouse: String): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(warehouse))
  }

  /** S5: create one (empty) table with its declared schema —
    * `create_all_tables` loops every known source
    * (reference database.py:386-449). */
  def createTable(spark: SparkSession, warehouse: String, source: String): Unit = {
    requireKnownSource(source)
    writeEmpty(spark, tablePath(warehouse, source), Schemas.schemas(source))
  }

  /** S5 (reference tables): create one (empty) reference/metadata
    * table — eia_generator_info, gcpt_coal_metadata (reference
    * schema/eia_generator_info.sql:4-12, gcpt_coal_metadata.sql:4-14).
    * Same empty-parquet registration as the fact tables; the
    * PRIMARY KEY / unique-index declarations of the reference DDL are
    * load-path invariants here (dedup on write), not storage
    * constraints — parquet has none. */
  def createReferenceTable(spark: SparkSession, warehouse: String, table: String): Unit = {
    require(Schemas.referenceTables.contains(table), s"unknown reference table: '$table'")
    writeEmpty(spark, referenceTablePath(warehouse, table), Schemas.referenceTables(table))
  }

  private def writeEmpty(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
  ): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema,
      ).write.parquet(path)
    }
  }

  /** The 10 empty-table writes (8 fact sources + 2 reference tables)
    * are independent driver-side jobs; submitting them concurrently
    * overlaps their fixed commit latency (sequential: ~10 × 250 ms of
    * mostly waiting). Every future is awaited — a fail-fast
    * Future.sequence would rethrow the first error while the rest keep
    * writing unsupervised behind a "failed" command — and all failures
    * are reported, not just the first. */
  def createAllTables(spark: SparkSession, warehouse: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import scala.util.{Failure, Try}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val attempts =
      Schemas.schemas.keys.toSeq.sorted.map { s =>
        s -> Future(Try(createTable(spark, warehouse, s)))
      } ++ Schemas.referenceTables.keys.toSeq.sorted.map { t =>
        t -> Future(Try(createReferenceTable(spark, warehouse, t)))
      }
    val failures = attempts.flatMap { case (s, f) =>
      Await.result(f, 5.minutes) match {
        case Failure(e) => Some(s -> e)
        case _ => None
      }
    }
    failures.headOption.foreach { case (s, e) =>
      failures.drop(1).foreach { case (s2, e2) =>
        System.err.println(s"createAllTables: '$s2' also failed: ${e2.getMessage}")
      }
      throw new java.io.IOException(s"createAllTables: '$s' failed", e)
    }
  }

  /** The one crash-safe republish protocol (views, extraction
    * metadata, table rewrites): restore `.old` if a crash left it as
    * the only copy, let `write` fill `<path>.new`, retire the live copy
    * to `.old`, promote `.new`, drop `.old`. A reader never sees a
    * HALF-written table (each copy is complete before any rename), and
    * a crash between the renames leaves the only copy at `.old`, which
    * the next call's preamble republishes BEFORE `write` runs — so a
    * `write` that reads and merges the published table sees the full
    * history, never an empty path. NOT reader-atomic: two sequential
    * renames leave a window where the live path does not exist, so a
    * concurrent reader can fail with path-not-found and must retry
    * (retryWithBackoff is the house tool); true atomicity needs a
    * catalog/manifest layer (Delta/Iceberg territory), out of scope
    * for plain parquet dirs. `write` may READ from `path`: it is fully
    * materialized into `.new` before the live copy moves. Hadoop
    * rename reports most failures by returning false, so every rename
    * is checked — an unchecked one silently publishes nothing. */
  def publishAtomic[A](spark: SparkSession, path: String)(write: String => A): A = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = path + ".new"
    val (tmpP, oldP, tgtP) = (new Path(tmp), new Path(path + ".old"), new Path(path))
    if (!fs.exists(tgtP) && fs.exists(oldP) && !fs.rename(oldP, tgtP))
      throw new java.io.IOException(s"publishAtomic: cannot restore $oldP -> $tgtP")
    val out = write(tmp)
    if (fs.exists(oldP)) fs.delete(oldP, true)
    if (fs.exists(tgtP) && !fs.rename(tgtP, oldP))
      throw new java.io.IOException(s"publishAtomic: cannot retire $tgtP")
    if (!fs.rename(tmpP, tgtP))
      throw new java.io.IOException(s"publishAtomic: cannot publish $tmpP -> $tgtP")
    if (fs.exists(oldP)) fs.delete(oldP, true)
    out
  }

  /** Outcome of a schema evolution: row count preserved, columns added
    * with NULL backfill, columns whose stored type was re-cast, and
    * stored columns DROPPED because the current declaration no longer
    * has them — reported so the destruction is never silent. */
  final case class SchemaUpdate(
      rows: Long,
      added: Seq[String],
      retyped: Seq[String],
      dropped: Seq[String] = Seq.empty)

  /** Schema evolution in place — the parquet analog of the reference's
    * `ALTER TABLE ... ALTER COLUMN TYPE` migration
    * (database_management.py:68-102, entsoe country_code widening):
    * reconcile the stored table to the CURRENT declared StructType.
    * Columns the declaration has but the files lack are added as typed
    * NULLs (backfill); columns stored under an older type are cast to
    * the declared one; declared column order is restored. The rewrite
    * republishes through [[publishAtomic]], so readers see the old or
    * the new table, never a half-evolved mix (though a reader landing
    * inside the rename window must retry — see [[publishAtomic]]).
    * Stored columns absent from the declaration are REMOVED by the
    * rewrite and reported in [[SchemaUpdate.dropped]]. (VARCHAR width
    * changes are a
    * no-op here by design — parquet strings are unbounded, which is
    * exactly why the reference's entsoe widening has no work to do;
    * the add-column/retype path is the part schema-on-read cannot
    * absorb silently at query time.) */
  def updateSchema(spark: SparkSession, warehouse: String, source: String): SchemaUpdate = {
    val (path, declared) = declaredTable(warehouse, source)
    // mergeSchema: files written under different historical schemas
    // must all contribute their columns before reconciliation
    val existing = spark.read.option("mergeSchema", "true").parquet(path)
    val have = existing.schema.fields.map(f => f.name -> f.dataType).toMap
    val added = declared.fields.collect { case f if !have.contains(f.name) => f.name }.toSeq
    val retyped = declared.fields.collect {
      case f if have.get(f.name).exists(_ != f.dataType) => f.name
    }.toSeq
    // columns only the files have: reconciliation removes them — they
    // are surfaced in the result (and by the CLI) because the rewrite
    // is irreversible once .old is dropped
    val dropped = existing.schema.fieldNames.filterNot(declared.fieldNames.contains).toSeq
    if (added.nonEmpty || retyped.nonEmpty ||
      existing.schema.fieldNames.toSeq != declared.fieldNames.toSeq) {
      import org.apache.spark.sql.functions.{col, lit}
      val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
      MaintenanceLock.withLock(fs, path, "update-schema") {
        // The snapshot read happens INSIDE the lock: `spark.read`
        // lists the table's part-files eagerly, so a frame built from
        // the inspection read above would be blind to rows a
        // concurrent append landed since — and publishAtomic would
        // destroy them with the retired .old. Re-list fresh under
        // writer exclusion, then rewrite.
        val fresh = spark.read.option("mergeSchema", "true").parquet(path)
        val freshHave = fresh.schema.fields.map(f => f.name -> f.dataType).toMap
        val evolved = fresh.select(declared.fields.map { f =>
          if (freshHave.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
        publishAtomic(spark, path)(evolved.write.mode("overwrite").parquet(_))
      }
    }
    SchemaUpdate(spark.read.parquet(path).count(), added, retyped, dropped)
  }

  /** Outcome of a compaction: parquet part-files before/after and the
    * (preserved) row count. */
  final case class CompactionResult(filesBefore: Int, filesAfter: Int, rows: Long)

  /** Small-file compaction — the standing maintenance task of any
    * incremental parquet warehouse: every idempotent append adds a
    * files-worth of parts, and a 100 TB table accreted from thousands
    * of loads ends up scan-bound on file-open overhead and driver-side
    * file listing, not bytes. Rewrites the table to
    * ceil(totalBytes / targetFileBytes) partitions via the same
    * crash-safe [[publishAtomic]] swap the other rewrites use. A no-op
    * (no rewrite at all) when the table already has that few files.
    * Row content is untouched — compaction is purely physical. The
    * rewrite holds the table's [[MaintenanceLock]]: a concurrent
    * append fails fast (and retries) instead of landing in the live
    * copy after the snapshot read and dying with the retired `.old`. */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
  ): CompactionResult = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(path))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val totalBytes = parts.map(_.getLen).sum
    val want = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (parts.length <= want)
      return CompactionResult(parts.length, parts.length, spark.read.parquet(path).count())
    // mergeSchema: a table whose part-files span historical schemas
    // (the exact state updateSchema reconciles) must contribute every
    // column to the rewrite — a single-footer inferred schema would
    // silently drop the other files' columns, permanently.
    // The lock covers snapshot-read -> swap: a concurrent append would
    // otherwise land in the live copy after the read and die with .old
    // (appends check the lock and fail fast instead).
    MaintenanceLock.withLock(fs, path, "compact") {
      val df = spark.read.option("mergeSchema", "true").parquet(path)
      publishAtomic(spark, path)(df.repartition(want).write.mode("overwrite").parquet(_))
    }
    val after = fs.listStatus(new Path(path))
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    CompactionResult(parts.length, after, spark.read.parquet(path).count())
  }

  /** S10: truncate with pre-count (reference database.py:910-935). */
  def truncateTable(spark: SparkSession, warehouse: String, source: String): Long = {
    val path = tablePath(warehouse, source)
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val before =
      if (fs.exists(new Path(path))) spark.read.parquet(path).count() else 0L
    if (fs.exists(new Path(path))) fs.delete(new Path(path), true)
    createTable(spark, warehouse, source)
    before
  }

  /** S8: CSV export sink — one headered CSV per partition value
    * (reference database.py:893-898 writes one CSV per year). The
    * single-file-per-year shape is preserved with a partitioned write
    * + per-partition repartition(1). */
  def exportCsvByYear(
      df: DataFrame,
      yearCol: String,
      outDir: String,
      sortCols: Seq[String] = Seq.empty,
  ): Unit = {
    import org.apache.spark.sql.functions.col
    val parted = df.repartition(col(yearCol))
    val sorted =
      if (sortCols.isEmpty) parted
      // reference ORDER BY group_cols inside each per-year file
      // (database.py:890): sort within the per-year partitions — a
      // global orderBy would add a range-exchange for nothing.
      else parted.sortWithinPartitions(sortCols.map(col): _*)
    sorted.write.mode("overwrite")
      .partitionBy(yearCol)
      .option("header", "true")
      .csv(outDir)
  }

  /** S9/S11: driver-side JSON report sink (validation reports,
    * drift reports — reference validator.py:527-552,
    * check_crosswalk_drift.py:101-102). */
  def saveJsonReport(path: String, fields: Seq[(String, Any)]): Unit = {
    def quote(v: Any): String = v match {
      case s: String => graft.Verify.jsonString(s)
      case m: Map[_, _] =>
        m.map { case (k, x) => quote(k.toString) + ": " + quote(x) }.mkString("{", ", ", "}")
      case seq: Seq[_] => seq.map(quote).mkString("[", ", ", "]")
      case other => String.valueOf(other)
    }
    val json = fields.map { case (k, v) => quote(k) + ": " + quote(v) }
      .mkString("{", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  /** I5: thin retry wrapper for sink commits (reference
    * database.py:63-82 — tenacity, 3 attempts, exponential 1–10 s).
    * Spark already retries tasks; this covers driver-side FS commits. */
  def withRetry[A](attempts: Int = 3, baseDelayMs: Long = 1000, maxDelayMs: Long = 10000)(f: => A): A = {
    var delay = baseDelayMs
    var lastErr: Throwable = null
    for (i <- 1 to attempts) {
      try return f
      catch {
        case e: java.io.IOException =>
          lastErr = e
          if (i < attempts) { Thread.sleep(delay); delay = math.min(delay * 2, maxDelayMs) }
      }
    }
    throw lastErr
  }

  /** P20: empty-input guard (reference database.py:472-474,
    * incremental_extract.py:110-117): 0-record input → success no-op. */
  def isEmptyInput(df: DataFrame): Boolean = df.isEmpty

  /** Bucketed on-disk layout for CO-LOCATED joins: two tables
    * bucketed (and sorted) on the same key into the same bucket count
    * join with NO exchange on either side — each task reads matching
    * bucket files directly. This is the layout answer to "the big
    * fact-to-fact join shuffles 100 TB": pay one clustered write per
    * table, then every subsequent key join is shuffle-free.
    * `saveAsTable` is required — bucket metadata lives in the catalog,
    * not in parquet. */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCol: String,
      numBuckets: Int,
  ): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, requireValidIdentifier(bucketCol))
      .sortBy(bucketCol)
      .saveAsTable(requireValidIdentifier(tableName))

  /** On-write layout that replaces the reference's 30+ b-tree indexes
    * (SURVEY.md §4): Hive-partition by (year, month) of the event
    * time and sort each file by `timestamp_ms` so per-window queries
    * prune partitions statically/dynamically and parquet min/max
    * stats skip row groups inside a month. At 100 TB this layout —
    * not an index — is what makes incremental month-window loads and
    * per-year exports read only their slice. */
  def writeTimePartitioned(
      df: DataFrame,
      path: String,
      tsMsCol: String = "timestamp_ms",
  ): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("_year", year(timestamp_millis(col(tsMsCol))))
      .withColumn("_month", month(timestamp_millis(col(tsMsCol))))
      .repartition(col("_year"), col("_month"))
      .sortWithinPartitions(col(tsMsCol))
      .write.mode("overwrite")
      .partitionBy("_year", "_month")
      .parquet(path)
  }
}
