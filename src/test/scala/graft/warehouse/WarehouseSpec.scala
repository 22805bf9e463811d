package graft.warehouse

import java.nio.file.Files
import graft.SparkSpec

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("create all tables with declared schemas; truncate re-creates empty") {
    val wh = Files.createTempDirectory("graft-wh").toString
    Warehouse.createAllTables(spark, wh)
    val npp = spark.read.parquet(Warehouse.tablePath(wh, "npp"))
    assert(npp.count() == 0)
    assert(npp.columns.contains("plant_and_unit"))
    // write a row then truncate
    Seq(("id", 1L, 2L, 1440, "P", "P 1", "U", 5.0))
      .toDF(npp.columns.take(8): _*)
      .write.mode("append").parquet(Warehouse.tablePath(wh, "npp"))
    assert(Warehouse.truncateTable(spark, wh, "npp") == 1)
    assert(spark.read.parquet(Warehouse.tablePath(wh, "npp")).count() == 0)
  }

  test("reference tables: created with declared schemas at unsuffixed paths") {
    val wh = Files.createTempDirectory("graft-wh-ref").toString
    Warehouse.createAllTables(spark, wh)
    val gi = spark.read.parquet(Warehouse.referenceTablePath(wh, "eia_generator_info"))
    assert(gi.count() == 0)
    assert(gi.columns.toSeq == Seq("plant_code", "generator_id", "technology",
      "prime_mover", "energy_source_1", "nameplate_capacity_mw"))
    val gc = spark.read.parquet(Warehouse.referenceTablePath(wh, "gcpt_coal_metadata"))
    assert(gc.columns.toSeq == Seq("gcpt_unit_id", "eia_unit_id", "plant_name",
      "unit_name", "coal_type", "technology", "capacity_mw", "country"))
    // reference table names carry no _generation_data suffix
    assert(Warehouse.referenceTablePath(wh, "gcpt_coal_metadata").endsWith("/gcpt_coal_metadata"))
    intercept[IllegalArgumentException](
      Warehouse.createReferenceTable(spark, wh, "not_a_reference_table"))
  }

  test("identifier guard rejects injection-shaped names (reference database.py:111-156)") {
    intercept[IllegalArgumentException](Warehouse.requireValidIdentifier("x; DROP TABLE"))
    intercept[IllegalArgumentException](Warehouse.requireValidIdentifier("../escape"))
    intercept[IllegalArgumentException](Warehouse.requireKnownSource("not_a_source"))
    assert(Warehouse.requireValidIdentifier("entsoe") == "entsoe")
  }

  test("CSV export by year writes one headered partition per year") {
    val out = Files.createTempDirectory("graft-csv").toString + "/export"
    val df = Seq((2023, "Gas", 1.5), (2024, "Gas", 2.5), (2024, "Solar", 3.0))
      .toDF("year", "fuel", "mwh")
    Warehouse.exportCsvByYear(df, "year", out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 3)
    assert(new java.io.File(out).listFiles().count(_.getName.startsWith("year=")) == 2)
  }

  test("retry wrapper retries IOExceptions with backoff") {
    var calls = 0
    val r = Warehouse.withRetry(attempts = 3, baseDelayMs = 1, maxDelayMs = 2) {
      calls += 1
      if (calls < 3) throw new java.io.IOException("flaky")
      "ok"
    }
    assert(r == "ok" && calls == 3)
    intercept[java.io.IOException] {
      Warehouse.withRetry(attempts = 2, baseDelayMs = 1, maxDelayMs = 2) {
        throw new java.io.IOException("always")
      }
    }
  }

  test("json report sink escapes and round-trips via Spark's json reader") {
    val p = Files.createTempDirectory("graft-rep").resolve("r.json").toString
    Warehouse.saveJsonReport(p, Seq(
      "source" -> "npp", "valid" -> 10, "invalid" -> 2,
      "errors" -> Seq("a \"quoted\" err", "b\\path", "line1\nline2\tcol\u0001end"),
    ))
    val df = spark.read.json(p)
    assert(df.count() == 1)
    assert(df.select("source").head().getString(0) == "npp")
    assert(df.select("valid").head().getLong(0) == 10)
    assert(df.select("errors").head().getSeq[String](0) ==
      Seq("a \"quoted\" err", "b\\path", "line1\nline2\tcol\u0001end"))
  }

  test("bucketed tables join with no exchange on either side (co-located join)") {
    import org.apache.spark.sql.functions._
    val facts = (1L to 200L).map(i => (i % 50, i, s"f$i")).toDF("key", "seq", "payload")
    val dims = (0L until 50L).map(i => (i, s"d$i")).toDF("key", "attr")
    Warehouse.writeBucketed(facts, "bkt_facts", "key", 4)
    Warehouse.writeBucketed(dims, "bkt_dims", "key", 4)
    // forbid broadcast so only bucketing can avoid the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_facts").join(spark.table("bkt_dims"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() == 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE bkt_facts")
      spark.sql("DROP TABLE bkt_dims")
    }
  }

  test("compact merges schemas across heterogeneous part-files — no silent column loss") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-compact-ms")
      .resolve("t").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(path)
    Seq((2L, "b", 9L)).toDF("id", "v", "extra").write.mode("append").parquet(path)
    val r = Warehouse.compact(spark, path, targetFileBytes = 512L * 1024 * 1024)
    assert(r.filesBefore == 2 && r.filesAfter == 1 && r.rows == 2)
    // the rewrite carried the column only the second file had
    val back = spark.read.parquet(path)
    assert(back.columns.toSet == Set("id", "v", "extra"))
    assert(back.filter($"id" === 1L).select("extra").head().isNullAt(0))
    assert(back.filter($"id" === 2L).select("extra").head().getLong(0) == 9L)
  }

  test("compact merges small files, preserves content, no-ops when already compact") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-compact")
      .resolve("t").toString
    val df = (1 to 1000).map(i => (i.toLong, s"row $i")).toDF("id", "v")
    df.repartition(40).write.parquet(path)
    val before = Warehouse.compact(spark, path, targetFileBytes = 512L * 1024 * 1024)
    assert(before.filesBefore == 40 && before.filesAfter == 1 && before.rows == 1000)
    // content identical after the physical rewrite
    val back = spark.read.parquet(path).as[(Long, String)].collect().toSet
    assert(back == (1 to 1000).map(i => (i.toLong, s"row $i")).toSet)
    // second run: already at/below target file count → untouched
    val again = Warehouse.compact(spark, path, targetFileBytes = 512L * 1024 * 1024)
    assert(again.filesBefore == 1 && again.filesAfter == 1 && again.rows == 1000)
    // no leftover swap dirs
    val parent = new java.io.File(path).getParentFile.listFiles().map(_.getName).toSet
    assert(!parent.exists(n => n.endsWith(".new") || n.endsWith(".old")))
  }

  test("maintenance lock: appends fail fast during maintenance; compact cleans up its lock") {
    import spark.implicits._
    import org.apache.hadoop.fs.FileSystem
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val path = java.nio.file.Files.createTempDirectory("graft-lock")
      .resolve("t").toString
    (1 to 100).map(i => (i.toLong, s"row $i")).toDF("id", "v")
      .repartition(10).write.parquet(path)
    // a held lock makes the single append choke point refuse, retryably
    MaintenanceLock.withLock(fs, path, "test-maintenance") {
      val batch = Seq((200L, "late")).toDF("id", "v")
      val e = intercept[IllegalStateException] {
        graft.sink.IdempotentAppend.atomicAppend(spark, batch, path)
      }
      assert(e.getMessage.contains("maintenance"))
      // a second maintenance cannot claim the same table
      intercept[IllegalStateException] {
        MaintenanceLock.withLock(fs, path, "second") { fail("must not run") }
      }
    }
    // lock released on exit: appends work again, compact locks and unlocks
    assert(!MaintenanceLock.isLocked(fs, path))
    assert(graft.sink.IdempotentAppend.atomicAppend(
      spark, Seq((201L, "ok")).toDF("id", "v"), path) == 1L)
    val r = Warehouse.compact(spark, path, targetFileBytes = 512L * 1024 * 1024)
    assert(r.rows == 101)
    assert(!MaintenanceLock.isLocked(fs, path))
  }

  test("maintenance lock survives a failed rewrite: writers keep refusing until triage") {
    import org.apache.hadoop.fs.FileSystem
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val path = java.nio.file.Files.createTempDirectory("graft-lock-fail")
      .resolve("t").toString
    // a failed body may have left .old as the only complete copy —
    // the lock must stay held, not auto-release
    val e = intercept[RuntimeException] {
      MaintenanceLock.withLock(fs, path, "failing-rewrite") {
        throw new RuntimeException("rewrite failed mid-swap")
      }
    }
    assert(e.getMessage.contains("mid-swap"))
    assert(MaintenanceLock.isLocked(fs, path))
    MaintenanceLock.release(fs, path)
    assert(!MaintenanceLock.isLocked(fs, path))
  }
}
