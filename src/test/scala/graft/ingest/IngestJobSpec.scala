package graft.ingest

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.views.{GenerationViews, Refresh}

/** End-to-end load-data pipeline on reference-shaped JSONL records
  * (record shapes + edge cases from FIXTURES.md §A, asserted in the
  * reference's tests/test_validator.py). */
class IngestJobSpec extends SparkSpec {

  private val runId = "550e8400-e29b-41d4-a716-446655440000"
  private val now = 1767282419683L

  private def write(lines: String*): String = {
    val dir = Files.createTempDirectory("graft-ingest")
    Files.writeString(dir.resolve("in.jsonl"), lines.mkString("\n"))
    dir.resolve("in.jsonl").toString
  }

  private def freshTable(): String =
    Files.createTempDirectory("graft-table").resolve("t").toString

  private def npp(ts: Long, plantUnit: String, mwh: Double): String =
    s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":$ts,"plant":"Kudankulam","plant_and_unit":"$plantUnit","unit":"Unit 1","generation_mwh":$mwh,"resolution_minutes":1440}"""

  test("npp load: valid/invalid/dup accounting + idempotent re-run (reference test_validator.py:314-350, README.md:424)") {
    val f = write(
      npp(1767196019683L, "Kudankulam Unit 1", 1000.5),
      npp(1767196019683L, "Kudankulam Unit 1", 999.0), // in-file dup, loses
      npp(1767196019683L, "Kudankulam Unit 2", 500.0),
      s"""{"extraction_run_id":"not-a-uuid","created_at_ms":$now,"timestamp_ms":1767196019683,"plant":"X","plant_and_unit":"X 1","generation_mwh":1.0}""", // bad uuid
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":1767196019683,"plant":"Y","plant_and_unit":"Y 1","generation_mwh":-5.0}""", // negative
    )
    val table = freshTable()
    val r1 = IngestJob.load(spark, "npp", f, table, runId, now)
    assert(r1.report.total == 5)
    assert(r1.report.valid == 3)
    assert(r1.report.invalid == 2)
    assert(r1.upsert.inserted == 2) // in-file dup collapsed
    val t = spark.read.parquet(table)
    assert(t.count() == 2)
    // first-wins: line 1 (1000.5) beat line 2 (999.0)
    assert(t.filter(col("plant_and_unit") === "Kudankulam Unit 1")
      .select("generation_mwh").head().getDouble(0) == 1000.5)

    // re-run same file: nothing inserted (idempotence law)
    val r2 = IngestJob.load(spark, "npp", f, table, runId, now)
    assert(r2.upsert.inserted == 0)
    assert(spark.read.parquet(table).count() == 2)
  }

  test("npp legacy shape: date (unix s) → timestamp_ms") {
    val f = write(
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"date":1767196019,"scrape_id":"s1","plant":"K","plant_and_unit":"K 1","generation_mwh":10.0}""")
    val table = freshTable()
    val r = IngestJob.load(spark, "npp", f, table, runId, now)
    assert(r.report.valid == 1)
    assert(spark.read.parquet(table).select("timestamp_ms").head().getLong(0) == 1767196019000L)
  }

  test("eia load: state-code validation + id string coercion (test_validator.py:178-215)") {
    val f = write(
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":1640995200000,"utility_id":195,"plant_code":3,"generator_id":"A2ST","state":"AL","fuel_source":"NG","prime_mover":"CA","energy_source":"NG","net_generation_mwh":129296.0,"resolution_minutes":null}""",
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":1640995200000,"utility_id":"196","plant_code":"4","generator_id":"B1","state":"California","prime_mover":"CA","net_generation_mwh":1.0}""", // full state name rejected
    )
    val table = freshTable()
    val r = IngestJob.load(spark, "eia", f, table, runId, now)
    assert(r.report.valid == 1 && r.report.invalid == 1)
    assert(r.report.errorCounts.keySet.contains("state"))
    val row = spark.read.parquet(table).head()
    assert(row.getAs[String]("plant_code") == "3") // int → string coercion
  }

  test("entsoe load: psr fuel fix + suffix strip + string timestamp coercion (database.py:633-682)") {
    val f = write(
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":"2020-01-01 00:00:00","country_code":"DE","psr_type":"B04","plant_name":"Lichterfelde GUD_Actual Aggregated","fuel_type":"Unknown","data_type":"Actual","generation_mw":200.75,"resolution_minutes":60}""")
    val table = freshTable()
    val r = IngestJob.load(spark, "entsoe", f, table, runId, now)
    assert(r.report.valid == 1, r.report.toString)
    val row = spark.read.parquet(table).head()
    assert(row.getAs[Long]("timestamp_ms") == 1577836800000L) // UTC parse
    assert(row.getAs[String]("fuel_type") == "Fossil Gas") // psr map repaired "Unknown"
    assert(row.getAs[String]("plant_name") == "Lichterfelde GUD") // suffix stripped
  }

  test("chile legacy plant_id + null-safe cross-run key (ons_generation.sql:49-50 analog)") {
    val table = freshTable()
    val f1 = write(
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":1767196019683,"plant":"TER HORNITOS","plant_id":"395","fuel_type":"Carbon","generation_mwh":163.13,"resolution_minutes":60}""")
    val r1 = IngestJob.load(spark, "chile", f1, table, runId, now)
    assert(r1.upsert.inserted == 1)
    assert(spark.read.parquet(table).select("chile_plant_id").head().getString(0) == "395")
    // second run: same key but chile_plant_id NULL vs '' — distinct keys, both insert
    val f2 = write(
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":1767196019683,"plant":"TER HORNITOS","fuel_type":"Carbon","generation_mwh":1.0,"resolution_minutes":60}""")
    val r2 = IngestJob.load(spark, "chile", f2, table, runId, now)
    assert(r2.upsert.inserted == 1)
    // third run: chile_plant_id NULL again → conflicts with the '' form of run 2
    val r3 = IngestJob.load(spark, "chile", f2, table, runId, now)
    assert(r3.upsert.inserted == 0 && r3.upsert.duplicates == 1)
  }

  test("metadata recording merges keep-latest per run id (D4/I8)") {
    val table = freshTable()
    val meta = freshTable() + "_meta"
    val f = write(npp(1767196019683L, "K 1", 1.0))
    val r = IngestJob.load(spark, "npp", f, table, runId, now)
    IngestJob.recordMetadata(spark, meta, r, now)
    IngestJob.recordMetadata(spark, meta, r.copy(upsert = r.upsert.copy(inserted = 0)), now + 1,
      sourceUrls = Seq(f), configSnapshot = Map("source" -> "npp", "strict" -> "false"))
    val m = spark.read.parquet(meta)
    assert(m.count() == 1) // merged on run id
    assert(m.select("inserted_records").head().getLong(0) == 0) // latest won
    // JSONB parity blobs (reference extraction_metadata.sql:35-37) round-trip
    val blobs = m.select("failed_details", "config_snapshot", "source_urls").head()
    assert(blobs.getString(0).contains("error_counts"))
    assert(blobs.getString(1).contains("\"source\":\"npp\""))
    assert(blobs.getString(2).contains(f))
    val parsed = m.select(
      from_json(col("source_urls"), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)).as("u")).head().getSeq[String](0)
    assert(parsed == Seq(f))
  }

  /** One caller of [[graft.warehouse.Warehouse.publishAtomic]]:
    * `publish` publishes a table through it and returns the table's
    * path, the column that keys its rows, and a call that publishes it
    * again and returns the keys that call adds. */
  private final case class SwapCaller(
      name: String,
      publish: () => (String, String, () => Set[String]))

  private def keysOf(path: String, key: String): Set[String] =
    spark.read.parquet(path).select(col(key).cast("string")).collect().map(_.getString(0)).toSet

  private val swapCallers = Seq(
    SwapCaller("recordMetadata restores the .old backup left by a crash between renames", () => {
      val meta = freshTable() + "_meta"
      val r = IngestJob.load(spark, "npp", write(npp(1767196019683L, "K 1", 1.0)),
        freshTable(), runId, now)
      IngestJob.recordMetadata(spark, meta, r, now)
      val r2 = r.copy(runId = "650e8400-e29b-41d4-a716-446655440000")
      (meta, "extraction_run_id", () => {
        IngestJob.recordMetadata(spark, meta, r2, now + 1)
        Set(r2.runId)
      })
    }),
    SwapCaller("refreshView republishes the .old view a crash left before rebuilding it", () => {
      val wh = Files.createTempDirectory("graft-swap-views").toString
      val view = Refresh.viewPath(wh, "mv_swap")
      var readDuringBuild = -1L
      val job = Refresh.ViewJob("mv_swap", s => {
        import s.implicits._
        if (new java.io.File(view).exists) readDuringBuild = s.read.parquet(view).count()
        Seq((1, "a"), (2, "b")).toDF("k", "v")
      })
      assert(Refresh.refreshView(spark, wh, job) == 2)
      (view, "k", () => {
        assert(Refresh.refreshView(spark, wh, job) == 2)
        // readers see the stale view, not nothing, while it rebuilds
        assert(readDuringBuild == 2)
        Set.empty
      })
    }),
    SwapCaller("backfill restores the .old metadata a crash left before filling its dates", () => {
      val wh = Files.createTempDirectory("graft-swap-cli").toString
      val f = write(
        s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":1577836800000,"country_code":"DE","psr_type":"B04","plant_name":"P","fuel_type":"Fossil Gas","data_type":"Actual","generation_mw":1.0,"resolution_minutes":60}""")
      assert(graft.Cli.run(spark, Seq("setup", "entsoe", "--warehouse", wh)) == 0)
      assert(graft.Cli.run(spark, Seq("load-data", "entsoe", f, "--warehouse", wh)) == 0)
      val meta = s"$wh/extraction_metadata"
      (meta, "extraction_run_id", () => {
        assert(graft.Cli.run(spark, Seq("backfill", "entsoe", "--warehouse", wh)) == 0)
        assert(spark.read.parquet(meta).filter(col("start_date").isNull).isEmpty)
        Set.empty
      })
    }),
  )

  // The state a crash between the swap's two renames leaves behind:
  // the target absent, its complete previous copy at .old, and a
  // stale .new from the interrupted write.
  swapCallers.foreach { c =>
    test(c.name) {
      import spark.implicits._
      val (path, key, republish) = c.publish()
      val before = keysOf(path, key)
      assert(before.nonEmpty)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + ".old")))
      Seq("stale").toDF("stale").write.parquet(path + ".new")
      val added = republish()
      val after = keysOf(path, key)
      assert(after == before ++ added, "no prior row lost, the new ones published")
      assert(spark.read.parquet(path).count() == after.size, "no stale or duplicated row")
      assert(!spark.read.parquet(path).columns.contains("stale"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".old")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".new")))
    }
  }

  test("entsoe: present-but-unparseable timestamp is invalid, not inserted with NULL key") {
    val f = write(
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":"garbage","country_code":"DE","psr_type":"B04","plant_name":"P","fuel_type":"Fossil Gas","data_type":"Actual","generation_mw":1.0,"resolution_minutes":60}""",
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":"2020-01-01 00:00:00","country_code":"DE","psr_type":"B04","plant_name":"Q","fuel_type":"Fossil Gas","data_type":"Actual","generation_mw":2.0,"resolution_minutes":60}""",
    )
    val table = freshTable()
    val r1 = IngestJob.load(spark, "entsoe", f, table, runId, now)
    assert(r1.report.valid == 1 && r1.report.invalid == 1)
    assert(r1.report.errorCounts.keySet.contains("timestamp_ms"))
    assert(spark.read.parquet(table).count() == 1)
    // idempotence holds: no NULL-keyed row to re-insert forever
    val r2 = IngestJob.load(spark, "entsoe", f, table, runId, now)
    assert(r2.upsert.inserted == 0)
    assert(spark.read.parquet(table).count() == 1)
  }

  test("unparseable JSON lines count as invalid in the report (strict-gate input)") {
    val f = write(
      npp(1767196019683L, "K 1", 1.0),
      """{"truncated": """,
      """not json at all""",
    )
    val r = IngestJob.load(spark, "npp", f, freshTable(), runId, now)
    assert(r.report.total == 3)
    assert(r.report.valid == 1)
    assert(r.report.invalid == 2)
    assert(r.report.errorCounts.exists(_._1.startsWith("_corrupt")))
    assert(r.upsert.inserted == 1)
  }

  test("P10 in the pipeline: bool created_at_ms is a type error, not corrupt/missing") {
    val f = write(
      npp(1767196019683L, "K 1", 1.0),
      s"""{"extraction_run_id":"$runId","created_at_ms":true,"timestamp_ms":1767196019683,"plant":"X","plant_and_unit":"X 1","generation_mwh":100.0}""",
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":1767196019683,"plant":"Y","plant_and_unit":"Y 1","generation_mwh":"100.0"}""",
      s"""{"extraction_run_id":"$runId","created_at_ms":$now,"timestamp_ms":1767196019683,"plant":"Z","plant_and_unit":"Z 1","generation_mwh":100}""",
    )
    val r = IngestJob.load(spark, "npp", f, freshTable(), runId, now)
    assert(r.report.total == 4) // wrong-typed lines are NOT corrupt
    assert(r.report.valid == 2) // line 1 + int-as-float line 4
    assert(r.report.invalid == 2)
    assert(r.report.errorCounts.contains("created_at_ms"))
    assert(r.report.errorCounts.contains("generation_mwh"))
    // the bool token is a type error, not "missing required field"
    assert(!r.report.errorCounts.contains("missing required field"))
  }

  test("ingest → MV refresh end-to-end (registry over the warehouse)") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val f = write(
      npp(1767196019683L, "K 1", 100.0),
      npp(1767196019683L, "K 2", 50.0),
      npp(1764517200000L, "K 1", 25.0), // earlier month
    )
    IngestJob.load(spark, "npp", f, GenerationViews.factPath(wh, "npp"), runId, now)
    val res = Refresh.refreshForSources(spark, wh, GenerationViews.registry(wh), Seq("npp"))
    assert(res("mv_npp_monthly") == 2) // two months
    assert(res("mv_npp_row_counts") == 2)
    val mv = spark.read.parquet(Refresh.viewPath(wh, "mv_npp_monthly"))
      .orderBy("month").collect()
    assert(mv.map(_.getDouble(1)).toSeq == Seq(25.0, 150.0))
  }
}
