package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{Harmonize, Rollups, Stats => AggStats}
import graft.dedup.Dedup
import graft.ingest.{IngestJob, JsonlSource}
import graft.schema.Schemas
import graft.sink.IdempotentAppend
import graft.validate.{Rules, Validator}
import graft.views.{GenerationViews, Refresh}

/** The power-generation side of the benchmark: generated JSONL batches
  * loaded through `IngestJob.load`, run metadata, view refreshes and
  * dashboard reads, each checked against [[PowerGen.Model]].
  *
  * With a tracer, every load additionally runs the stages of
  * `IngestJob.load` one by one — scan+enrich, validate, first-wins
  * dedup, idempotent append — with each boundary forced, into a second
  * warehouse whose tables must end up identical to the first.
  */
final class Etl(
    spark: SparkSession,
    dir: String,
    seed: Long,
    /** plants per source */
    plantCounts: Map[String, Int],
    rec: Recorder,
) {
  private var tr: Option[Tracer] = None

  /** Starts tracing: from here on every load also runs staged, into a
    * copy of the warehouse's fact tables as they stand now. */
  def trace(t: Tracer): Unit = {
    tr = Some(t)
    sources.foreach { s =>
      val from = java.nio.file.Paths.get(GenerationViews.factPath(wh, s))
      val to = java.nio.file.Paths.get(GenerationViews.factPath(whStaged, s))
      val files = java.nio.file.Files.walk(from)
      try files.forEach { f =>
        val dst = to.resolve(from.relativize(f).toString)
        if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(f, dst)
      } finally files.close()
    }
  }
  import Etl._

  val wh = s"$dir/wh"
  private val whStaged = s"$dir/wh_staged"
  private val inDir = s"$dir/in"
  new java.io.File(inDir).mkdirs()

  val model = new PowerGen.Model
  private val plants: Map[String, IndexedSeq[PowerGen.Plant]] =
    plantCounts.map { case (s, n) => s -> PowerGen.plants(seed, s, n) }
  private val registry = GenerationViews.registry(wh)
  private val nextSlot = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var batchNo = 0
  private var opNo = 0L
  private val readRng = new java.util.SplittableRandom(PowerGen.mix(seed, 505L))
  private val loaded = mutable.Set.empty[String]
  val delivered: mutable.ArrayBuffer[PowerGen.Batch] = mutable.ArrayBuffer.empty

  /** The sources loaded so far, in a fixed order (set-up loads them
    * concurrently, so the order they finished in is not a function of
    * the seed). */
  def sources: Seq[String] = synchronized(PowerGen.Sources.filter(loaded))

  private def traced[A](name: String)(f: => A): A = tr match {
    case Some(t) => t.span(name, opNo)(f)
    case None => f
  }

  /** Writes the next batch of `source`: `slots` new slots, starting
    * `overlap` slots back so those keys are delivered again. */
  def nextBatch(source: String, slots: Int, overlap: Int): PowerGen.Batch = {
    val t0 = System.nanoTime()
    val from = math.max(0, nextSlot(source) - overlap)
    val until = nextSlot(source) + slots
    val path = s"$inDir/$source-$batchNo.jsonl"
    val b = PowerGen.writeBatch(seed, source, plants(source), from, until, batchNo, PowerGen.Rates(), path, model)
    nextSlot(source) = until
    batchNo += 1
    rec.add("gen_s", (System.nanoTime() - t0) / 1e9)
    b
  }

  /** One `IngestJob.load`, checked against the batch's ground truth.
    * `kind` names its latency sample: `load`, `redelivery` (a batch
    * delivered again, so nothing is new) or `setup_load`. */
  def load(b: PowerGen.Batch, expect: PowerGen.Expect, kind: String = "load"): Option[IngestJob.LoadResult] = {
    opNo += 1
    val r = traced("load") {
      val r = traced("load.e2e") {
        rec.op(kind, expect.lines.toDouble)(IngestJob.load(spark, b.source, b.path, GenerationViews.factPath(wh, b.source),
          b.runId, PowerGen.NowMs))(r => checkLoad(r, expect))
      }
      if (tr.isDefined) traced("load.staged")(stagedLoad(b, expect))
      r
    }
    synchronized {
      loaded += b.source
      delivered += b
    }
    r
  }

  def checkLoad(r: IngestJob.LoadResult, e: PowerGen.Expect): Seq[String] = {
    val corrupt = r.report.errorCounts.getOrElse(CorruptKey, 0L)
    Seq(
      diff("lines", r.report.total, e.lines),
      diff("corrupt", corrupt, e.corrupt),
      diff("invalid", r.report.invalid - corrupt, e.invalid),
      diff("valid", r.report.valid, e.valid),
      diff("inserted", r.upsert.inserted, e.inserted),
      diff("duplicates", r.upsert.duplicates, e.duplicates),
    ).flatten
  }

  /** The stages of `IngestJob.load`, called one after another with
    * each boundary forced, into the staged warehouse. */
  private def stagedLoad(b: PowerGen.Batch, e: PowerGen.Expect): Unit = {
    val t = tr.get
    val src = b.source
    val owned = mutable.ArrayBuffer.empty[DataFrame]
    def own(df: DataFrame): DataFrame = { val c = df.cache(); owned += c; c }
    try {
      val (enriched, rows) = t.span("ingest", opNo) {
        val raw = own(JsonlSource.readJsonlWithVariant(spark, b.path, Schemas.readSchemas(src)))
        val (good, bad) = JsonlSource.splitCorrupt(raw)
        val corrupt = bad.count()
        val enriched = own(IngestJob.enrich(src, good, b.runId, PowerGen.NowMs))
        val rows = enriched.count()
        t.count("lines", (rows + corrupt).toDouble)
        t.count("rows", rows.toDouble)
        t.count("corrupt", corrupt.toDouble)
        (enriched, rows)
      }
      val (valid, vc) = t.span("validate", opNo) {
        val rules = IngestJob.rules(src, PowerGen.NowMs,
          isMissing = Rules.variantMissing(col(JsonlSource.VariantCol))) ++ IngestJob.typeRules(src)
        val annotated = own(Validator.annotate(enriched, rules))
        val vc = annotated.filter(Validator.isValid).count()
        t.count("in", rows.toDouble)
        t.count("valid", vc.toDouble)
        (Validator.validRecords(annotated).drop(JsonlSource.VariantCol), vc)
      }
      val (deduped, kept) = t.span("dedup", opNo) {
        val d = own(Dedup.firstWinsByName(valid, Schemas.naturalKeys(src), Seq(JsonlSource.LineOrderCol))
          .drop(JsonlSource.LineOrderCol))
        val kept = d.count()
        t.count("in", vc.toDouble)
        t.count("kept", kept.toDouble)
        (d, kept)
      }
      val up = t.span("sink", opNo) {
        val up = IdempotentAppend.appendNew(spark, deduped, GenerationViews.factPath(whStaged, src),
          Schemas.naturalKeys(src), nullSafeCols = Schemas.nullSafeKeyParts(src), incomingCount = Some(vc))
        t.count("in", kept.toDouble)
        t.count("inserted", up.inserted.toDouble)
        up
      }
      val bad = Seq(diff("staged valid", vc, e.valid), diff("staged inserted", up.inserted, e.inserted)).flatten
      if (bad.nonEmpty) rec.gate("staged load")(bad)
    } finally owned.foreach(_.unpersist())
  }

  def metadata(r: IngestJob.LoadResult, timed: Boolean = true): Unit = {
    opNo += 1
    traced("warehouse.metadata") {
      rec.op(if (timed) "metadata" else "setup_metadata")(IngestJob.recordMetadata(spark, s"$wh/extraction_metadata", r, PowerGen.NowMs))(_ => Nil)
    }
  }

  def refresh(srcs: Seq[String], timed: Boolean = true): Unit = {
    opNo += 1
    traced("views") {
      rec.op(if (timed) "refresh" else "setup_refresh")(Refresh.refreshForSources(spark, wh, registry, srcs)) { m =>
        tr.foreach(_.count("rows_published", m.values.sum.toDouble))
        srcs.flatMap { s =>
          val months = model.monthlyCounts(s).size.toLong
          diff(s"mv_${s}_row_counts rows", m.getOrElse(s"mv_${s}_row_counts", -1L), months).toSeq ++
            (if (MonthlyViews(s)) diff(s"mv_${s}_monthly rows", m.getOrElse(s"mv_${s}_monthly", -1L),
              model.monthlySums(s).keys.map(k => if (s == "npp") (k._1, "") else k).toSet.size.toLong)
            else None)
        }
      }
    }
  }

  private def facts: Seq[(String, DataFrame, org.apache.spark.sql.Column)] =
    sources.map(s => (s, spark.read.parquet(GenerationViews.factPath(wh, s)),
      Rollups.msToTs(col("timestamp_ms"))))

  /** A month cutoff that favours recent months: three times in four
    * one of the last two months with data, otherwise any month. */
  private def cutoff(source: String): String = {
    val ms = model.months(source)
    if (readRng.nextInt(4) > 0) ms(math.max(0, ms.size - 1 - readRng.nextInt(2)))
    else ms(readRng.nextInt(ms.size))
  }

  /** One dashboard read of the given kind, checked against the model. */
  def read(kind: String, timed: Boolean = true): Unit = {
    opNo += 1
    val opKind = if (timed) "query" else "setup_query"
    traced(s"agg.$kind") {
      kind match {
        case "view_read" =>
          val srcs = sources
          val withMonthly = srcs.filter(MonthlyViews)
          val rowCounts = withMonthly.isEmpty || readRng.nextInt(3) == 0
          val src = if (rowCounts) srcs(readRng.nextInt(srcs.size))
            else withMonthly(readRng.nextInt(withMonthly.size))
          val from = cutoff(src)
          if (rowCounts) {
            rec.op(opKind)(spark.read.parquet(Refresh.viewPath(wh, s"mv_${src}_row_counts"))
              .filter(col("month") >= from).collect()) { rows =>
              val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
              val want = model.monthlyCounts(src).filter(_._1 >= from)
              sameMap(s"mv_${src}_row_counts", got, want)
            }
          } else {
            rec.op(opKind)(spark.read.parquet(Refresh.viewPath(wh, s"mv_${src}_monthly"))
              .filter(col("month") >= from).collect()) { rows =>
              val got = rows.map { r =>
                val fuel = if (src == "npp") "" else r.getAs[String]("fuel_type")
                (r.getAs[String]("month"), fuel) -> sixteenths(r.getAs[Double]("total_generation_mwh"))
              }.toMap
              sameMap(s"mv_${src}_monthly", got, monthlyWant(src, from))
            }
          }
        case "monthly_raw" =>
          val src = if (sources.contains("eia")) "eia" else sources.head
          val measure = col(Schemas.measureColumn(src))
          val fuel = Harmonize.fuelColumn(src).getOrElse("fuel_type")
          rec.op(opKind)(Rollups.monthly(spark.read.parquet(GenerationViews.factPath(wh, src)),
            Rollups.msToTs(col("timestamp_ms")), Seq("fuel" -> col(fuel)),
            if (src == "entsoe") Rollups.mwToMwh(measure, col("resolution_minutes")) else measure)
            .collect()) { rows =>
            val got = rows.map(r => (r.getString(0), r.getString(1)) -> sixteenths(r.getDouble(2))).toMap
            sameMap(s"$src monthly", got, model.monthlySums(src))
          }
        case "coverage" =>
          rec.op(opKind)(Rollups.coverageMatrix(facts).collect()) { rows =>
            val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
            val want = sources.flatMap(s => model.monthlyCounts(s).map { case (m, n) => (s, m) -> n }).toMap
            sameMap("coverage", got, want)
          }
        case "harmonized" =>
          val srcs = sources
          val src = srcs(readRng.nextInt(srcs.size))
          val from = cutoff(src)
          val fromMs = java.time.LocalDate.parse(from).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
          rec.op(opKind)(Harmonize.harmonizedView(spark, wh).filter(col("timestamp_ms") >= fromMs)
            .groupBy("source").agg(count(lit(1)), sum("generation_mwh")).collect()) { rows =>
            val got = rows.map(r => r.getString(0) -> (r.getLong(1), sixteenths(r.getDouble(2)))).toMap
            val want = srcs.map { s =>
              val rs = model.table(s).values.filter(_.ts >= fromMs)
              s -> (rs.size.toLong, rs.map(_.mwh16).sum)
            }.filter(_._2._1 > 0).toMap
            sameMap("harmonized", got, want)
          }
        case "latest_dates" =>
          rec.op(opKind)(AggStats.latestDates(facts).collect()) { rows =>
            val got = rows.map(r => r.getString(0) -> r.getDate(1).toString).toMap
            sameMap("latest_dates", got, sources.map(s => s -> model.latestDay(s)).toMap)
          }
      }
    }
  }

  private def monthlyWant(src: String, from: String): Map[(String, String), Long] =
    model.monthlySums(src).toSeq.collect {
      case ((m, f), v) if m >= from => (m, if (src == "npp") "" else f) -> v
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Fact-table rows and the files/bytes they occupy on disk. */
  def factStats: (Long, Long) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    sources.map { s =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(GenerationViews.factPath(wh, s)))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      (files.length.toLong, files.map(_.getLen).sum)
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** End-of-run gate: every fact table holds exactly the model's rows,
    * and the staged warehouse (traced runs) is identical to it. */
  def finalGate(): Unit = sources.foreach { s =>
    rec.gate(s"$s table rows") {
      diff("rows", spark.read.parquet(GenerationViews.factPath(wh, s)).count(), model.rows(s)).toSeq
    }
    if (tr.isDefined) rec.gate(s"$s staged digest") {
      val a = digest(spark.read.parquet(GenerationViews.factPath(wh, s)))
      val b = digest(spark.read.parquet(GenerationViews.factPath(whStaged, s)))
      if (a == b) Nil else Seq(s"IngestJob.load digest $a != staged digest $b")
    }
  }
}

object Etl {
  val CorruptKey = "_corrupt: unparseable JSON line"
  val MonthlyViews: Set[String] = Set("entsoe", "ons", "npp", "occto", "chile")
  /** Dashboard reads that scan the fact tables directly. */
  val RawReadKinds: IndexedSeq[String] = IndexedSeq("monthly_raw", "coverage", "harmonized", "latest_dates")
  val ReadKinds: IndexedSeq[String] = "view_read" +: RawReadKinds

  def diff(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** A double that must be an exact multiple of 1/16, as an integer. */
  def sixteenths(v: Double): Long = {
    val x = BigDecimal(v) * 16
    if (x.isWhole) x.toLongExact else Long.MinValue
  }

  def sameMap[K, V](what: String, got: Map[K, V], want: Map[K, V]): Seq[String] =
    if (got == want) Nil
    else {
      val keys = (got.keySet ++ want.keySet).toSeq.filter(k => got.get(k) != want.get(k))
      Seq(s"$what: ${keys.size} mismatches, e.g. " + keys.take(3).map(k =>
        s"$k got ${got.get(k)} want ${want.get(k)}").mkString(", "))
    }

  /** Order-independent content digest of a table. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string")).head()
    (r.getLong(0), String.valueOf(r.getString(1)))
  }
}
