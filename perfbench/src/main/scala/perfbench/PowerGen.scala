package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded power-generation JSONL generator with its own ground truth.
  *
  * Every record has a natural key that is unique by construction: a
  * plant emits at most one record per time slot (it is "active" in a
  * slot when a seeded hash falls under its activity level, so plant
  * sizes are skewed). Anomalies are planted at fixed rates, each with
  * a known effect on the load:
  *
  *   - in-file duplicates: the same key again a few lines later, with
  *     a different value and another surface form (suffix, timestamp
  *     format); the first line wins;
  *   - invalid lines: well-formed JSON that breaks a rule (negative
  *     measure, missing dimension, wrong token type);
  *   - corrupt lines: a truncated record that is not JSON at all.
  *
  * [[Model]] replays what the warehouse must contain after each load:
  * the inserted/duplicate/invalid/corrupt counts and, per source, the
  * stored rows with their monthly sums in exact integer units.
  * Measures are multiples of 0.25 MW(h), so every sum a view computes
  * in doubles is exact and compares decimal-exactly.
  */
object PowerGen {

  val Sources: Seq[String] = Seq("entsoe", "ons", "npp", "occto", "chile", "eia")

  /** 2023-01-01T00:00:00Z: slot 0 of every source. */
  val EpochMs: Long = 1672531200000L
  /** The `nowMs` every load is given (2026-01-01), so validation
    * against "not in the future" is seed-stable. */
  val NowMs: Long = 1767225600000L
  val CreatedAtMs: Long = 1735689600000L

  val slotMinutes: Map[String, Int] = Map(
    "entsoe" -> 60, "ons" -> 60, "npp" -> 1440, "occto" -> 30, "chile" -> 60, "eia" -> 0)

  def slotMs(source: String, slot: Int): Long =
    if (source == "eia")
      LocalDate.of(2023, 1, 1).plusMonths(slot.toLong).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    else EpochMs + slot.toLong * slotMinutes(source) * 60000L

  def monthOf(ms: Long): String = {
    val d = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate
    f"${d.getYear}%04d-${d.getMonthValue}%02d-01"
  }

  def dayOf(ms: Long): String = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate.toString

  /** Rates at which anomalies are planted, per emitted record. */
  final case class Rates(dup: Double = 0.03, invalid: Double = 0.01, corrupt: Double = 0.004)

  final case class Plant(
      idx: Int,
      name: String,
      id: Option[String],
      fuel: String,
      psr: String,
      country: String,
      resolution: Int,
      activity: Double,
      capacityQ: Int,
  )

  private val PsrCodes = graft.ingest.Enrich.PsrToFuelType.keys.toSeq.sorted
  private val Fuels = Seq("hydro", "wind", "solar", "gas", "coal", "nuclear", "biomass", "oil")
  private val Countries = Seq("DE", "FR", "ES", "IT", "PL", "NL", "BE", "AT")
  private val States = Seq("TX", "CA", "NY", "FL", "WA", "OH", "PA", "GA")
  private val PrimeMovers = Seq("ST", "GT", "CT", "CA", "HY", "WT", "PV")

  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private def sourceTag(source: String): Long = source.hashCode.toLong

  /** The seed's plant population for one source: activity falls off
    * as a power of the plant rank and capacity as a steeper one, so a
    * few plants dominate both row count and volume. */
  def plants(seed: Long, source: String, n: Int): IndexedSeq[Plant] =
    (0 until n).map { i =>
      val h = mix(seed, sourceTag(source), i.toLong, 1L)
      val psr = PsrCodes((h & 0xff).toInt % PsrCodes.size)
      val fuel =
        if (source == "entsoe") graft.ingest.Enrich.PsrToFuelType(psr)
        else Fuels(((h >>> 8) & 0xff).toInt % Fuels.size)
      val nullableId = Set("ons", "chile", "occto")(source) && ((h >>> 16) & 7) == 0
      val id =
        if (nullableId) None
        else Some(f"${source.take(2).toUpperCase}${(h >>> 20) & 0xffff}%05d-$i")
      Plant(
        idx = i,
        name = f"${source.capitalize} Plant ${i}%04d",
        id = id,
        fuel = fuel,
        psr = psr,
        country = Countries(((h >>> 40) & 0xff).toInt % Countries.size),
        resolution = if (source == "entsoe" && ((h >>> 48) & 3) == 0) 15 else slotMinutes(source),
        activity = math.max(0.15, 1.0 / math.pow(1.0 + i, 0.35)),
        capacityQ = math.max(8, (40000.0 / math.pow(1.0 + i, 0.8)).toInt),
      )
    }

  /** One stored row: the month and fuel a view groups it by, and its
    * energy in 1/16 MWh (exact for quarter-MW values at 15/30/60-minute
    * resolution). */
  final case class Row(ts: Long, fuel: String, mwh16: Long)

  /** Expected accounting of one load. `duplicates` is what
    * `IngestJob.load` reports: valid lines that were not inserted,
    * whether the key repeated inside the file or was already stored. */
  final case class Expect(
      lines: Long,
      corrupt: Long,
      invalid: Long,
      valid: Long,
      inFileDuplicates: Long,
      inserted: Long,
  ) {
    def duplicates: Long = valid - inserted
  }

  final case class Batch(source: String, path: String, bytes: Long, runId: String, expect: Expect)

  /** Replays the warehouse: per source, every stored natural key with
    * the row its first valid occurrence carried. */
  final class Model {
    val tables: mutable.Map[String, mutable.LinkedHashMap[String, Row]] = mutable.Map.empty
    def table(source: String): mutable.LinkedHashMap[String, Row] =
      tables.getOrElseUpdate(source, mutable.LinkedHashMap.empty)
    def rows(source: String): Long = tables.get(source).map(_.size.toLong).getOrElse(0L)

    /** (month, fuel) → Σ mwh16 for a source's monthly view. */
    def monthlySums(source: String): Map[(String, String), Long] =
      table(source).values.groupMapReduce(r => (monthOf(r.ts), r.fuel))(_.mwh16)(_ + _)

    def monthlyCounts(source: String): Map[String, Long] =
      table(source).values.groupMapReduce(r => monthOf(r.ts))(_ => 1L)(_ + _)

    def latestDay(source: String): String =
      if (rows(source) == 0) "1970-01-01" else dayOf(table(source).values.map(_.ts).max)

    def months(source: String): Seq[String] = table(source).values.map(r => monthOf(r.ts)).toSeq.distinct.sorted
  }

  private def q(s: String): String = "\"" + s + "\""

  private def fmtQ(q4: Long): String = {
    val whole = q4 / 4
    (q4 % 4) match {
      case 0 => s"$whole.0"
      case 1 => s"$whole.25"
      case 2 => s"$whole.5"
      case _ => s"$whole.75"
    }
  }

  private val DataTypeSuffix = graft.ingest.Enrich.DataTypeSuffixes.head
  private val DateTimeFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** The JSON line of one valid record, in one of the source's surface
    * forms (`variant` picks suffixes and timestamp formats). */
  private def render(source: String, p: Plant, ts: Long, valueQ: Long, runId: String,
      variant: Int, drop: Option[String] = None, badMeasure: Boolean = false): String = {
    val measure = if (badMeasure) q("n/a") else fmtQ(valueQ)
    val env = Seq(
      "extraction_run_id" -> q(runId),
      "created_at_ms" -> CreatedAtMs.toString,
      "timestamp_ms" -> ts.toString)
    val fields: Seq[(String, String)] = source match {
      case "entsoe" =>
        val tsTok = variant % 3 match {
          case 0 => ts.toString
          case 1 => q(ts.toString)
          case _ =>
            q(DateTimeFmt.format(Instant.ofEpochMilli(ts).atZone(ZoneOffset.UTC)))
        }
        val name = (variant / 3) % 4 match {
          case 0 => p.name
          case 1 => s"${p.name}_$DataTypeSuffix"
          case 2 => s"${p.name}_${p.fuel}"
          case _ => s"${p.name}_${p.fuel}_$DataTypeSuffix"
        }
        val fuelTok = if (variant % 2 == 0) p.fuel else "Unknown"
        Seq("extraction_run_id" -> q(runId), "created_at_ms" -> CreatedAtMs.toString,
          "timestamp_ms" -> tsTok,
          "country_code" -> q(p.country), "psr_type" -> q(p.psr), "plant_name" -> q(name),
          "fuel_type" -> q(fuelTok), "data_type" -> q(DataTypeSuffix),
          "resolution_minutes" -> p.resolution.toString, "generation_mw" -> measure)
      case "ons" =>
        env ++ Seq("plant" -> q(p.name), "ons_plant_id" -> p.id.map(q).getOrElse("null"),
          "plant_type" -> q("UHE"), "fuel_type" -> q(p.fuel), "subsystem_id" -> q("SE"),
          "subsystem" -> q("Sudeste"), "state" -> q("MG"), "state_name" -> q("Minas Gerais"),
          "operation_mode" -> q("TIPO I"), "ceg" -> q(s"CEG.${p.idx}"), "generation_mwh" -> measure)
      case "npp" =>
        env ++ Seq("plant" -> q(p.name), "plant_and_unit" -> q(s"${p.name} U${p.idx % 3 + 1}"),
          "unit" -> q(s"U${p.idx % 3 + 1}"), "generation_mwh" -> measure)
      case "occto" =>
        env ++ Seq("plant" -> q(p.name), "unit" -> p.id.map(q).getOrElse("null"),
          "plant_code" -> q(s"JP${p.idx}"), "fuel_type" -> q(p.fuel), "area_name" -> q("Tokyo"),
          "generation_mwh" -> measure)
      case "chile" =>
        env ++ Seq("plant" -> q(p.name), "chile_plant_id" -> p.id.map(q).getOrElse("null"),
          "fuel_type" -> q(p.fuel), "region" -> q("Atacama"), "generation_mwh" -> measure)
      case "eia" =>
        env ++ Seq("utility_id" -> q(s"U${p.idx % 50}"), "plant_code" -> q(s"${1000 + p.idx}"),
          "generator_id" -> q(s"G${p.idx % 4}"), "state" -> q(States(p.idx % States.size)),
          "prime_mover" -> q(PrimeMovers(p.idx % PrimeMovers.size)), "fuel_source" -> q(p.fuel),
          "net_generation_mwh" -> measure)
    }
    fields.filterNot { case (k, _) => drop.contains(k) }
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  }

  def key(source: String, p: Plant, ts: Long): String = source match {
    case "entsoe" => s"$ts|${p.country}|${p.psr}|${p.name}"
    case "ons" | "occto" | "chile" => s"$ts|${p.name}|${p.id.getOrElse("")}"
    case "npp" => s"$ts|${p.name} U${p.idx % 3 + 1}"
    case "eia" => s"$ts|${1000 + p.idx}|G${p.idx % 4}"
  }

  /** Energy of a record in 1/16 MWh as the monthly view computes it
    * (ENTSO-E's MW × resolution / 60, MWh as-is elsewhere). */
  def mwh16(source: String, p: Plant, valueQ: Long): Long =
    if (source == "entsoe") valueQ * 4 * p.resolution / 60 else valueQ * 4

  private val RequiredDim: Map[String, String] = Map(
    "entsoe" -> "plant_name", "ons" -> "plant", "npp" -> "plant_and_unit",
    "occto" -> "plant", "chile" -> "plant", "eia" -> "generator_id")

  private val MeasureField: Map[String, String] = Map(
    "entsoe" -> "generation_mw", "eia" -> "net_generation_mwh").withDefaultValue("generation_mwh")

  /** Writes the JSONL batch of `source` for slots [from, until) to
    * `path`, applies it to `model` and returns the expected accounting.
    * `batchNo` only seeds the planted anomalies and the run id. */
  def writeBatch(
      seed: Long,
      source: String,
      plantSet: IndexedSeq[Plant],
      from: Int,
      until: Int,
      batchNo: Int,
      rates: Rates,
      path: String,
      model: Model,
  ): Batch = {
    val rng = new SplittableRandom(mix(seed, sourceTag(source), batchNo.toLong, 7L))
    val runId = new java.util.UUID(mix(seed, batchNo.toLong, 11L), mix(seed, batchNo.toLong, 13L))
      .toString.patch(14, "4", 1).patch(19, "a", 1)
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path), 1 << 16)
    var bytes = 0L
    def emit(line: String): Unit = {
      val b = (line + "\n").getBytes(UTF_8)
      out.write(b); bytes += b.length
    }
    val pending = mutable.PriorityQueue.empty[(Long, String)](Ordering.by[(Long, String), Long](-_._1))
    var lineNo = 0L
    var lines, corrupt, invalid, valid, inFileDups, inserted = 0L
    val seen = mutable.HashSet.empty[String]
    val table = model.table(source)
    def flushDue(): Unit =
      while (pending.nonEmpty && pending.head._1 <= lineNo) {
        emit(pending.dequeue()._2); lineNo += 1; lines += 1; valid += 1; inFileDups += 1
      }
    var slot = from
    while (slot < until) {
      val ts = slotMs(source, slot)
      plantSet.foreach { p =>
        val h = mix(seed, sourceTag(source), p.idx.toLong, slot.toLong)
        if (unit(h) < p.activity) {
          val valueQ = (mix(h, 3L) >>> 1) % p.capacityQ
          val k = key(source, p, ts)
          val variant = rng.nextInt(12)
          val r = rng.nextDouble()
          if (r < rates.corrupt) {
            val full = render(source, p, ts, valueQ, runId, variant)
            emit(full.take(full.length / 2 + rng.nextInt(full.length / 3)))
            lines += 1; corrupt += 1
          } else if (r < rates.corrupt + rates.invalid) {
            val line = rng.nextInt(3) match {
              case 0 => render(source, p, ts, valueQ, runId, variant).replace(
                s"\"${MeasureField(source)}\":${fmtQ(valueQ)}", s"\"${MeasureField(source)}\":-${fmtQ(valueQ + 1)}")
              case 1 => render(source, p, ts, valueQ, runId, variant, drop = Some(RequiredDim(source)))
              case _ => render(source, p, ts, valueQ, runId, variant, badMeasure = true)
            }
            emit(line); lines += 1; invalid += 1
          } else {
            emit(render(source, p, ts, valueQ, runId, variant))
            lines += 1; valid += 1
            if (seen.add(k) && !table.contains(k)) {
              table.put(k, Row(ts, p.fuel, mwh16(source, p, valueQ)))
              inserted += 1
            }
            if (rng.nextDouble() < rates.dup) {
              val later = lineNo + 1 + rng.nextInt(40)
              pending.enqueue(later -> render(source, p, ts, valueQ + 1, runId, variant + 1 + rng.nextInt(10)))
            }
          }
          lineNo += 1
          flushDue()
        }
      }
      slot += 1
    }
    while (pending.nonEmpty) {
      emit(pending.dequeue()._2); lines += 1; valid += 1; inFileDups += 1
    }
    out.close()
    Batch(source, path, bytes, runId, Expect(lines, corrupt, invalid, valid, inFileDups, inserted))
  }
}
