package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Size of a BDG2-shaped replica: `buildings` spread over `sites`, one
  * hourly column per building in each meter's wide CSV, `days` of
  * hours from `start`.
  */
final case class Bdg2Shape(
    buildings: Int,
    sites: Int,
    days: Int,
    meters: Seq[String] = Seq("electricity", "chilledwater"),
    start: LocalDate = LocalDate.of(2016, 1, 1)) {
  def hours: Int = days * 24
}

/** One meter reading in long form. `units` is the reading in quarter
  * units: every reading is a multiple of 0.25, so a double sum of any
  * number of them is exact and a rollup can be checked for equality.
  */
final case class Reading(hour: Int, building: Int, meter: String,
    units: Long) {
  def value: Double = units * 0.25
}

/** Seeded, in-process generator of a replica of the Building Data
  * Genome 2 layout the pipeline ingests: per-meter wide CSVs
  * (`timestamp` + one column per building, with null gaps), building
  * metadata and hourly site weather. Every value is a pure function of
  * (seed, coordinates), so the same seed gives the same bytes, and the
  * generator knows the expected counts and exact totals without
  * reading its own output back.
  */
final class Bdg2Gen(seed: Long, shape: Bdg2Shape) {
  import Bdg2Gen._

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)(
      (h, p) => java.lang.Long.rotateLeft(h ^ (p * 0xC2B2AE3D27D4EB4FL), 31)
        * 0x165667B19E3779F9L))

  def buildingId(b: Int): String =
    f"${siteName(siteOf(b))}_${Uses(b % Uses.size)}_b$b%04d"
  def siteOf(b: Int): Int = b % shape.sites
  def siteName(s: Int): String = f"site$s%02d"

  /** Buildings that carry meter `m`, in column order: every building
    * carries the first meter, and a seeded two thirds of them each
    * further one, so the replica's size does not depend on the seed. */
  def buildingsWith(m: Int): IndexedSeq[Int] =
    if (m == 0) 0 until shape.buildings
    else (0 until shape.buildings).sortBy(b => rng(11, b, m).nextLong())
      .take(shape.buildings * 2 / 3).sorted
  /** The gap (missing hours) of one building's meter series: one run
    * of 1..36 hours for about half the series, never the first hour,
    * so no CSV column is ever all-null. */
  private def gap(b: Int, m: Int): Range = {
    val r = rng(13, b, m)
    if (r.nextInt(2) == 0) 0 until 0
    else {
      val len = 1 + r.nextInt(36)
      val from = 1 + r.nextInt(math.max(1, shape.hours - len - 1))
      from until math.min(shape.hours, from + len)
    }
  }

  /** Reading of building `b`, meter `m` at absolute hour `h` (hours
    * from `shape.start`), in quarter units; None inside a gap. Hours
    * past the replica's range are valid: they feed the daily deltas.
    */
  def reading(b: Int, m: Int, h: Int): Option[Long] =
    if (h < shape.hours && gap(b, m).contains(h)) None
    else {
      val base = 40 + (b * 37 + m * 101) % 400
      val daily = math.abs(((h % 24) - 12)) * 3
      Some(base * 4L + daily * 4L + rng(17, b, m, h).nextInt(64))
    }

  def timestamp(h: Int): LocalDateTime =
    shape.start.atStartOfDay().plusHours(h.toLong)

  def readings(m: Int): Iterator[Reading] =
    for {
      b <- buildingsWith(m).iterator
      h <- (0 until shape.hours).iterator
      u <- reading(b, m, h)
    } yield Reading(h, b, shape.meters(m), u)

  /** Expected contents of the melted `raw` table. */
  def expectedRaw: Expected = {
    val totals = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    var cells = 0L
    shape.meters.indices.foreach { m =>
      cells += buildingsWith(m).size.toLong * shape.hours
      readings(m).foreach { r =>
        val k = (buildingId(r.building), r.meter)
        totals(k) += r.units
        counts(k) += 1
      }
    }
    Expected(cells, counts.toMap, totals.toMap)
  }

  /** Writes the wide meter CSVs, metadata and weather under `root` in
    * the folder layout the pipeline's transform stage routes on:
    * `raw/<meter>.csv`, `metadata/metadata.csv`, `weather/weather.csv`.
    * Returns the bytes written.
    */
  def writeCsvs(root: Path): Long = {
    val raw = Files.createDirectories(root.resolve("raw"))
    var bytes = 0L
    shape.meters.indices.foreach { m =>
      val cols = buildingsWith(m)
      val sb = new StringBuilder
      sb.append("timestamp")
      cols.foreach(b => sb.append(',').append(buildingId(b)))
      sb.append('\n')
      (0 until shape.hours).foreach { h =>
        sb.append(TsFmt.format(timestamp(h)))
        cols.foreach { b =>
          sb.append(',')
          reading(b, m, h).foreach(u => sb.append(quarters(u)))
        }
        sb.append('\n')
      }
      bytes += write(raw.resolve(s"${shape.meters(m)}.csv"), sb)
    }
    bytes += write(Files.createDirectories(root.resolve("metadata"))
      .resolve("metadata.csv"), metadataCsv)
    bytes + write(Files.createDirectories(root.resolve("weather"))
      .resolve("weather.csv"), weatherCsv)
  }

  private def metadataCsv: StringBuilder = {
    val sb = new StringBuilder(
      "building_id,site_id,primaryspaceusage,sqft,yearbuilt,numberoffloors\n")
    (0 until shape.buildings).foreach { b =>
      val r = rng(19, b)
      val year = r.nextInt(4) match {
        case 0 => "" // BDG2 leaves many build years blank
        case _ => (1950 + r.nextInt(70)).toString
      }
      sb.append(buildingId(b)).append(',').append(siteName(siteOf(b)))
        .append(',').append(Uses(b % Uses.size))
        .append(',').append(5000 + r.nextInt(200000))
        .append(',').append(year)
        .append(',').append(1 + r.nextInt(12)).append('\n')
    }
    sb
  }

  /** Hourly weather per site; `air_temperature` in tenths of a degree
    * follows a daily cycle around a per-site mean, so degree days vary
    * by day. */
  private def weatherCsv: StringBuilder = {
    val sb = new StringBuilder("timestamp,site_id,air_temperature," +
      "dew_temperature,sea_level_pressure,wind_speed,cloud_coverage\n")
    (0 until shape.sites).foreach { s =>
      (0 until shape.hours).foreach { h =>
        val r = rng(23, s, h)
        val t = 50 + s * 13 - math.abs((h % 24) - 14) * 8 +
          ((h / 24) % 9) * 10 + r.nextInt(20)
        sb.append(TsFmt.format(timestamp(h))).append(',')
          .append(siteName(s)).append(',').append(tenths(t)).append(',')
          .append(tenths(t - 30 - r.nextInt(40))).append(',')
          .append(if (r.nextInt(10) == 0) "" else tenths(10100 + r.nextInt(300)))
          .append(',').append(tenths(r.nextInt(120))).append(',')
          .append(if (r.nextInt(3) == 0) "" else r.nextInt(9).toString)
          .append('\n')
      }
    }
    sb
  }

  // ------------------------------------------------ incremental deltas

  /** The long-format delta of day `d` (days after the replica's last
    * day count from `shape.days`): every reading of that day, plus a
    * re-sent `resendShare` of day `d - 1`'s readings, which a warehouse
    * that already holds day `d - 1` must not append again.
    */
  def delta(d: Int, resendShare: Double): Delta = {
    val fresh = dayReadings(d)
    val resent = dayReadings(d - 1).filter(r =>
      rng(29, d, r.building, r.hour, r.meter.hashCode).nextDouble() < resendShare)
    Delta(d, fresh, resent)
  }

  /** Readings of day `d`, every meter. */
  def dayReadings(d: Int): Seq[Reading] =
    for {
      m <- shape.meters.indices
      b <- buildingsWith(m)
      h <- d * 24 until (d + 1) * 24
      u <- reading(b, m, h)
    } yield Reading(h, b, shape.meters(m), u)

  /** Corrected readings for day `d`: `n` distinct readings of the day
    * re-sent with a new value. */
  def corrections(d: Int, n: Int): Seq[Reading] = {
    val day = dayReadings(d).toIndexedSeq
    val r = rng(31, d)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(n, day.size)) picked += r.nextInt(day.size)
    picked.toSeq.map { i =>
      val old = day(i)
      old.copy(units = old.units + 1 + r.nextInt(400))
    }
  }
}

object Bdg2Gen {
  val Uses: IndexedSeq[String] =
    IndexedSeq("office", "education", "lodging", "assembly", "public")
  val TsFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Decimal text of a quarter-unit reading, always with two places so
    * CSV schema inference types every meter column as double. */
  def quarters(u: Long): String = {
    val cents = u * 25
    f"${cents / 100}%d.${cents % 100}%02d"
  }

  private def tenths(t: Int): String =
    (if (t < 0) "-" else "") + s"${math.abs(t) / 10}.${math.abs(t) % 10}"

  private def write(p: Path, sb: StringBuilder): Long = {
    val b = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(p, b)
    b.length.toLong
  }
}

/** What the melted `raw` table must hold: one row per wide-CSV cell,
  * `cells` in all (buildings × hours per meter; the melt keeps a gap's
  * null readings as rows, as `pandas.melt` does), and per
  * (building_id, meter) the non-null reading count and the exact sum
  * in quarter units. */
final case class Expected(cells: Long,
    counts: Map[(String, String), Long],
    totals: Map[(String, String), Long]) {
  def readings: Long = counts.values.sum
}

/** One daily delta: the day's new readings and the re-sent ones. */
final case class Delta(day: Int, fresh: Seq[Reading], resent: Seq[Reading])
