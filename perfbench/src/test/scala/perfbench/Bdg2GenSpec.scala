package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class Bdg2GenSpec extends AnyFunSuite {

  private val shape = Bdg2Shape(buildings = 12, sites = 3, days = 5)

  private def csvs(seed: Long): (Path, Long) = {
    val dir = Files.createTempDirectory("bdg2gen")
    (dir, new Bdg2Gen(seed, shape).writeCsvs(dir))
  }

  private def read(p: Path): Seq[Array[String]] =
    Files.readAllLines(p).asScala.toSeq.map(_.split(",", -1))

  private def allBytes(dir: Path): Seq[(String, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .sortBy(_._1)

  test("the same seed gives the same bytes; another seed other readings") {
    val (a, na) = csvs(7)
    val (b, nb) = csvs(7)
    val (c, _) = csvs(8)
    assert(na == nb)
    assert(allBytes(a) == allBytes(b))
    assert(allBytes(a) != allBytes(c))
    val g7 = new Bdg2Gen(7, shape)
    assert(g7.delta(6, 0.1) == new Bdg2Gen(7, shape).delta(6, 0.1))
    assert(g7.corrections(6, 5) == new Bdg2Gen(7, shape).corrections(6, 5))
  }

  test("wide CSVs hold hours x buildings cells, with gaps as empty cells") {
    val (dir, bytes) = csvs(3)
    val gen = new Bdg2Gen(3, shape)
    val exp = gen.expectedRaw
    var cells, empty = 0L
    shape.meters.zipWithIndex.foreach { case (m, i) =>
      val rows = read(dir.resolve("raw").resolve(s"$m.csv"))
      assert(rows.head.toSeq ==
        "timestamp" +: gen.buildingsWith(i).map(gen.buildingId))
      assert(rows.size == shape.hours + 1)
      rows.tail.foreach { r =>
        assert(r.length == gen.buildingsWith(i).size + 1)
        cells += r.length - 1
        empty += r.tail.count(_.isEmpty)
      }
      // no column is empty throughout, so schema inference sees numbers
      rows.head.indices.tail.foreach(c => assert(rows(1)(c).nonEmpty))
    }
    assert(cells == exp.cells)
    assert(cells - empty == exp.readings)
    assert(empty > 0)
    assert(read(dir.resolve("metadata").resolve("metadata.csv")).size ==
      shape.buildings + 1)
    assert(read(dir.resolve("weather").resolve("weather.csv")).size ==
      shape.sites * shape.hours + 1)
    assert(bytes == allBytes(dir).map(_._2.size.toLong).sum)
  }

  test("expected totals equal the sums of the written readings") {
    val (dir, _) = csvs(5)
    val exp = new Bdg2Gen(5, shape).expectedRaw
    val sums = scala.collection.mutable.Map.empty[(String, String), BigDecimal]
      .withDefaultValue(BigDecimal(0))
    shape.meters.foreach { m =>
      val rows = read(dir.resolve("raw").resolve(s"$m.csv"))
      rows.tail.foreach(r => r.indices.tail.filter(r(_).nonEmpty).foreach { c =>
        sums((rows.head(c), m)) += BigDecimal(r(c))
      })
    }
    assert(sums.toMap == exp.totals.map { case (k, u) => k -> BigDecimal(u) * 0.25 })
    assert(exp.counts.values.sum == exp.readings)
  }

  test("a delta holds its whole day plus re-sent readings of the day before") {
    val gen = new Bdg2Gen(9, shape)
    val d = gen.delta(shape.days, 0.1)
    val buildingMeters = shape.meters.indices.map(gen.buildingsWith(_).size).sum
    assert(d.fresh.size == buildingMeters * 24)
    assert(d.fresh.forall(r => r.hour / 24 == shape.days))
    assert(d.resent.nonEmpty && d.resent.size < d.fresh.size / 5)
    assert(d.resent.toSet.subsetOf(gen.dayReadings(shape.days - 1).toSet))
    val fixes = gen.corrections(shape.days, 10)
    val keys = fixes.map(f => (f.hour, f.building, f.meter))
    assert(keys.distinct.size == 10)
    val byKey = d.fresh.map(r => (r.hour, r.building, r.meter) -> r.units).toMap
    fixes.foreach(f => assert(byKey(f.hour, f.building, f.meter) != f.units))
  }

  test("readings are quarter units written with two decimals") {
    assert(Bdg2Gen.quarters(0) == "0.00")
    assert(Bdg2Gen.quarters(5) == "1.25")
    assert(Bdg2Gen.quarters(402) == "100.50")
  }
}
