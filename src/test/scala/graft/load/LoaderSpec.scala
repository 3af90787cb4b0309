package graft.load

import graft.SparkSpec
import graft.store.Warehouse
import java.nio.file.Files
import java.sql.Timestamp

class LoaderSpec extends SparkSpec {
  import spark.implicits._

  private def freshWarehouse(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_wh").toString)

  private def ts(s: String) = Timestamp.valueOf(s)

  private def batch(rows: (String, String, Double)*) =
    rows.map { case (t, b, v) => (ts(t), b, v) }
      .toDF("timestamp", "building_id", "meter_reading")

  test("dedupAppend is idempotent: second identical load appends nothing") {
    val wh = freshWarehouse()
    val loader = new Loader(spark, wh)
    val b = batch(
      ("2016-01-01 00:00:00", "b1", 1.0),
      ("2016-01-01 01:00:00", "b1", 2.0),
      ("2016-01-01 00:00:00", "b2", 3.0))
    val keys = Seq("timestamp", "building_id")

    val s1 = loader.dedupAppend(b, "raw", keys)
    assert(s1.appendedRows === 3 && s1.skippedAsDuplicate === 0)
    val s2 = loader.dedupAppend(b, "raw", keys)
    assert(s2.appendedRows === 0 && s2.skippedAsDuplicate === 3)
    assert(wh.read("raw").count() === 3)
  }

  test("dedupAppend drops in-batch duplicate keys") {
    val wh = freshWarehouse()
    val loader = new Loader(spark, wh)
    val b = batch(
      ("2016-01-01 00:00:00", "b1", 1.0),
      ("2016-01-01 00:00:00", "b1", 99.0))
    val stats = loader.dedupAppend(b, "raw", Seq("timestamp", "building_id"))
    assert(stats.incomingRows === 2 && stats.dedupedRows === 1 &&
      stats.appendedRows === 1)
  }

  test("overlap check reports range + entities, honors +-1h widening") {
    val wh = freshWarehouse()
    val loader = new Loader(spark, wh)
    loader.dedupAppend(
      batch(("2016-01-01 10:00:00", "b1", 1.0)),
      "raw", Seq("timestamp", "building_id"))

    // same entity, 30min away → inside the ±1h widened window
    val near = batch(("2016-01-01 10:30:00", "b1", 2.0))
    val r1 = loader.checkOverlap(near, "raw", "timestamp", "building_id")
    assert(r1.hasOverlap && r1.affectedEntities === Seq("b1"))

    // same entity, 3h away → outside
    val far = batch(("2016-01-01 14:00:00", "b1", 2.0))
    assert(!loader.checkOverlap(far, "raw", "timestamp", "building_id").hasOverlap)

    // different entity, same time → no overlap
    val other = batch(("2016-01-01 10:00:00", "b9", 2.0))
    assert(!loader.checkOverlap(other, "raw", "timestamp", "building_id").hasOverlap)
  }

  test("re-ingest into a date-partitioned table scans only overlapping date partitions") {
    import graft.store.Warehouse
    val wh = freshWarehouse()
    val loader = new Loader(spark, wh)
    val keys = Seq("timestamp", "building_id")
    loader.dedupAppend(batch(
      ("2016-01-01 00:00:00", "b1", 1.0),
      ("2016-01-02 00:00:00", "b1", 2.0),
      ("2016-02-01 00:00:00", "b1", 3.0)), "raw", keys, Some("timestamp"))

    // physical layout: date directories, hidden from logical reads
    assert(wh.readRaw("raw").columns.contains(Warehouse.DerivedDateCol))
    assert(!wh.read("raw").columns.contains(Warehouse.DerivedDateCol))
    assert(wh.read("raw").count() === 3)

    // idempotent second load of one day's batch
    val feb = batch(("2016-02-01 00:00:00", "b1", 3.0))
    val s2 = loader.dedupAppend(feb, "raw", keys, Some("timestamp"))
    assert(s2.appendedRows === 0 && s2.skippedAsDuplicate === 1)

    // the pruned existing side plans a partition filter on p_date and
    // physically reads fewer files than the table holds
    val pruned = wh.readTimeRange("raw", "timestamp",
      ts("2016-02-01 00:00:00"), ts("2016-02-01 00:00:00"))
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters"), planStr)
    assert(planStr.contains(Warehouse.DerivedDateCol), planStr)
    pruned.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val totalFiles = wh.readRaw("raw").inputFiles.length
    assert(filesRead > 0 && filesRead < totalFiles,
      s"filesRead=$filesRead totalFiles=$totalFiles")
  }

  test("load with skipOnOverlap=true mirrors reference early-exit") {
    val wh = freshWarehouse()
    val loader = new Loader(spark, wh)
    val keys = Seq("timestamp", "building_id")
    loader.dedupAppend(batch(("2016-01-01 10:00:00", "b1", 1.0)), "raw", keys)
    val (report, stats) = loader.load(
      batch(("2016-01-01 10:10:00", "b1", 2.0)), "raw", keys,
      "timestamp", "building_id", skipOnOverlap = true)
    assert(report.hasOverlap && stats.isEmpty)
    assert(wh.read("raw").count() === 1)
  }
}
