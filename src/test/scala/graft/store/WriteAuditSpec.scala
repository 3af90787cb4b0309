package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class WriteAuditSpec extends SparkSpec {
  import spark.implicits._

  private def wh = new Warehouse(spark,
    Files.createTempDirectory("graft_wap").toString)

  test("all checks green: staged data publishes atomically, schema sidecar lands") {
    val w = wh
    val failed = w.writeAudited("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Map("nonempty" -> (count(lit(1)) > 0),
        "no_null_ids" -> (count(when($"id".isNull, 1)) === 0)))
    assert(failed.isEmpty)
    assert(w.read("t").count() === 2)
    assert(w.readSchema("t").isDefined)
    assert(w.listTables() === Seq("t"))
  }

  test("red check: live table untouched, stage discarded") {
    val w = wh
    assert(w.writeAudited("t", Seq((1L, 10.0)).toDF("id", "v"),
      Map("nonempty" -> (count(lit(1)) > 0))).isEmpty)
    // bad batch: nulls in v trip the check
    val failed = w.writeAudited("t",
      Seq((2L, Some(1.0)), (3L, None)).toDF("id", "v"),
      Map("nonempty" -> (count(lit(1)) > 0),
        "no_null_v" -> (count(when($"v".isNull, 1)) === 0)))
    assert(failed === Seq("no_null_v"))
    // previous content intact, no transient dirs surface anywhere
    assert(w.read("t").as[(Long, Double)].collect().toSeq === Seq((1L, 10.0)))
    assert(w.listTables() === Seq("t"))
    assert(w.vacuum().isEmpty)
  }

  test("threshold-style checks: row-count floor blocks a truncated batch") {
    val w = wh
    assert(w.writeAudited("t", spark.range(0, 100).toDF("id"),
      Map("full" -> (count(lit(1)) >= 100))).isEmpty)
    val failed = w.writeAudited("t", spark.range(0, 3).toDF("id"),
      Map("full" -> (count(lit(1)) >= 100)))
    assert(failed === Seq("full"))
    assert(w.read("t").count() === 100)
  }

  test("a date-partitioned table publishes in its own layout") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_wap_p").toString
    val w = new Warehouse(spark, dir)
    val df = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, Timestamp.valueOf("2024-01-02 10:00:00"))).toDF("id", "timestamp")
    w.createTable("t", df.schema, partitionSource = Some("timestamp"))
    assert(w.writeAudited("t", df, Map("nonempty" -> (count(lit(1)) > 0))).isEmpty)
    w.append("t", Seq((3L, Timestamp.valueOf("2024-01-03 10:00:00")))
      .toDF("id", "timestamp"))
    val top = new java.io.File(s"$dir/t").list().toSeq
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(top.sorted === Seq("p_date=2024-01-01", "p_date=2024-01-02",
      "p_date=2024-01-03"))
    assert(w.read("t").count() === 3)
  }
}
