package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[SnapshotDiff]]: the column-wise and fingerprint forms agree, null
  * transitions count as updates, and unchanged keys never surface.
  */
class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private val before = Seq(
    (1L, "a", Some(1.0)), (2L, "b", Some(2.0)), (3L, "c", None),
    (4L, "d", Some(4.0)), (5L, "e", Some(5.0)))
    .toDF("id", "s", "v")
  private val after = Seq(
    (1L, "a", Some(1.0)),          // unchanged
    (2L, "B", Some(2.0)),          // update (string)
    (3L, "c", Some(3.0)),          // update (null -> value)
    (5L, "e", None),               // update (value -> null)
    (6L, "f", Some(6.0)))          // insert; id=4 deleted
    .toDF("id", "s", "v")

  private val expected = Set(
    (2L, "update"), (3L, "update"), (4L, "delete"),
    (5L, "update"), (6L, "insert"))

  test("diff classifies insert/delete/update; unchanged keys absent") {
    val got = SnapshotDiff.diff(before, after, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(got === expected)
  }

  test("diffHashed agrees with the column-wise form") {
    val got = SnapshotDiff.diffHashed(before, after, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(got === expected)
  }

  test("fingerprint form ships two longs, not the value columns") {
    // range-based inputs: literal frames constant-fold to LocalRelation
    // and the fingerprint is evaluated at plan time
    val b = spark.range(100).select(col("id"), (col("id") * 2).as("v"),
      concat(lit("s"), col("id")).as("s"))
    val a = b.withColumn("v", col("v") + 1)
    val plan = SnapshotDiff.diffHashed(b, a, Seq("id"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("xxhash64"), s"fingerprint missing:\n$plan")
    // the value columns themselves must not cross the join
    assert(!plan.contains("b_v#") && !plan.contains("b_s#"),
      s"value columns shipped through the join:\n$plan")
  }

  test("changes feed carries the after payload; applyChanges round-trips") {
    val feed = SnapshotDiff.changes(before, after, Seq("id"))
    // delete rows ship null payload; insert/update ship the new values
    val byId = feed.collect().map(r => r.getLong(0) ->
      (r.getString(3), Option(r.getString(1)))).toMap
    assert(byId(4L)._1 === "delete" && byId(4L)._2.isEmpty)
    assert(byId(2L) === (("update", Some("B"))))
    assert(byId(6L) === (("insert", Some("f"))))
    val rebuilt = SnapshotDiff.applyChanges(before, feed, Seq("id"))
    assert(rebuilt.orderBy("id").collect().toSeq ===
      after.orderBy("id").collect().toSeq)
    // disk form: replicate a warehouse table by feed application
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("sd_wh").toString)
    wh.createTable("t", before.schema)
    wh.append("t", before)
    SnapshotDiff.applyChangesTable(wh, "t", feed, Seq("id"))
    assert(wh.read("t").orderBy("id").collect().toSeq ===
      after.orderBy("id").collect().toSeq)
  }

  test("a value migrating between same-typed columns is an update in BOTH forms") {
    // xxhash64 skips null children without advancing its state, so a
    // bare-column fingerprint would hash (a=5, b=null) and (a=null,
    // b=5) identically — the null-indicator interleave makes this a
    // detected update, same verdict as the column-wise compare
    val b = Seq((1L, Some(5L), Option.empty[Long]),
      (2L, Some(7L), Some(8L))).toDF("id", "a", "b")
    val a = Seq((1L, Option.empty[Long], Some(5L)),
      (2L, Some(7L), Some(8L))).toDF("id", "a", "b")
    val exact = SnapshotDiff.diff(b, a, Seq("id"))
      .as[(Long, String)].collect().toSet
    val hashed = SnapshotDiff.diffHashed(b, a, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(exact === Set((1L, "update")))
    assert(hashed === exact,
      "fingerprint form missed a null-position shift")
  }

  test("compound keys and a realistic mutation batch round-trip") {
    val b = spark.range(500).select(
      (col("id") / 10).cast("long").as("k1"), pmod(col("id"), lit(10)).as("k2"),
      (col("id") * 2).cast("double").as("v"))
    val a = b.filter(pmod(col("k1") * 10 + col("k2"), lit(97)) =!= 0)
      .withColumn("v", when(pmod(col("k1") * 10 + col("k2"), lit(13)) === 0,
        col("v") + 1).otherwise(col("v")))
      .unionByName(Seq((999L, 0L, 1.0)).toDF("k1", "k2", "v"))
    val d = SnapshotDiff.diff(b, a, Seq("k1", "k2"))
    val h = SnapshotDiff.diffHashed(b, a, Seq("k1", "k2"))
    assert(d.orderBy("k1", "k2", "change").collect().toSeq ===
      h.orderBy("k1", "k2", "change").collect().toSeq)
    val byChange = d.groupBy("change").count()
      .as[(String, Long)].collect().toMap
    assert(byChange("insert") === 1)
    assert(byChange("delete") === 6)  // 500/97 -> ids 0,97,194,291,388,485
    assert(byChange("update") > 0)
  }

  test("applyChangesTable keeps a date-partitioned layout: later appends read back") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft_sd").toString
    val wh = new Warehouse(spark, dir)
    val rows = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, Timestamp.valueOf("2024-01-02 10:00:00"), 2.0))
    val df = rows.toDF("id", "timestamp", "v")
    wh.createTable("t", df.schema, uniqueKeys = Seq("id"),
      partitionSource = Some("timestamp"))
    wh.append("t", df)
    val after = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 10.0),
      (2L, Timestamp.valueOf("2024-01-02 10:00:00"), 2.0))
      .toDF("id", "timestamp", "v")
    SnapshotDiff.applyChangesTable(wh, "t",
      SnapshotDiff.changes(wh.read("t"), after, Seq("id")), Seq("id"))
    wh.append("t", Seq((3L, Timestamp.valueOf("2024-01-03 10:00:00"), 3.0))
      .toDF("id", "timestamp", "v"))
    val top = new java.io.File(s"$dir/t").list().toSeq
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(top.nonEmpty && top.forall(_.startsWith("p_date=")), top)
    assert(wh.read("t").select("id", "v").as[(Long, Double)].collect()
      .sorted.toSeq === Seq((1L, 10.0), (2L, 2.0), (3L, 3.0)))
  }
}
