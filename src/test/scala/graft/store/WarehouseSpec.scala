package graft.store

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.nio.file.Files

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_wh").toString)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  test("createTable if-exists modes: fail / skip / replace") {
    val wh = fresh()
    wh.createTable("t", schema)
    assert(wh.tableExists("t"))
    intercept[RuntimeException] { wh.createTable("t", schema) } // fail mode
    wh.createTable("t", schema, ifExists = "skip")
    wh.append("t", Seq((1L, 2.0)).toDF("id", "v"))
    assert(wh.read("t").count() === 1)
    wh.createTable("t", schema, ifExists = "replace")
    assert(wh.read("t").count() === 0)
    intercept[RuntimeException] { wh.createTable("t", schema, ifExists = "bogus") }
  }

  test("schema compare: only-in-a / only-in-b / retyped") {
    val wh = fresh()
    val a = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("shared", StringType)))
    val b = StructType(Seq(
      StructField("id", IntegerType), StructField("y", DoubleType),
      StructField("shared", StringType)))
    val (onlyA, onlyB, retyped) = wh.compareSchemas(a, b)
    assert(onlyA === Seq("x") && onlyB === Seq("y"))
    assert(retyped === Seq(("id", "bigint", "int")))
  }

  test("stats + compact reduce file count but preserve rows") {
    val wh = fresh()
    val df = (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .repartition(8)
    wh.overwrite("t", df)
    val before = wh.tableStats("t")
    assert(before.numRows === 100 && before.numFiles === 8)
    wh.compact("t", 1)
    val after = wh.tableStats("t")
    assert(after.numRows === 100 && after.numFiles === 1)
  }

  test("full lifecycle against an explicit file:/// URI (Hadoop FS path, not java.io)") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_wh_uri").toUri.toString.stripSuffix("/"))
    wh.createTable("t", schema, uniqueKeys = Seq("id"))
    assert(wh.tableExists("t"))
    wh.append("t", Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"))
    assert(wh.tableStats("t").numRows === 2)
    assert(wh.listTables() === Seq("t"))
    assert(wh.readMeta("t").map(_.uniqueKeys) === Some(Seq("id")))
    wh.compact("t", 1)
    assert(wh.read("t").count() === 2)
    wh.dropTable("t")
    assert(!wh.tableExists("t") && wh.readMeta("t").isEmpty)
  }

  test("compact on a partitioned table collapses each partition dir to one file") {
    val wh = fresh()
    val df = (1 to 200).map(i => (i.toLong, s"g${i % 4}", i * 1.0))
      .toDF("id", "g", "v").repartition(8)
    wh.overwrite("t", df, partitionBy = Seq("g"))
    wh.writeMeta("t", Seq("g"), Nil)
    assert(wh.tableStats("t").numFiles > 4)
    wh.compact("t", 4)
    val after = wh.tableStats("t")
    assert(after.numRows === 200)
    assert(after.numFiles === 4, s"files=${after.numFiles}") // one per g=
    assert(wh.read("t").groupBy("g").count().count() === 4)
  }

  test("overwrite preserves a derived date layout recorded in meta") {
    import java.sql.Timestamp
    val wh = fresh()
    val tsSchema = StructType(Seq(
      StructField("timestamp", TimestampType), StructField("v", DoubleType)))
    wh.createTable("t", tsSchema, uniqueKeys = Seq("timestamp"),
      partitionSource = Some("timestamp"))
    wh.append("t", Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("timestamp", "v"))
    wh.overwrite("t", Seq(
      (Timestamp.valueOf("2024-02-01 00:00:00"), 2.0),
      (Timestamp.valueOf("2024-02-02 00:00:00"), 3.0))
      .toDF("timestamp", "v"))
    // layout survived the overwrite: p_date dirs exist, logical read clean
    assert(wh.readRaw("t").columns.contains(Warehouse.DerivedDateCol))
    assert(wh.read("t").count() === 2)
    // and appends still interleave correctly
    wh.append("t", Seq((Timestamp.valueOf("2024-03-01 00:00:00"), 4.0))
      .toDF("timestamp", "v"))
    assert(wh.read("t").count() === 3)
  }

  test("merge upserts an unpartitioned table: updates win, new keys insert") {
    val wh = fresh()
    wh.createTable("t", schema, uniqueKeys = Seq("id"))
    wh.append("t", Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    wh.merge("t", Seq((2L, 20.0), (4L, 40.0)).toDF("id", "v"), Seq("id"))
    val got = wh.read("t").as[(Long, Double)].collect().sorted.toSeq
    assert(got === Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (4L, 40.0)))
    // idempotent: merging the same updates again changes nothing
    wh.merge("t", Seq((2L, 20.0), (4L, 40.0)).toDF("id", "v"), Seq("id"))
    assert(wh.read("t").as[(Long, Double)].collect().sorted.toSeq === got)
  }

  test("merge on a partitioned table rewrites only the touched partitions") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_wh").toString
    val wh = new Warehouse(spark, dir)
    def partFiles(date: String): Seq[String] = {
      val d = new java.io.File(s"$dir/t/p_date=$date")
      Option(d.listFiles()).map(_.map(_.getName).filter(_.endsWith(".parquet"))
        .sorted.toSeq).getOrElse(Nil)
    }
    val tsSchema = StructType(Seq(
      StructField("id", LongType), StructField("timestamp", TimestampType),
      StructField("v", DoubleType)))
    wh.createTable("t", tsSchema, uniqueKeys = Seq("id"),
      partitionSource = Some("timestamp"))
    wh.append("t", Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, Timestamp.valueOf("2024-01-02 10:00:00"), 2.0),
      (3L, Timestamp.valueOf("2024-01-03 10:00:00"), 3.0))
      .toDF("id", "timestamp", "v"))
    val untouched = partFiles("2024-01-03")
    val touched = partFiles("2024-01-01")
    assert(untouched.nonEmpty && touched.nonEmpty)
    // update day 1's row, insert a new row on a brand-new day
    wh.merge("t", Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 10.0),
      (9L, Timestamp.valueOf("2024-01-09 10:00:00"), 9.0))
      .toDF("id", "timestamp", "v"), Seq("id"))
    val got = wh.read("t").select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq
    assert(got === Seq((1L, 10.0), (2L, 2.0), (3L, 3.0), (9L, 9.0)))
    // untouched day: same physical files; touched day: rewritten;
    // new day materialized
    assert(partFiles("2024-01-03") === untouched)
    assert(partFiles("2024-01-01") !== touched)
    assert(partFiles("2024-01-09").nonEmpty)
  }

  test("appendEvolved widens schema additively; old files surface new columns as nulls") {
    val wh = fresh()
    wh.createTable("t", schema)
    wh.append("t", Seq((1L, 1.0)).toDF("id", "v"))
    // batch with a brand-new column
    wh.appendEvolved("t", Seq((2L, 2.0, "hello")).toDF("id", "v", "note"))
    val rows = wh.read("t").select("id", "v", "note")
      .as[(Long, Double, Option[String])].collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, 1.0, None), (2L, 2.0, Some("hello"))))
    // batch MISSING an original column: fills with typed nulls
    wh.appendEvolved("t", Seq((3L, "bye")).toDF("id", "note"))
    val r3 = wh.read("t").filter($"id" === 3L)
      .select("v", "note").as[(Option[Double], Option[String])].head()
    assert(r3 === ((None, Some("bye"))))
    // retyping is refused
    val e = intercept[IllegalArgumentException] {
      wh.appendEvolved("t", Seq((4L, "oops")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("retyped"))
    // persisted schema evolved once, in order
    assert(wh.readSchema("t").get.fieldNames.toSeq === Seq("id", "v", "note"))
  }

  test("vacuum removes swap debris, keeps live tables, hides transients from listTables") {
    val dir = Files.createTempDirectory("graft_wh").toString
    val wh = new Warehouse(spark, dir)
    wh.createTable("t", schema)
    wh.append("t", Seq((1L, 1.0)).toDF("id", "v"))
    // simulate crash debris from compact/merge dances
    new java.io.File(s"$dir/t__merge").mkdirs()
    new java.io.File(s"$dir/t__compact").mkdirs()
    new java.io.File(s"$dir/t__replace").mkdirs()
    new java.io.File(s"$dir/zombie__old").mkdirs()
    new java.io.File(s"$dir/t/p_date=2024-01-01__old").mkdirs()
    new java.io.File(s"$dir/t/p_date=2024-01-01__old/x.parquet").createNewFile()
    assert(wh.listTables() === Seq("t")) // transients never listed
    val removed = wh.vacuum()
    assert(removed.size === 5, removed)
    assert(!new java.io.File(s"$dir/t__merge").exists())
    assert(!new java.io.File(s"$dir/t/p_date=2024-01-01__old").exists())
    assert(wh.read("t").count() === 1) // live data untouched
    assert(wh.vacuum() === Nil) // idempotent
  }

  test("write to a partitionSource table without the time column fails clearly") {
    import java.sql.Timestamp
    val wh = fresh()
    val tsSchema = StructType(Seq(
      StructField("timestamp", TimestampType), StructField("v", DoubleType)))
    wh.createTable("t", tsSchema, partitionSource = Some("timestamp"))
    wh.append("t", Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("timestamp", "v"))
    // a frame missing the declared source column must be rejected up
    // front — append would otherwise write unpartitioned files into the
    // partitioned layout and corrupt partition discovery
    val bad = Seq(1.0).toDF("v")
    val eA = intercept[RuntimeException] { wh.append("t", bad) }
    assert(eA.getMessage.contains("partitionSource"))
    val eO = intercept[RuntimeException] { wh.overwrite("t", bad) }
    assert(eO.getMessage.contains("partitionSource"))
    // a frame already carrying the derived column passes through
    // (re-ingest of readRaw output)
    wh.append("t", wh.readRaw("t"))
    assert(wh.read("t").count() === 2)
  }

  test("crashed compact leaves no phantom tables and next compact self-heals") {
    val wh = fresh()
    val dir = Files.createTempDirectory("graft_wh_crash").toString
    val whc = new Warehouse(spark, dir)
    val df = (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v").repartition(4)
    whc.overwrite("t", df)
    // simulate a crash mid-compact: leftover working directories
    new java.io.File(s"$dir/t__compact").mkdirs()
    new java.io.File(s"$dir/t__old").mkdirs()
    assert(whc.listTables() === Seq("t")) // working copies are not tables
    whc.compact("t", 1) // debris must not break the swap
    assert(whc.tableStats("t").numRows === 50)
    assert(whc.tableStats("t").numFiles === 1)
    assert(whc.listTables() === Seq("t"))
    assert(!new java.io.File(s"$dir/t__old").exists())
  }

  test("crashed merge self-heals: stale __merge/__old debris can't corrupt the next merge") {
    val dir = Files.createTempDirectory("graft_wh_mcrash").toString
    val wh = new Warehouse(spark, dir)
    wh.createTable("t", schema, uniqueKeys = Seq("id"))
    wh.append("t", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    // crash mid-merge: a half-written tmp and a leftover aside copy
    new java.io.File(s"$dir/t__merge").mkdirs()
    new java.io.File(s"$dir/t__merge/partial.parquet").createNewFile()
    new java.io.File(s"$dir/t__old").mkdirs()
    assert(wh.listTables() === Seq("t")) // debris never lists as a table
    assert(wh.read("t").count() === 2) // live table intact after the crash
    wh.merge("t", Seq((2L, 20.0), (3L, 30.0)).toDF("id", "v"), Seq("id"))
    val got = wh.read("t").as[(Long, Double)].collect().sorted.toSeq
    assert(got === Seq((1L, 1.0), (2L, 20.0), (3L, 30.0)))
    // the completed merge consumed/removed its own working dirs
    assert(!new java.io.File(s"$dir/t__merge").exists())
    assert(!new java.io.File(s"$dir/t__old").exists())
    assert(wh.vacuum() === Nil)
  }

  test("crashed partitioned merge: untouched-partition __old debris survives until vacuum") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_wh_mpcrash").toString
    val wh = new Warehouse(spark, dir)
    val tsSchema = StructType(Seq(
      StructField("id", LongType), StructField("timestamp", TimestampType),
      StructField("v", DoubleType)))
    wh.createTable("t", tsSchema, uniqueKeys = Seq("id"),
      partitionSource = Some("timestamp"))
    wh.append("t", Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, Timestamp.valueOf("2024-01-02 10:00:00"), 2.0))
      .toDF("id", "timestamp", "v"))
    // crash debris: stale merge tmp + an aside copy from an earlier
    // interrupted swap. Asides live OUTSIDE the table dir (t__old/…) —
    // an in-table `p_date=…__old` dir would break partition discovery
    // (unparseable DATE) and take the whole table down with it.
    new java.io.File(s"$dir/t__merge/p_date=2024-01-05").mkdirs()
    new java.io.File(s"$dir/t__old/p_date=2024-01-02").mkdirs()
    new java.io.File(s"$dir/t__old/p_date=2024-01-02/x.parquet").createNewFile()
    // the table stays fully readable with the debris present
    assert(wh.read("t").count() === 2)
    wh.merge("t", Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 10.0))
      .toDF("id", "timestamp", "v"), Seq("id"))
    // data correct: day-1 updated, day-2 untouched, and the stale tmp's
    // phantom day-5 partition did NOT leak into the table
    val got = wh.read("t").select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq
    assert(got === Seq((1L, 10.0), (2L, 2.0)))
    assert(!new java.io.File(s"$dir/t/p_date=2024-01-05").exists())
    // the completed merge consumed every transient, old debris included
    assert(!new java.io.File(s"$dir/t__merge").exists())
    assert(!new java.io.File(s"$dir/t__old").exists())
    assert(wh.vacuum() === Nil)
    // a replayed merge (same updates) converges to the same state
    wh.merge("t", Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 10.0))
      .toDF("id", "timestamp", "v"), Seq("id"))
    assert(wh.read("t").select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq === got)
  }

  test("compactPartitions rewrites only the targeted partition") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_wh_pc").toString
    val wh = new Warehouse(spark, dir)
    def filesIn(sub: String): Seq[String] = {
      val d = new java.io.File(s"$dir/t/$sub")
      Option(d.listFiles()).map(_.toSeq.map(_.getName)
        .filter(_.endsWith(".parquet"))).getOrElse(Nil)
    }
    val df = (1 to 200).map(i => (i.toLong, s"g${i % 4}", i * 1.0))
      .toDF("id", "g", "v").repartition(8)
    wh.overwrite("t", df, partitionBy = Seq("g"))
    wh.writeMeta("t", Seq("g"), Nil)
    val g1Before = filesIn("g=g1")
    val g2Before = filesIn("g=g2")
    assert(g1Before.size > 1) // fragmented before compaction
    wh.compactPartitions("t", col("g") === "g1")
    assert(filesIn("g=g1").size === 1) // targeted partition collapsed
    assert(filesIn("g=g2") === g2Before) // untouched partition: same files
    assert(wh.tableStats("t").numRows === 200)
    assert(wh.read("t").filter(col("g") === "g1").count() === 50)
    assert(wh.listTables() === Seq("t")) // no working dirs leak
  }

  test("a freshly created unpartitioned table reads empty with its schema and holds no files") {
    val wh = fresh()
    wh.createTable("t", schema)
    assert(wh.read("t").schema === schema)
    assert(wh.read("t").count() === 0)
    assert(wh.tableStats("t") === TableStats("t", 0L, 0L, 0))
    wh.append("t", Seq((1L, 1.0)).toDF("id", "v"))
    assert(wh.read("t").as[(Long, Double)].collect().toSeq === Seq((1L, 1.0)))
  }

  test("merge keeps the other rows of a NULL partition it updates") {
    val wh = fresh()
    val gSchema = StructType(Seq(StructField("id", LongType),
      StructField("g", StringType), StructField("v", DoubleType)))
    wh.createTable("t", gSchema, partitionBy = Seq("g"), uniqueKeys = Seq("id"))
    wh.append("t", Seq((1L, Some("a"), 1.0), (2L, None, 2.0), (3L, None, 3.0))
      .toDF("id", "g", "v"))
    wh.merge("t", Seq((2L, Option.empty[String], 20.0)).toDF("id", "g", "v"),
      Seq("id"))
    val got = wh.read("t").select("id", "g", "v")
      .as[(Long, Option[String], Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, Some("a"), 1.0), (2L, None, 20.0), (3L, None, 3.0)))
  }

  test("merge into a freshly created date-partitioned table inserts its rows") {
    import java.sql.Timestamp
    val wh = fresh()
    val tsSchema = StructType(Seq(
      StructField("id", LongType), StructField("timestamp", TimestampType),
      StructField("v", DoubleType)))
    wh.createTable("t", tsSchema, uniqueKeys = Seq("id"),
      partitionSource = Some("timestamp"))
    wh.merge("t", Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
      .toDF("id", "timestamp", "v"), Seq("id"))
    assert(wh.read("t").select("id", "v").as[(Long, Double)].collect()
      .toSeq === Seq((1L, 1.0)))
    assert(wh.readRaw("t").columns.contains(Warehouse.DerivedDateCol))
  }

  test("unique keys + partitioning persist in table meta") {
    val wh = fresh()
    wh.createTable("t", schema, partitionBy = Nil, uniqueKeys = Seq("id"))
    assert(wh.readMeta("t").map(_.uniqueKeys) === Some(Seq("id")))
  }
}
