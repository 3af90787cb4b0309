package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The single-writer lease: a second writer must refuse LOUDLY (naming
  * the holder) instead of interleaving the swap dance; a crashed
  * holder's stale lease is taken over after the age threshold.
  */
class WriterLeaseSpec extends SparkSpec {
  import spark.implicits._

  private def freshWh() = {
    val dir = Files.createTempDirectory("lease").toString
    val wh = new Warehouse(spark, dir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    wh.createTable("t", df.schema, ifExists = "replace")
    wh.append("t", df)
    (wh, dir)
  }

  test("a foreign writer's lease makes merge refuse, naming the holder") {
    val (wh, dir) = freshWh()
    // simulate another process holding the table: a fresh lease file
    Files.createDirectories(Paths.get(dir, "_locks"))
    Files.write(Paths.get(dir, "_locks", "t.lease"),
      "op=merge pid=99999 host=otherhost at=1".getBytes)
    val e = intercept[IllegalStateException] {
      wh.merge("t", Seq((1L, "z")).toDF("k", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("another writer"))
    assert(e.getMessage.contains("otherhost"), s"holder not named: ${e.getMessage}")
    // the table was not touched
    assert(wh.read("t").filter(col("k") === 1).select("v")
      .as[String].head() === "a")
  }

  test("compact and replaceTable honor the same lease") {
    val (wh, dir) = freshWh()
    Files.createDirectories(Paths.get(dir, "_locks"))
    Files.write(Paths.get(dir, "_locks", "t.lease"),
      "op=compact pid=99999 host=otherhost at=1".getBytes)
    intercept[IllegalStateException] { wh.compact("t", 1) }
    intercept[IllegalStateException] {
      wh.replaceTable("t", Seq((9L, "x")).toDF("k", "v"))
    }
    intercept[IllegalStateException] {
      wh.writeAudited("t", Seq((9L, "x")).toDF("k", "v"),
        Map("nonempty" -> (count(lit(1)) > 0)))
    }
    assert(wh.read("t").count() === 2) // the table was not touched
  }

  test("a crash-stale lease is taken over and the mutation proceeds") {
    val (wh, dir) = freshWh()
    Files.createDirectories(Paths.get(dir, "_locks"))
    val lease = Paths.get(dir, "_locks", "t.lease")
    Files.write(lease, "op=merge pid=99999 host=deadhost at=1".getBytes)
    // age the lease past the threshold
    Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 7200000L))
    wh.merge("t", Seq((1L, "z")).toDF("k", "v"), Seq("k"))
    assert(wh.read("t").filter(col("k") === 1).select("v")
      .as[String].head() === "z")
    // the takeover's own lease was released on completion
    assert(!Files.exists(lease))
  }

  test("lease is released after a successful mutation and on failure") {
    val (wh, dir) = freshWh()
    wh.merge("t", Seq((2L, "y")).toDF("k", "v"), Seq("k"))
    assert(!Files.exists(Paths.get(dir, "_locks", "t.lease")))
    // a failing mutation must not wedge the table
    intercept[Exception] {
      wh.merge("t", Seq((3L, "w")).toDF("k", "WRONG_COL"), Seq("k"))
    }
    wh.merge("t", Seq((3L, "w")).toDF("k", "v"), Seq("k"))
    assert(wh.read("t").count() === 3)
  }

  test("_locks never shows up as a table") {
    val (wh, _) = freshWh()
    wh.merge("t", Seq((1L, "z")).toDF("k", "v"), Seq("k"))
    assert(wh.listTables() === Seq("t"))
  }

  test("append/overwrite/createTable/dropTable honor the lease too") {
    // a foreign append racing a leased compact used to be silently
    // dropped in the dir swap — every mutation path must refuse
    val (wh, dir) = freshWh()
    Files.createDirectories(Paths.get(dir, "_locks"))
    Files.write(Paths.get(dir, "_locks", "t.lease"),
      "op=compact pid=99999 host=otherhost at=1".getBytes)
    val df = Seq((9L, "x")).toDF("k", "v")
    intercept[IllegalStateException] { wh.append("t", df) }
    intercept[IllegalStateException] { wh.overwrite("t", df) }
    intercept[IllegalStateException] {
      wh.createTable("t", df.schema, ifExists = "replace")
    }
    intercept[IllegalStateException] { wh.dropTable("t") }
    assert(wh.read("t").count() === 2) // untouched
  }

  test("stale takeover is CAS-like: a fresh lease created after the stat survives") {
    // the delete-then-create race: writer A takes over a stale lease
    // and holds a FRESH one; writer B, still acting on its stale stat,
    // must NOT delete A's fresh lease. The rename-to-tombstone
    // takeover loses the rename (path changed) and B refuses.
    val (wh, dir) = freshWh()
    Files.createDirectories(Paths.get(dir, "_locks"))
    val lease = Paths.get(dir, "_locks", "t.lease")
    // writer A's FRESH lease (as if A just won a takeover)
    Files.write(lease, "op=merge pid=11111 host=winner at=1".getBytes)
    // B's mutation observes a fresh (non-stale) lease and refuses —
    // and crucially the lease file is still A's afterwards
    val e = intercept[IllegalStateException] {
      wh.merge("t", Seq((1L, "z")).toDF("k", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("winner"))
    assert(new String(Files.readAllBytes(lease)).contains("winner"),
      "the losing writer clobbered the winner's fresh lease")
  }

  test("non-atomic warehouse scheme refuses mutations unless opted in") {
    // register a faux scheme backed by the local fs — the gate keys
    // on the scheme name, which is exactly what it can know on s3a
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faux.impl", classOf[FauxFileSystem].getName)
    assert(!Warehouse.AtomicCreateSchemes.contains("faux"))
    val dir = Files.createTempDirectory("faux").toString
    val wh = new Warehouse(spark, s"faux://$dir")
    val df = Seq((1L, "a")).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      wh.createTable("t", df.schema, ifExists = "replace")
    }
    assert(e.getMessage.contains("atomic"),
      s"wrong refusal: ${e.getMessage}")
    // explicit opt-in: the scheme gate opens (the faux local fs can't
    // actually serve Spark writes end-to-end, so the proof is that any
    // failure past this point is NOT the scheme refusal)
    spark.conf.set("spark.graft.lease.acceptNonAtomicScheme", "true")
    try {
      val wh2 = new Warehouse(spark, s"faux://$dir")
      try wh2.createTable("t", df.schema, ifExists = "replace")
      catch {
        case t: Throwable =>
          assert(!String.valueOf(t.getMessage).contains("atomic"),
            s"opt-in did not open the scheme gate: ${t.getMessage}")
      }
    } finally spark.conf.unset("spark.graft.lease.acceptNonAtomicScheme")
  }
}

/** A local-disk filesystem registered under a non-atomic-listed scheme
  * (`faux://`) so the lease scheme gate can be exercised end-to-end
  * without an object store.
  */
class FauxFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faux:///")
}
