package graft.io

import graft.SparkSpec
import graft.ops.EngineOps
import org.apache.spark.sql.functions._

/** Scan-shape guards for the parquet read path — the properties a
  * 100 TB scan lives or dies by must hold through the ns→µs rebuild
  * wrapper (a withColumn that accidentally blocked pushdown or pruning
  * would silently 100× the IO).
  */
class TablesSpec extends SparkSpec {

  test("events read keeps filter pushdown + column pruning through the ns rebuild") {
    val df = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .filter(col("event_type") === "purchase")
      .select("event_id", "event_type")
    val plan = EngineOps.explain(df, "formatted")
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      plan)
    // ReadSchema must not include untouched wide columns like props
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), readSchema)
  }

  test("suffix dispatch reads ORC (built-in columnar alternative)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orc").toString + "/t.orc"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.orc(dir)
    val back = Tables.read(spark, dir)
    assert(back.count() === 2)
    assert(back.schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("ns->us rebuild is exact integral division (truncation, never rounding)") {
    // 2026-epoch ns where double division rounds up 1µs: n/1000.0
    // rounds to a different long than n div 1000 for n ≡ 999 (mod 1000)
    // at 1.7e18 magnitudes (double ulp = 256ns)
    val dir = java.nio.file.Files.createTempDirectory("nsvals").toString
    import spark.implicits._
    val ns = Seq(1767225600123456999L, 1767225600123456001L, 1767225600123456500L)
    // write via a nanos-annotated parquet: simplest is to verify the
    // expression graft uses directly against exact integer truncation
    val out = ns.toDF("n")
      .select(expr("`n` div 1000").as("us"))
      .as[Long].collect().toSeq
    assert(out === ns.map(_ / 1000L))
    assert(out.distinct.size === 1) // all truncate to the same µs
    new java.io.File(dir).delete()
  }

  test("suffix dispatch reads compressed JSON-lines (.jsonl.gz — corpus interchange)") {
    val dir = java.nio.file.Files.createTempDirectory("jl").toString
    val f = new java.io.File(dir, "docs.jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(f))
    out.write(
      """{"doc_id": 1, "text": "hello world"}
        |{"doc_id": 2, "text": "second line"}
        |""".stripMargin.getBytes("UTF-8"))
    out.close()
    val df = Tables.read(spark, f.getAbsolutePath)
    assert(df.count() === 2)
    assert(df.columns.toSet === Set("doc_id", "text"))
    // uncompressed .jsonl dispatches identically
    val f2 = new java.io.File(dir, "docs.jsonl")
    java.nio.file.Files.writeString(f2.toPath, """{"doc_id": 3}""" + "\n")
    assert(Tables.read(spark, f2.getAbsolutePath).count() === 1)
    // unknown suffixes still fail loudly
    intercept[RuntimeException] {
      Tables.read(spark, s"$dir/docs.xyz")
    }
  }

  test("parquet metadata cache stays size-bounded under key churn") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("metalru").toString
    val path = s"$dir/t.parquet"
    // a cache of its own with a small bound: the session-wide cache is
    // shared with every other suite, so its size proves nothing here
    val cache = new Tables.MetaCache(4)
    // every rewrite changes (mtime, length) ⇒ a fresh cache key; the
    // LRU bound must hold however many stale keys churn through
    (0 until 10).foreach { i =>
      Seq.fill(i + 1)((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1).write.mode("overwrite").parquet(path)
      val back = Tables.readParquet(spark, path, cache)
      assert(back.count() === i + 1)
    }
    assert(cache.size <= 4, s"metaCache grew past its bound: ${cache.size}")
    // eviction is metadata-only: re-reading an unchanged file after
    // churn still returns the correct schema (worst case a re-probe)
    assert(Tables.readParquet(spark, path, cache).columns.toSet === Set("id", "s"))
  }

  test("parquet metadata cache infers outside its lock") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val cache = new Tables.MetaCache(4)
    val meta = (new org.apache.spark.sql.types.StructType(), Seq.empty[String])
    // a load that waits on another thread's load of a different key:
    // completes only if the first load does not hold the cache's lock
    val outer = cache.getOrLoad("a") {
      Await.result(Future(cache.getOrLoad("b")(meta)), 30.seconds)
    }
    assert(outer === meta)
    assert(cache.size === 2)
    assert(cache.getOrLoad("a")(sys.error("hit must not reload")) === meta)
  }
}
