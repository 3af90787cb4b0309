package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus replicator for scale benching: writes an n× copy of a test
  * scale-factor directory, replicating the FACT tables with shifted
  * keys (each copy is a disjoint key range, so joins, windows and
  * dedup behave like a genuinely larger corpus rather than n stacked
  * duplicates) and passing the dimension tables through unchanged —
  * the standard shape of a scale-up: facts grow, dimensions don't.
  *
  * Usage: `runMain graft.ScaleUp <inDir> <outDir> <n>`; then point
  * `SPARK_GRAFT_SF_DIR` at outDir and run [[Bench]] unchanged. At
  * n = 10 over sf0.1 this approximates sf1 (~6M lineitem rows), enough
  * for per-row throughput to dominate the ~0.2-0.5s/query scheduler
  * floor that sf0.1 timings sit on.
  */
object ScaleUp {

  private val KeyOffset = 1L << 40 // far above any base key

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, nStr) = args
    val n = nStr.toInt
    require(n >= 1, s"n must be >= 1, got $n")
    val spark = graft.core.SparkEnv.session(appName = "graft-scaleup")

    // read through the ns→µs rebuild so scaled copies carry standard
    // µs timestamps any reader (and the oracle) handles directly
    def in(t: String) = graft.io.Tables.readParquet(spark, s"$inDir/$t.parquet")
    def out(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    // facts fan out over enough files that scans parallelize: a single
    // small-compressed parquet file is ONE input partition no matter
    // how many cores the session has (maxPartitionBytes splits by
    // size, not rows), which would serialize per-row-heavy scans and
    // fake super-linear scaling in the bench
    def outFact(df: DataFrame, t: String): Unit =
      out(df.repartition(16), t)

    // replicate with a copy index 0..n-1; `shift` rebases each copy's
    // keys into a disjoint range
    def replicate(df: DataFrame, shift: Map[String, String => org.apache.spark.sql.Column]): DataFrame = {
      val c = df.withColumn("__copy",
        explode(sequence(lit(0L), lit(n - 1L))))
      val shifted = shift.foldLeft(c) { case (acc, (colName, f)) =>
        acc.withColumn(colName, f(colName))
      }
      shifted.drop("__copy")
    }
    def shiftKey(): String => org.apache.spark.sql.Column =
      name => col(name) + col("__copy") * KeyOffset

    // dimensions: pass through unchanged
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => out(in(t), t))

    // facts: disjoint key ranges per copy (join keys shift together)
    outFact(replicate(in("orders"), Map("o_orderkey" -> shiftKey())), "orders")
    outFact(replicate(in("lineitem"), Map("l_orderkey" -> shiftKey())), "lineitem")
    // events: new user population per copy — sessionize/window loads
    // scale by entity count, not by stacking duplicate timestamps
    outFact(replicate(in("events"),
      Map("event_id" -> shiftKey(), "user_id" -> shiftKey())), "events")
    // documents: shifted ids; a per-copy salt token keeps copies from
    // being byte-identical (they stay near-dups — a dup-heavy corpus is
    // the realistic hard case for the LSH path)
    outFact(replicate(in("documents"), Map("doc_id" -> shiftKey()))
      .withColumn("text",
        when(col("doc_id") >= KeyOffset,
          concat(col("text"), lit(" c"),
            (col("doc_id") / KeyOffset).cast("long")))
          .otherwise(col("text"))), "documents")
    outFact(replicate(in("embeddings"), Map("vec_id" -> shiftKey())), "embeddings")

    println(s"scaled $inDir x$n -> $outDir")
    spark.stop()
  }
}
