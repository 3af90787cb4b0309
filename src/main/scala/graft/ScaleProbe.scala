package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Full-corpus dedup scale probe: the COMPLETE production dedup path
  * — MinHash+LSH pairs → connected components → canonical keep — over
  * an entire documents table, timed end to end, one JSON line out.
  *
  * This is the scale view the oracled catalog queries deliberately
  * can't give: `q_dedup_pipeline`'s corpus is bounded so its exact
  * all-pairs SQL oracle stays feasible, and `q_dedup_minhash` dumps
  * the raw pair set, whose size is QUADRATIC per duplicate cluster
  * (a [[ScaleUp]] corpus gives every doc ~n near-dup copies → ~n²/2
  * pairs per base doc). The pipeline this probe times ends where a
  * training-data pipeline ends — surviving doc ids, output O(corpus)
  * regardless of how dup-heavy the input is.
  *
  * Usage: `runMain graft.ScaleProbe <dir> [threshold]`.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val threshold = args.lift(1).map(_.toDouble).getOrElse(0.9)
    val spark = graft.core.SparkEnv.session(appName = "graft-scaleprobe")
    spark.sparkContext.setLogLevel("ERROR")

    val docs = graft.io.Tables
      .readParquet(spark, s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count() // also warms the scan

    val t0 = System.nanoTime()
    // one LSH pass feeds the cluster loop AND the diagnostic counts
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      shingleSize = 3, k = 32, bands = 16, threshold = threshold)
      .localCheckpoint()
    val clusters = Dedup.nearDupClusters(
      pairs.select(col("id_a"), col("id_b")))
    val survivors = Dedup.keepCanonical(docs, "doc_id", clusters)
    val nSurvivors = survivors.count()
    val sec = (System.nanoTime() - t0) / 1e9

    val nPairs = pairs.count()
    val nClustered = clusters.count()
    println(s"""{"metric":"dedup_pipeline","unit":"sec","value":$sec,""" +
      s""""docs":$nDocs,"pairs":$nPairs,"clustered_ids":$nClustered,""" +
      s""""survivors":$nSurvivors,"threshold":$threshold,"dir":"$dir"}""")
    spark.stop()
  }
}
