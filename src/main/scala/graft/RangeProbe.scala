package graft

import org.apache.spark.sql.functions._

import graft.transform.TemporalJoins

/** Skewed-interval range-join probe: the SAME point-in-interval
  * workload (half 30 s intervals, half 1 day — 2,880× length skew)
  * executed through the single-width binned join and the multi-scale
  * join, timed, with the exploded-bin row counts that explain the
  * delta. One JSON line out.
  *
  * This is the measured form of the multi-scale design claim: a
  * single bin width must either explode long intervals into
  * `len/bin + 1` rows (2,881 per 1-day interval at a 30 s bin) or
  * flood short intervals' bins with candidates; the leveled join
  * caps every interval at ≤ 2 bins and every point at one probe per
  * level present.
  *
  * Usage: `runMain graft.RangeProbe <dir>`.
  */
object RangeProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.SparkEnv.session(appName = "graft-rangeprobe")
    spark.sparkContext.setLogLevel("ERROR")

    val ev = graft.io.Tables.readParquet(spark, s"$dir/events.parquet")
      .select(col("event_id"), col("ts"))
    val iv = ev.filter(col("event_id") % 199 === 0)
      .select(col("event_id").as("iv_id"), col("ts").as("ivs"),
        when(col("event_id") % 398 === 0,
          col("ts") + expr("INTERVAL 30 SECONDS"))
          .otherwise(col("ts") + expr("INTERVAL 1 DAY")).as("ive"))
      .localCheckpoint() // isolate the probe from scan/filter cost
    val points = ev.localCheckpoint()
    val base = 30L * 1000000L

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // warm both paths once (codegen, broadcast machinery)
    TemporalJoins.rangeJoinBinned(points, "ts", iv, "ivs", "ive", base).count()
    TemporalJoins.rangeJoinMultiScale(points, "ts", iv, "ivs", "ive", base).count()

    val (tSingle, nSingle) = timed(
      TemporalJoins.rangeJoinBinned(points, "ts", iv, "ivs", "ive", base).count())
    val (tMulti, nMulti) = timed(
      TemporalJoins.rangeJoinMultiScale(points, "ts", iv, "ivs", "ive", base).count())
    require(nSingle == nMulti, s"result mismatch: $nSingle vs $nMulti")

    // exploded-bin volumes: what each strategy pushes into the join
    val singleBins = iv.withColumn("__bin", explode(sequence(
        floor(graft.core.TimeCols.epochUs(col("ivs")) / base),
        floor(graft.core.TimeCols.epochUs(col("ive")) / base)))).count()
    val multiBins = TemporalJoins.intervalLevelBins(iv, "ivs", "ive", base).count()
    val nIv = iv.count()

    println(s"""{"metric":"range_join_skew","unit":"sec",""" +
      s""""single_width_sec":$tSingle,"multi_scale_sec":$tMulti,""" +
      s""""intervals":$nIv,"single_bin_rows":$singleBins,""" +
      s""""multi_bin_rows":$multiBins,"pairs":$nMulti,"dir":"$dir"}""")
    spark.stop()
  }
}
