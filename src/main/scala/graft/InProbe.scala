package graft

import org.apache.spark.sql.functions._

/** Large-IN strategy probe: the SAME membership workload — `l_orderkey
  * IN (<N literals>)` over the fact table — executed through (a)
  * Spark's native InSet path (rule off), (b) the
  * [[graft.plans.LargeInToSemiJoin]] rewrite (rule on), and (c) a
  * hand-written broadcast left-semi join, timed. This is the
  * measurement behind the ship/retire decision the rule's Scaladoc
  * records: InSet is a codegen'd hash probe with zero exchanges, so
  * the rewrite must beat it on wall clock to earn default-on.
  *
  * Usage: `runMain graft.InProbe <dir> [nValues] [reps]`.
  */
object InProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale10")
    val nValues = args.lift(1).map(_.toInt).getOrElse(5000)
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = graft.core.SparkEnv.session(appName = "graft-inprobe")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val li = graft.io.Tables.readParquet(spark, s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
      .localCheckpoint() // isolate membership cost from the scan
    // deterministic key draw: every 7th distinct-ish key, nValues wide
    val values: Seq[Long] =
      (0 until nValues).map(i => 1L + 7L * i)

    def time(label: String)(body: => Long): (String, Double, Long) = {
      body // warm
      val runs = (0 until reps).map { _ =>
        val t0 = System.nanoTime(); val n = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (label, runs.map(_._1).min, runs.head._2)
    }

    val inSet = time("inset") {
      spark.conf.set("spark.graft.rewriteLargeIn", "false")
      li.filter(col("l_orderkey").isin(values: _*)).count()
    }
    val rewrite = time("rewrite") {
      spark.conf.set("spark.graft.rewriteLargeIn", "true")
      li.filter(col("l_orderkey").isin(values: _*)).count()
    }
    spark.conf.set("spark.graft.rewriteLargeIn", "false")
    val semi = time("handSemi") {
      li.join(broadcast(values.toDF("l_orderkey")), Seq("l_orderkey"),
        "left_semi").count()
    }

    val rows = Seq(inSet, rewrite, semi)
    require(rows.map(_._3).distinct.size == 1,
      s"row counts diverge: $rows")
    println(rows.map { case (l, s, _) => s""""$l":$s""" }
      .mkString(s"""{"probe":"large_in","n_values":$nValues,""" +
        s""""matched":${rows.head._3},""", ",", "}"))
    spark.stop()
  }
}
