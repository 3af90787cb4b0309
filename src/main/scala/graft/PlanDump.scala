package graft

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` for a catalog subset to files —
  * the plan-shape evidence behind the optimization-round notes
  * (plans/rNN/<query>_{before,after}.txt). Pure tooling: no query is
  * executed, only planned — on the engine's own session
  * ([[graft.core.SparkEnv.session]], `SPARK_GRAFT_CPUS` cores), so the
  * dumps show the plans users get.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,...|headline|all>`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3) match {
      case "all"      => graft.analytics.Catalog.all.map(_.name)
      case "headline" => Bench.headline
      case csv        => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val spark = graft.core.SparkEnv.session(appName = "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          val plan =
            try fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            catch { case e: Throwable => s"PLAN FAILED: $e" }
          Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"[plandump] wrote $n")
        case None => System.err.println(s"[plandump] unknown query: $n")
      }
    }
    spark.stop()
  }
}
