package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.SparkEnv

/** Arguments of one run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, traceOut: Option[Path])

/** Checks and metrics of one run. An op is one bulk pass or one
  * incremental batch; it fails when it throws or any of its checks
  * fails. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  /** Lines printed before the metrics: per-op walls and set-up times. */
  val notes = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var opOk = true

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { opOk = false; problems += what }

  /** Runs one op, counting it attempted and, if it threw or a check
    * inside it failed, failed. Returns the op's value when it ran. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    opOk = true
    val r = try Some(body) catch {
      case e: Throwable =>
        problems += s"$name threw ${e.getClass.getName}: ${e.getMessage}"
        None
    }
    if (r.isEmpty || !opOk) failed += 1
    r
  }
}

/** Shared state of a run. */
final class Ctx(val spark: SparkSession, val args: Args,
    val out: Outcome, val tracer: Option[Tracer], val sessionS: Double) {
  def dir(name: String): Path = Files.createDirectories(args.work.resolve(name))
}

object Main {

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      m.get("trace-out").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Seq("bdg2_bulk", "bdg2_incremental").contains(args.workload),
      s"unknown workload ${args.workload}")
    Files.createDirectories(args.work)
    val t0 = System.nanoTime()
    val spark = SparkEnv.session(appName = "graft-perfbench",
      cores = Runtime.getRuntime.availableProcessors(),
      extraConf = Map(
        "spark.local.dir" -> args.work.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> args.work.resolve("spark-warehouse").toString) ++
        (if (args.trace) Map("spark.hadoop.fs.file.impl" ->
          classOf[CountingLocalFileSystem].getName) else Map.empty))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val ctx = new Ctx(spark, args, new Outcome, tracer, sessionS)
    try {
      args.workload match {
        case "bdg2_bulk" => Bulk.run(ctx)
        case "bdg2_incremental" => Incremental.run(ctx)
      }
    } catch {
      case e: Throwable =>
        ctx.out.attempted += 1
        ctx.out.failed += 1
        ctx.out.problems += s"run threw ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    ctx.out.endToEnd("peak_rss_mb") = (peakRssMb(), "MB")
    tracer.foreach { t =>
      t.stop()
      args.traceOut.foreach(p => Files.write(p,
        t.dump().mkString("", "\n", "\n").getBytes("UTF-8")))
    }
    spark.stop()
    print(report(ctx))
    System.out.flush()
  }

  /** The run's result: problems, then one JSON object on the last line
    * with the end-to-end metrics, or the per-layer ones when traced. */
  def report(ctx: Ctx): String = {
    val o = ctx.out
    val metrics = if (ctx.args.trace) o.perLayer else o.endToEnd
    val lines = o.notes ++ o.problems.map("CHECK FAILED: " + _) ++
      metrics.map { case (k, (v, u)) => f"$k%-40s $v%16.6f $u" }
    val json = Json.obj(Seq(
      "correct" -> (o.failed == 0 && o.attempted > 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    (lines :+ json).mkString("", "\n", "\n")
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024
  }

  // ------------------------------------------------------------ helpers

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU time this process has used so far, all threads, in seconds. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** `body`'s result, wall seconds and process CPU seconds. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuSeconds()
    val (r, wall) = seconds(body)
    (r, wall, cpuSeconds() - c0)
  }

  /** Regular files under `dir`, recursively. */
  def files(dir: Path): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Nil
    walk(dir.toFile)
  }

  def bytesUnder(dir: Path): Long = files(dir).map(_.length).sum

  def deleteTree(p: Path): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(p.toFile)
  }
}
