package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.EngineConfig
import graft.store.{MatView, MatViewDef, MvMeasure}
import graft.streaming.StreamIngest

/** `bdg2_incremental`: daily delta loads into a warehouse that already
  * holds weeks of readings, with a daily rollup view registered on
  * `raw`. One op is one delta day: `Orchestrator.loadFile` of the
  * day's long-format parquet (new readings plus re-sent ones), a
  * correction merge through `StreamIngest.mergeStreamViews`
  * (AvailableNow, one new file), and a read-back of the day from the
  * view. Per-batch fixed cost dominates here, not rows: Spark jobs,
  * file listing, lease and sidecar files, table counts and view folds.
  */
object Incremental {

  /** The pre-loaded warehouse: 28 days of 60 buildings on 3 sites,
    * 67,200 cells in 28 date partitions, large enough that the load's
    * overlap check and view sync show the table's size (they took 63%
    * and 38% longer than on 7 days). Each batch adds one day: 2,400 new
    * readings, about 240 re-sent and 24 corrected. */
  val Shape: Bdg2Shape = Bdg2Shape(buildings = 60, sites = 3, days = 28)
  /** Share of the previous day's readings each delta sends again. */
  val ResendShare = 0.1
  val CorrectionsPerBatch = 24
  val SetupReps = 3
  /** Delta days an untraced run times, after one warm-up day. */
  val Batches = 2

  val View: MatViewDef = MatViewDef("daily_usage",
    Seq("day", "building_id", "meter"),
    Seq(MvMeasure("sum", "meter_reading"), MvMeasure("count")))

  val Schema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("building_id", StringType),
    StructField("meter", StringType),
    StructField("meter_reading", DoubleType),
    StructField("day", DateType)))

  private val Keys = EngineConfig.DefaultUniqueColumns("raw")

  /** A pre-loaded warehouse and the inputs the next batches read. */
  final class State(val dir: Path, val steps: Steps, var rows: Long,
      correctionsDir: Option[Path] = None) {
    val corrections: Path = correctionsDir.getOrElse(
      Files.createDirectories(dir.resolve("corrections")))
    val checkpoint: String = dir.resolve("checkpoint").toString
    def warehouse: Path = dir.resolve("warehouse")
  }

  def run(ctx: Ctx): Unit = {
    val gen = new Bdg2Gen(ctx.args.seed, Shape)
    // setup_s is an end-to-end metric, so a traced run sets up once
    val reps = if (ctx.tracer.isEmpty) SetupReps else 1
    val (states, setupTimes) = (1 to reps).map(r =>
      Main.seconds(preload(ctx, gen, s"inc$r"))).unzip
    states.init.foreach(s => Main.deleteTree(s.dir))
    val st = states.last
    ctx.out.notes += s"set-up pre-load " +
      s"${setupTimes.map(t => f"$t%.3f").mkString(" ")} s, " +
      f"session ${ctx.sessionS}%.3f s"
    ctx.out.endToEnd("setup_s") = (ctx.sessionS + Main.median(setupTimes), "s")
    var day = Shape.days

    val walls = Seq.newBuilder[(Double, Boolean)]
    val cpus = Seq.newBuilder[Double]
    val layerOps = Seq.newBuilder[String]
    val facts = Seq.newBuilder[Map[String, Double]]
    var offered = 0L
    // the first batch pays the first start of the merge stream and the
    // JIT compiling the batch's code paths, so it is a warm-up: checked,
    // not timed. Traced runs alternate untraced and traced batches over
    // five days, and the medians of each after the warm-up give the
    // tracing overhead. The plan is fixed, so the table every metric
    // reads ends the same size however fast the batches run.
    val batches = if (ctx.tracer.isEmpty) 1 + Batches else 5
    for (k <- 0 until batches) {
      val traced = ctx.tracer.nonEmpty && k % 2 == 1
      batch(ctx, gen, st, day, traced).foreach { b =>
        walls += ((b.wall, traced))
        ctx.out.notes += f"op day$day${if (traced) " (traced)" else ""} " +
          f"wall ${b.wall}%.3f s, cpu ${b.cpu}%.3f s"
        if (traced) { layerOps += s"day$day"; facts += b.facts }
        if (ctx.tracer.isEmpty && k > 0) { offered += b.offered; cpus += b.cpu }
      }
      day += 1
    }
    ctx.out.op("final state") { checkFinal(ctx, st) }
    val all = walls.result()
    val timedCpu = cpus.result()
    val timedWalls = all.drop(1).filter(_._2 == ctx.tracer.nonEmpty).map(_._1)
    if (timedWalls.nonEmpty) ctx.out.notes += f"batch wall median " +
      f"${Main.median(timedWalls)}%.3f s over ${timedWalls.size} batches"
    if (timedCpu.nonEmpty) {
      ctx.out.endToEnd("cpu_s") = (Main.median(timedCpu), "s")
      ctx.out.endToEnd("readings_per_cpu_s") = (offered / timedCpu.sum, "1/s")
    }
    ctx.out.endToEnd("stored_bytes_per_reading") =
      (Main.bytesUnder(st.warehouse).toDouble / st.rows, "B")
    val tracedWalls = all.filter(_._2).map(_._1)
    val untracedWalls = all.drop(1).filterNot(_._2).map(_._1)
    for (t <- ctx.tracer if tracedWalls.nonEmpty && untracedWalls.nonEmpty) {
      val wall = Main.median(tracedWalls)
      Layers.report(ctx, t, layerOps.result(), wall,
        (Main.median(untracedWalls), wall), facts.result())
    }
  }

  /** What one batch measured: its wall and CPU time, the readings it offered
    * (new, re-sent and corrected), and, when traced, the figures only
    * the benchmark can observe. */
  final case class Batch(wall: Double, cpu: Double, offered: Long,
      facts: Map[String, Double])

  private def rowsOf(rs: Seq[Reading], gen: Bdg2Gen): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](rs.size)
    rs.foreach { r =>
      val ts = gen.timestamp(r.hour)
      out.add(Row(Timestamp.valueOf(ts), gen.buildingId(r.building), r.meter,
        r.value, Date.valueOf(ts.toLocalDate)))
    }
    out
  }

  private def writeParquet(ctx: Ctx, rs: Seq[Reading], gen: Bdg2Gen,
      path: Path): Unit =
    ctx.spark.createDataFrame(rowsOf(rs, gen), Schema).coalesce(1)
      .write.parquet(path.toString)

  /** Set-up: a fresh warehouse loaded with the replica's days through
    * `Orchestrator.loadFile`, with the daily view registered first so
    * the load folds the view state. */
  private def preload(ctx: Ctx, gen: Bdg2Gen, name: String): State = {
    val dir = ctx.dir(name)
    val base = dir.resolve("base")
    val rs = Shape.meters.indices.flatMap(gen.readings)
    ctx.spark.createDataFrame(rowsOf(rs, gen), Schema)
      .write.parquet(base.toString)
    val steps = new Steps(ctx.spark,
      EngineConfig(dir.resolve("warehouse").toString), None)
    steps.registerView("raw", View)
    val res = steps.loadFile(base.toString, "raw")
    val appended = res.stats.map(_.appendedRows).getOrElse(-1L)
    require(appended == rs.size, s"pre-load appended $appended of ${rs.size}")
    new State(dir, steps, appended)
  }

  /** One delta day; returns what it measured when it ran. The day's
    * inputs are written before the clock starts. The first traced
    * batch is replayed through `Orchestrator.loadFile` on a copy of the
    * warehouse taken before it, and both must end in the same state. */
  private def batch(ctx: Ctx, gen: Bdg2Gen, st: State, d: Int,
      traced: Boolean): Option[Batch] = {
    val name = s"day$d"
    val delta = gen.delta(d, ResendShare)
    val deltaPath = st.dir.resolve(s"delta_$d")
    writeParquet(ctx, delta.fresh ++ delta.resent, gen, deltaPath)
    val fixes = gen.corrections(d, CorrectionsPerBatch)
    val tmp = st.dir.resolve(s"corr_tmp_$d")
    writeParquet(ctx, fixes, gen, tmp)
    val part = Main.files(tmp).find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, st.corrections.resolve(f"corr_$d%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    Main.deleteTree(tmp)
    val date = Date.valueOf(gen.timestamp(d * 24).toLocalDate)
    val steps = st.steps
    steps.tracer = if (traced) ctx.tracer else None
    steps.tracer.foreach(_.watchedDir = st.warehouse.resolve("raw").toString)
    val before = if (traced) Main.files(st.warehouse) else Nil
    ctx.tracer.filter(_ => traced).foreach(_.discardStreamProgress())
    val parity = if (traced && !parityDone) Some(copyState(ctx, st)) else None

    val r = ctx.out.op(name) {
      val (res, wall, cpu) = Main.timed {
        steps.span("batch.op", name)(runBatch(ctx, st, deltaPath, date))
      }
      val (loaded, view, mid) = res
      steps.tracer.foreach(t =>
        t.claimStreamProgress(t.lastSpan("pipeline.merge")))
      val c = ctx.out
      val stats = loaded.stats
      c.check(stats.map(_.appendedRows).contains(delta.fresh.size.toLong),
        s"$name appended ${stats.map(_.appendedRows)} of ${delta.fresh.size} new")
      c.check(stats.map(_.incomingRows)
        .contains((delta.fresh.size + delta.resent.size).toLong),
        s"$name offered ${stats.map(_.incomingRows)}")
      c.check(loaded.overlap.hasOverlap, s"$name re-sent rows not reported")
      val fixed = fixes.map(f => (f.hour, f.building, f.meter) -> f.units).toMap
      val want = delta.fresh.groupBy(r => (gen.buildingId(r.building), r.meter))
        .map { case (k, rs) =>
          k -> (BigDecimal(rs.map(r => fixed.getOrElse(
            (r.hour, r.building, r.meter), r.units)).sum) * 0.25, rs.size.toLong)
        }
      val got = view.map(r => (r.getAs[String]("building_id"),
        r.getAs[String]("meter")) -> (BigDecimal(
          r.getAs[java.math.BigDecimal]("sum_meter_reading")),
          r.getAs[Long]("cnt"))).toMap
      c.check(got == want, s"$name view read-back differs on " +
        s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} keys")
      st.rows += delta.fresh.size
      parity.foreach { p =>
        runBatch(ctx, p, deltaPath, date)
        val (a, b) = (fingerprint(st), fingerprint(p))
        c.check(a == b, s"$name traced and untraced load paths disagree: " +
          s"${a._1}/${b._1} rows, DDL equal ${a._2 == b._2}, views equal ${a._3 == b._3}")
        parityDone = true
        Main.deleteTree(p.dir)
      }
      val offered = delta.fresh.size + delta.resent.size
      Batch(wall, cpu, (offered + fixes.size).toLong,
        if (!traced) Map.empty
        else Layers.fileFacts(before, mid, Main.files(st.warehouse),
          st.warehouse.resolve("raw").toFile) ++ Map(
          "load.append_ratio" -> delta.fresh.size.toDouble / offered,
          "offered_rows" -> offered.toDouble))
    }
    steps.tracer = None
    Main.deleteTree(deltaPath)
    r
  }

  /** The timed part of a batch: load the delta, merge the day's
    * corrections through the stream, read the day back from the view. */
  private def runBatch(ctx: Ctx, st: State, deltaPath: Path, date: Date)
      : (graft.pipeline.LoadResult, Array[Row], Seq[java.io.File]) = {
    val steps = st.steps
    val loaded = steps.span("pipeline.load_file")(
      steps.loadFile(deltaPath.toString, "raw"))
    // traced batches list the warehouse between load and merge, to
    // tell the merge's partition rewrites from the load's appends
    val mid = if (steps.tracer.nonEmpty) Main.files(st.warehouse) else Nil
    steps.span("pipeline.merge") {
      StreamIngest.mergeStreamViews(
        StreamIngest.readFileStream(ctx.spark, st.corrections.toString,
          Schema, maxFilesPerTrigger = 1),
        steps.orch, "raw", Keys, Some("timestamp"), st.checkpoint)
    }
    val view = steps.span("pipeline.read_view")(
      steps.orch.readView(View).filter(col("day") === lit(date)).collect())
    (loaded, view, mid)
  }

  private var parityDone = false

  /** An untraced copy of `st`: its warehouse and stream checkpoint,
    * reading the same corrections directory. */
  private def copyState(ctx: Ctx, st: State): State = {
    val dir = ctx.dir(st.dir.getFileName + "_parity")
    Seq("warehouse", "checkpoint").foreach { sub =>
      val from = st.dir.resolve(sub)
      Main.files(from).foreach { f =>
        val to = dir.resolve(sub).resolve(from.relativize(f.toPath))
        Files.createDirectories(to.getParent)
        Files.copy(f.toPath, to)
      }
    }
    val steps = new Steps(ctx.spark,
      EngineConfig(dir.resolve("warehouse").toString), None)
    steps.registerView("raw", View)
    new State(dir, steps, st.rows, Some(st.corrections))
  }

  /** Row count, DDL text and view contents of a warehouse. */
  private def fingerprint(st: State): (Long, Option[String], Set[Seq[Any]]) = {
    val wh = st.steps.orch.warehouse
    (wh.read("raw").count(), wh.readDdl("raw"),
      st.steps.orch.readView(View).collect().map(_.toSeq).toSet)
  }

  /** The table holds every reading once, and the incrementally kept
    * view equals a one-shot aggregation of the table. */
  private def checkFinal(ctx: Ctx, st: State): Unit = {
    val wh = st.steps.orch.warehouse
    val raw = wh.read("raw")
    val n = raw.count()
    ctx.out.check(n == st.rows, s"raw holds $n rows, expected ${st.rows}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val oneShot = rows(MatView.finalizeView(MatView.partial(raw, View), View))
    val kept = rows(st.steps.orch.readView(View))
    ctx.out.check(oneShot == kept, s"view differs from a one-shot " +
      s"recompute on ${(oneShot diff kept).size + (kept diff oneShot).size} rows")
  }
}
