package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.EnergyAnalytics
import graft.pipeline.{EngineConfig, LoadResult}

/** `bdg2_bulk`: the cold paper pipeline over a seeded BDG2 replica,
  * one pass per op: transform the wide CSVs, load every staged table
  * into an empty warehouse, re-load the same staged tables (which must
  * append nothing), and write the four `EnergyAnalytics` rollups to
  * the noop sink. Every row-proportional step runs here: CSV parse,
  * melt, full-column profiling, date-partitioned bulk append, and
  * full-range anti-joins. At this size per-job overhead still
  * outweighs them (16% core utilization; 28% at 16 times the cells).
  */
object Bulk {

  /** 21 days of hourly readings for 48 buildings on 4 sites, two meter
    * kinds: 40,320 cells, about 900 of them null gaps; 0.39 MB of CSV with the
    * metadata and weather. */
  val Shape: Bdg2Shape = Bdg2Shape(buildings = 48, sites = 4, days = 21)
  val SetupReps = 3

  /** One run times one cold pass: the first pipeline pass in a fresh
    * JVM over an empty warehouse, the way a scheduled batch load runs.
    * A traced run traces that cold pass for the per-layer metrics, and
    * then loads its staged tables three more times, untraced, traced
    * and untraced, for the parity check and the tracing overhead. */
  def run(ctx: Ctx): Unit = {
    val gen = new Bdg2Gen(ctx.args.seed, Shape)
    val in = ctx.args.work.resolve("in")
    // set-up is input generation, repeated so its median is steady
    val (gens, genTimes) = (1 to SetupReps).map { _ =>
      Main.seconds {
        Main.deleteTree(in)
        (gen.writeCsvs(in), gen.expectedRaw)
      }
    }.unzip
    val (csvBytes, expected) = gens.last
    ctx.out.notes += s"set-up input generation " +
      s"${genTimes.map(t => f"$t%.3f").mkString(" ")} s, " +
      f"session ${ctx.sessionS}%.3f s"
    ctx.out.endToEnd("setup_s") = (ctx.sessionS + Main.median(genTimes), "s")

    val traced = ctx.tracer.nonEmpty
    pass(ctx, expected, in, traced).foreach { p =>
      ctx.out.notes += f"op pass${if (traced) " (traced)" else ""} " +
        f"wall ${p.wall}%.3f s, cpu ${p.cpu}%.3f s"
      ctx.out.endToEnd("cpu_s") = (p.cpu, "s")
      ctx.out.endToEnd("readings_per_cpu_s") = (expected.cells / p.cpu, "1/s")
      ctx.out.endToEnd("stored_bytes_per_reading") =
        (p.storedBytes.toDouble / expected.cells, "B")
      for (t <- ctx.tracer; overhead <- p.loadWalls)
        Layers.report(ctx, t, Seq("pass"), p.wall, overhead,
          Seq(p.facts + ("transform.csv_bytes_in" -> csvBytes.toDouble)))
    }
  }

  /** What one pass measured and left behind; `loadWalls` is the
    * (untraced, traced) wall of loading its staged tables again. */
  final case class Pass(wall: Double, cpu: Double, storedBytes: Long,
      facts: Map[String, Double], loadWalls: Option[(Double, Double)])

  /** One pass; returns what it measured when it ran. After the timed
    * part, a traced pass loads its staged tables again three times,
    * each into a warehouse of its own. The first load goes through the
    * untraced `Orchestrator.loadAll` and must leave the same per-table
    * row counts and DDL text as the traced pass. The next two, traced
    * and untraced, bracket the traced load for the tracing overhead:
    * traced minus the mean of the untraced walls. */
  private def pass(ctx: Ctx, expected: Expected, in: Path,
      traced: Boolean): Option[Pass] = {
    val name = "pass"
    val dir = ctx.dir(name)
    val staged = dir.resolve("staged").toString
    val whDir = dir.resolve("warehouse")
    val steps = new Steps(ctx.spark, EngineConfig(whDir.toString),
      if (traced) ctx.tracer else None)
    ctx.tracer.filter(_ => traced).foreach(_.watchedDir =
      whDir.resolve("raw").toString)
    val r = ctx.out.op(name) {
      val (res, wall, cpu) = Main.timed {
        steps.span("pass.op", name) {
          steps.span("pipeline.transform")(
            steps.orch.transformData(in.toString, staged))
          val load = steps.span("pipeline.load")(steps.loadAll(staged))
          val reload = steps.span("pipeline.reload")(steps.loadAll(staged))
          steps.span("analytics.rollup")(rollups(steps).foreach(
            _.write.format("noop").mode("overwrite").save()))
          (load, reload)
        }
      }
      val (load, reload) = res
      checkLoads(ctx, expected, load, reload)
      checkRollups(ctx, expected, steps)
      def state(s: Steps, loaded: Map[String, LoadResult]) =
        loaded.map { case (t, r) =>
          t -> (s.orch.warehouse.read(t).count(), r.ddl) }
      val loadWalls = Option.when(traced) {
        def again(sub: String, tracer: Option[Tracer]) = {
          val s = new Steps(ctx.spark,
            EngineConfig(dir.resolve(sub).toString), tracer)
          val (loaded, wall) = Main.seconds(
            s.span("extra.load", sub)(s.loadAll(staged)))
          (state(s, loaded), wall)
        }
        val (untraced, before) = again("untraced1", None)
        val tracedState = state(steps, load)
        ctx.out.check(tracedState == untraced,
          s"traced load left $tracedState, untraced $untraced")
        val tracedWall = again("traced", ctx.tracer)._2
        val after = again("untraced2", None)._2
        ((before + after) / 2, tracedWall)
      }
      val stagedFiles = Main.files(dir.resolve("staged"))
        .filter(_.getName.endsWith(".parquet"))
      def raw(m: Map[String, LoadResult]) =
        m.get("raw").flatMap(_.stats).map(_.incomingRows).getOrElse(0L)
      val offered = (load.values ++ reload.values).flatMap(_.stats)
      val whFiles = Main.files(whDir)
      Pass(wall, cpu, whFiles.map(_.length).sum,
        Layers.fileFacts(Nil, Nil, whFiles, whDir.resolve("raw").toFile) ++ Map(
          "transform.melt_rows_out" -> raw(load).toDouble,
          "transform.parquet_bytes_out" -> stagedFiles.map(_.length).sum.toDouble,
          "transform.files_out" -> stagedFiles.size.toDouble,
          "load.append_ratio" -> offered.map(_.appendedRows).sum.toDouble /
            offered.map(_.incomingRows).sum,
          "offered_rows" -> (raw(load) + raw(reload)).toDouble),
        loadWalls)
    }
    Main.deleteTree(dir)
    r
  }

  def rollups(steps: Steps): Seq[DataFrame] = {
    val wh = steps.orch.warehouse
    val raw = wh.read("raw")
    val meta = wh.read("metadata")
    Seq(EnergyAnalytics.consumptionRollup(raw, "1 day"),
      EnergyAnalytics.siteRollup(raw, meta),
      EnergyAnalytics.weatherNormalizedModel(raw, meta, wh.read("weather")),
      EnergyAnalytics.completeness(raw))
  }

  /** Lines the DDL inferred for `raw` must hold. */
  val RawDdl: Seq[String] = Seq(
      "\"timestamp\" TIMESTAMP WITH TIME ZONE NOT NULL,",
      "\"building_id\" VARCHAR(22) NOT NULL,",
      "\"meter_reading\" NUMERIC(12,6),",
      "\"meter\" VARCHAR(12) NOT NULL,",
      "PRIMARY KEY (\"timestamp\", \"building_id\", \"meter\")")

  private def checkLoads(ctx: Ctx, expected: Expected,
      load: Map[String, LoadResult], reload: Map[String, LoadResult]): Unit = {
    val c = ctx.out
    def appended(m: Map[String, LoadResult], t: String) =
      m.get(t).flatMap(_.stats).map(_.appendedRows).getOrElse(-1L)
    c.check(load.keySet == Set("raw", "metadata", "weather"),
      s"loaded tables ${load.keySet}")
    c.check(appended(load, "raw") == expected.cells,
      s"raw appended ${appended(load, "raw")}, expected ${expected.cells}")
    c.check(appended(load, "metadata") == Shape.buildings,
      s"metadata appended ${appended(load, "metadata")}")
    c.check(appended(load, "weather") == Shape.sites.toLong * Shape.hours,
      s"weather appended ${appended(load, "weather")}")
    reload.keys.foreach(t =>
      c.check(appended(reload, t) == 0, s"re-load appended to $t"))
    reload.get("raw").foreach { r =>
      c.check(r.overlap.hasOverlap && r.overlap.overlapCount == expected.cells,
        s"re-load overlap ${r.overlap.hasOverlap}/${r.overlap.overlapCount}")
    }
    load.get("raw").foreach(r =>
      c.check(RawDdl.forall(r.ddl.contains), s"raw DDL differs: ${r.ddl}"))
  }

  /** The rollups, aggregated back to (building, meter) and site level,
    * must equal the generator's exact totals. */
  private def checkRollups(ctx: Ctx, expected: Expected,
      steps: Steps): Unit = {
    val Seq(cons, site, model, compl) = rollups(steps)
    val c = ctx.out
    val got = cons.groupBy("building_id", "meter")
      .agg(sum("total_reading").as("t"), sum("n_readings").as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val want = expected.totals.map { case (k, u) =>
      k -> (u * 0.25, Shape.hours.toLong) }
    c.check(got == want, s"consumption rollup differs on " +
      s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} keys")
    val siteGot = site.groupBy("site_id").agg(sum("total_reading"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val siteWant = expected.totals.toSeq.groupBy { case ((b, _), _) =>
      b.takeWhile(_ != '_') }.map { case (s, xs) => s -> xs.map(_._2).sum * 0.25 }
    c.check(siteGot == siteWant, s"site rollup differs: $siteGot")
    val complGot = compl.collect().map(r =>
      (r.getAs[String]("building_id"), r.getAs[String]("meter")) ->
        r.getAs[Long]("n_observed")).toMap
    c.check(complGot == expected.totals.map { case (k, _) =>
      k -> Shape.hours.toLong }, "completeness counts differ")
    val modelRows = model.count()
    c.check(modelRows == Shape.buildings,
      s"weather model has $modelRows buildings")
  }
}
