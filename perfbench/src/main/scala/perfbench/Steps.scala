package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Tables
import graft.load.{Loader, OverlapReport}
import graft.pipeline.{EngineConfig, LoadResult, Orchestrator}
import graft.profile.Profiler
import graft.schema.{DdlGenerator, Names}
import graft.store.{MatView, MatViewDef}

/** One pipeline instance over one warehouse, with the views the
  * benchmark registered on it. Untraced, every call goes through
  * `Orchestrator`'s own entry points. Traced, `loadFile` runs the same
  * public functions `Orchestrator.loadFile` calls, in the same order,
  * each inside a span, because the orchestrator's loader and view
  * refresh are private and a layer's time has to be taken from
  * outside.
  */
final class Steps(spark: SparkSession, val config: EngineConfig,
    var tracer: Option[Tracer]) {
  val orch = new Orchestrator(spark, config)
  private val loader = new Loader(spark, orch.warehouse)
  private var views = Seq.empty[MatViewDef]

  def span[T](name: String, op: String = "")(body: => T): T =
    tracer.fold(body)(_.span(name, op)(body))

  def registerView(table: String, mv: MatViewDef): Unit = {
    orch.registerView(table, mv)
    views :+= mv
  }

  /** `Orchestrator.loadAll`, with each table's load going through
    * [[loadFile]]. */
  def loadAll(stagedDir: String): Map[String, LoadResult] =
    if (tracer.isEmpty) orch.loadAll(stagedDir)
    else new java.io.File(stagedDir).listFiles().filter(_.isDirectory)
      .sortBy(_.getName).map { dir =>
        val table = Names.deriveTableName(dir.getName)
        table -> loadFile(dir.getPath, table)
      }.toMap

  def loadFile(path: String, table: String): LoadResult =
    if (tracer.isEmpty) orch.loadFile(path, Some(table))
    else decomposedLoad(path, table)

  /** `Orchestrator.loadFile(path, Some(table))` with its default
    * `ifExists = "skip"` and `skipOnOverlap = false`, step by step. */
  private def decomposedLoad(path: String, table: String): LoadResult = {
    val wh = orch.warehouse
    val tc = config.timeColumn
    val df = span("io.read_parquet")(Tables.readParquet(spark, path))
    val keys = config.uniqueColumns.getOrElse(table, Seq(df.columns.head))
    val reused =
      if (wh.tableExists(table)) span("schema.read_ddl")(wh.readDdl(table))
      else None
    val ddl = reused.getOrElse(span("profile.analyze") {
      DdlGenerator.createTable(table,
        Profiler.analyzeSchema(df).map(_._2), keys)
    })
    val hasTime = df.columns.contains(tc)
    span("store.create_table") {
      wh.createTable(table, df.schema, ifExists = "skip", uniqueKeys = keys,
        partitionSource = if (hasTime) Some(tc) else None)
      if (reused.isEmpty) wh.writeDdl(table, ddl)
    }
    val entityCol = keys.find(_ != tc).getOrElse(df.columns.head)
    val onAppended: DataFrame => Unit = fresh => {
      span("store.view_fold")(
        views.foreach(mv => MatView.refresh(wh, mv, fresh)))
      span("pipeline.sync_views")(orch.syncViews(table))
    }
    val report =
      if (hasTime) span("load.check_overlap")(
        loader.checkOverlap(df, table, tc, entityCol))
      else OverlapReport(hasOverlap = false, 0, None, None, Nil)
    val stats = span("load.dedup_append")(loader.dedupAppend(df, table, keys,
      if (hasTime) Some(tc) else None, onAppended))
    LoadResult(table, ddl, report, Some(stats))
  }
}
