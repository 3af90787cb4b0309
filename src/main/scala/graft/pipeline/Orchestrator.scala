package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.load.{Loader, LoadStats, OverlapReport}
import graft.profile.Profiler
import graft.schema.{DdlGenerator, Names}
import graft.store.Warehouse
import graft.transform.Transforms

/** Engine configuration — the typed form of the reference's YAML tree
  * (`config/app_config.yaml`, loaded by `config_manager.py:11-43`).
  * `uniqueColumns` mirrors `app_config.yaml:11-13` exactly.
  */
final case class EngineConfig(
    warehouseDir: String,
    uniqueColumns: Map[String, Seq[String]] = EngineConfig.DefaultUniqueColumns,
    timeColumn: String = "timestamp",
    entityColumn: String = "building_id")

object EngineConfig {
  /** `app_config.yaml:11-13`: metadata→building_id, weather→(timestamp,
    * site_id), raw→(timestamp, building_id, meter). */
  val DefaultUniqueColumns: Map[String, Seq[String]] = Map(
    "metadata" -> Seq("building_id"),
    "weather" -> Seq("timestamp", "site_id"),
    "raw" -> Seq("timestamp", "building_id", "meter"))

  /** Build from a loaded YAML tree (`config_manager.py` →
    * `app_config.yaml`): `project_data.unique_columns` populates the
    * per-table keys; engine-specific settings live under `engine.*`
    * (warehouse_dir / time_column / entity_column) with the same
    * defaults as the case class.
    */
  def fromConfig(cm: graft.config.ConfigManager,
      defaultWarehouseDir: String = "./warehouse"): EngineConfig = {
    val uc = cm.getMap("project_data.unique_columns") match {
      case m if m.nonEmpty => m.map { case (t, cols) =>
        t -> (cols match {
          case s: Seq[_] => s.map(_.toString)
          case other => Seq(String.valueOf(other))
        })
      }
      case _ => DefaultUniqueColumns
    }
    EngineConfig(
      warehouseDir =
        cm.getOrElse("engine.warehouse_dir", defaultWarehouseDir).toString,
      uniqueColumns = uc,
      timeColumn = cm.getOrElse("engine.time_column", "timestamp").toString,
      entityColumn =
        cm.getOrElse("engine.entity_column", "building_id").toString)
  }
}

/** The reference's `Orchestrator` (`orchestrator.py:17-161`) as a
  * Spark pipeline — the three stages of SURVEY §3:
  *
  *  - transformData: per-folder CSV → melt-or-identity → parquet
  *    (`§3.2`; the 50k-chunk loop and temp-file merge disappear into
  *    one distributed job per file)
  *  - loadData: per parquet file: profile → infer schema → create
  *    table → overlap check → dedup-append (`§3.1`; staging tables,
  *    COPY serialization and thread pools collapse into the Loader's
  *    anti-join append)
  *  - analytics over the loaded warehouse via plain spark.sql
  *
  * Scale: each per-file job is independent and internally distributed;
  * nothing here iterates rows on the driver.
  */
final class Orchestrator(spark: SparkSession, config: EngineConfig) {

  val warehouse = new Warehouse(spark, config.warehouseDir)
  private val loader = new Loader(spark, warehouse)

  /** Retrieve stage (`orchestrator.py:120-123` → `data_extractor.py:
    * 20-66`): Zenodo record download then folder-filtered unzip, both
    * driven by the `project_data` config block (record_id, file_name,
    * raw_data_file_path, zip_file_folders_to_extract). Returns the
    * extracted file paths. `downloadFn` defaults to the real Zenodo
    * client and is injectable so the chain runs offline in specs —
    * matching the reference's error contract: a missing `project_data`
    * block raises (`data_extractor.py:31-32` ValueError shape).
    */
  def retrieveData(
      cm: graft.config.ConfigManager,
      downloadFn: (String, String, String) => java.nio.file.Path =
        graft.io.Ingest.downloadFromZenodo): Seq[java.nio.file.Path] = {
    val pd = cm.getMap("project_data")
    if (pd.isEmpty)
      throw new IllegalArgumentException(
        "No configuration found for data extraction")
    val recordId = pd.getOrElse("record_id",
      sys.error("project_data.record_id missing")).toString
    val fileName = pd.getOrElse("file_name",
      sys.error("project_data.file_name missing")).toString
    val rawDir = pd.getOrElse("raw_data_file_path", "./raw_data").toString
    val folders =
      cm.getSeq("project_data.zip_file_folders_to_extract").map(_.toString)
    val zip = downloadFn(recordId, fileName, rawDir)
    graft.io.Ingest.unzipFolders(zip.toString, rawDir, folders)
  }

  /** The reference's download→unzip→transform composition
    * (`orchestrator.py:120-126` back-to-back stages): retrieve into
    * the configured raw dir, then transform every extracted CSV folder
    * to consolidated parquet under `outDir`.
    */
  def retrieveAndTransform(
      cm: graft.config.ConfigManager,
      outDir: String,
      downloadFn: (String, String, String) => java.nio.file.Path =
        graft.io.Ingest.downloadFromZenodo): Map[String, String] = {
    retrieveData(cm, downloadFn)
    val rawDir = cm.getOrElse("project_data.raw_data_file_path", "./raw_data")
      .toString
    transformData(rawDir, outDir)
  }

  /** §3.2 transform stage: walk `root` for CSV files, route each
    * folder to melt or identity (`data_transformer.py:376-383`), write
    * consolidated parquet per folder under `outDir`.
    */
  def transformData(root: String, outDir: String): Map[String, String] = {
    val byFolder = Tables.findFilesByExtension(root, ".csv")
    byFolder.map { case (folder, files) =>
      val folderName = new java.io.File(folder).getName
      val outPath = s"$outDir/${Names.deriveTableName(folderName)}"
      val dfs = files.map { f =>
        val stem = Names.deriveTableName(f)
        val raw = spark.read.option("header", "true")
          .option("inferSchema", "true").csv(f)
        Transforms.transformForFolder(folderName, stem)(raw)
      }
      dfs.reduce(_ unionByName _).write.mode("overwrite").parquet(outPath)
      folderName -> outPath
    }
  }

  /** The reference's `load_data` loop (`orchestrator.py` walks every
    * parquet under data_sources and loads each): load every staged
    * table directory under `stagedDir` into the warehouse, in name
    * order. Listing goes through the Hadoop FS so staged data may live
    * on any filesystem.
    */
  def loadAll(stagedDir: String, ifExists: String = "skip",
      skipOnOverlap: Boolean = false): Map[String, LoadResult] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(stagedDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName)
      .map { dir =>
        val table = Names.deriveTableName(dir.getName)
        table -> loadFile(dir.toString, Some(table), ifExists, skipOnOverlap)
      }.toMap
  }

  /** The reference's whole main flow (`orchestrator.py`:
    * retrieve_data → transform_data → load_data) as one call:
    * download + unzip per config, transform every CSV folder to
    * parquet under `stagedDir`, load every staged table. Idempotent
    * end-to-end: re-running re-downloads nothing new, re-transforms,
    * and dedup-appends zero rows.
    */
  def runPipeline(
      cm: graft.config.ConfigManager,
      stagedDir: String,
      downloadFn: (String, String, String) => java.nio.file.Path =
        graft.io.Ingest.downloadFromZenodo): Map[String, LoadResult] = {
    retrieveAndTransform(cm, stagedDir, downloadFn)
    loadAll(stagedDir)
  }

  /** §3.1 load stage for one parquet file: profile + infer the SQL
    * schema, create the table, run the overlap pre-check, then
    * dedup-append. Returns the reference's result shape: schema DDL,
    * overlap report, load stats.
    *
    * Schema reuse (`schema_analysis_orchestrator.py:73-83`): the DDL
    * generated on first load persists next to the table
    * ([[Warehouse.writeDdl]], the `schemas/<table>_schema.sql`
    * analogue) and later loads of the same table read it back instead
    * of re-profiling — `ifExists="replace"` forces a fresh profile.
    * At 100 TB the profiling scan is the expensive half of a load;
    * paying it once per table, not once per batch, is the point.
    */
  def loadFile(
      path: String,
      tableName: Option[String] = None,
      ifExists: String = "skip",
      skipOnOverlap: Boolean = false): LoadResult = {
    val table = tableName.getOrElse(Names.deriveTableName(path))
    val df = Tables.readParquet(spark, path)
    val keys = config.uniqueColumns.getOrElse(table,
      Seq(df.columns.head))
    val reused =
      if (ifExists != "replace" && warehouse.tableExists(table))
        warehouse.readDdl(table)
      else None
    val ddl = reused.getOrElse {
      val defs = Profiler.analyzeSchema(df)
      DdlGenerator.createTable(table, defs.map(_._2), keys)
    }
    val hasTime = df.columns.contains(config.timeColumn)
    // createTable's own fail/skip/replace dispatch handles an existing
    // table — a replace request must actually replace, not degrade to
    // append. Time-keyed tables are laid out by date so re-ingests and
    // overlap checks prune to the batch's date range.
    warehouse.createTable(table, df.schema, ifExists = ifExists,
      uniqueKeys = keys,
      partitionSource = if (hasTime) Some(config.timeColumn) else None)
    if (reused.isEmpty) warehouse.writeDdl(table, ddl)
    val entityCol = keys.find(_ != config.timeColumn)
      .getOrElse(df.columns.head)
    val (report, stats) =
      if (hasTime)
        loader.load(df, table, keys, config.timeColumn, entityCol,
          skipOnOverlap, onAppended = refreshViews(table))
      else (OverlapReport.NoOverlap,
        Some(loader.dedupAppend(df, table, keys,
          onAppended = refreshViews(table))))
    LoadResult(table, ddl, report, stats)
  }

  // ------------------------------------------------- view maintenance

  private val registeredViews =
    scala.collection.mutable.Map.empty[String, Seq[graft.store.MatViewDef]]
      .withDefaultValue(Nil)

  /** Register a [[graft.store.MatView]] over `table`: every later
    * load folds its EXACT appended delta (post-dedup) into the view
    * state, so the rollup stays consistent with the table at
    * O(delta + state) per load — including duplicate-carrying
    * re-ingests, where the delta (and therefore the fold) is empty.
    */
  def registerView(table: String, mv: graft.store.MatViewDef): Unit =
    registeredViews(table) = registeredViews(table) :+ mv

  /** The current finalized state of a registered view. */
  def readView(mv: graft.store.MatViewDef): DataFrame =
    graft.store.MatView.readView(warehouse, mv)

  /** Crash-consistency sweep: a process that died between a
    * successful table append and the view fold leaves the state
    * permanently short — and the advertised idempotent re-load cannot
    * replay the fold, because re-ingesting the same rows produces an
    * EMPTY post-dedup delta. Detection is exact for the append-only
    * load path: every fold adds exactly its delta's row count to the
    * state's hidden `__n` total, so state-rows-covered ≠ table rows
    * IFF some delta appended without folding. The check costs a
    * parquet footer-metadata count plus an O(state) sum; the rebuild
    * is O(table), paid only on actual divergence. Runs after every
    * load's folds; callable directly after out-of-band maintenance.
    */
  def syncViews(table: String): Seq[String] =
    // a pending-mutation journal is crash evidence the row-count
    // detector below cannot see (count-preserving updates) — recover
    // it first; recovery rebuilds every registered view
    if (recoverPendingMutation(table)) registeredViews(table).map(_.name)
    else registeredViews(table).flatMap { mv =>
      val covered = graft.store.MatView.rowsCovered(warehouse, mv)
      val actual = warehouse.read(table).count()
      if (covered != actual) {
        graft.store.MatView.rebuild(warehouse, mv, warehouse.read(table))
        Some(mv.name)
      } else None
    }

  private def refreshViews(table: String)(fresh: DataFrame): Unit = {
    registeredViews(table).foreach(mv =>
      graft.store.MatView.refresh(warehouse, mv, fresh))
    syncViews(table)
  }

  private def mutJournal(table: String) = s"_pending_mut_$table"

  /** Crash recovery for [[merge]]'s fold window: a merge journals its
    * pinned (removed, updates) mutation to durable side tables BEFORE
    * rewriting the base, and drops the journal only after every
    * registered view folded. A journal found here therefore means a
    * process died mid-merge — the views may hold any prefix of the
    * folds (and for count-preserving updates [[syncViews]]'s row-count
    * detector is blind by design) — so the recovery action is a
    * rebuild of every registered view from the CURRENT table state,
    * which is correct whether the crash hit before the base rewrite,
    * between rewrite and folds, or between two folds. O(table), paid
    * only on actual crash evidence. Returns whether a recovery ran.
    *
    * Scope: rebuilds the views registered ON THIS INSTANCE at recovery
    * time — register views before merging/recovering (the standard
    * startup order; view registration is in-memory). A view first
    * registered after a recovery starts from its own initial
    * refresh/rebuild, so it cannot inherit the crash's drift.
    */
  def recoverPendingMutation(table: String): Boolean = {
    val j = mutJournal(table)
    val parts = Seq(s"${j}_removed", s"${j}_updates")
    if (!parts.exists(warehouse.tableExists)) false
    else {
      registeredViews(table).foreach(mv =>
        graft.store.MatView.rebuild(warehouse, mv, warehouse.read(table)))
      parts.filter(warehouse.tableExists).foreach(warehouse.dropTable)
      true
    }
  }

  /** SCD1 upsert THROUGH the view layer: registered views fold the
    * exact mutation (retracted pre-images + new rows) instead of
    * silently drifting the way a merge behind the pipeline's back
    * would. The pre-image rows being replaced are pinned TO DISK as a
    * journal BEFORE the merge rewrites the table — a lazy frame would
    * re-read the post-merge state and retract the wrong payloads, and
    * an in-memory pin would leave the advertised crash window between
    * the base rewrite and the folds ([[recoverPendingMutation]] closes
    * it: journal → rewrite → folds → journal drop, every crash point
    * recoverable). Fold cost per view follows
    * [[graft.store.MatView.mutateState]]: signed partials with zero
    * base reads when all measures are invertible, delta-keyed group
    * rescan otherwise. Note the count-based [[syncViews]] detector is
    * exact for the append path but blind to count-preserving pure
    * updates — which is exactly why merges must route through here
    * rather than relying on the sweep to heal.
    */
  def merge(table: String, updates: DataFrame, keys: Seq[String]): Unit = {
    recoverPendingMutation(table)
    val views = registeredViews(table)
    if (views.isEmpty) { warehouse.merge(table, updates, keys); return }
    val j = mutJournal(table)
    // Journal the updates FIRST and derive everything downstream — the
    // removed pre-images, the base rewrite, and the view folds — from
    // the journaled snapshot. A nondeterministic `updates` frame (e.g.
    // latest-per-key picked by row_number over a tied timestamp) would
    // otherwise re-evaluate differently between the journal write and
    // the base merge, and the base could merge different rows than the
    // views fold — silent count-preserving drift syncViews cannot see.
    warehouse.createTable(s"${j}_updates", updates.schema,
      ifExists = "replace")
    warehouse.append(s"${j}_updates", updates)
    val updatesJ = warehouse.read(s"${j}_updates")
    val removedPre = warehouse.read(table)
      .join(updatesJ.select(keys.map(col): _*), keys, "left_semi")
    warehouse.createTable(s"${j}_removed", removedPre.schema,
      ifExists = "replace")
    warehouse.append(s"${j}_removed", removedPre)
    val removed = warehouse.read(s"${j}_removed")
    warehouse.merge(table, updatesJ, keys)
    views.foreach(mv => graft.store.MatView.refreshMutation(
      warehouse, mv, removed, updatesJ, warehouse.read(table)))
    Seq(s"${j}_removed", s"${j}_updates").foreach(warehouse.dropTable)
  }

  /** Ad-hoc SQL over the warehouse (`orchestrator.py:60-88` →
    * `spark.sql`): registers every warehouse table as a temp view
    * first.
    */
  def sql(query: String): DataFrame = {
    warehouse.listTables().foreach { t =>
      warehouse.read(t).createOrReplaceTempView(t)
    }
    spark.sql(query)
  }
}

final case class LoadResult(
    table: String,
    ddl: String,
    overlap: OverlapReport,
    stats: Option[LoadStats])

/** Column-coercion helpers — reference P4/P5
  * (`data_loader.py:551-604`) — and the dynamic conjunctive filter P6
  * (`postgres_manager.py:237-281`).
  */
object Coercions {

  /** P6: build `k1=v1 AND k2=v2 AND …` from a map — the reference's
    * dynamically-assembled WHERE clause, as a fold of typed predicates
    * (each one pushdown-eligible).
    */
  def conjunctiveFilter(df: DataFrame,
      filters: Map[String, Any]): DataFrame =
    filters.foldLeft(df) { case (d, (k, v)) => d.filter(col(k) === lit(v)) }

  /** P4: apply a column transform to each listed column that exists
    * (`apply_to_columns`). */
  def applyToColumns(df: DataFrame, cols: Seq[String],
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df)((d, c) =>
      d.withColumn(c, f(col(c))))

  /** P5: to-numeric(coerce) → round → nullable integer
    * (`convert_to_numeric_int64`): try_cast gives pandas
    * `errors='coerce'` semantics under ANSI mode (Spark 4 default) —
    * malformed values become NULL instead of throwing.
    */
  def toNullableLong(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c.try_cast("double")).try_cast("long")

  /** The reference's special-cased BDG2 integer columns
    * (`data_loader.py:622-626`). */
  val Bdg2IntColumns: Seq[String] = Seq(
    "site_id_kaggle", "building_id_kaggle", "sqft", "yearbuilt",
    "numberoffloors", "occupants", "precipDepth1HR", "windDirection",
    "cloudCoverage", "precipDepth6HR")

  def coerceBdg2Integers(df: DataFrame): DataFrame =
    applyToColumns(df, Bdg2IntColumns, toNullableLong)
}
