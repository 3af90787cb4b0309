package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row,
  SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Warehouse layer — the engine-management surface of the reference's
  * `postgres_manager.py` table API (SURVEY §2.12), re-expressed over
  * the Spark catalog + Parquet storage.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] API so
  * `location` may be any supported URI — `file:///`, `hdfs://`,
  * `s3a://` — not just the local disk the tests use. That is the
  * difference between a demo store and one a 1000-executor cluster can
  * actually point at.
  *
  * Unique keys have no engine-enforced constraint (Spark has none);
  * they are recorded as table properties and enforced at merge time by
  * [[graft.load.Loader]] — the same place the reference enforced them
  * (staging-merge dedup, `data_loader.py:681-728`). Single-driver
  * engine: concurrent writers are out of scope (SURVEY §7.4.4).
  */
final class Warehouse(spark: SparkSession, val location: String) {

  private def path(table: String) = s"$location/$table"

  private def fs: FileSystem =
    new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------------
  // Single-writer lease: the single-driver contract (SURVEY §7.4.4)
  // ENFORCED, not just documented — two processes interleaving one
  // table's swap dance would corrupt it unpredictably; with a lease
  // the second writer refuses LOUDLY, naming the holder. Lease files
  // live under `_locks/` (outside every table dir, which swaps
  // rename), are created atomically (create w/o overwrite), and go
  // stale after `spark.graft.lease.staleMs` (default 1 h) so a
  // crashed holder can't wedge the table forever — the next writer
  // takes the stale lease over (via an atomic RENAME to a unique
  // tombstone, so exactly one contender wins even when several spot
  // the stale lease simultaneously) and proceeds. Reentrant per
  // instance: a merge that internally replaceTables the same table
  // re-enters its own lease (depth-counted), matching the one-writer
  // model.
  //
  // CONTRACT: the lease is only as exclusive as the filesystem's
  // create-no-overwrite and rename. Both are atomic on file://,
  // hdfs:// and viewfs://; on object stores (s3a://) create is
  // check-then-act and rename is copy+delete, so two writers can
  // both "acquire" — the lease CANNOT protect such a warehouse.
  // Mutations on a non-atomic scheme therefore REFUSE unless
  // `spark.graft.lease.acceptNonAtomicScheme=true` (accepting that
  // exclusion is then advisory; appropriate when a single driver is
  // guaranteed by the orchestration layer instead).
  // ---------------------------------------------------------------
  private val heldLeases = scala.collection.mutable.Map.empty[String, Int]
  // one mkdirs per instance, not per mutation — micro-merge-heavy
  // workloads (IVM retraction folds) pay the lease as pure fs-op
  // overhead, so every avoidable RPC counts
  @volatile private var locksDirReady = false

  private def leasePath(table: String) =
    new Path(location, s"_locks/$table.lease")

  private def staleMs: Long = spark.conf
    .getOption("spark.graft.lease.staleMs").map(_.toLong)
    .getOrElse(3600000L)

  // computed once per instance: the scheme never changes under a
  // location, and acquire runs on every mutation
  private lazy val leaseSchemeOk: Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    Warehouse.AtomicCreateSchemes.contains(scheme) ||
      spark.conf.getOption("spark.graft.lease.acceptNonAtomicScheme")
        .exists(_.toBoolean)
  }

  private def requireAtomicLeaseScheme(): Unit =
    if (!leaseSchemeOk) throw new IllegalStateException(
      s"warehouse scheme '${fs.getUri.getScheme}' has no atomic " +
        "create-exclusive/rename, so the single-writer lease cannot " +
        "exclude a concurrent writer (object-store create is " +
        "check-then-act) — point the warehouse at file/hdfs/viewfs, " +
        "or set spark.graft.lease.acceptNonAtomicScheme=true to " +
        "proceed with ADVISORY leases under an external single-driver " +
        "guarantee")

  private def tryCreateLease(p: Path, op: String): Boolean =
    try {
      val out = fs.create(p, false)
      try out.write(
        (s"op=$op pid=${ProcessHandle.current.pid} " +
          s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
          s"at=${System.currentTimeMillis}").getBytes("UTF-8"))
      finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  private def acquireLease(table: String, op: String): Unit = synchronized {
    heldLeases.get(table) match {
      case Some(depth) => heldLeases(table) = depth + 1
      case None =>
        requireAtomicLeaseScheme()
        val p = leasePath(table)
        if (!locksDirReady) { fs.mkdirs(p.getParent); locksDirReady = true }
        if (!tryCreateLease(p, op)) {
          val st =
            try Some(fs.getFileStatus(p))
            catch { case _: java.io.FileNotFoundException => None }
          val age = st.map(s =>
            System.currentTimeMillis - s.getModificationTime)
          val recovered = age match {
            case Some(a) if a > staleMs =>
              // stale takeover: the holder died mid-mutation; every
              // mutation here is crash-safe (tmp + rename), so taking
              // the lease and proceeding is exactly crash recovery.
              // Takeover is CAS-like: rename the stale lease to a
              // unique tombstone — exactly ONE of several contenders
              // wins the rename; the losers fall through to
              // tryCreateLease and refuse against the winner's fresh
              // lease (a delete-then-create takeover would let a
              // second contender delete the first's FRESH lease)
              val tomb = new Path(p.getParent,
                s"${p.getName}.stale.${ProcessHandle.current.pid}." +
                  s"${System.nanoTime}")
              val won =
                try fs.rename(p, tomb)
                catch { case _: java.io.IOException => false }
              if (won) fs.delete(tomb, false)
              tryCreateLease(p, op)
            case None =>
              tryCreateLease(p, op) // releaser raced us — retry once
            case _ => false
          }
          if (!recovered) {
            val holder = try {
              val in = fs.open(p)
              try new String(
                org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
              finally in.close()
            } catch { case _: Exception => "<unreadable>" }
            throw new IllegalStateException(
              s"table '$table' is being mutated by another writer " +
                s"[$holder] (lease age ${age.getOrElse(-1L)} ms, " +
                s"stale after $staleMs ms) — concurrent Warehouse " +
                "mutations are unsupported (SURVEY §7.4.4); if the " +
                "holder crashed, retry after the lease goes stale or " +
                "lower spark.graft.lease.staleMs")
          } else heldLeases(table) = 1
        } else heldLeases(table) = 1
    }
  }

  private def releaseLease(table: String): Unit = synchronized {
    heldLeases.get(table) match {
      case Some(1) =>
        heldLeases.remove(table)
        try fs.delete(leasePath(table), false)
        catch { case _: java.io.IOException => () }
      case Some(depth) => heldLeases(table) = depth - 1
      case None => () // defensive: release without acquire is a no-op
    }
  }

  /** Run `body` holding `table`'s writer lease (acquire → mutate →
    * release; reentrant within this instance).
    */
  private def withTableLease[T](table: String, op: String)(body: => T): T = {
    acquireLease(table, op)
    try body finally releaseLease(table)
  }

  /** `postgres_manager.py:431-441`. */
  def tableExists(table: String): Boolean =
    fs.exists(new Path(path(table)))

  /** `create_table_from_schema` (`postgres_manager.py:443-490`) with
    * if-exists modes fail/replace/skip
    * (`schema_analysis_orchestrator.py:73-83`).
    *
    * `partitionSource`: a timestamp column to layout the table by —
    * the Spark analogue of the reference's Postgres RANGE partitions
    * (`postgres_manager.py` partition DDL, SURVEY §2.12). Rows are
    * written under `p_date=YYYY-MM-DD/` directories derived from the
    * column; readers never see the derived column ([[read]] drops it),
    * but any scan filtered on it prunes whole date directories — the
    * property [[readTimeRange]] relies on to avoid full-table key
    * scans on re-ingest.
    *
    * Every layout starts as an empty directory: until the first write
    * the schema sidecar is the table's schema ([[readRaw]]).
    */
  def createTable(table: String, schema: StructType,
      ifExists: String = "fail",
      partitionBy: Seq[String] = Nil,
      uniqueKeys: Seq[String] = Nil,
      partitionSource: Option[String] = None): Unit =
      withTableLease(table, "createTable") {
    if (tableExists(table)) ifExists match {
      case "fail" => sys.error(s"Table $table already exists")
      case "skip" => return
      case "replace" => dropTable(table)
      case other => sys.error(s"Invalid if_exists mode: $other")
    }
    fs.mkdirs(new Path(path(table)))
    writeSchema(table, schema)
    writeMeta(table,
      if (partitionSource.isDefined) Seq(Warehouse.DerivedDateCol)
      else partitionBy,
      uniqueKeys, partitionSource)
  }

  /** Add the derived date-partition column when the table declares one.
    * A frame that already carries the derived column passes through
    * (re-ingest of [[readRaw]] output); a frame with NEITHER the source
    * column nor the derived one is an error — silently proceeding would
    * either fail later in `partitionBy` (overwrite) or write
    * unpartitioned files into the partitioned layout (append),
    * corrupting partition discovery.
    */
  private def withDerived(df: DataFrame, src: Option[String]): DataFrame =
    src match {
      case Some(c) if df.columns.contains(c) =>
        df.withColumn(Warehouse.DerivedDateCol,
          org.apache.spark.sql.functions.to_date(col(c)))
      case Some(c) if !df.columns.contains(Warehouse.DerivedDateCol) =>
        sys.error(s"table declares partitionSource '$c' but the frame " +
          s"has neither '$c' nor '${Warehouse.DerivedDateCol}'; " +
          "cannot derive the partition layout")
      case _ => df
    }

  /** A writer of `df` in `table`'s recorded layout — the derived date
    * column added and the table's partitioning re-applied (`partitionBy`
    * only when the meta records none). Every write goes through here,
    * so none can flatten a partitioned table while its meta still
    * claims the layout: the next append would interleave partitioned
    * and flat files, and partition discovery would see only one kind.
    */
  private def laidOut(table: String, df: DataFrame, mode: SaveMode,
      partitionBy: Seq[String] = Nil): DataFrameWriter[Row] = {
    val meta = readMeta(table)
    val src = meta.flatMap(_.partitionSource)
    val parts =
      if (src.isDefined) Seq(Warehouse.DerivedDateCol)
      else if (partitionBy.nonEmpty) partitionBy
      else meta.map(_.partitionBy).getOrElse(Nil)
    val w = withDerived(df, src).write.mode(mode)
    if (parts.nonEmpty) w.partitionBy(parts: _*) else w
  }

  def dropTable(table: String): Unit = withTableLease(table, "dropTable") {
    val p = new Path(path(table))
    if (fs.exists(p)) fs.delete(p, true)
    Seq(new Path(metaPath(table)), new Path(schemaPath(table)),
      new Path(ddlPath(table))).foreach { s =>
      if (fs.exists(s)) fs.delete(s, false)
    }
  }

  /** Logical read: the derived date-partition column (if any) is an
    * internal layout detail and is dropped.
    */
  def read(table: String): DataFrame = {
    val meta = readMeta(table)
    val raw = scan(table, meta)
    if (meta.exists(_.partitionSource.isDefined))
      raw.drop(Warehouse.DerivedDateCol)
    else raw
  }

  /** Physical read, derived partition column included — for callers
    * that filter on it to prune partition directories. A table with
    * no data files yet (freshly created, any layout) reads as an
    * empty frame with the persisted schema and partition columns.
    *
    * When a schema sidecar exists it is applied to the scan: files
    * written before a schema evolution ([[appendEvolved]]) lack the
    * newer columns, and an explicit read schema surfaces those as
    * nulls — where bare inference would pick one footer and silently
    * drop or fail on the others. The derived date column is appended
    * to the read schema for partitioned layouts (it lives in directory
    * names, not the logical schema).
    */
  def readRaw(table: String): DataFrame = scan(table, readMeta(table))

  private def scan(table: String, meta: Option[TableMeta]): DataFrame =
    readSchema(table) match {
      case Some(schema) =>
        val parts = meta.map(_.partitionBy).getOrElse(Nil)
        val full = parts.foldLeft(schema) { (sc, p) =>
          if (sc.fieldNames.contains(p)) sc
          else sc.add(org.apache.spark.sql.types.StructField(p,
            if (p == Warehouse.DerivedDateCol)
              org.apache.spark.sql.types.DateType
            else org.apache.spark.sql.types.StringType))
        }
        if (dataFiles(table).isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full)
        else spark.read.schema(full).parquet(path(table))
      case None => spark.read.parquet(path(table))
    }

  /** Rows of `table` whose `timeCol` lies in `[lo, hi]` widened by
    * `widenHours` on each side, logical columns only. On a table
    * date-partitioned by `timeCol` the bound also filters the derived
    * date column, so it becomes directory pruning rather than a
    * post-scan filter — a re-ingest's overlap check and key anti-join
    * read the batch's days, never the full table.
    */
  private[graft] def readTimeRange(table: String, timeCol: String,
      lo: java.sql.Timestamp, hi: java.sql.Timestamp,
      widenHours: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit, to_date}
    val meta = readMeta(table)
    val raw = scan(table, meta)
    val widened = expr(s"INTERVAL $widenHours HOURS")
    val from = lit(lo) - widened
    val to = lit(hi) + widened
    val inTime = col(timeCol) >= from && col(timeCol) <= to
    val date = col(Warehouse.DerivedDateCol)
    val pruned =
      if (meta.flatMap(_.partitionSource).contains(timeCol) &&
        raw.columns.contains(Warehouse.DerivedDateCol))
        raw.filter(date >= to_date(from) && date <= to_date(to) && inTime)
      else raw.filter(inTime)
    pruned.drop(Warehouse.DerivedDateCol)
  }

  /** Append with ADDITIVE schema evolution: new columns widen the
    * table (schema sidecar updated; older files surface them as nulls
    * through [[readRaw]]'s explicit-schema scan), columns missing from
    * the batch fill with typed nulls, and a column whose TYPE changed
    * is an error — silent retyping is how a table corrupts. No data
    * rewrite: evolution costs one sidecar write, which is the whole
    * point at 100 TB.
    */
  def appendEvolved(table: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.lit
    val current = readSchema(table).getOrElse(read(table).schema)
    val (onlyOld, onlyNew, retyped) = compareSchemas(current, df.schema)
    require(retyped.isEmpty,
      s"appendEvolved: retyped columns not allowed: $retyped")
    val filled = onlyOld.foldLeft(df)((d, c) =>
      d.withColumn(c, lit(null).cast(current(c).dataType)))
    val evolved = org.apache.spark.sql.types.StructType(
      current.fields ++ df.schema.fields.filter(f => onlyNew.contains(f.name)))
    writeSchema(table, evolved)
    append(table, filled.select(evolved.fieldNames.map(col).toSeq: _*))
  }

  def append(table: String, df: DataFrame): Unit =
      withTableLease(table, "append") {
    laidOut(table, df, SaveMode.Append).parquet(path(table))
  }

  /** Overwrite in place, keeping an existing table's recorded layout
    * ([[laidOut]]); `partitionBy` lays out a table whose meta records
    * no partitioning.
    */
  def overwrite(table: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): Unit =
      withTableLease(table, "overwrite") {
    laidOut(table, df, SaveMode.Overwrite, partitionBy).parquet(path(table))
  }

  /** Schema diff — `compare_table_schemas` (`postgres_manager.py:
    * 1038-1087`): columns only in A, only in B, shared-but-retyped.
    * The reference ran this as a 3-branch UNION ALL in SQL (U1/J8);
    * a StructType is driver-sized so plain set ops are the right tool.
    */
  def compareSchemas(a: StructType, b: StructType)
      : (Seq[String], Seq[String], Seq[(String, String, String)]) = {
    val am = a.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val bm = b.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val onlyA = (am.keySet -- bm.keySet).toSeq.sorted
    val onlyB = (bm.keySet -- am.keySet).toSeq.sorted
    val retyped = (am.keySet & bm.keySet).toSeq.sorted
      .flatMap(k => if (am(k) != bm(k)) Some((k, am(k), bm(k))) else None)
    (onlyA, onlyB, retyped)
  }

  /** Data files of a table, recursively (partitioned layouts nest). */
  private def dataFiles(table: String): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    if (!fs.exists(new Path(path(table)))) return Nil
    val it = fs.listFiles(new Path(path(table)), true)
    val buf = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) buf += s
    }
    buf.result()
  }

  /** Table stats — rows AND bytes from parquet footers / file listings
    * only, no data scan (`postgres_manager.py:509-535` sizes,
    * `:923-931` estimated counts — the reference also reads catalog
    * stats rather than counting rows). Footer reads are metadata-sized;
    * at cluster scale this is one small RPC per file, not a table scan.
    */
  def tableStats(table: String): TableStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(table)
    val rows = files.map { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(s.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
    TableStats(table, rows, files.map(_.getLen).sum, files.size)
  }

  /** Compaction — the VACUUM/CLUSTER analogue (`postgres_manager.py:
    * 634-654`, SURVEY §2.12): rewrite to `targetFiles` output files.
    * At cluster scale this is a per-partition rewrite sized by
    * `maxPartitionBytes`, not a global repartition.
    */
  def compact(table: String, targetFiles: Int): Unit =
      withTableLease(table, "compact") {
    if (dataFiles(table).isEmpty) return // nothing to rewrite
    val parts = readMeta(table).map(_.partitionBy).getOrElse(Nil)
    // Partitioned layout: shuffle BY the partition columns so each
    // task holds whole partitions and every partition directory
    // compacts to one file. A plain repartition(n) would scatter each
    // partition's rows across all n tasks — n small files per
    // directory, the opposite of compaction.
    val raw = readRaw(table)
    replaceTable(table,
      if (parts.nonEmpty)
        raw.repartition(math.max(targetFiles, 1), parts.map(col): _*)
      else raw.repartition(targetFiles))
  }

  /** Selective compaction: rewrite ONLY the partition directories
    * matching `predicate` (a filter on the partition column(s), e.g.
    * `col("p_date") === "2024-01-01"`), leaving every other partition's
    * files untouched. At 100 TB a full-table [[compact]] is a
    * 100 TB rewrite; real maintenance compacts the handful of hot
    * partitions the last ingest fragmented ([[rewritePartitions]]).
    */
  def compactPartitions(table: String, predicate: Column,
      targetFilesPerPartition: Int = 1): Unit =
      withTableLease(table, "compactPartitions") {
    val parts = readMeta(table).map(_.partitionBy).getOrElse(Nil)
    require(parts.nonEmpty, s"compactPartitions: table $table is not partitioned")
    rewritePartitions(table, readRaw(table), parts, Left(predicate),
      tasks = math.max(targetFilesPerPartition, 1))(identity)
  }

  /** Write `df` in `table`'s recorded layout ([[laidOut]]) to the
    * table's working dir and return that dir. Every transient dir of
    * the table is removed first: under the writer lease each one is
    * debris of a crashed stage or swap, and stale staged files must
    * not ride the next swap into the live table.
    */
  private def stage(table: String, df: DataFrame): Path = {
    Warehouse.TransientSuffixes.foreach(s =>
      fs.delete(new Path(path(table) + s), true))
    val tmp = new Path(path(table) + Warehouse.Stage)
    laidOut(table, df, SaveMode.Overwrite).parquet(tmp.toString)
    tmp
  }

  /** The partition-slice stage-and-swap behind [[merge]],
    * [[deleteWhere]] and [[compactPartitions]]. `slice` names the
    * partitions to rewrite: the caller's predicate on partition
    * columns, or partition tuples matched null-safely (`<=>`, so a
    * NULL partition value — rows whose partition source was null —
    * matches its own tuple). Either way it reaches the scan as
    * directory pruning. `f(slice)` is shuffled by the partition
    * columns (each task holds whole partitions, so each directory gets
    * one file; `tasks` fixes the task count), staged, and swapped in
    * per partition directory; every other partition keeps its files.
    * A listed tuple whose partition `f` leaves empty has no staged
    * directory, so the swap would leave its old files live: it is
    * removed after the swap.
    */
  private def rewritePartitions(table: String, raw: DataFrame,
      parts: Seq[String], slice: Either[Column, Seq[Row]], tasks: Int = 0)(
      f: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.functions.lit
    val cols = parts.map(col)
    val tuples = slice.getOrElse(Nil)
    val pred = slice.fold(identity, _.map { t =>
      cols.indices.map(i => cols(i) <=> lit(t.get(i))).reduce(_ && _)
    }.reduce(_ || _))
    val out = f(raw.filter(pred))
    val tmp = stage(table,
      if (tasks > 0) out.repartition(tasks, cols: _*)
      else out.repartition(cols: _*))
    // Dir names must use Spark's OWN rendering — escapePathName for
    // special chars (space, '=', '%', …), __HIVE_DEFAULT_PARTITION__
    // for NULL — or an emptied partition with such a value would
    // silently keep its old files live under a name this code never
    // computes. Values render through Catalyst's Cast-to-string with
    // the session timezone, exactly as the partition writer does:
    // external toString diverges for some types (e.g.
    // java.sql.Timestamp appends '.0') and would misclassify every
    // partition of such a column as emptied.
    val partTypes = parts.map(p => raw.schema(p).dataType)
    def relOf(t: Row): String =
      parts.indices.map { i =>
        val rendered = Option(t.get(i)).map { v =>
          Cast(Literal.create(v, partTypes(i)),
            org.apache.spark.sql.types.StringType,
            Option(spark.sessionState.conf.sessionLocalTimeZone))
            .eval(null).toString
        }.orNull
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(parts(i), rendered)
      }.mkString("/")
    // found BEFORE the swap, which consumes tmp
    val emptied = tuples.map(relOf)
      .filterNot(rel => fs.exists(new Path(s"$tmp/$rel")))
    // every emptied partition must resolve to a live dir before the
    // swap: if the rendering ever disagrees with what the writer
    // produced, fail loudly instead of deleting a nonexistent path
    // while the rows the rewrite dropped stay readable (the
    // deleteWhere erase contract)
    emptied.foreach { rel =>
      if (!fs.exists(new Path(s"${path(table)}/$rel"))) sys.error(
        s"$table: partition dir $rel found neither under the staged " +
          "write nor the live table — refusing to report rows removed " +
          "that would stay readable")
    }
    swapPartitionDirs(table, tmp, parts.size)
    emptied.foreach(rel => fs.delete(new Path(s"${path(table)}/$rel"), true))
  }

  /** Swap every partition directory found under `tmp` into the live
    * table with the crash-safe rename dance (see [[swapTableDir]]),
    * then remove `tmp`. `depth` = number of partition columns
    * (partition dirs sit that many levels under the root).
    */
  private def swapPartitionDirs(table: String, tmp: Path, depth: Int): Unit = {
    def partitionDirs(base: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(base)
      else if (!fs.exists(base)) Nil
      else fs.listStatus(base).filter(_.isDirectory).map(_.getPath).toSeq
        .flatMap(p => partitionDirs(p, d - 1))
    // listStatus returns fully-qualified paths (scheme + authority);
    // qualify the base the same way or the prefix never matches
    val qtmp = fs.makeQualified(tmp).toString
    // aside copies go OUTSIDE the table directory (under the root-level
    // `<table>__old` transient): an in-table `p_date=…__old` dir would
    // make partition discovery choke on the unparseable partition value,
    // leaving the whole table unreadable after a crash mid-swap
    val asideRoot = new Path(path(table) + Warehouse.Aside)
    partitionDirs(tmp, depth).foreach { tmpPart =>
      val rel = fs.makeQualified(tmpPart).toString
        .stripPrefix(qtmp).stripPrefix("/")
      require(rel.nonEmpty && !rel.contains(":"),
        s"swapPartitionDirs: cannot relativize $tmpPart under $qtmp")
      val live = new Path(s"${path(table)}/$rel")
      val aside = new Path(s"$asideRoot/$rel")
      fs.mkdirs(live.getParent)
      fs.mkdirs(aside.getParent)
      if (fs.exists(aside)) fs.delete(aside, true)
      val hadLive = fs.exists(live)
      if (hadLive && !fs.rename(live, aside))
        sys.error(s"swapPartitionDirs: rename $live -> $aside failed")
      if (!fs.rename(tmpPart, live)) {
        if (hadLive) fs.rename(aside, live)
        sys.error(s"swapPartitionDirs: rename $tmpPart -> $live failed")
      }
    }
    fs.delete(asideRoot, true)
    fs.delete(tmp, true)
  }

  /** DELETE WHERE — the erasure op (GDPR/right-to-be-forgotten, bad-
    * batch rollback) the warehouse otherwise lacks: rows matching
    * `predicate` are removed; on a partitioned table ONLY the
    * partitions that actually contain matching rows rewrite (affected
    * partition tuples are a bounded collect, rewritten by
    * [[rewritePartitions]]). A partition whose every row matches is
    * deleted outright. Returns the number of rows deleted.
    */
  def deleteWhere(table: String, predicate: Column): Long =
      withTableLease(table, "deleteWhere") {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val meta = readMeta(table)
    val parts = meta.map(_.partitionBy).getOrElse(Nil)
    val raw = scan(table, meta)
    // SQL DELETE semantics: a NULL predicate does NOT delete — rows
    // where the predicate is unknown must survive (a targeted erase
    // must never take unrelated NULL-keyed rows with it)
    val hit = coalesce(predicate, lit(false))
    if (parts.isEmpty) {
      val removed = raw.filter(hit).count()
      if (removed > 0L) replaceTable(table, raw.filter(!hit))
      removed
    } else {
      // bounded: one row per partition containing matches, carrying
      // its match count after the partition values
      val affected = raw.filter(hit).groupBy(parts.map(col): _*).count()
        .collect().toSeq
      if (affected.nonEmpty)
        rewritePartitions(table, raw, parts, Right(affected))(_.filter(!hit))
      affected.map(_.getLong(parts.size)).sum
    }
  }

  /** Atomically replace a table's contents with `df`, in the table's
    * recorded layout — the whole-table stage-and-swap every full
    * rewrite goes through ([[compact]], unpartitioned [[merge]] and
    * [[deleteWhere]]). Because the working-dir write materializes `df`
    * BEFORE the live dir moves, read-modify-replace pipelines whose
    * `df` derives from the table itself (e.g. [[MatView.refresh]]
    * merging new partials into the old state) never read a directory
    * they are overwriting — the self-overwrite trap of a naive
    * `SaveMode.Overwrite` on the input path.
    */
  def replaceTable(table: String, df: DataFrame,
      extraFiles: Map[String, String] = Map.empty): Unit =
      withTableLease(table, "replaceTable") {
    val tmp = stage(table, df)
    // Underscore-named sidecars ride the same atomic rename as the
    // data (parquet readers skip `_`/`.` files) — a marker written
    // this way can never disagree with the contents it stamps.
    extraFiles.foreach { case (name, content) =>
      require(name.startsWith("_"), s"sidecar must be _-prefixed: $name")
      val out = fs.create(new Path(tmp, name), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    swapTableDir(table, tmp, "replaceTable")
  }

  /** Stamp (or overwrite) a `_`-prefixed sidecar file into an EXISTING
    * table dir — the post-hoc twin of [[replaceTable]]'s `extraFiles`
    * (which rides the atomic swap; use that when the marker must never
    * disagree with the data). The content lands ATOMICALLY (written
    * to a `__tmp` sibling, then renamed over the destination), so a
    * reader either sees the complete content or no sidecar at all —
    * never a truncated prefix. A crash mid-write leaves only the tmp
    * file, which [[readTableFile]] ignores; the brief delete-then-
    * rename window reads as "absent", the safe side for lifecycle
    * markers (e.g. the ANN retrain swap-ready flag: absent = not
    * swap-ready).
    */
  def writeTableFile(table: String, name: String, content: String): Unit = {
    require(name.startsWith("_"), s"sidecar must be _-prefixed: $name")
    require(tableExists(table), s"writeTableFile: no table $table")
    val dst = new Path(path(table), name)
    val tmp = new Path(path(table), name + "__tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      sys.error(s"writeTableFile: rename $tmp -> $dst failed")
  }

  /** Promote a staged table over the live name: the staged dir renames
    * into place with the crash-safe dance ([[swapTableDir]] — the live
    * name always holds either the old or the new copy, never neither),
    * and the schema/meta/ddl sidecars follow. Built for
    * build-aside-then-swap flows (ANN retrain): staged and live are
    * two generations of the SAME layout, which is what makes the
    * sidecar-copy-then-dir-swap window benign (the sidecars that could
    * briefly describe the other generation are identical in shape).
    * The staged name ceases to exist.
    */
  def promoteTable(staged: String, live: String): Unit =
      withTableLease(live, "promote") {
    require(tableExists(staged), s"promoteTable: staged table $staged missing")
    readSchema(staged).foreach(writeSchema(live, _))
    readMeta(staged).foreach(m =>
      writeMeta(live, m.partitionBy, m.uniqueKeys, m.partitionSource))
    readDdl(staged).foreach(writeDdl(live, _))
    swapTableDir(live, new Path(path(staged)), "promote")
    Seq(new Path(metaPath(staged)), new Path(schemaPath(staged)),
      new Path(ddlPath(staged))).foreach { s =>
      if (fs.exists(s)) fs.delete(s, false)
    }
  }

  /** Read a `_`-prefixed sidecar file previously stamped into the
    * table dir by [[replaceTable]] or [[writeTableFile]].
    */
  def readTableFile(table: String, name: String): Option[String] = {
    val p = new Path(path(table), name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Crash-safe whole-directory swap shared by [[replaceTable]],
    * [[writeAudited]] and [[promoteTable]]: old data moves aside
    * first, the staged copy renames into the live name, only then is
    * the old copy deleted — a crash at any step leaves the original
    * (live, or aside under `<table>__old`) or the replacement intact.
    */
  private def swapTableDir(table: String, tmp: Path, op: String): Unit = {
    val cur = new Path(path(table))
    val old = new Path(path(table) + Warehouse.Aside)
    if (fs.exists(old)) fs.delete(old, true)
    val hadLive = fs.exists(cur)
    if (hadLive && !fs.rename(cur, old))
      sys.error(s"$op: rename $cur -> $old failed")
    if (!fs.rename(tmp, cur)) {
      if (hadLive) fs.rename(old, cur)
      sys.error(s"$op: rename $tmp -> $cur failed")
    }
    fs.delete(old, true)
  }

  /** MERGE INTO (SCD1 upsert): rows of `updates` replace same-key rows
    * in the table, new keys insert — the reference's staging-merge
    * update path (`data_loader.py:681-728`) generalized from
    * insert-if-absent to update-or-insert.
    *
    * Partitioned tables rewrite ONLY the partitions the updates touch
    * ([[rewritePartitions]]): the affected partition values are
    * collected from the updates frame (bounded by the number of
    * touched partitions, not rows), the existing side is read
    * partition-pruned — a NULL partition included — and the merged
    * slice is swapped in per partition dir: a 100 TB table with a
    * one-day update rewrites one day. Contract for partitioned
    * tables: an update row's derived partition value must equal the
    * existing row's (true whenever the partition derives from an
    * immutable event time); a row whose partition value changed would
    * leave its old version in the old partition. Unpartitioned tables
    * merge fully through [[replaceTable]].
    */
  def merge(table: String, updates: DataFrame, keys: Seq[String]): Unit =
      withTableLease(table, "merge") {
    require(keys.nonEmpty, "merge needs at least one key column")
    val meta = readMeta(table)
    val parts = meta.map(_.partitionBy).getOrElse(Nil)
    val upd = withDerived(updates, meta.flatMap(_.partitionSource))
    if (parts.isEmpty)
      replaceTable(table, Warehouse.mergeFrames(scan(table, meta), upd, keys))
    else {
      // bounded collect: one row per TOUCHED PARTITION, not per update
      val affected = upd.select(parts.map(col): _*).distinct().collect().toSeq
      if (affected.nonEmpty)
        rewritePartitions(table, scan(table, meta), parts, Right(affected))(
          Warehouse.mergeFrames(_, upd, keys))
    }
  }

  /** Table definition — columns + declared keys + partitioning
    * (`get_table_definition`, `postgres_manager.py:678-712`; unique
    * keys live in engine metadata since Spark has no constraints).
    */
  def tableDefinition(table: String): TableDefinition = {
    val schema = read(table).schema
    val meta = readMeta(table)
    TableDefinition(table,
      schema.fields.map(f => (f.name, f.dataType.simpleString, f.nullable)).toSeq,
      meta.map(_.uniqueKeys).getOrElse(Nil),
      meta.map(_.partitionBy).getOrElse(Nil))
  }

  /** All table names in this warehouse (directories under location).
    * Working dirs a crashed stage-and-swap may leave behind
    * ([[Warehouse.TransientSuffixes]]) are not tables.
    */
  def listTables(): Seq[String] = {
    val root = new Path(location)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => Warehouse.TransientSuffixes.exists(n.endsWith))
      .filterNot(_ == "_locks") // writer-lease admin dir, not a table
      .toSeq.sorted
  }

  /** Remove crash debris: transient working dirs at the warehouse root
    * ([[Warehouse.TransientSuffixes]]) and `__old` partition dirs
    * left inside tables by an interrupted per-partition swap of
    * earlier builds. The swap dances never leave the LIVE name
    * incomplete, so everything matching a transient suffix is safe to
    * delete. Returns the removed paths.
    */
  def vacuum(): Seq[String] = {
    val root = new Path(location)
    if (!fs.exists(root)) return Nil
    val rootDebris = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => Warehouse.TransientSuffixes.exists(p.getName.endsWith))
      .toSeq
    val partDebris = listTables().flatMap { t =>
      val it = fs.listFiles(new Path(path(t)), true)
      val found = scala.collection.mutable.Set[org.apache.hadoop.fs.Path]()
      while (it.hasNext) {
        var d = it.next().getPath.getParent
        while (d != null && d.getName.nonEmpty) {
          if (d.getName.endsWith(Warehouse.Aside)) found += d
          d = d.getParent
        }
      }
      found.toSeq
    }
    val all = (rootDebris ++ partDebris).distinct
    all.foreach(p => fs.delete(p, true))
    all.map(_.toString)
  }

  /** Write-audit-publish: land `df` in the table's working dir (in its
    * recorded layout), evaluate boolean AGGREGATE checks over the
    * staged files (one job — e.g. `count(lit(1)) > 1000`,
    * `count(when(col("v").isNull, 1)) === 0`), and only on all-green
    * atomically swap the stage into the live name ([[swapTableDir]] —
    * the table is never missing and never half-written). On any red
    * check the stage is discarded and the LIVE TABLE IS UNTOUCHED — the
    * property that matters when a bad upstream batch would otherwise
    * corrupt a 100 TB table consumers are reading. Returns the failed
    * check names (empty = published).
    */
  def writeAudited(table: String, df: DataFrame,
      checks: Map[String, Column]): Seq[String] =
      withTableLease(table, "writeAudited") {
    require(checks.nonEmpty, "writeAudited needs at least one check")
    val tmp = stage(table, df)
    // audit the files that would go live, not the input plan — this
    // also catches write-path corruption, not just bad data
    val named = checks.toSeq
    val row = spark.read.parquet(tmp.toString).agg(named.head._2.as(named.head._1),
      named.tail.map { case (n, c) => c.as(n) }: _*).collect().head
    val failed = named.map(_._1).filterNot(row.getAs[Boolean])
    if (failed.nonEmpty) {
      fs.delete(tmp, true)
      return failed
    }
    swapTableDir(table, tmp, "writeAudited")
    writeSchema(table, df.schema)
    Nil
  }

  /** Backup analogue (`create_backup`, `postgres_manager.py:657-675`):
    * export every table to parquet under `targetDir` (the embedded-
    * engine replacement for pg_dump noted in SURVEY §2.1 S16).
    */
  def exportAll(targetDir: String): Seq[String] =
    listTables().map { t =>
      read(t).write.mode(SaveMode.Overwrite).parquet(s"$targetDir/$t")
      t
    }

  // --- schema sidecar: persisted logical schema, reused across loads ---
  // (the reference writes `schemas/<table>_schema.sql` once and reuses
  // it unless if_exists='replace' — schema_analysis_orchestrator.py:41-106)

  private def schemaPath(table: String) = s"$location/_schema_$table.json"

  def writeSchema(table: String, schema: StructType): Unit = {
    val out = fs.create(new Path(schemaPath(table)), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** The persisted logical schema, if one was recorded at create time. */
  def readSchema(table: String): Option[StructType] = {
    val p = new Path(schemaPath(table))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(org.apache.spark.sql.types.DataType.fromJson(
          new String(bytes, "UTF-8")).asInstanceOf[StructType])
      } finally in.close()
    }
  }

  // --- DDL sidecar: the generated SQL schema file, written once and
  //     reused — the reference's `schemas/<table>_schema.sql`
  //     (`schema_analysis_orchestrator.py:41-106`) ---

  private def ddlPath(table: String) = s"$location/_ddl_$table.sql"

  def writeDdl(table: String, ddl: String): Unit = {
    val out = fs.create(new Path(ddlPath(table)), true)
    try out.write(ddl.getBytes("UTF-8")) finally out.close()
  }

  def readDdl(table: String): Option[String] = {
    val p = new Path(ddlPath(table))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(new String(bytes, "UTF-8"))
      } finally in.close()
    }
  }

  // --- tiny properties sidecar for table metadata (keys, partitioning) ---

  final case class TableMeta(partitionBy: Seq[String], uniqueKeys: Seq[String],
      partitionSource: Option[String] = None)

  private def metaPath(table: String) = s"$location/_meta_$table.properties"

  def writeMeta(table: String, partitionBy: Seq[String],
      uniqueKeys: Seq[String],
      partitionSource: Option[String] = None): Unit = {
    val props = new java.util.Properties()
    props.setProperty("partitionBy", partitionBy.mkString(","))
    props.setProperty("uniqueKeys", uniqueKeys.mkString(","))
    partitionSource.foreach(props.setProperty("partitionSource", _))
    val out = fs.create(new Path(metaPath(table)), true)
    try props.store(out, null) finally out.close()
  }

  def readMeta(table: String): Option[TableMeta] = {
    val p = new Path(metaPath(table))
    if (!fs.exists(p)) None
    else {
      val props = new java.util.Properties()
      val in = fs.open(p)
      try props.load(in) finally in.close()
      def split(k: String) = Option(props.getProperty(k)).map(_.trim)
        .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
      Some(TableMeta(split("partitionBy"), split("uniqueKeys"),
        Option(props.getProperty("partitionSource")).map(_.trim)
          .filter(_.nonEmpty)))
    }
  }
}

object Warehouse {
  /** Schemes whose `create(path, overwrite=false)` and `rename` are
    * atomic — the set the single-writer lease is sound on (see the
    * lease contract comment in [[Warehouse]]). Object stores (s3a)
    * implement create as check-then-act and are deliberately absent.
    */
  val AtomicCreateSchemes: Set[String] = Set("file", "hdfs", "viewfs")

  /** Name of the derived date-partition column (see createTable). */
  val DerivedDateCol = "p_date"

  /** Suffix of a table's working dir: every stage-and-swap writes its
    * staged copy there before the swap. */
  private val Stage = "__stage"

  /** Suffix of the dir a live copy moves aside to during a swap. */
  private val Aside = "__old"

  /** Every working-dir suffix — hidden from [[Warehouse.listTables]],
    * removed by [[Warehouse.vacuum]] and by the table's next stage.
    * The last four are where earlier builds staged compact, merge,
    * deleteWhere and replaceTable: a crash they left behind is still
    * debris, not a table. */
  val TransientSuffixes: Seq[String] =
    Seq(Stage, Aside, "__compact", "__merge", "__delete", "__replace")

  /** Frame-level SCD1 merge: `updates` rows win over `existing` rows
    * with the same key; unmatched existing rows survive, unmatched
    * update rows insert. One anti-join shuffle on the keys (updates
    * side broadcasts when small) — the relational core of MERGE INTO
    * WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT.
    */
  def mergeFrames(existing: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    existing.join(updates.select(keys.map(col): _*),
        keys, "left_anti")
      .unionByName(updates)
  }

  /** SCD type-2 versioned merge (frame level; [[mergeFrames]] is the
    * SCD1 twin): `existing` carries `valid_from`/`valid_to` columns
    * (`valid_to` NULL = current version); `updates` carries the key +
    * attribute columns plus `effectiveCol`, one row per key. Closed
    * history passes through untouched; a current row whose key is
    * updated closes at the update's effective time; the update becomes
    * the new open version; unmatched keys insert as brand-new current
    * rows. Shape: one keyed join against ONLY the open slice + a
    * union — history never shuffles.
    */
  def mergeScd2(existing: DataFrame, updates: DataFrame, keys: Seq[String],
      effectiveCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "mergeScd2 needs at least one key column")
    val attrs = existing.columns.filterNot(c =>
      keys.contains(c) || c == "valid_from" || c == "valid_to").toSeq
    val upd = updates.select(
      (keys.map(col) ++ attrs.map(col) :+
        col(effectiveCol).as("__eff")): _*)
    val closed = existing.filter(col("valid_to").isNotNull)
    val open = existing.filter(col("valid_to").isNull)
    // open rows: close the updated ones at the new effective time
    val openMerged = open.join(
        upd.select((keys.map(col) :+ col("__eff")): _*), keys, "left")
      .select((keys.map(col) ++ attrs.map(col) :+ col("valid_from") :+
        coalesce(col("__eff"), col("valid_to")).as("valid_to")): _*)
    // updates: new open versions (valid_from = effective, valid_to null)
    val fresh = upd.select(
      (keys.map(col) ++ attrs.map(col) :+ col("__eff").as("valid_from") :+
        lit(null).cast(open.schema("valid_to").dataType).as("valid_to")): _*)
    closed.select(openMerged.columns.map(col): _*)
      .unionByName(openMerged).unionByName(fresh)
  }
}

final case class TableStats(table: String, numRows: Long, sizeBytes: Long,
    numFiles: Int)

final case class TableDefinition(
    table: String,
    columns: Seq[(String, String, Boolean)], // (name, type, nullable)
    uniqueKeys: Seq[String],
    partitionBy: Seq[String])
