package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers/writers + format dispatch for the graft engine.
  *
  * Re-expresses the reference's IO surface Spark-first:
  *  - file-type dispatch by suffix (reference
  *    `src/utils/file_utils.py:317-355`, `FileReader.get_file_type_and_reader`)
  *  - chunked CSV scan (`src/data_transformation/data_transformer.py:121-123`)
  *    — subsumed by Spark's partitioned scan, no chunk loop needed
  *  - parquet/CSV sinks (`src/utils/file_utils.py:167-177`)
  *  - directory scan by extension (`src/utils/file_utils.py:253-285`)
  *  - parquet metadata probe (`src/data_transformation/data_transformer.py:86-119`)
  *
  * All readers return a lazy DataFrame; Catalyst pushes predicates and
  * column pruning into the scan, which is the scale story: a 100 TB
  * table is only ever read through its pruned columns + pushed filters.
  */
object Tables {

  /** Test-corpus table names (driver-generated, see TESTDATA.md). */
  val testTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one named parquet table from a scale-factor directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** Parquet METADATA cache: (schema as Spark infers it, nano-stamped
    * column names) keyed by path + footer-file (mtime, length) + the
    * session confs that change inference. Every `table()` call used to
    * pay two driver-side footer opens (schema inference + the nano
    * probe) and at many-file scale a footer-sampling job; supplying the
    * cached schema skips both (guide §5: keep the driver out of
    * repeated metadata work; §6: listing/inference overhead). The
    * (mtime, length) key makes the cache self-invalidating when a file
    * is rewritten — this caches file METADATA, never query results.
    *
    * Size-bounded LRU: a rewritten file leaves its stale (path, mtime)
    * entry behind forever under a plain map, so a long-lived session
    * that keeps rewriting tables would grow the cache without bound.
    * 1024 entries ≫ any working set of distinct live tables; eviction
    * only ever costs a re-probe of two parquet footers.
    */
  private val metaCache = new MetaCache(1024)

  /** LRU map of parquet metadata with an instance-owned bound. A miss
    * infers OUTSIDE the lock — inference is a footer read and possibly
    * a Spark job, and holding one session-wide lock across it would
    * serialize every concurrent `readParquet`. Two readers racing on
    * one cold key may both infer; the first insert wins.
    */
  private[io] final class MetaCache(maxEntries: Int) {
    private type Meta = (StructType, Seq[String])
    private val entries = new java.util.LinkedHashMap[String, Meta](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Meta]): Boolean =
        this.size() > maxEntries
    }

    def size: Int = entries.synchronized(entries.size())

    def getOrLoad(key: String)(load: => Meta): Meta = {
      val hit = entries.synchronized(entries.get(key))
      if (hit != null) hit
      else {
        val loaded = load
        val raced = entries.synchronized(entries.putIfAbsent(key, loaded))
        if (raced != null) raced else loaded
      }
    }
  }

  private def parquetMeta(spark: SparkSession, path: String,
      cache: MetaCache): (StructType, Seq[String]) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => null }
    val confKey = Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.caseSensitive").map(k =>
      spark.conf.getOption(k).getOrElse("")).mkString(",")
    def infer = (spark.read.parquet(path).schema, nanoTimestampColumns(spark, path))
    if (st == null) infer // missing path: let the plain reader raise its error
    else cache.getOrLoad(
      s"$path|${st.getModificationTime}|${st.getLen}|$confKey")(infer)
  }

  /** Parquet read that tolerates TIMESTAMP(NANOS) columns, which the
    * vectorized reader rejects outright (SPARK-40819 made them readable
    * only as raw longs via `spark.sql.legacy.parquet.nanosAsLong`).
    * We read nanos as long, discover which columns were nano-stamped
    * from the file footer, and rebuild them as µs timestamps. The
    * ns→µs truncation matches what any µs-resolution consumer (DuckDB
    * included) observes.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path, metaCache)

  private[io] def readParquet(spark: SparkSession, path: String,
      cache: MetaCache): DataFrame = {
    val (schema, nsCols) = parquetMeta(spark, path, cache)
    val df = spark.read.schema(schema).parquet(path)
    val rebuilt = nsCols.foldLeft(df) { (d, c) =>
      // `div` is integral long division. `/` on longs is double division,
      // and at 2026-epoch ns magnitudes (~1.8e18, double ulp = 256 ns)
      // ~12% of stamps would land 1 µs off vs exact truncation — enough
      // to diverge µs-exact gap arithmetic from any exact-integer reader.
      d.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr(s"`$c` div 1000")))
    }
    // Naive-µs annotations (isAdjustedToUTC=false — the pandas/pyarrow
    // default) surface as TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ.
    // The session is pinned UTC, so the cast is lossless and matches how
    // DuckDB reads the same naive stamps. SparkEnv also disables
    // inferTimestampNTZ; this keeps the read correct under ANY session.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    rebuilt.schema.fields
      .collect { case f if f.dataType == TimestampNTZType => f.name }
      .foldLeft(rebuilt) { (d, c) =>
        d.withColumn(c, org.apache.spark.sql.functions.col(c).cast(TimestampType))
      }
  }

  /** Columns annotated TIMESTAMP(NANOS) in the parquet footer of the
    * first file under `path`. Footer-only read — no data scan.
    */
  def nanoTimestampColumns(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val firstFile =
      if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).headOption.map(_.getPath).getOrElse(return Nil)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(firstFile, conf))
    try {
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
        case f if f.isPrimitive &&
          (f.getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == TimeUnit.NANOS
            case _ => false
          }) => f.getName
      }.toSeq
    } finally reader.close()
  }

  /** Format dispatch by file suffix — reference S8
    * (`file_utils.py:317-355`). Unknown suffixes fail loudly, like the
    * reference's ValueError. Hadoop-codec compression extensions
    * (.gz/.bz2/.deflate — transparently decompressed by the text
    * readers) are stripped before dispatch, and `.jsonl` is accepted
    * as JSON: compressed JSON-lines (`docs.jsonl.gz`) is the lingua
    * franca of LLM corpus interchange and must not fall through to
    * the unknown-suffix error.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
      .stripSuffix(".gz").stripSuffix(".bz2").stripSuffix(".deflate")
    if (lower.endsWith(".parquet")) spark.read.parquet(path)
    else if (lower.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl"))
      spark.read.json(path)
    else if (lower.endsWith(".orc")) spark.read.orc(path)
    else if (lower.endsWith(".txt"))
      spark.read.option("header", "true").option("delimiter", "\t").csv(path)
    else sys.error(s"Unsupported file type: $path")
  }

  /** Limited scan — reference S4 (`data_loader.py:174` nrows probe).
    * Parquet/CSV readers stop early under limit; no full scan happens.
    */
  def readHead(spark: SparkSession, path: String, n: Int): DataFrame =
    read(spark, path).limit(n)

  /** Parquet sink — reference S10 (`file_utils.py:167-171`). */
  def writeParquet(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite,
      compression: String = "snappy",
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode).option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** CSV sink — reference S11/S12 (`data_transformer.py:23-84`,
    * `file_utils.py:173-177`). The reference streams parquet→CSV in
    * 100k-row chunks; Spark's distributed write replaces the chunk loop.
    */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  /** Directory scan by extension — reference S9
    * (`file_utils.py:253-285`): walk tree, group files by parent folder.
    */
  def findFilesByExtension(root: String, ext: String): Map[String, Seq[String]] = {
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) Map.empty
    else {
      val suffix = if (ext.startsWith(".")) ext else "." + ext
      Files.walk(rootPath).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix))
        .toSeq
        .groupBy(_.getParent.toString)
        .map { case (k, v) => k -> v.map(_.toString).sorted }
    }
  }

  /** Parquet metadata probe — reference S7 (`data_transformer.py:86-119`):
    * row count, column count, schema. Row count comes from parquet
    * footers (no data scan).
    */
  def describeParquet(spark: SparkSession, path: String): ParquetInfo = {
    val df = spark.read.parquet(path)
    ParquetInfo(path, df.count(), df.schema.fields.length,
      df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap)
  }

  final case class ParquetInfo(
      path: String, numRows: Long, numColumns: Int,
      columns: Map[String, String])
}
