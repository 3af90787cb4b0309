package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone maps: a per-file min/max manifest that prunes the
  * FILE LIST before Spark ever opens a footer — the data-skipping
  * layer Delta/Iceberg keep in their transaction logs, built here as a
  * plain parquet side table. Parquet's own predicate pushdown skips
  * row groups only after each file is listed and its footer fetched;
  * at 100 TB (hundreds of thousands of files) the listing + footer
  * round-trips dominate a selective scan, and a manifest turns that
  * into one small-table filter.
  *
  * The manifest is one distributed aggregation over the table grouped
  * by `input_file_name()` — O(files) output rows. Pruning is
  * conservative interval overlap: a file survives iff [min, max]
  * intersects the predicate interval (files of all-null values keep a
  * null min/max and are retained only for IS NULL-style scans), so a
  * pruned scan plus the residual filter is ALWAYS equal to the full
  * scan plus filter — the spec proves it against a Z-ordered layout
  * where most files drop on either dimension.
  *
  * Pairs with [[ZOrder.writeZOrdered]]: Z-ordering makes per-file
  * bounds narrow in every z-column, which is exactly what makes this
  * manifest selective on all of them.
  */
object ZoneMaps {

  /** Canonical form for file-identity comparison: `file:///p`,
    * `file:/p` and `/p` all normalize to `/p` (a scheme-qualified
    * remote URI passes through unchanged — what matters is that BOTH
    * sides of every comparison go through the same normalizer, so
    * identical files always compare equal regardless of which API
    * produced the URI string).
    */
  def normFile(u: String): String = u.replaceFirst("^file:/+", "/")

  /** [[normFile]] as a codegen column expression. */
  def normFileCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "^file:/+", "/")

  /** One manifest row per parquet file under `path`: row count plus
    * min/max/null-count for each of `cols`.
    */
  def buildManifest(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zone map needs at least one column")
    val df = spark.read.parquet(path)
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        count(when(col(c).isNull, 1)).as(s"${c}_nulls"))
    } :+ count(lit(1)).as("n_rows")
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose [min, max] interval for `c` intersects [lo, hi].
    * The file list is manifest-sized (O(files)) — the same scale as
    * the listing Spark's reader materializes anyway.
    */
  def pruneFiles(manifest: DataFrame, c: String, lo: Any, hi: Any): Seq[String] =
    manifest
      .filter(col(s"${c}_max") >= lit(lo) && col(s"${c}_min") <= lit(hi))
      .select("file").collect().map(_.getString(0)).toSeq

  /** Read only the files that can hold `c` in [lo, hi], then apply
    * the exact residual filter. Equal to the unpruned
    * scan-plus-filter by the overlap invariant; returns an empty
    * frame of the table's schema when every file prunes away.
    */
  def prunedScan(spark: SparkSession, path: String, manifest: DataFrame,
      c: String, lo: Any, hi: Any): DataFrame = {
    val keep = pruneFiles(manifest, c, lo, hi)
    val base =
      if (keep.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          spark.read.parquet(path).schema)
      else spark.read.parquet(keep: _*)
    base.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** Per-file BLOOM manifest for equality skipping on high-cardinality
    * columns — min/max intervals are useless when every file spans the
    * whole key domain (uuid-ish ids, user keys); a per-file Bloom
    * filter answers "could this file contain key k" with exact NOs.
    * Built with the grouped [[graft.plans.BloomAggregate]]; one
    * aggregation pass, O(files · filterBytes) manifest.
    */
  def buildBloomManifest(spark: SparkSession, path: String, c: String,
      expectedPerFile: Long): DataFrame = {
    val df = spark.read.parquet(path)
    df.groupBy(input_file_name().as("file"))
      .agg(call_function("bloom_agg", col(c), lit(expectedPerFile))
        .as(s"${c}_bloom"), count(lit(1)).as("n_rows"))
  }

  /** Manifest rows whose Bloom filter might contain `value`,
    * projected to the `file` column ONLY — the probe itself
    * ([[graft.plans.BloomMightContain]]) evaluates on EXECUTORS, so
    * the serialized filters (the heavy part of the manifest: ~1.2 MB
    * each at 1M keys / 3% fpp — a terabyte of driver traffic at
    * 100 TB file counts) never leave their partitions; only matching
    * file NAMES flow back. No false negatives by construction: the
    * probe key is typed exactly the way
    * [[graft.plans.BloomAggregate.update]] dispatched at build time
    * (strings hash their UTF-8 bytes, integral keys hash as longs) —
    * probing an integral-keyed manifest with the string form would
    * return a false NO for every file, silently emptying the scan.
    */
  def pruneFilesMightContainDf(manifest: DataFrame, c: String,
      value: Any): DataFrame = {
    val probeKey = value match {
      case s: String => lit(s)
      case n: Number => lit(n.longValue())
      case other => lit(other.toString)
    }
    manifest
      .filter(call_function("bloom_might_contain", col(s"${c}_bloom"), probeKey))
      .select("file")
  }

  /** Files whose Bloom filter might contain `value` — the collected
    * (file-name-sized) form of [[pruneFilesMightContainDf]]: the probe
    * runs on executors, only matching file names reach the driver.
    */
  def pruneFilesMightContain(manifest: DataFrame, c: String,
      value: Any): Seq[String] =
    pruneFilesMightContainDf(manifest, c, value)
      .collect().map(_.getString(0)).toSeq

  /** Equality scan through the Bloom manifest + exact residual filter
    * — always equal to the full scan-plus-filter (NOs are exact).
    */
  def prunedScanEq(spark: SparkSession, path: String, manifest: DataFrame,
      c: String, value: Any): DataFrame = {
    val keep = pruneFilesMightContain(manifest, c, value)
    val base =
      if (keep.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          spark.read.parquet(path).schema)
      else spark.read.parquet(keep: _*)
    base.filter(col(c) === lit(value))
  }

  /** Incremental refresh for append-only layouts: stat ONLY the files
    * not yet in `existing` and union them in — an append of N files
    * costs one scan of those N files, never a re-stat of the archive
    * (the property that keeps the manifest maintainable at a million
    * files). Files present in the manifest but gone from disk (compact
    * or delete rewrote the layout) are dropped from the result, so the
    * refreshed manifest never directs a scan at a dead path.
    */
  def refreshManifest(spark: SparkSession, path: String,
      existing: DataFrame, cols: Seq[String]): DataFrame = {
    import spark.implicits._
    // the on-disk file list comes from a FILESYSTEM listing — one
    // metadata round per directory, no parquet open, no data scan
    // (reading the table to learn its file names would re-stat the
    // whole archive, exactly what incremental refresh must avoid)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(hPath, true)
    val onDisk = scala.collection.mutable.Set.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet"))
        onDisk += f.getPath.toUri.toString
    }
    // input_file_name() URIs and FileSystem listing URIs differ in
    // form (file:///p vs file:/p); compare on the normalized form —
    // a mismatch here would silently re-stat the whole archive
    val knownStripped = existing.select("file").as[String].collect()
      .map(normFile).toSet
    val fresh = onDisk.toSeq.filterNot(f => knownStripped(normFile(f)))
    // dead manifest entries drop via a distributed semi-join — never a
    // million-term IN literal
    val onDiskDf = onDisk.toSeq.map(normFile).toDF("__f")
    val kept = existing.join(onDiskDf,
      normFileCol(col("file")) === col("__f"), "left_semi")
    if (fresh.isEmpty) kept
    else {
      val aggs = cols.flatMap { c =>
        Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          count(when(col(c).isNull, 1)).as(s"${c}_nulls"))
      } :+ count(lit(1)).as("n_rows")
      val added = spark.read.parquet(fresh: _*)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
      kept.unionByName(added.select(kept.columns.map(col): _*))
    }
  }
}
