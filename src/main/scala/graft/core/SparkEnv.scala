package graft.core

import org.apache.spark.sql.SparkSession
import graft.plans.GraftExtensions

/** SparkSession factory for the graft engine.
  *
  * Replaces the reference's connection/session management
  * (`src/postgres_managing/postgres_manager.py:67-190` — singleton +
  * psycopg2 pool + per-session `work_mem` tuning): in a Spark-native
  * engine the session IS the engine, and the tuning knobs are shuffle
  * partitioning + AQE rather than per-connection memory settings.
  *
  * Scale posture: AQE handles runtime partition coalescing and skew
  * joins on a real cluster; `shufflePartitions` here is the local-mode
  * default only (a cluster deployment sets it to ~2-3x total cores or
  * relies on AQE coalescing from a higher initial value).
  */
object SparkEnv {

  /** Sensible local default: match available cores, never Spark's 200. */
  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(
      appName: String = "graft",
      cores: Int = defaultParallelism,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // ANSI mode ON — deliberate, not inherited: the full query
      // catalog is oracle-green under it, overflow/bad-cast bugs
      // surface as errors instead of silent nulls, and coerce-style
      // sites opt out locally via try_cast/try_element_at/try_add.
      // Positional array/map reads that can miss must use the try_
      // variants (see the degenerate-input specs).
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // TIMESTAMP(NANOS) parquet columns surface as longs; Tables.readParquet
      // rebuilds them as µs timestamps from footer metadata.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Naive-µs parquet stamps (isAdjustedToUTC=false) must read as
      // TimestampType, not TIMESTAMP_NTZ — session TZ is UTC so the two
      // are value-identical, and NTZ breaks unix_micros at analysis time.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // native engine kernels (minhash_slots, …): mandatory, see below
      .config("spark.sql.extensions", GraftExtensions.ClassName)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    requireKernels(spark.sparkContext.getConf.get("spark.sql.extensions", ""))
    spark
  }

  /** The engine has one production path: library operators call the
    * [[GraftExtensions]] kernels unconditionally, with no composed-
    * builtin fallback. So a session without them is refused here, once,
    * instead of failing later inside some operator's analysis — e.g.
    * when `getOrCreate` hands back a session (or SparkContext) that was
    * started without the extension: static confs cannot change after
    * the fact. Every session on a SparkContext takes its extensions
    * from that context's `spark.sql.extensions`, so the context conf
    * is the check; asking the session's catalog instead would build
    * its whole session state here, ~1 s of session start-up on a
    * 4-core host, for the same answer.
    */
  private[graft] def requireKernels(extensionsConf: String): Unit =
    if (!extensionsConf.split(",").map(_.trim).contains(GraftExtensions.ClassName))
      throw new IllegalStateException(
        "graft session lacks its native kernels (spark.sql.extensions = " +
          s"'$extensionsConf'); build it with " +
          s"spark.sql.extensions=${GraftExtensions.ClassName}")
}
