package perfbench

import java.io.File

/** Per-layer metrics of a traced run, named after the engine's
  * modules. Times and counts are means per traced op (bulk pass or
  * incremental batch); a metric a workload never exercises reads 0.
  */
object Layers {

  /** Every per-layer metric, with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "core.session_s" -> "s", "core.residue_storage_mb" -> "MB",
    "core.residue_rdds" -> "count",
    "pipeline.transform_s" -> "s", "pipeline.load_s" -> "s",
    "pipeline.reload_s" -> "s", "pipeline.merge_s" -> "s",
    "pipeline.sync_views_s" -> "s", "pipeline.read_view_s" -> "s",
    "transform.melt_rows_out" -> "count", "transform.csv_bytes_in" -> "B",
    "transform.parquet_bytes_out" -> "B", "transform.files_out" -> "count",
    "io.read_parquet_s" -> "s", "io.fs_list_ops" -> "count",
    "io.fs_read_ops" -> "count", "io.fs_write_ops" -> "count",
    "profile.analyze_s" -> "s", "profile.scan_bytes" -> "B",
    "schema.ddl_reuse_ratio" -> "ratio",
    "load.check_overlap_s" -> "s", "load.dedup_append_s" -> "s",
    "load.jobs_per_batch" -> "count",
    "load.existing_rows_per_incoming_row" -> "ratio",
    "load.append_ratio" -> "ratio",
    "store.append_s" -> "s", "store.merge_s" -> "s",
    "store.view_fold_s" -> "s", "store.view_sync_s" -> "s",
    "store.partitions_rewritten" -> "count", "store.files_written" -> "count",
    "store.bytes_written" -> "B", "store.table_files" -> "count",
    "streaming.batches" -> "count", "streaming.input_rows" -> "count",
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.query_planning_s" -> "s",
    "analytics.rollup_s" -> "s",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.input_bytes" -> "B", "exec.input_records" -> "count",
    "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_records" -> "count",
    "exec.fetch_wait_s" -> "s", "exec.spill_bytes" -> "B",
    "exec.core_utilization" -> "ratio",
    "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s",
    "trace.overhead_s" -> "s")

  /** What a traced op wrote, read from the warehouse listing before
    * it, between its load and its merge (`mid`), and after it: files
    * and bytes new or rewritten anywhere in the warehouse (table, view
    * state, sidecars), partitions of `table` the merge took a file from
    * (loads only add files), and `table`'s data files afterwards. */
  def fileFacts(before: Seq[File], mid: Seq[File], after: Seq[File],
      table: File): Map[String, Double] = {
    val old = before.map(f => f.getPath -> f.lastModified).toMap
    val written = after.filter(f => !old.get(f.getPath).contains(f.lastModified))
    val gone = mid.map(_.getPath).toSet -- after.map(_.getPath)
    val tablePrefix = table.getPath + File.separator
    Map(
      "store.files_written" -> written.size.toDouble,
      "store.bytes_written" -> written.map(_.length).sum.toDouble,
      "store.partitions_rewritten" -> gone.filter(_.startsWith(tablePrefix))
        .map(p => new File(p).getParent).size.toDouble,
      "store.table_files" -> after.count(f =>
        f.getPath.startsWith(tablePrefix) && f.getName.endsWith(".parquet"))
        .toDouble)
  }

  /** Fills the run's per-layer metrics. `ops` are the traced ops the
    * layers are read from and `wall` their median wall; `overhead` is
    * an (untraced, traced) pair of comparable walls; `opFacts` holds one
    * map per traced op of figures only the workload can observe, among
    * them `offered_rows`, the rows the op offered to `raw`. */
  def report(ctx: Ctx, t: Tracer, ops: Seq[String], wall: Double,
      overhead: (Double, Double), opFacts: Seq[Map[String, Double]]): Unit = {
    t.drain()
    val n = math.max(1, ops.size).toDouble
    val facts = opFacts.flatMap(_.keys).distinct.map(k =>
      k -> opFacts.map(_.getOrElse(k, 0.0)).sum / math.max(1, opFacts.size))
      .toMap
    val offered = facts.getOrElse("offered_rows", 0.0)
    val opSet = ops.toSet
    val spans = t.spans.filter(s => opSet(s.op))
    def named(name: String) = spans.filter(_.name == name)
    def secs(names: String*) = names.flatMap(named).map(_.seconds).sum / n
    def selfSecs(name: String) = named(name).map(t.selfSeconds).sum / n
    def self(name: String, k: String) = named(name).map(_.counters.get(k)).sum / n
    def incl(name: String, k: String) = named(name).map(t.inclusive(_, k)).sum / n
    def total(k: String) = spans.map(_.counters.get(k)).sum / n
    def fs(k: String) = spans.filter(_.parent == 0).flatMap(_.fsDelta.get(k))
      .sum / n
    val loadJobs = incl("load.check_overlap", "jobs") +
      self("load.dedup_append", "jobs")
    val scanned = incl("load.check_overlap", "table_rows_scanned") +
      self("load.dedup_append", "table_rows_scanned")
    val storage = ctx.spark.sparkContext.getRDDStorageInfo
    val reuse = named("schema.read_ddl").size
    val profiled = named("profile.analyze").size
    val m = Map(
      "core.session_s" -> ctx.sessionS,
      "core.residue_storage_mb" ->
        storage.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      "core.residue_rdds" -> ctx.spark.sparkContext.getPersistentRDDs.size
        .toDouble,
      "pipeline.transform_s" -> secs("pipeline.transform"),
      "pipeline.load_s" -> secs("pipeline.load", "pipeline.load_file"),
      "pipeline.reload_s" -> secs("pipeline.reload"),
      "pipeline.merge_s" -> secs("pipeline.merge"),
      "pipeline.sync_views_s" -> secs("pipeline.sync_views"),
      "pipeline.read_view_s" -> secs("pipeline.read_view"),
      "io.read_parquet_s" -> secs("io.read_parquet"),
      "io.fs_list_ops" -> fs("list"),
      "io.fs_read_ops" -> (fs("read") + fs("status")),
      "io.fs_write_ops" -> fs("write"),
      "profile.analyze_s" -> secs("profile.analyze"),
      "profile.scan_bytes" -> incl("profile.analyze", "input_bytes"),
      "schema.ddl_reuse_ratio" ->
        (if (reuse + profiled == 0) 0.0 else reuse.toDouble / (reuse + profiled)),
      "load.check_overlap_s" -> secs("load.check_overlap"),
      "load.dedup_append_s" -> selfSecs("load.dedup_append"),
      "load.jobs_per_batch" -> loadJobs,
      "load.existing_rows_per_incoming_row" ->
        (if (offered == 0) 0.0 else scanned / offered),
      "store.append_s" -> self("load.dedup_append", "write_s"),
      "store.merge_s" -> incl("pipeline.merge", "write_s"),
      "store.view_fold_s" -> secs("store.view_fold"),
      "store.view_sync_s" -> self("pipeline.sync_views", "sql_exec_s"),
      "streaming.batches" -> total("stream_batches"),
      "streaming.input_rows" -> total("stream_input_rows"),
      "streaming.trigger_s" -> total("stream_trigger_s"),
      "streaming.add_batch_s" -> total("stream_add_batch_s"),
      "streaming.wal_commit_s" -> total("stream_wal_commit_s"),
      "streaming.query_planning_s" -> total("stream_planning_s"),
      "analytics.rollup_s" -> secs("analytics.rollup"),
      "plans.analysis_s" -> total("analysis_s"),
      "plans.optimization_s" -> total("optimization_s"),
      "plans.planning_s" -> total("planning_s"),
      "exec.jobs" -> total("jobs"), "exec.stages" -> total("stages"),
      "exec.tasks" -> total("tasks"), "exec.task_run_s" -> total("task_run_s"),
      "exec.task_cpu_s" -> total("task_cpu_s"), "exec.gc_s" -> total("gc_s"),
      "exec.input_bytes" -> total("input_bytes"),
      "exec.input_records" -> total("input_records"),
      "exec.shuffle_write_bytes" -> total("shuffle_write_bytes"),
      "exec.shuffle_read_records" -> total("shuffle_read_records"),
      "exec.fetch_wait_s" -> total("fetch_wait_s"),
      "exec.spill_bytes" -> total("spill_bytes"),
      "exec.core_utilization" -> (if (wall == 0) 0.0 else
        total("task_run_s") / (wall * Runtime.getRuntime.availableProcessors())),
      "trace.untraced_wall_s" -> overhead._1,
      "trace.traced_wall_s" -> overhead._2,
      "trace.overhead_s" -> (overhead._2 - overhead._1)) ++ facts
    Units.foreach { case (k, u) =>
      ctx.out.perLayer(k) = (m.getOrElse(k, 0.0), u)
    }
  }
}
