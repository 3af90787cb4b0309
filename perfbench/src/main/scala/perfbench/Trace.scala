package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters attributed to one span. Written by listener threads, so
  * every field is updated under the instance lock. */
final class Counters {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = synchronized { c(k) += v }
  def get(k: String): Double = synchronized { c(k) }
  def snapshot: Map[String, Double] = synchronized { c.toMap }
}

/** A timed call into one layer. `op` names the pass, batch or stage
  * the span belongs to; spans of one op share it. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: String, val startNs: Long) {
  var endNs: Long = -1L
  val fsOpen: Map[String, Long] = CountingLocalFileSystem.snapshot()
  var fsDelta: Map[String, Long] = Map.empty
  val counters = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory, opened and closed on the driver's main
  * thread. The open span's id rides on a Spark job tag, which Spark
  * stores as a thread-local SparkContext property and copies onto
  * every job and SQL execution started under it (threads a span
  * starts, such as a streaming query's, inherit it). The listeners
  * below read the tag back and charge their counters to that span, so
  * counters land on the innermost open span without any change to the
  * engine.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  /** The table whose scanned rows are counted per span. */
  @volatile var watchedDir: String = ""

  def spans: Seq[Span] = all.toSeq
  def lastSpan(name: String): Span = all.findLast(_.name == name).get

  def span[T](name: String, op: String = "")(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(all.size + 1, name, parent.map(_.id).getOrElse(0),
      if (op.nonEmpty) op else parent.map(_.op).getOrElse(""),
      System.nanoTime())
    all += s
    byId.put(s.id, s)
    parent.foreach(p => sc.removeJobTag(Tracer.tag(p.id)))
    sc.addJobTag(Tracer.tag(s.id))
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      val now = CountingLocalFileSystem.snapshot()
      s.fsDelta = now.map { case (k, v) => k -> (v - s.fsOpen.getOrElse(k, 0L)) }
      stack = stack.tail
      sc.removeJobTag(Tracer.tag(s.id))
      parent.foreach(p => sc.addJobTag(Tracer.tag(p.id)))
    }
  }

  private def spanOf(tags: Iterable[String]): Option[Span] =
    tags.collectFirst { case t if t.startsWith(Tracer.Prefix) =>
      t.stripPrefix(Tracer.Prefix).toInt }.flatMap(i => Option(byId.get(i)))

  private def spanOfProps(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(t => spanOf(t.split(",")))

  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, (Span, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOfProps(e.properties).foreach { s =>
        s.counters.add("jobs", 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.counters.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val c = s.counters
        c.add("tasks", 1)
        c.add("task_run_s", m.executorRunTime / 1e3)
        c.add("task_cpu_s", m.executorCpuTime / 1e9)
        c.add("gc_s", m.jvmGCTime / 1e3)
        c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        c.add("input_records", m.inputMetrics.recordsRead.toDouble)
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("shuffle_read_records", m.shuffleReadMetrics.recordsRead.toDouble)
        c.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        c.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        spanOf(s.jobTags).foreach(sp => execSpan.put(s.executionId, (sp, s.time)))
      case end: SparkListenerSQLExecutionEnd =>
        for ((sp, t0) <- Option(execSpan.remove(end.executionId));
             qe <- Internals.queryExecution(end))
          recordQuery(sp, qe, (end.time - t0) / 1e3)
      case _ =>
    }
  }

  /** Per-query figures of one SQL execution: the planning phases from
    * `QueryExecution.tracker`, its duration, whether it wrote, and the
    * rows its scans of [[watchedDir]] returned. They come from the
    * execution-end event Spark's `QueryExecutionListener` is itself fed
    * from, because that callback carries no execution id to find the
    * span by. */
  private def recordQuery(s: Span, qe: QueryExecution, seconds: Double): Unit = {
    val c = s.counters
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(ph => c.add(s"${p}_s", ph.durationMs / 1e3))
    }
    c.add("sql_execs", 1)
    c.add("sql_exec_s", seconds)
    val node = qe.logical.nodeName
    if (node.contains("Insert") || node.contains("Save"))
      c.add("write_s", seconds)
    val dir = watchedDir
    if (dir.nonEmpty) PlanWalk.collect(qe.executedPlan) {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toUri.getPath.startsWith(dir)) =>
        f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.foreach(n => c.add("table_rows_scanned", n.toDouble))
  }

  private val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  /** Drops streaming progress of queries run outside any traced op. */
  def discardStreamProgress(): Unit = { drain(); progress.clear() }

  /** Charges the streaming progress delivered so far to `s`: streaming
    * queries start and finish inside one span, so after a drain every
    * progress event pending belongs to it. */
  def claimStreamProgress(s: Span): Unit = {
    drain()
    var p = progress.poll()
    while (p != null) {
      val c = s.counters
      c.add("stream_batches", 1)
      c.add("stream_input_rows", p.numInputRows.toDouble)
      val d = p.durationMs.asScala
      def sec(k: String) = d.get(k).map(_.longValue / 1e3).getOrElse(0.0)
      c.add("stream_trigger_s", sec("triggerExecution"))
      c.add("stream_add_batch_s", sec("addBatch"))
      c.add("stream_wal_commit_s", sec("walCommit") + sec("commitOffsets"))
      c.add("stream_planning_s", sec("queryPlanning"))
      p = progress.poll()
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far reached the listeners;
    * streaming and query-execution listeners are fed from the same
    * bus. */
  def drain(): Unit = Internals.drain(sc)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Self time: the span's duration minus the part of it its child
    * spans cover (children of one span never overlap: spans nest on
    * one thread). */
  def selfSeconds(s: Span): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  /** Counter `k` of span `s` plus every descendant's. */
  def inclusive(s: Span, k: String): Double =
    s.counters.get(k) + all.filter(_.parent == s.id).map(inclusive(_, k)).sum

  /** JSON lines, one per span, for the trace file. */
  def dump(): Seq[String] = all.toSeq.map { s =>
    val fields = Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString, "op" -> Json.str(s.op),
      "start_s" -> Json.num((s.startNs - all.head.startNs) / 1e9),
      "end_s" -> Json.num((s.endNs - all.head.startNs) / 1e9),
      "self_s" -> Json.num(selfSeconds(s)),
      "counters" -> Json.obj(s.counters.snapshot.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
      "fs" -> Json.obj(s.fsDelta.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.toString }))
    Json.obj(fields)
  }
}

/** Walks a physical plan through adaptive-execution wrappers. */
object PlanWalk extends AdaptiveSparkPlanHelper

object Tracer {
  val Prefix = "pbspan-"
  def tag(id: Int): String = Prefix + id
}

/** Minimal JSON text builders for the benchmark's own output. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
