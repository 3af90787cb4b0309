package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** Structured Streaming ingest — the reference's chunked-CSV loop
  * (`data_transformer.py:267-290`) and idempotent re-ingest
  * (`data_loader.py:173-177`) re-expressed as a streaming pipeline
  * (SURVEY §2.10):
  *
  *  - chunk loop           → file-source `readStream` micro-batches
  *  - one-shot batch mode  → `Trigger.AvailableNow` (process what's
  *                           there, then stop — the reference's actual
  *                           semantics)
  *  - overlap-skip         → `dropDuplicatesWithinWatermark` on the
  *                           natural key
  *  - retry/backoff        → checkpointed exactly-once sink (no code)
  *
  * Watermarked windowed aggregation and gap sessionization are the new
  * capability the time-series domain justifies (the reference's empty
  * analytics package). At scale: state store per key-partition; the
  * watermark bounds state size — without it, streaming dedup/windows
  * grow unboundedly.
  */
object StreamIngest {

  /** File-source stream over a directory of parquet/csv files. */
  def readFileStream(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet", maxFilesPerTrigger: Int = 10): DataFrame = {
    val r = spark.readStream.format(format).schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    (if (format == "csv") r.option("header", "true") else r).load(dir)
  }

  /** Streaming key-dedup with bounded state: duplicates arriving
    * within `watermarkDelay` of the event time are dropped; state
    * older than the watermark is evicted. The streaming twin of
    * [[graft.load.Loader.dedupAppend]].
    */
  def dedupStream(df: DataFrame, timeCol: String, keys: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming upsert into a [[graft.store.Warehouse]] table — the
    * closed loop from stream to queryable store: every micro-batch
    * runs [[graft.load.Loader.dedupAppend]] (key-dedup + anti-join
    * against the time-pruned existing slice + append). `foreachBatch`
    * may REPLAY a batch after a failure; dedupAppend's row-level
    * idempotency makes the replay a no-op, which is exactly the
    * exactly-once-in-effect story a file sink alone can't give on a
    * keyed table. One-shot by default (`AvailableNow`), matching the
    * reference's chunk-loop-then-stop ingest.
    */
  def upsertStream(df: DataFrame, warehouse: graft.store.Warehouse,
      table: String, keys: Seq[String], timeCol: Option[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        new graft.load.Loader(batch.sparkSession, warehouse)
          .dedupAppend(batch, table, keys, timeCol)
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming CDC merge into a [[graft.store.Warehouse]] table:
    * every micro-batch is collapsed to its latest row per key (by
    * `timeCol`, so an intra-batch update sequence applies once) and
    * MERGEd — update-or-insert, where [[upsertStream]] is
    * insert-if-absent. Partitioned tables rewrite only the touched
    * partitions per batch ([[graft.store.Warehouse.merge]]). A
    * replayed batch re-merges the same latest-per-key rows — same
    * final state, so failure recovery is idempotent as long as batches
    * carry monotone versions per key (the usual CDC contract).
    */
  def mergeStream(df: DataFrame, warehouse: graft.store.Warehouse,
      table: String, keys: Seq[String], timeCol: Option[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): Unit =
    mergeLatest(df, warehouse, table, keys, timeCol, checkpoint, trigger)(
      warehouse.merge(table, _, keys))

  /** [[mergeStream]] THROUGH the view layer: each micro-batch's
    * latest-per-key rows MERGE via [[graft.pipeline.Orchestrator.merge]],
    * so every registered [[graft.store.MatView]] folds the exact
    * mutation (retracted pre-images + new rows) — a live rollup over a
    * CDC-maintained table stays ≡ one-shot instead of drifting the way
    * the direct warehouse merge lets it (the count-based syncViews
    * detector is blind to count-preserving updates by design, so the
    * drift would be silent AND permanent). Crash safety is inherited
    * twice over: Orchestrator.merge journals the pinned mutation
    * before the base rewrite (a died fold replays as a view rebuild),
    * and a replayed micro-batch re-merges the same latest-per-key rows
    * into an already-merged base — an empty effective mutation.
    */
  def mergeStreamViews(df: DataFrame, pipe: graft.pipeline.Orchestrator,
      table: String, keys: Seq[String], timeCol: Option[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): Unit =
    mergeLatest(df, pipe.warehouse, table, keys, timeCol, checkpoint,
      trigger)(pipe.merge(table, _, keys))

  /** The body of [[mergeStream]] and [[mergeStreamViews]]: each
    * micro-batch collapses to its latest row per key, creates `table`
    * in `warehouse` on first sight, and goes to `merge`.
    */
  private def mergeLatest(df: DataFrame, warehouse: graft.store.Warehouse,
      table: String, keys: Seq[String], timeCol: Option[String],
      checkpoint: String, trigger: Trigger)(
      merge: DataFrame => Unit): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = timeCol match {
          case Some(tc) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keys.map(col): _*).orderBy(col(tc).desc)
            batch.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
          case None => batch.dropDuplicates(keys)
        }
        // date-partition only when the time column is part of the key:
        // then an update can never move a row across partitions (the
        // merge contract). An entity-keyed CDC table whose rows'
        // timestamps advance stays unpartitioned.
        if (!warehouse.tableExists(table))
          warehouse.createTable(table, latest.schema, uniqueKeys = keys,
            partitionSource = timeCol.filter(keys.contains))
        merge(latest)
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window aggregation: per (window, entity)
    * count + sum. Late rows beyond the watermark are dropped; the
    * window close emits exactly one final row in append mode.
    */
  def windowedAgg(df: DataFrame, timeCol: String, entityCol: String,
      valueCol: String, windowLen: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen), col(entityCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col(entityCol), col("n_events"), col("sum_value"))

  /** Session windows by inactivity gap — `session_window` keeps state
    * per active session only (watermark-evicted), the scalable form of
    * the batch sessionization in EventQueries.
    */
  def sessionAgg(df: DataFrame, timeCol: String, entityCol: String,
      gap: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy(session_window(col(timeCol), gap), col(entityCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(entityCol), col("n_events"))

  /** One-shot ingest into a parquet table: process all available
    * input, checkpoint, stop — the reference's batch-load semantics
    * with exactly-once file-sink guarantees.
    */
  def ingestAvailableNow(df: DataFrame, outPath: String,
      checkpoint: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Per-entity running state — cumulative sum + count + threshold
    * crossings — via `flatMapGroupsWithState` (the custom-state
    * escalation path when windows/dedup can't express the semantics).
    * State is one small record per entity; emits a record per input
    * batch per entity. NoTimeout keeps one-shot (AvailableNow) runs
    * terminating — a ProcessingTimeTimeout holds the query open until
    * the timeout batch fires; long-running deployments that need
    * eviction should switch the timeout conf and run continuous
    * triggers.
    */
  final case class EntityState(total: Double, n: Long, crossings: Long)
  final case class EntityUpdate(entity: String, total: Double, n: Long,
      crossings: Long)

  def runningTotals(df: DataFrame, entityCol: String, valueCol: String,
      threshold: Double)(
      implicit spark: SparkSession): Dataset[EntityUpdate] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    df.select(col(entityCol).cast("string").as("entity"),
        col(valueCol).cast("double").as("value"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EntityState, EntityUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (entity, rows, state: GroupState[EntityState]) =>
          val prev = state.getOption.getOrElse(EntityState(0.0, 0L, 0L))
          var total = prev.total
          var n = prev.n
          var crossings = prev.crossings
          rows.foreach { case (_, v) =>
            val before = total
            total += v
            n += 1
            if (before <= threshold && total > threshold) crossings += 1
          }
          state.update(EntityState(total, n, crossings))
          Iterator(EntityUpdate(entity, total, n, crossings))
      }
  }

  /** Watermarked stream-stream interval join: rows pair when the key
    * matches AND the right event falls within `[leftTime - lookback,
    * leftTime]`. Both sides carry watermarks and the join condition
    * bounds the time skew, so each side's join state is evicted as the
    * watermark passes — the ONLY shape an unbounded stream-stream join
    * can take at scale (an unbounded-state join grows forever).
    * `keyExpr` references columns of both inputs (pre-rename clashes).
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String, keyExpr: String,
      lookback: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(right.withWatermark(rightTime, watermark),
        expr(s"$keyExpr AND $rightTime >= $leftTime - INTERVAL $lookback" +
          s" AND $rightTime <= $leftTime"),
        "inner")

  /** LEFT OUTER twin of [[streamIntervalJoin]]: matched pairs emit as
    * they join; an UNMATCHED left row emits with null right columns
    * once the watermark proves no qualifying right row can still
    * arrive — which is why the outer variant REQUIRES the watermark +
    * time-bound condition (state must be provably complete before a
    * null can be final). The enrich-with-maybe-missing-context shape:
    * "every event, decorated with its signup if one preceded it".
    */
  def streamIntervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String, keyExpr: String,
      lookback: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(right.withWatermark(rightTime, watermark),
        expr(s"$keyExpr AND $rightTime >= $leftTime - INTERVAL $lookback" +
          s" AND $rightTime <= $leftTime"),
        "leftOuter")

  /** A finalized gap-session: emitted only once the event-time
    * watermark proves no more events can join it.
    */
  final case class SessionState(startMs: Long, endMs: Long, n: Long)
  final case class FinalSession(entity: String, session_start: Long,
      session_end: Long, n_events: Long)

  /** Event-time-timeout sessionization via `flatMapGroupsWithState`:
    * unlike [[sessionAgg]] (whose session_window rows are emitted by
    * the engine), this is the custom-state form — sessions close
    * either when a same-entity event arrives past the gap, or when the
    * WATERMARK passes session-end + gap (`EventTimeTimeout`), so a
    * silent entity's last session still finalizes. State: one record
    * per open session per entity, watermark-bounded. Works across
    * checkpointed `AvailableNow` runs (the engine runs a no-data batch
    * when the watermark advances, which is what fires timeouts).
    */
  def finalizedSessions(df: DataFrame, timeCol: String, entityCol: String,
      gapMs: Long, watermarkDelay: String = "0 seconds")(
      implicit spark: SparkSession): Dataset[FinalSession] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the watermarked event-time column must survive up to the stateful
    // operator — projecting it into a derived long would detach the
    // watermark and fail the unsupported-operation check
    df.withWatermark(timeCol, watermarkDelay)
      .select(col(entityCol).cast("string").as("entity"),
        col(timeCol).as("ts"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, FinalSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (entity, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(FinalSession(entity, s.startMs, s.endMs, s.n))
          } else {
            val times = rows.map(_._2.getTime).toSeq.sorted
            val out = Seq.newBuilder[FinalSession]
            var st = state.getOption
            times.foreach { t =>
              st match {
                case Some(s) if t - s.endMs <= gapMs =>
                  // out-of-order events from a later batch (allowed while
                  // watermarkDelay > 0) can carry t < s.endMs; merging must
                  // never move the session's bounds backwards
                  st = Some(SessionState(math.min(s.startMs, t),
                    math.max(s.endMs, t), s.n + 1))
                case Some(s) =>
                  out += FinalSession(entity, s.startMs, s.endMs, s.n)
                  st = Some(SessionState(t, t, 1))
                case None =>
                  st = Some(SessionState(t, t, 1))
              }
            }
            st.foreach { s =>
              state.update(s)
              // the timeout stamp must sit above the current watermark
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, s.endMs + gapMs))
            }
            out.result().iterator
          }
      }
  }

  /** Stream-static enrichment: join each micro-batch against a
    * dimension table with an explicit broadcast hint — the standard
    * "decorate events with account/catalog attributes" shape. The
    * static side is planned ONCE and shipped to executors; no shuffle
    * touches the stream, so the enriched stream keeps its source
    * partitioning and watermark. For dimensions that change while the
    * query runs, re-read them per batch in `foreachBatch` instead — a
    * static DataFrame is bound at plan time.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String],
      joinType: String = "inner"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Streaming heavy hitters per tumbling window: the mergeable
    * Space-Saving sketch ([[graft.plans.SpaceSavingTopK]]) as the
    * aggregation state — O(k) per window in the state store instead of
    * one state row per distinct key, which is the difference between
    * bounded and unbounded state when the key is high-cardinality
    * (URLs, user ids) at 100 TB/day. Emits on window close (append
    * mode): one row per surviving counter with the `est − err ≤ true ≤
    * est` guarantee; exact while distinct keys in the window ≤ k.
    */
  def windowedTopK(df: DataFrame, timeCol: String, keyCol: String, k: Int,
      windowLen: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen))
      .agg(call_function("space_saving_topk", col(keyCol), lit(k)).as("tops"))
      .select(col("window.start").as("window_start"),
        explode(col("tops")).as("e"))
      .select(col("window_start"), col("e.key").as("key"),
        col("e.est").as("est"), col("e.err").as("err"))
  }

  /** Run a streaming transform one-shot into an in-memory table and
    * return its rows — the harness used by specs and quick inspection
    * (complete/append per `outputMode`).
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: String = "append"): Array[Row] = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).collect()
  }
}
