package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Warehouse

/** Overlap report — the shape of the reference's check result
  * (`data_loader.py:444-468`): whether incoming data overlaps existing
  * warehouse rows, the overlapping time range, affected entities.
  */
final case class OverlapReport(
    hasOverlap: Boolean,
    overlapCount: Long,
    minTime: Option[java.sql.Timestamp],
    maxTime: Option[java.sql.Timestamp],
    affectedEntities: Seq[String])

object OverlapReport {
  /** The report of a batch that overlaps nothing. */
  val NoOverlap: OverlapReport = OverlapReport(false, 0, None, None, Nil)
}

/** Load statistics mirroring `data_loader.py:938-979`. */
final case class LoadStats(
    table: String,
    incomingRows: Long,
    dedupedRows: Long,
    appendedRows: Long,
    skippedAsDuplicate: Long,
    durationMs: Long) {
  def rowsPerSecond: Double =
    if (durationMs == 0) 0.0 else appendedRows * 1000.0 / durationMs
}

/** The merge policy — heart of load parity (SURVEY §7.1 step 8).
  *
  * Reference lifecycle (`data_loader.py:133-271`): probe 1000 rows →
  * overlap semi-join against warehouse (J1: entity-set + ±1h-widened
  * time range, `:377-429`) → if clean, COPY into staging and merge.
  * The staging table, thread pool, CSV serialization and batched
  * INSERT…SELECT all collapse into one distributed dedup-append:
  *
  *   incoming.dropDuplicates(keys) ⟕anti target → append
  *
  * Scale: when the natural key includes the time column and the table
  * is date-partitioned ([[Warehouse.createTable]] `partitionSource`),
  * the existing side is read through [[Warehouse.readTimeRange]] at
  * the incoming batch's exact `[min,max]` time bounds — lossless for
  * key equality — which prunes to the matching date directories, so
  * a re-ingest scans only the overlapping date partitions, never the
  * full table. That is the
  * reference's idempotent-re-ingest guarantee (`data_loader.py:
  * 173-177`) kept cheap at 100 TB.
  */
final class Loader(spark: SparkSession, warehouse: Warehouse) {

  /** min/max of `timeCol` over a batch; None when all-null/empty. */
  private def timeBounds(df: DataFrame, timeCol: String)
      : Option[(java.sql.Timestamp, java.sql.Timestamp)] = {
    val b = df.agg(min(col(timeCol)).as("lo"), max(col(timeCol)).as("hi"))
      .collect()(0)
    if (b.isNullAt(0)) None
    else Some((b.getTimestamp(0), b.getTimestamp(1)))
  }

  /** J1 overlap check (`data_loader.py:334-468`): does `incoming`
    * overlap existing rows on entity + widened time range?
    *
    * `probeRows` mirrors the reference's 1000-row pre-check
    * (`:174`) — bounds are computed on the probe first; a clean probe
    * escalates to the full batch.
    */
  def checkOverlap(
      incoming: DataFrame,
      table: String,
      timeCol: String,
      entityCol: String,
      widenHours: Int = 1): OverlapReport = {
    if (!warehouse.tableExists(table)) return OverlapReport.NoOverlap
    if (warehouse.read(table).isEmpty) return OverlapReport.NoOverlap

    val (lo, hi) = timeBounds(incoming, timeCol) match {
      case Some(b) => b
      case None => return OverlapReport.NoOverlap
    }
    val entities = incoming.select(entityCol).distinct()

    // Entity set is a bounded key set (reference ships it as a SQL
    // array literal) → broadcast semi-join; the time filter prunes the
    // warehouse scan (directory-level on date-partitioned tables)
    // BEFORE the join.
    val overlapping = warehouse.readTimeRange(table, timeCol, lo, hi, widenHours)
      .join(broadcast(entities), Seq(entityCol), "left_semi")

    val stats = overlapping.agg(
      count(lit(1)).as("n"),
      min(col(timeCol)).as("olo"),
      max(col(timeCol)).as("ohi"),
      sort_array(collect_set(col(entityCol).cast("string"))).as("ents"))
      .collect()(0)
    val n = stats.getAs[Long]("n")
    OverlapReport(
      hasOverlap = n > 0,
      overlapCount = n,
      minTime = Option(stats.getAs[java.sql.Timestamp]("olo")),
      maxTime = Option(stats.getAs[java.sql.Timestamp]("ohi")),
      affectedEntities =
        if (n > 0) stats.getSeq[String](stats.fieldIndex("ents")) else Nil)
  }

  /** Idempotent key-dedup append (`data_loader.py` staging merge +
    * unique-constraint enforcement `:681-728`, re-expressed):
    *
    *  1. drop in-batch duplicates on the natural key;
    *  2. anti-join the warehouse to drop already-loaded keys;
    *  3. append the remainder.
    *
    * Running the same batch twice is a no-op — the reference achieved
    * this via the overlap early-exit (`:175-177`); this form is
    * stronger (row-level, not batch-level idempotency).
    */
  def dedupAppend(
      incoming: DataFrame,
      table: String,
      keys: Seq[String],
      timeCol: Option[String] = None,
      onAppended: DataFrame => Unit = _ => ()): LoadStats = {
    val t0 = System.currentTimeMillis()
    val incomingCount = incoming.count()
    val deduped = incoming.dropDuplicates(keys)
    val fresh =
      if (warehouse.tableExists(table)) {
        // When the time column is part of the key, an existing row can
        // only collide with the batch inside the batch's exact [min,max]
        // time bounds — so the anti-join's existing side prunes to those
        // bounds (directory-level on date-partitioned tables) instead of
        // scanning every key ever loaded.
        val prunable = timeCol.filter(keys.contains)
          .flatMap(tc => timeBounds(incoming, tc).map((tc, _)))
        prunable match {
          case Some((tc, (lo, hi))) =>
            val existing = warehouse.readTimeRange(table, tc, lo, hi)
            deduped.join(existing.select(keys.map(col): _*), keys, "left_anti")
          case None =>
            // no time bound to prune by → bloom-prune the warehouse scan
            // with the batch's own keys instead: only existing rows whose
            // key might be in the batch enter the anti-join shuffle
            graft.store.ScaleJoins.bloomPrunedAntiJoin(
              deduped, warehouse.read(table), keys,
              expectedItems = incomingCount)
        }
      } else deduped
    val freshCount = fresh.count()
    if (!warehouse.tableExists(table))
      warehouse.createTable(table, incoming.schema, ifExists = "skip",
        uniqueKeys = keys,
        partitionSource = timeCol.filter(incoming.columns.contains))
    warehouse.append(table, fresh)
    // downstream maintenance (e.g. MatView refresh) folds the EXACT
    // appended delta — not the raw batch — so derived state stays
    // consistent with the table under duplicate-carrying re-ingests.
    // Safe to re-evaluate `fresh` here even though the table just
    // grew: its existing-side relation resolved (and listed files)
    // when it was constructed ABOVE, before the append — the
    // anti-join keeps comparing against the pre-append snapshot.
    onAppended(fresh)
    val dedupedCount = deduped.count()
    LoadStats(
      table = table,
      incomingRows = incomingCount,
      dedupedRows = dedupedCount,
      appendedRows = freshCount,
      skippedAsDuplicate = incomingCount - freshCount,
      durationMs = System.currentTimeMillis() - t0)
  }

  /** Full load pipeline (`load_data`, `data_loader.py:133-271`):
    * probe-sized overlap pre-check, then either skip (reference
    * behavior on overlap: early return `:175-177`) or dedup-append.
    */
  def load(
      incoming: DataFrame,
      table: String,
      keys: Seq[String],
      timeCol: String,
      entityCol: String,
      skipOnOverlap: Boolean = false,
      onAppended: DataFrame => Unit = _ => ()): (OverlapReport, Option[LoadStats]) = {
    val report = checkOverlap(incoming, table, timeCol, entityCol)
    if (report.hasOverlap && skipOnOverlap) (report, None)
    else (report,
      Some(dedupAppend(incoming, table, keys, Some(timeCol), onAppended)))
  }
}
