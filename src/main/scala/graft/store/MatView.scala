package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One declarative measure of a materialized view. `kind` picks the
  * partial-state representation:
  *
  *  - `count`          → one long, merged by sum
  *  - `sum`/`avg`      → exact decimal(38,6) partial sum (+ count for
  *                       avg), merged by sum — order-insensitive, so
  *                       any refresh schedule finalizes identically
  *  - `min`/`max`      → source-typed extremum, merged by min/max
  *  - `hll`            → Datasketches HLL register blob
  *                       (`hll_sketch_agg`), merged by `hll_union_agg`
  *                       — register max is associative + commutative,
  *                       so the incremental estimate is BIT-IDENTICAL
  *                       to a one-shot build, not merely close
  *  - `bottomk`        → KMV quantile sample over `src` prioritized
  *                       by `aux` ([[graft.plans.BottomKSample]]) —
  *                       min-k under union is a set op, so the incremental
  *                       sample is bit-identical to one-shot too
  */
final case class MvMeasure(kind: String, src: String = "",
    aux: String = "") {
  require(MvMeasure.kinds(kind), s"unknown measure kind: $kind")
  require(kind == "count" || src.nonEmpty, s"$kind needs a source column")
  require(kind != "bottomk" || aux.nonEmpty,
    "bottomk needs aux = priority column")

  /** Output / state column tag, e.g. `sum_l_quantity`. */
  def tag: String = if (kind == "count") "cnt" else s"${kind}_$src"
}

object MvMeasure {
  val kinds = Set("count", "sum", "min", "max", "avg", "hll", "bottomk")
}

/** A keyed aggregate view definition: `GROUP BY keys` + measures. */
final case class MatViewDef(name: String, keys: Seq[String],
    measures: Seq[MvMeasure]) {
  require(keys.nonEmpty && measures.nonEmpty, "keys and measures required")
  require(measures.map(_.tag).distinct.size == measures.size,
    "duplicate measure tags")
  def stateTable: String = s"_mv_$name"
}

/** Incremental materialized aggregate views over PARTIAL STATES — the
  * rollup-maintenance layer a 100 TB fact table needs: refreshing a
  * dashboard aggregate must cost O(|delta| + |state|), never a rescan
  * of the fact history. The state table holds one row per group key
  * with MERGEABLE partials (counts, exact decimal sums, extrema, HLL
  * registers); each new batch is aggregated alone (map-side combined,
  * one exchange over the batch) and folded into the state with a
  * second aggregation over `state ∪ batch-partials` — state is
  * key-cardinality-sized, so the fold is small at any fact scale.
  *
  * Exactness contract (proven in MatViewSpec and the
  * `q_matview_rollup` oracle): every partial here is associative and
  * commutative — decimal sums (not IEEE doubles), min/max, HLL
  * register max — so ANY refresh schedule (one batch, many batches,
  * any order) produces the same finalized view as a one-shot
  * aggregation over the full data. This is the same partial/merge/
  * finalize split Spark's own partial aggregation uses inside one
  * query, lifted to durable state across queries.
  *
  * Reference analogue: the reference refreshed its reporting
  * aggregates by re-running full GROUP BY SQL over the store
  * (`postgres_manager.py:1090-1131` aggregation surface); this is the
  * incremental re-expression of that surface.
  */
object MatView {

  /** Measure kinds whose partial state is a GROUP — invertible under
    * retraction by signed partials (+row/−row). The others (extrema,
    * HLL registers, bottom-k samples) are semilattice joins: folding
    * in is free, folding OUT needs a per-affected-group rescan.
    */
  val InvertibleKinds = Set("count", "sum", "avg")

  /** Partial-state aggregation of one batch: one map-side-combined
    * exchange over the batch, output is one row per key present in it.
    * State always carries a hidden `__n` per-group row count — it
    * drops groups that retract to empty ([[mutateState]]) and gives
    * O(state) divergence detection against the base table (sum(__n)
    * must equal the table's row count when every delta folded exactly
    * once — the crash-recovery check the load pipeline runs).
    */
  def partial(df: DataFrame, mv: MatViewDef): DataFrame =
    df.groupBy(mv.keys.map(col): _*).agg(partialAggs(mv).head,
      partialAggs(mv).tail: _*)

  /** Fold two partial-state frames into one — associative and
    * commutative, usable both for batch-at-a-time refresh and for
    * tree-merging per-shard states.
    */
  def mergeStates(a: DataFrame, b: DataFrame, mv: MatViewDef): DataFrame =
    a.unionByName(b).groupBy(mv.keys.map(col): _*)
      .agg(mergeAggs(mv).head, mergeAggs(mv).tail: _*)

  /** Finalize partial state into the user-facing view. */
  def finalizeView(state: DataFrame, mv: MatViewDef): DataFrame =
    state.select(mv.keys.map(col) ++ mv.measures.map(finalCol): _*)

  /** Fold a new delta batch into the durable state table — create on
    * first refresh, else merge + crash-safe replace (the working-dir
    * write materializes the merge before the old state dir moves).
    */
  def refresh(wh: Warehouse, mv: MatViewDef, delta: DataFrame): Unit = {
    val p = partial(delta, mv)
    writeState(wh, mv, p)(mergeStates(_, p, mv))
  }

  /** Store the view state: `first` creates it, else `next(state)`
    * replaces it crash-safely.
    */
  private def writeState(wh: Warehouse, mv: MatViewDef, first: => DataFrame)(
      next: DataFrame => DataFrame): Unit =
    if (!wh.tableExists(mv.stateTable)) {
      val p = first
      wh.createTable(mv.stateTable, p.schema)
      wh.append(mv.stateTable, p)
    } else wh.replaceTable(mv.stateTable, next(wh.read(mv.stateTable)))

  /** The finalized view from durable state. */
  def readView(wh: Warehouse, mv: MatViewDef): DataFrame =
    finalizeView(wh.read(mv.stateTable), mv)

  // ------------------------------------------------------ retraction

  /** Fold a MUTATION batch — rows leaving the base table (`removed`,
    * with their full old payload) and rows entering (`added`) — into
    * the state; an update is one removed row plus one added row.
    * Pure-frame form of [[refreshMutation]]; this is what lets a view
    * stay exact over a base maintained by [[Warehouse.merge]] /
    * [[SnapshotDiff.applyChanges]], where an append-only fold silently
    * drifts.
    *
    * Cost shape, per the two halves of the measure algebra:
    *  - ALL measures invertible (count/sum/avg): one signed partial
    *    over the delta merged into state — `baseAfter` is NEVER
    *    evaluated (it is by-name precisely so the spec can prove
    *    that), so retraction costs O(|delta| + |state|), zero base
    *    I/O at any base scale.
    *  - Any non-invertible measure (min/max/hll/bottomk — semilattice
    *    joins with no inverse): groups untouched by removals still
    *    fold `added` incrementally; groups with a removal are rebuilt
    *    from `baseAfter` restricted BY SEMI-JOIN to the removed keys —
    *    O(Δkeys · group size), never a full rescan (partition-prunable
    *    when the base is laid out by a key prefix).
    *
    * Groups whose membership retracts to empty leave the state (the
    * hidden `__n` reaches 0 / the rebuild emits no row) — exactly the
    * groups a one-shot aggregation would not produce.
    */
  def mutateState(state: DataFrame, removed: DataFrame, added: DataFrame,
      baseAfter: => DataFrame, mv: MatViewDef): DataFrame = {
    if (mv.measures.forall(m => InvertibleKinds(m.kind)))
      mergeStates(state, partialSigned(removed, added, mv), mv)
        .filter(col(RowCount) > 0)
    else {
      val affected = removed.select(mv.keys.map(col): _*).distinct()
      val stateKept = state.join(affected, mv.keys, "left_anti")
      val addedKept = added.join(affected, mv.keys, "left_anti")
      val rebuilt = partial(
        baseAfter.join(affected, mv.keys, "left_semi"), mv)
      mergeStates(stateKept, partial(addedKept, mv), mv)
        .unionByName(rebuilt)
    }
  }

  /** Disk form of [[mutateState]]: crash-safe state replace, with the
    * no-op guard for an empty mutation. `baseAfter` should be the
    * POST-mutation base table (only read on the non-invertible path).
    */
  def refreshMutation(wh: Warehouse, mv: MatViewDef, removed: DataFrame,
      added: DataFrame, baseAfter: => DataFrame): Unit =
    writeState(wh, mv, partial(added, mv))(
      mutateState(_, removed, added, baseAfter, mv))

  /** Fold a [[SnapshotDiff.changes]] feed (table keys + after-payload
    * + change tag) into the state. The feed carries only the AFTER
    * image of updates, so the retracted pre-image rows are recovered
    * from `before` — the PRE-mutation base — by one delta-keyed
    * semi-join. `tableKeys` are the BASE table's unique keys (the keys
    * the feed was diffed on — usually different from the view's group
    * keys). Run with `before` reading the pre-image, i.e. before
    * [[SnapshotDiff.applyChangesTable]] rewrites the table, or against
    * a captured pre-image snapshot.
    */
  def refreshChanges(wh: Warehouse, mv: MatViewDef, feed: DataFrame,
      tableKeys: Seq[String], before: DataFrame,
      baseAfter: => DataFrame): Unit = {
    val goneKeys = feed.filter(col("change").isin("delete", "update"))
      .select(tableKeys.map(col): _*)
    val removed = before.join(goneKeys, tableKeys, "left_semi")
    val added = feed.filter(col("change").isin("insert", "update"))
      .select(before.columns.map(col).toSeq: _*)
    refreshMutation(wh, mv, removed, added, baseAfter)
  }

  // ------------------------------- exact COUNT(DISTINCT) retraction

  /** Sub-state definition for an exactly-retractable
    * COUNT(DISTINCT `src`) view. COUNT(DISTINCT) fits NEITHER half of
    * the measure algebra: it is not invertible (removing a value's row
    * says nothing about whether other rows still carry the value) and
    * not a semilattice (HLL registers can't retract), so the standard
    * construction is a KEYED SUB-STATE one level down — one state row
    * per (group, value) holding the value's multiplicity. The
    * multiplicity is a plain `count`, which IS invertible, so the
    * whole mutation algebra ([[mutateState]] signed partials,
    * zero-multiplicity rows leaving the state) applies unchanged to
    * the sub-state: retraction costs O(|delta| + |substate|), never a
    * base rescan, and a value's sub-row vanishes exactly when its
    * last occurrence retracts. Sub-state size is Σ per-group distinct
    * values — the same footprint an exact one-shot COUNT(DISTINCT)
    * shuffles anyway. Use the existing [[refresh]]/[[refreshMutation]]
    * lifecycle with this definition, then [[finalizeDistinct]] to
    * read the view.
    */
  def distinctDef(name: String, keys: Seq[String], src: String): MatViewDef =
    MatViewDef(name, keys :+ src, Seq(MvMeasure("count")))

  /** Finalize a [[distinctDef]] sub-state into
    * `(keys, distinct_src)` — the distinct count is the number of
    * sub-rows whose value is non-null (surviving sub-rows all have
    * multiplicity > 0 by the state algebra; NULL values are counted
    * as a sub-row but excluded here, matching COUNT(DISTINCT)'s null
    * semantics while keeping all-null groups present with 0).
    */
  def finalizeDistinct(subState: DataFrame, keys: Seq[String],
      src: String): DataFrame =
    subState.groupBy(keys.map(col): _*)
      .agg(count(when(col(src).isNotNull, 1)).as(s"distinct_$src"))

  /** The finalized distinct view from durable sub-state. */
  def readDistinct(wh: Warehouse, dd: MatViewDef): DataFrame =
    finalizeDistinct(wh.read(dd.stateTable), dd.keys.dropRight(1),
      dd.keys.last)

  /** Cube retraction — the grouping-set twin of the invertible
    * [[mutateState]] path: the mutation's signed partials are CUBED
    * (every grouping set sees the delta independently, keyed by the
    * shared grouping id) and merged into the cube state; groups
    * retracting to empty leave every grouping set they occupied.
    * INVERTIBLE measures only, by construction: a semilattice measure
    * (min/max/hll/bottomk) would need a per-affected-group rescan,
    * and the all-rollup row (every key rolled up) is "affected" by
    * ANY removal — its rescan is the whole base, which defeats
    * incremental maintenance. Views mixing extrema with cubes should
    * rebuild via [[partialCube]] on mutation.
    */
  def mutateCube(state: DataFrame, removed: DataFrame, added: DataFrame,
      mv: MatViewDef): DataFrame = {
    require(mv.measures.forall(m => InvertibleKinds(m.kind)),
      "cube retraction requires invertible measures (count/sum/avg); " +
        "semilattice measures would rescan the whole base at the " +
        "all-rollup grouping set")
    val p = signedUnion(removed, added)
      .cube(mv.keys.map(col): _*)
      .agg(grouping_id().as("__gid"), signedAggs(mv): _*)
    mergeCubes(state, p, mv).filter(col(RowCount) > 0)
  }

  /** Sum of the hidden per-group row counts — equals the base table's
    * row count exactly when every appended delta folded exactly once
    * (append path) / every mutation folded exactly once (mutation
    * path). O(state) to compute; the base side is a parquet
    * footer-metadata count. The load pipeline uses the comparison as
    * its crash-recovery divergence check.
    */
  def rowsCovered(wh: Warehouse, mv: MatViewDef): Long =
    if (!wh.tableExists(mv.stateTable)) 0L
    else wh.read(mv.stateTable)
      .agg(coalesce(sum(col(RowCount)), lit(0L))).head.getLong(0)

  /** Full rebuild from the base — the recovery action when
    * [[rowsCovered]] disagrees with the base (a crash landed a delta
    * in the table but died before the fold). O(base), paid only on
    * actual divergence.
    */
  def rebuild(wh: Warehouse, mv: MatViewDef, base: DataFrame): Unit = {
    val p = partial(base, mv)
    writeState(wh, mv, p)(_ => p)
  }

  /** CUBE variant of [[partial]]: one state row per (grouping set ×
    * key combination), keyed by `__gid` (Spark's `grouping_id()`, bit
    * per key column, first key most significant — the same convention
    * DuckDB's GROUPING_ID uses, which is what lets q_matview_cube
    * oracle the incremental cube exactly). Because every grouping set
    * aggregates independently, cube-of-union equals merge-of-cubes
    * and the whole [[mergeStates]]/[[finalizeView]] algebra applies
    * unchanged with `__gid` prepended to the keys. The `__gid` column
    * also disambiguates a rolled-up NULL from a genuine null key
    * value.
    */
  def partialCube(df: DataFrame, mv: MatViewDef): DataFrame =
    df.cube(mv.keys.map(col): _*)
      .agg(grouping_id().as("__gid"), partialAggs(mv): _*)

  /** Merge two cube states — [[mergeStates]] keyed by gid + keys. */
  def mergeCubes(a: DataFrame, b: DataFrame, mv: MatViewDef): DataFrame =
    a.unionByName(b).groupBy((col("__gid") +: mv.keys.map(col)): _*)
      .agg(mergeAggs(mv).head, mergeAggs(mv).tail: _*)

  /** Finalize a cube state, gid retained for grouping-set selection. */
  def finalizeCube(state: DataFrame, mv: MatViewDef): DataFrame =
    state.select(
      (col("__gid") +: mv.keys.map(col)) ++ mv.measures.map(finalCol): _*)

  private val AppliedMarker = "_mv_applied_batch"

  /** Exactly-once fold for REPLAYABLE delivery (Structured Streaming's
    * foreachBatch re-runs a batch after a crash): the applied batch id
    * rides the state swap as an atomic sidecar, so at every crash
    * point the pair (state, marker) is either entirely old or entirely
    * new — a replayed batch whose id is already stamped is a no-op,
    * never a double-count. Returns whether the fold was applied.
    * Batch ids must be monotonically increasing (Structured
    * Streaming's contract for foreachBatch).
    *
    * CHECKPOINT LOSS: a restarted query re-delivers the retained
    * source from scratch with ids back at 0 — under the plain marker
    * rule every re-batched fold would be skipped as "already applied"
    * and the view would silently miss all data re-batched under ids ≤
    * the stale marker. Batch 0 arriving when a marker already exists
    * therefore REBUILDS: the state becomes exactly batch 0's partials
    * (marker 0) and the re-delivery folds forward. A live-checkpoint
    * replay of batch 0 hits the same path and produces the identical
    * state it already had (the state WAS exactly batch 0's fold) —
    * idempotent in both interpretations.
    */
  def refreshOnce(wh: Warehouse, mv: MatViewDef, delta: DataFrame,
      batchId: Long): Boolean = {
    val applied = wh.readTableFile(mv.stateTable, AppliedMarker)
      .map(_.trim.toLong)
    val restart = batchId == 0L && applied.isDefined
    if (restart)
      // the restart rule replaces accumulated state with batch 0's
      // partials — only right when the source re-delivers everything;
      // rowsCovered (source rows folded) vs the batch's rows are
      // directly comparable units
      RebuildGuard.checkStateRebuild(delta.sparkSession,
        s"MatView(${mv.name}).refreshOnce",
        rowsCovered(wh, mv), delta.count())
    if (!restart && applied.exists(_ >= batchId)) false
    else {
      val p = partial(delta, mv)
      val next =
        if (!restart && wh.tableExists(mv.stateTable))
          mergeStates(wh.read(mv.stateTable), p, mv)
        else p
      wh.replaceTable(mv.stateTable, next,
        Map(AppliedMarker -> batchId.toString))
      true
    }
  }

  private val SumType = "decimal(38,6)"
  private val HllLgK = 12

  /** Hidden per-group row count carried by every state row. */
  private[store] val RowCount = "__n"

  /** Sample width for `bottomk` measures — quantile estimates from the
    * finalized sample carry O(1/√k) rank error.
    */
  val BottomK = 64

  private def partialAggs(mv: MatViewDef): Seq[Column] =
    mv.measures.flatMap { m =>
      m.kind match {
        case "count" => Seq(count(lit(1)).as(m.tag))
        case "sum"   => Seq(sum(col(m.src).cast(SumType)).as(m.tag))
        case "min"   => Seq(min(col(m.src)).as(m.tag))
        case "max"   => Seq(max(col(m.src)).as(m.tag))
        case "avg"   => Seq(
          sum(col(m.src).cast(SumType)).as(s"${m.tag}__sum"),
          count(col(m.src)).as(s"${m.tag}__cnt"))
        case "hll"   => Seq(
          call_function("hll_sketch_agg", col(m.src), lit(HllLgK)).as(m.tag))
        case "bottomk" => Seq(
          call_function("bottom_k_sample", col(m.src), col(m.aux),
            lit(BottomK)).as(m.tag))
      }
    } :+ count(lit(1)).as(RowCount)

  /** Signed partial-state of a mutation delta — the retraction half of
    * the fold algebra, defined only for invertible measures: removed
    * rows enter with sign −1, added rows with +1, so merging the
    * result into the state subtracts exactly what the removed rows
    * once contributed. Same column names and types as [[partial]], so
    * [[mergeStates]] applies unchanged.
    */
  private def signedUnion(removed: DataFrame, added: DataFrame): DataFrame = {
    val cols = removed.columns.toSeq
    removed.select(cols.map(col) :+ lit(-1L).as("__sign"): _*)
      .unionByName(added.select(cols.map(col) :+ lit(1L).as("__sign"): _*))
  }

  private def signedAggs(mv: MatViewDef): Seq[Column] =
    mv.measures.flatMap { m =>
      m.kind match {
        case "count" => Seq(sum(col("__sign")).as(m.tag))
        case "sum" => Seq(
          sum((col(m.src) * col("__sign")).cast(SumType)).as(m.tag))
        case "avg" => Seq(
          sum((col(m.src) * col("__sign")).cast(SumType)).as(s"${m.tag}__sum"),
          sum(when(col(m.src).isNotNull, col("__sign")).otherwise(0L))
            .as(s"${m.tag}__cnt"))
        case other => sys.error(s"signed partial on non-invertible: $other")
      }
    } :+ sum(col("__sign")).as(RowCount)

  private def partialSigned(removed: DataFrame, added: DataFrame,
      mv: MatViewDef): DataFrame = {
    val aggs = signedAggs(mv)
    signedUnion(removed, added)
      .groupBy(mv.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def mergeAggs(mv: MatViewDef): Seq[Column] =
    mv.measures.flatMap { m =>
      m.kind match {
        case "count" => Seq(sum(col(m.tag)).as(m.tag))
        case "sum"   => Seq(sum(col(m.tag)).cast(SumType).as(m.tag))
        case "min"   => Seq(min(col(m.tag)).as(m.tag))
        case "max"   => Seq(max(col(m.tag)).as(m.tag))
        case "avg"   => Seq(
          sum(col(s"${m.tag}__sum")).cast(SumType).as(s"${m.tag}__sum"),
          sum(col(s"${m.tag}__cnt")).as(s"${m.tag}__cnt"))
        case "hll"   => Seq(
          call_function("hll_union_agg", col(m.tag), lit(true)).as(m.tag))
        // min-k under union is a set op: flatten the (few) per-key
        // state arrays, sort by (priority, value), keep k — the same
        // selection BottomKSample itself makes, in any merge order
        case "bottomk" => Seq(
          slice(array_sort(flatten(collect_list(col(m.tag)))), 1, BottomK)
            .as(m.tag))
      }
    } :+ sum(col(RowCount)).as(RowCount)

  private def finalCol(m: MvMeasure): Column = m.kind match {
    case "avg" =>
      (col(s"${m.tag}__sum").cast("double") / col(s"${m.tag}__cnt")).as(m.tag)
    case "hll" =>
      call_function("hll_sketch_estimate", col(m.tag)).as(m.tag)
    // sorted sample VALUES — order statistics read by element_at
    case "bottomk" =>
      array_sort(transform(col(m.tag), e => e("v"))).as(m.tag)
    case _ => col(m.tag)
  }
}
