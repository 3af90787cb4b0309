package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.jdk.CollectionConverters._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (exact; one broadcast of the
  * bounded query set, no shuffle of the corpus). Scale path: random-
  * hyperplane LSH bucketing — candidates come from an equi-join on
  * bucket signature, so a 100 TB corpus is never all-paired; recall
  * is tunable by (nPlanes, nTables).
  *
  * All vector math is zip_with/aggregate expression trees in double
  * precision — codegen'd, deterministic accumulation order (sequential
  * over the array), no UDFs.
  */
object Similarity {

  /** Dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector is all-zero. The
    * native `vec_cosine` expression: ONE codegen loop for dot + both
    * norms vs three interpreted higher-order-function walks — this
    * expression IS the brute-force/IVF scan's work. Bit-identical to
    * [[cosineComposed]] (both accumulate left-to-right in double
    * precision).
    */
  def cosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)

  /** Composed-builtin cosine: the reference form [[cosine]] is pinned
    * against. */
  def cosineComposed(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` is bounded (user-ask-sized) → broadcast; the corpus is
    * scanned once, then one window shuffle partitioned by query id
    * ranks candidates. Ties break by corpus id for determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("c_vec"), col("q_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (table,
    * plane, dim): a hash mapped to [-1, 1). Reproducible across runs
    * and engines without storing plane matrices.
    */
  private def planeComponent(table: Int, plane: Int, dim: Column): Column =
    (xxhash64(lit(table), lit(plane), dim).cast("double")
      / lit(Long.MaxValue.toDouble))

  /** Random-hyperplane LSH signature, composed-builtin form — the
    * REFERENCE formulation [[graft.plans.LshSignatures]] is spec-
    * pinned against (LshSignaturesSpec): for each of `nPlanes` planes,
    * one sign bit of (v · plane); folded into a single long bucket id.
    * The per-plane `aggregate(zip_with(...))` lambdas run INTERPRETED
    * (nTables × nPlanes vector walks per row), so [[lshTopK]] bands
    * through the native kernel instead.
    */
  def lshSignature(vec: Column, nPlanes: Int, table: Int = 0): Column =
    (0 until nPlanes).map { p =>
      when(
        aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => x.cast("double") * planeComponent(table, p, i)),
          lit(0.0), (s, x) => s + x) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k via multi-table hyperplane LSH: candidates are corpus
    * rows sharing a bucket with the query in ANY table (union ≈ OR-
    * amplification), ranked by exact cosine, top-k per query.
    * Shuffles: one equi-join per table on (table, bucket) — balanced
    * by hash construction — plus the final per-query ranking window.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 4, nTables: Int = 16): DataFrame = {
    // Sign-LSH agreement per plane is 1-θ/π (~0.63 at cosine 0.4), so
    // per-table match is p^nPlanes: 4 planes ≈ 0.16, OR-amplified over
    // 16 tables ≈ 0.94 recall. More planes per table cuts candidates
    // but collapses recall (8 planes ≈ 0.025/table).
    //
    // Banding runs through the native LshSignatures kernel: ONE
    // primitive pass per row computes all nTables × nPlanes
    // projections, vs the composed form's interpreted per-plane
    // aggregate/zip_with walks (bit-identical buckets — spec-pinned).
    def banded(df: DataFrame, id: String, vec: String) = {
      import org.apache.spark.sql.graft.ColumnBridge
      val sigs = ColumnBridge.column(graft.plans.LshSignatures(
        ColumnBridge.expression(col(vec)), nPlanes, nTables))
      df.select(col(id), col(vec),
        explode(sigs).as("tb"))
        .select(col(id), col(vec),
          col("tb.t").as("lsh_table"), col("tb.b").as("bucket"))
    }
    val c = banded(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec")),
      "corpus_id", "c_vec")
    val q = banded(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec")
    val candidates = c.join(broadcast(q), Seq("lsh_table", "bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), col("c_vec"), col("q_vec"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    candidates
      .select(col("query_id"), col("corpus_id"),
        cosine(col("c_vec"), col("q_vec")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style coarse quantization: assign each vector to its nearest
    * of `centroids` (a small broadcast table of (centroid_id, vec));
    * search only within the probe's cell(s). Centroids come from any
    * upstream clustering (e.g. sampled k-means); this operator is the
    * partition-pruned search side.
    */
  /** The kernel-vs-two-level routing cap, BY ESTIMATE rather than a
    * fixed count: the kernel's true limits are the O(k·d·8) broadcast
    * bytes and the O(k^1.5·d) driver build flops, so the count
    * ceiling depends on the DIMENSION — at d = 768 the caps land at
    * ~35k centroids (the old fixed 32768, derived in BASELINE.md),
    * but at d = 64 (common embedding sizes) the kernel comfortably
    * serves ~180k, where the fixed threshold forced a measured 6.5×
    * SLOWER two-level detour (AssignProbe, round 11). An explicitly
    * set `spark.graft.ivfAssign.maxKernelCentroids` still wins
    * outright (the spec/probe route-forcing knob); the estimate caps
    * are `maxKernelBytes` (default 256 MB) and `maxKernelFlops`
    * (default 5e9), floored at the old 32768 and ceilinged at 2²⁰.
    */
  private[graft] def kernelCap(spark: org.apache.spark.sql.SparkSession,
      d: => Int): Int =
    // `d` by-name: pricing the kernel costs one tiny collect job, and
    // an explicit maxKernelCentroids override (the spec/probe route
    // forcing knob, set on every forced-route timed pass) must not
    // pay it — the dimension is irrelevant there
    spark.conf.getOption("spark.graft.ivfAssign.maxKernelCentroids")
      .map(_.toInt).getOrElse {
        val maxBytes = spark.conf
          .getOption("spark.graft.ivfAssign.maxKernelBytes")
          .map(_.toLong).getOrElse(256L << 20)
        val maxFlops = spark.conf
          .getOption("spark.graft.ivfAssign.maxKernelFlops")
          .map(_.toDouble).getOrElse(5e9)
        val dim = math.max(1, d)
        val byBytes = maxBytes / (8L * dim)
        val byFlops = math.pow(maxFlops / dim, 2.0 / 3.0).toLong
        math.min(1L << 20,
          math.max(32768L, math.min(byBytes, byFlops))).toInt
      }

  /** First non-null vector's length, or None on an empty/all-null
    * table — one tiny driver round-trip that prices the kernel. */
  private def vecDim(df: DataFrame, vecCol: String): Option[Int] =
    df.select(col(vecCol)).filter(col(vecCol).isNotNull).limit(1)
      .collect().headOption.map(_.getSeq[Any](0).length)

  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = df.sparkSession
    // The driver-side kernel is O(k^1.5·d) flops and O(k·d) broadcast
    // bytes — seconds and MBs at k = 10⁵, but SemDeDup's own
    // k = N/256 makes k MILLIONS on a 10⁹-doc corpus (multi-GB
    // broadcast, hours of driver flops). Above the dimension-aware
    // cap ([[kernelCap]]), assignment routes through the two-level
    // distributed path instead; the limit-probe below never collects
    // more than cap+1 rows either way.
    val maxKernel = kernelCap(spark,
      vecDim(centroids, centVecCol).getOrElse(1))
    val rows = centroids
      .select(col(centIdCol).cast("long"), col(centVecCol))
      .limit(maxKernel + 1)
      .collect()
    if (rows.isEmpty)
      // windowed-form parity: crossJoin with an empty side is empty
      return df.filter(lit(false))
        .withColumn("centroid_id", lit(0L))
        .withColumn("centroid_sim", lit(0.0))
    if (rows.length > maxKernel)
      return ivfAssignTwoLevel(df, idCol, vecCol,
        centroids, centIdCol, centVecCol)
    val bcast = buildKernel(spark, rows)
    // ONE pure projection: per row the kernel scans the broadcast
    // centroids with exact triangle-inequality pruning and returns the
    // bit-identical (argmax cell, cosine) the old plan derived from an
    // N×k cross join + window — see NearestCentroid for why the
    // windowed form is the scale bug (N×k rows through an exchange;
    // N²/256 under corpus-scaled SemDeDup centroids).
    df.withColumn("__nc", ColumnBridge.column(graft.plans.NearestCentroid(
        ColumnBridge.expression(col(vecCol)), bcast)))
      .withColumn("centroid_id", col("__nc.centroid_id"))
      .withColumn("centroid_sim", col("__nc.centroid_sim"))
      .drop("__nc")
  }

  /** Validate collected centroid rows and broadcast the kernel. A null
    * id/vector/element or a duplicate id would otherwise surface as an
    * opaque NPE/MatchError or the kernel's strictly-ascending require,
    * none of which name the actual problem (a malformed centroid
    * table).
    */
  private def buildKernel(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row])
      : org.apache.spark.broadcast.Broadcast[graft.plans.CentroidKernel] = {
    val sorted = rows.map { r =>
      require(!r.isNullAt(0),
        "ivfAssign: centroid table has a row with a NULL centroid id")
      val id = r.getLong(0)
      require(!r.isNullAt(1),
        s"ivfAssign: centroid $id has a NULL vector in the centroid table")
      val v = r.getSeq[Any](1).map {
        case null => throw new IllegalArgumentException(
          s"ivfAssign: centroid $id's vector contains a NULL element")
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case n: java.lang.Number => n.doubleValue
      }.toArray
      (id, v)
    }.sortBy(_._1)
    sorted.iterator.map(_._1).sliding(2).withPartial(false).foreach { w =>
      require(w.head != w.last,
        s"ivfAssign: duplicate centroid id ${w.head} in the centroid table")
    }
    spark.sparkContext.broadcast(new graft.plans.CentroidKernel(
      sorted.map(_._1), sorted.map(_._2)))
  }

  /** The corpus-scaled-k assignment route: when the centroid table
    * exceeds `spark.graft.ivfAssign.maxKernelCentroids` (default
    * 32768 — see BASELINE.md for the derivation), nearest-centroid
    * assignment runs as an IVF over the CENTROIDS themselves:
    *
    *  1. ⌈√k⌉ meta-centroids are trained over the centroid table
    *     (bounded: √k ≤ threshold for k ≤ threshold², and capped);
    *  2. each centroid kernel-assigns to its meta-cell (k rows
    *     through the exact top-1 kernel);
    *  3. each data row kernel-probes its `spark.graft.ivfAssign
    *     .metaProbes` (default 8) nearest meta-cells — a pure
    *     projection ([[graft.plans.NearestCentroidsTopP]]), no N×k
    *     rows anywhere — then joins the centroids of ONLY those
    *     cells (shuffle hash join keyed by meta-cell) and keeps the
    *     per-row argmax via a map-side-combined `max_by` (ties to
    *     the smallest centroid id, the kernel's tiebreak).
    *
    * Exactness: exact WITHIN the probed meta-cells; a row whose true
    * nearest centroid lies in an unprobed cell mis-assigns (the
    * standard IVF recall trade). Probing every meta-cell
    * (metaProbes ≥ ⌈√k⌉) makes the route exhaustive, hence exact —
    * the equivalence the spec pins. Rows with NULL vectors keep the
    * kernel path's null assignment. `idCol` must uniquely identify
    * rows (it keys the argmax aggregate) — true everywhere ivfAssign
    * is used (corpus/doc/vector ids).
    */
  private[graft] def ivfAssignTwoLevel(df: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, centIdCol: String,
      centVecCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = df.sparkSession
    val nProbe = spark.conf
      .getOption("spark.graft.ivfAssign.metaProbes")
      .map(_.toInt).getOrElse(8)
    val c0 = centroids.select(col(centIdCol).cast("long").as("__cid"),
      col(centVecCol).as("__cvec"))
    val maxKernel = kernelCap(spark, vecDim(c0, "__cvec").getOrElse(1))
    val k = c0.count()
    val metaK = math.min(maxKernel.toLong,
      math.max(16L, math.ceil(math.sqrt(k.toDouble)).toLong)).toInt
    // the semantics silently change from exact to probe-bounded here —
    // make the route switch diagnosable from run output, not only from
    // the scaladoc (downstream SemDeDup/IvfIndex callers inherit it)
    System.err.println(s"[graft] ivfAssign: centroid count $k exceeds " +
      s"the kernel cap $maxKernel (dimension-aware; override with " +
      "spark.graft.ivfAssign.maxKernelCentroids) — using the " +
      s"two-level APPROXIMATE route (metaK=$metaK, metaProbes=$nProbe); " +
      "assignment is exact only within the probed meta-cells")
    val meta = trainCentroids(c0, "__cid", "__cvec", metaK, iters = 3)
      .select(col("centroid_id").as("__meta_id"),
        col("centroid_vec").as("__meta_vec"))
    // centroid → meta-cell: metaK ≤ threshold, so this recursion
    // bottoms out on the kernel path
    val centMeta = ivfAssign(c0, "__cid", "__cvec",
        meta, "__meta_id", "__meta_vec")
      .select(col("__cid"), col("__cvec"),
        col("centroid_id").as("__meta_id"))
    // probe only meta-cells that actually hold centroids: a nearest
    // EMPTY cell would waste a probe (and could starve a row of
    // candidates entirely)
    val liveMeta = meta
      .join(centMeta.select(col("__meta_id")).distinct(), Seq("__meta_id"))
      .select(col("__meta_id"), col("__meta_vec"))
    val metaKernel = buildKernel(spark, liveMeta.collect())
    val withVec = df.filter(col(vecCol).isNotNull)
    val probed = withVec
      .withColumn("__meta_id", explode(ColumnBridge.column(
        graft.plans.NearestCentroidsTopP(
          ColumnBridge.expression(col(vecCol)), metaKernel, nProbe))))
    val cand = probed.join(centMeta, Seq("__meta_id"))
      .withColumn("__sim", cosine(col(vecCol), col("__cvec")))
    // per-row argmax carrying every original column through ONE
    // map-side-combined aggregate (no second corpus join); the
    // candidate blowup (nProbe × cell size per row) lives inside the
    // join→partial-agg pipeline, never in an exchange
    val others = df.columns.filterNot(_ == idCol).toSeq
    val payload = struct((others.map(col) :+
      col("__cid") :+ col("__sim")): _*)
    val ord = struct(col("__sim"), -col("__cid"))
    val best = cand.groupBy(col(idCol))
      .agg(max_by(payload, ord).as("__best"))
      .select((col(idCol) +: others.map(c => col(s"__best.$c").as(c)) :+
        col("__best.__cid").as("centroid_id") :+
        col("__best.__sim").as("centroid_sim")): _*)
    val nulls = df.filter(col(vecCol).isNull)
      .withColumn("centroid_id", lit(null).cast("long"))
      .withColumn("centroid_sim", lit(null).cast("double"))
    // kernel-path column order: original columns, then the assignment
    best.unionByName(nulls)
      .select((df.columns.map(col).toSeq :+
        col("centroid_id") :+ col("centroid_sim")): _*)
  }

  /** The pre-round-9 windowed assignment (N×k cross join + per-id
    * argmax window) — retained as the independent reference
    * implementation the NearestCentroid exactness specs diff against.
    */
  private[graft] def ivfAssignWindowed(df: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, centIdCol: String,
      centVecCol: String): DataFrame = {
    val cents = centroids.select(col(centIdCol).as("__cid"),
      col(centVecCol).as("__cvec"))
    val joined = df.crossJoin(broadcast(cents))
      .withColumn("__sim", cosine(col(vecCol), col("__cvec")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__sim").desc, col("__cid"))
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__cvec", "__rn")
      .withColumnRenamed("__cid", "centroid_id")
      .withColumnRenamed("__sim", "centroid_sim")
  }

  /** Flat per-(key, position) mean components of an array column —
    * the group-centroid / class-prototype / k-means-M-step primitive.
    * Sums go through DECIMAL so the mean is independent of partial-
    * aggregation order (an IEEE double sum is not), which is what
    * makes the result hash-verifiable and run-to-run stable. One
    * map-side-combining shuffle on (key, pos); vectors never
    * concentrate on one task. Output: (key, pos, n, mean).
    */
  def meanVectorComponents(df: DataFrame, keyCol: String,
      vecCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col(vecCol)).as(Seq("pos", "__x")))
      .groupBy(col(keyCol), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("double").cast("decimal(27,10)")).as("__s"))
      .select(col(keyCol), col("pos"), col("n"),
        (col("__s").cast("double") / col("n").cast("double")).as("mean"))

  /** Per-key element-wise mean of an array column: posexplode →
    * (key, pos) decimal-exact partial means ([[meanVectorComponents]])
    * → re-assembled in position order.
    */
  def meanVectors(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    meanVectorComponents(df, keyCol, vecCol)
      .groupBy(col(keyCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean")))),
        e => e.getField("mean")).as("centroid_vec"))

  /** Distributed Lloyd's k-means for IVF coarse centroids: seed from
    * the k lowest-id vectors (deterministic), then `iters` rounds of
    * assign (broadcast centroids) + element-wise mean. Each round is
    * two narrow shuffles; only the k centroid vectors ever reach the
    * driver. Cosine geometry (matches the assign/search operators).
    * A cell that loses all members drops out (k may shrink) — standard
    * Lloyd's behavior; callers needing exactly k re-seed.
    */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    val spark = df.sparkSession
    val maxKernel = kernelCap(spark, vecDim(df, vecCol).getOrElse(1))
    if (k > maxKernel) return trainCentroidsLargeK(df, idCol, vecCol,
      k, iters, maxKernel)
    var cents = df.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("centroid_id"),
        col(vecCol).as("centroid_vec"))
    var i = 0
    while (i < iters) {
      val assigned = ivfAssign(df, idCol, vecCol,
        cents, "centroid_id", "centroid_vec")
      cents = meanVectors(assigned, "centroid_id", vecCol)
        .withColumnRenamed("centroid_id", "__k")
        .select(col("__k").cast("long").as("centroid_id"),
          col("centroid_vec"))
      // k rows: materialize per round so each iteration's lineage is a
      // small local relation, not an ever-deepening recursive plan
      cents = spark.createDataFrame(cents.collect().toList.asJava, cents.schema)
      i += 1
    }
    cents
  }

  /** Lloyd's loop for CORPUS-SCALED k (> maxKernelCentroids, e.g.
    * SemDeDup's k = N/256): the small-k loop's two driver round-trips
    * — `orderBy.limit(k)` seeding (TakeOrdered ships k vectors to the
    * driver) and the per-iteration `collect()` re-materialization —
    * become multi-GB driver transfers at k in the millions. Here the
    * centroid frame NEVER visits the driver: seeds are the k lowest
    * ids via a distributed rank ([[graft.transform.ChunkedWindows
    * .globalRowNumber]], the prefix-sum shape), per-round pinning is
    * an executor-side `localCheckpoint` (k slim rows spread across
    * the cluster), and assignment rides [[ivfAssignTwoLevel]] by
    * construction. Same seeds, same mean step; the only semantic
    * delta is the two-level route's probe-bounded assignment
    * (exhaustive probes ⇒ identical — spec-pinned).
    */
  private def trainCentroidsLargeK(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, maxKernel: Int): DataFrame = {
    val ranked = graft.transform.ChunkedWindows.globalRowNumber(
      df.select(col(idCol), col(vecCol)), Seq.empty, Seq(idCol), "__rank")
    var cents = ranked.filter(col("__rank") <= k)
      .select(col(idCol).cast("long").as("centroid_id"),
        col(vecCol).as("centroid_vec"))
      .localCheckpoint(eager = true)
    var i = 0
    while (i < iters) {
      val assigned = ivfAssign(df, idCol, vecCol,
        cents, "centroid_id", "centroid_vec")
      val next = meanVectors(assigned, "centroid_id", vecCol)
        .withColumnRenamed("centroid_id", "__k")
        .select(col("__k").cast("long").as("centroid_id"),
          col("centroid_vec"))
        .localCheckpoint(eager = true)
      graft.core.Caching.freeLocalCheckpoint(cents)
      cents = next
      i += 1
    }
    cents
  }

  /** IVF ANN top-k: queries probe their `nProbe` nearest cells and are
    * ranked against ONLY the corpus rows assigned to those cells — the
    * classic inverted-file search. `assigned` is the corpus with a
    * `centroid_id` column (from [[ivfAssign]], typically precomputed
    * and stored partitioned BY centroid_id so each probe is a
    * partition-pruned read). Shuffle: one equi-join on centroid_id
    * with the bounded query-probe side broadcast, then the per-query
    * ranking window.
    */
  def ivfTopK(
      assigned: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    val cents = centroids.select(col(centIdCol).as("__cid"),
      col(centVecCol).as("__cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("__psim").desc, col("__cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("__psim", cosine(col("q_vec"), col("__cvec")))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nProbe)
      .select(col("query_id"), col("q_vec"), col("__cid").as("centroid_id"))
    val c = assigned.select(col(idCol).as("corpus_id"),
      col(vecCol).as("c_vec"), col("centroid_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    c.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("c_vec"), col("q_vec")).as("cosine"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding covariance matrix — the PCA / whitening precursor and
    * the embedding-drift monitor (compare a batch's covariance against
    * the reference corpus's): upper-triangle entries
    * cov(i,j) = E[x_i·x_j] − E[x_i]E[x_j] over all vectors, O(d²)
    * output however large the corpus.
    *
    * Plan: one posexplode to (vec, dim, x) rows and dimension-wise
    * sums for the means; the d(d+1)/2 product pair sums come from ONE
    * [[graft.plans.CovPairSums]] aggregate pass over the vector rows
    * (round 15 — the pairs were generated map-side by a tail-slice
    * generator before, N·d(d+1)/2 rows each paying a hash-agg probe
    * and a Decimal box; the aggregate accumulates the IDENTICAL
    * scale-12 decimal sums in a flat long array per partition — no
    * generated row exists at all. Vectors wider than 2048 dims keep
    * the generator form: its working set is O(1) per row where the
    * aggregate buffer is O(d²)). Products are deterministic doubles
    * on float inputs, decimal-rounded before summing so
    * partial-aggregation order can't skew them; the final
    * E[xy] − E[x]E[y] runs in double on exact sums. 1-based dimension
    * indices (matches SQL generate_subscripts).
    */
  def covarianceMatrix(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val x = df.select(col(idCol).as("__vid"),
        posexplode(col(vecCol)).as(Seq("__p", "__xf")))
      .select(col("__vid"), (col("__p") + 1).as("i"),
        col("__xf").cast("double").as("x"))
    val n = broadcast(df.agg(count(lit(1)).as("__n")))
    val m = x.groupBy(col("i"))
      .agg(sum(col("x").cast("decimal(25,10)")).cast("double").as("sx"))
    val p = if (vecDim(df, vecCol).exists(_ <= 2048))
      df.agg(ColumnBridge.column(graft.plans.CovPairSums(
          ColumnBridge.expression(col(vecCol)))).as("__cells"))
        .select(explode(col("__cells")).as("__c"))
        .select(col("__c.i").as("i"), col("__c.j").as("j"),
          col("__c.sxy").cast("double").as("sxy"))
    else df.select(col(vecCol).as("__v"))
      .select(col("__v"), posexplode(col("__v")).as(Seq("__p", "__xf")))
      .select((col("__p") + 1).as("i"), col("__xf").cast("double").as("x"),
        posexplode(slice(col("__v"), col("__p") + 1,
          size(col("__v")) - col("__p"))).as(Seq("__q", "__yf")))
      .select(col("i"), (col("i") + col("__q")).as("j"),
        (col("x") * col("__yf").cast("double")).as("xy"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xy").cast("decimal(30,12)")).cast("double")
        .as("sxy"))
    p.join(broadcast(m.select(col("i"), col("sx").as("sxi"))), Seq("i"))
      .join(broadcast(m.select(col("i").as("j"), col("sx").as("sxj"))),
        Seq("j"))
      .crossJoin(n)
      .select(col("i"), col("j"),
        (col("sxy") / col("__n") -
          (col("sxi") / col("__n")) * (col("sxj") / col("__n"))).as("cov"))
  }
}
