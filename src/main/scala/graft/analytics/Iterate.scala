package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative fixpoint computation — Spark's replacement for recursive
  * CTEs (SURVEY J9: the reference's `WITH RECURSIVE` dependency query,
  * `postgres_manager.py:714-735`, is non-recursive as written; true
  * recursion becomes a driver loop of joins with an accumulator).
  *
  * Scale: each iteration is one distributed join of the frontier
  * against the (cached) edge set; the accumulator is checkpointed via
  * localCheckpoint every few rounds so the plan doesn't grow unboundedly
  * (lineage blowup is the classic iterative-Spark failure mode).
  */
object Iterate {

  /** Transitive closure of a (src, dst) edge set: all reachable
    * (src, dst) pairs. Stops when an iteration adds no new pairs or
    * after `maxIterations`.
    */
  def transitiveClosure(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 20,
      checkpointEvery: Int = 3): DataFrame = {
    val base = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().cache()
    var closure = base
    var frontier = base
    var iter = 0
    var done = false
    while (!done && iter < maxIterations) {
      // frontier ⋈ edges: one hop further
      val next = frontier.as("f")
        .join(base.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"))
        .distinct()
      val fresh = next.join(closure, Seq("src", "dst"), "left_anti")
      val freshCount = fresh.count()
      if (freshCount == 0) done = true
      else {
        closure = closure.unionByName(fresh)
        if ((iter + 1) % checkpointEvery == 0)
          closure = closure.localCheckpoint(eager = true)
        frontier = fresh
      }
      iter += 1
    }
    closure
  }

  /** PageRank over a FUNCTIONAL graph (every node exactly one
    * out-edge, e.g. the nation-derived i → 7i mod 25 used by
    * [[RelationalQueries.qTransitiveClosure]]): out-degree 1 means a
    * node's whole rank flows along its edge, so every iteration is
    * EXACT decimal arithmetic — no rank/degree division — making the
    * result value-oracle-able against a SQL engine's recursive CTE.
    * Per iteration: rank' = teleport + damping·(sum of in-ranks),
    * explicitly `round(·, 12)` (HALF_UP on both engines; a bare
    * decimal CAST tie-rounds half-even in DuckDB and would diverge).
    * Caller supplies `teleport` = (1−damping)/n already at scale ≤ 12
    * (exact for the graphs this targets). Each iteration is one keyed
    * join + aggregation of an n-row frame; ranks re-materialize per
    * round so lineage stays flat (the k-means pattern).
    */
  def pageRankFunctional(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: BigDecimal, teleport: BigDecimal): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).cache()
    val n = e.count()
    val functional = n > 0 && e.select("src").distinct().count() == n
    if (!functional) e.unpersist() // don't leak cache on the failure path
    require(n > 0, "pageRankFunctional: empty edge set")
    require(functional,
      "pageRankFunctional: graph must be functional (one out-edge per node)")
    val init = (BigDecimal(1) / n).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    var ranks = e.select(col("src").as("node"),
      lit(init).cast("decimal(20,12)").as("rank"))
      .localCheckpoint(eager = true)
    (1 to iters).foreach { _ =>
      val ins = e.join(ranks, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("rank")).as("insum"))
      val next = e.select(col("src").as("node"))
        .join(ins, col("node") === col("dst"), "left")
        .select(col("node"),
          round(lit(teleport) + lit(damping) *
            coalesce(col("insum"), lit(0).cast("decimal(20,12)")), 12)
            .cast("decimal(20,12)").as("rank"))
      // re-materialize the n-row rank frame as a distributed RDD each
      // round (never through the driver): lineage stays flat, and the
      // frame scales past driver memory — the transitiveClosure pattern
      ranks = next.localCheckpoint(eager = true)
    }
    e.unpersist()
    ranks
  }

  /** General PageRank — any directed graph, out-degree normalized,
    * dangling mass redistributed uniformly. IEEE-double arithmetic
    * (the exact-decimal [[pageRankFunctional]] stays only as the
    * recursive-CTE-oracle harness for functional graphs).
    *
    * Scale shape: per iteration one keyed join of the edge set against
    * the rank frame plus one aggregation shuffle on the destination
    * key; the only driver value is the dangling-mass SCALAR (one
    * double). Rank frames re-materialize via localCheckpoint so the
    * plan never grows with the iteration count — no driver
    * materialization at any node count.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).cache()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().cache()
    val n = nodes.count()
    require(n > 0, "pageRank: empty edge set")
    // out-degree per source; nodes absent here are dangling
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg")).cache()
    val teleport = (1.0 - damping) / n
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
      .localCheckpoint(eager = true)
    (1 to iters).foreach { _ =>
      // dangling mass: ranks of nodes with no out-edge — a scalar
      val dangling = ranks
        .join(outDeg, ranks("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outDeg, Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("insum"))
      val next = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + lit(damping) *
            (coalesce(col("insum"), lit(0.0)) + lit(dangling / n)))
            .as("rank"))
      ranks = next.localCheckpoint(eager = true)
    }
    e.unpersist(); nodes.unpersist(); outDeg.unpersist()
    ranks
  }

  /** Personalized PageRank: random walk with restart into a SEED SET
    * rather than the uniform vector — the "related to these nodes"
    * ranking behind recommendation and local-community queries. Same
    * loop shape as [[pageRank]] (one keyed join + one aggregation
    * shuffle per iteration, dangling mass a scalar, localCheckpoint
    * keeps lineage flat); the only change is the restart vector:
    * teleport and dangling mass land ONLY on seeds (1/|S| each), so
    * non-seed nodes unreachable from the seed set converge to rank 0.
    *
    * `seeds` is a 1-column frame of node ids; it participates as a
    * broadcast joined flag, never a driver-side collection, so a
    * million-node seed set works the same as a single node.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).cache()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().cache()
    val seedSet = seeds.toDF("node").select(col("node").cast("long").as("node"))
      .distinct().cache()
    val nSeeds = seedSet.count()
    require(nSeeds > 0, "personalizedPageRank: empty seed set")
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg")).cache()
    // restart vector s(v): 1/|S| on seeds, 0 elsewhere — joined, not
    // collected
    val restart = nodes
      .join(seedSet.withColumn("__s", lit(1.0 / nSeeds)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0.0)).as("sv"))
      .cache()
    var ranks = restart.select(col("node"), col("sv").as("rank"))
      .localCheckpoint(eager = true)
    (1 to iters).foreach { _ =>
      val dangling = ranks
        .join(outDeg, ranks("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outDeg, Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("insum"))
      val next = restart.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("sv") + lit(damping) *
            (coalesce(col("insum"), lit(0.0)) + lit(dangling) * col("sv")))
            .as("rank"))
      ranks = next.localCheckpoint(eager = true)
    }
    e.unpersist(); nodes.unpersist(); outDeg.unpersist()
    seedSet.unpersist(); restart.unpersist()
    ranks
  }

  /** K-core peel: repeatedly drop nodes of degree < k until only the
    * mutually-dense core remains — the graph-cleaning primitive behind
    * spam-cluster extraction and community seeding. Each round is two
    * distributed steps: one degree aggregation (explode + groupBy) and
    * one double semi-join keeping edges whose BOTH endpoints survive;
    * localCheckpoint flattens lineage so the plan stays constant-size
    * however many rounds run. Runs a FIXED round count (the
    * oracle-parity contract — both engines execute identical peels);
    * when `rounds` reaches the fixpoint the remaining rounds are
    * no-ops, so any rounds ≥ the peel depth yields the true k-core.
    *
    * Output: surviving nodes with their degree INSIDE the surviving
    * subgraph after the final round.
    */
  def kCorePeel(edges: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got $k, $rounds")
    def degrees(e: DataFrame): DataFrame = e
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    var e = edges
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
      .localCheckpoint(eager = true)
    (1 to rounds).foreach { _ =>
      val keep = degrees(e).filter(col("degree") >= k).select(col("node"))
      e = e
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .localCheckpoint(eager = true)
    }
    degrees(e)
  }

  /** Triangle enumeration via degree orientation — the scalable shape:
    * each undirected edge is directed from its lower-(degree, id)
    * endpoint to the higher, making the graph a DAG in which every
    * triangle has exactly one node with both out-edges; wedges are
    * out-edge pairs of one node and a semi-join against the oriented
    * edges closes them. Out-degrees under this orientation are
    * O(√m) for ANY degree distribution (the classic bound), so the
    * wedge explosion a hub node causes in the naive u<v ordering —
    * deg² wedges on a celebrity node — cannot happen; all three steps
    * are equi-joins shuffled on node keys, nothing driver-side.
    *
    * Input: undirected edges, one row per pair (any orientation,
    * duplicates tolerated). Output: one row per triangle with the
    * node ids sorted ascending (a < b < c).
    */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // Wedge volume is Σ C(outdeg, 2) while only the closing wedges
    // survive the semi join — measured at a 10× replica: 214M wedges
    // generated, 29M triangles (86% of the semi join's left exchange
    // was dead rows). Two round-15 measures attack exactly that:
    //
    //  1. `e` is eagerly materialized ONCE (localCheckpoint) and a
    //     BLOOM FILTER over its normalized (a,b) keys drops
    //     non-closing wedges BEFORE the exchange (guide §3.2). The
    //     filter is LOSSLESS here: a wedge (h1,h2) with k1 < k2 closes
    //     iff {h1,h2} is adjacent in `e` — adjacency plus the k1 < k2
    //     orientation ordering IS membership in `oriented` — so false
    //     positives only ride through to the exact semi join.
    //  2. The semi join takes a SHUFFLE_HASH hint: the closing side is
    //     per-partition small (it IS the edge set), so hashing beats
    //     sorting the surviving wedges — and, unlike a broadcast semi,
    //     it puts wedge generation in the MAP stage of the wedge
    //     exchange, so a consumer that re-executes the join's child
    //     (the q_triangles ORDER BY's range-partitioner sampling pass)
    //     re-reads shuffle files instead of regenerating every wedge.
    //
    // 10× A/B (OPTIMIZATION_r15.md, median of 3, noop sink): 39.8 s plain →
    // 13.7 s bloom → 13.1 s bloom+SHJ (a broadcast semi reads 10.5 s
    // on the unsorted shape but loses on the sorted query: 23.8 s vs
    // 16.2 s — the sampling pass regenerates the wedges a broadcast
    // join leaves un-materialized). The earlier round-15 A/B that
    // rejected checkpointing measured checkpoint WITHOUT the bloom
    // (the materialization passes alone don't pay; the count+bloom
    // build they enable do). The bloom sizes itself from the
    // checkpoint-backed count — no extra upstream pass.
    val plain = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val stream = edges.isStreaming
    val e = if (stream) plain else plain.localCheckpoint(eager = true)
    val nEdges = if (stream) -1L else e.count()
    val spark = edges.sparkSession
    // The filter rides a sparkContext.broadcast HANDLE, not a plan
    // literal: a literal is re-shipped inside the task binary of every
    // stage referencing the predicate (1.2 bytes/edge at 1% fpp ⇒ GBs
    // at 10⁹⁺ edges), while the broadcast moves once per executor.
    // Bits are capped (spark.graft.bloom.maxBits, default 256 MB); past
    // the cap fpp floats up, which is safe — false positives only ride
    // through to the exact semi join below.
    val bloomFilterOpt: Option[org.apache.spark.util.sketch.BloomFilter] =
      if (stream || nEdges <= 0) None
      else {
        val numBits = graft.plans.BloomMightContainBcast
          .cappedNumBits(spark, nEdges, 0.01)
        Some(e.select(xxhash64(col("a"), col("b")).as("__bk"))
          .stat.bloomFilter("__bk", nEdges, numBits))
      }
    val deg = e.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // (deg, id) is a total order; struct comparison is lexicographic
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        struct(col("da").as("d"), col("a").as("i")).as("ka"),
        struct(col("db").as("d"), col("b").as("i")).as("kb"))
    val oriented = withDeg.select(
        when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("lo"),
        when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("hi"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("khi"))
    val wedges0 = oriented.select(col("lo"), col("hi").as("h1"),
        col("khi").as("k1"))
      .join(oriented.select(col("lo"), col("hi").as("h2"),
        col("khi").as("k2")), Seq("lo"))
      .filter(col("k1") < col("k2"))
      .select(col("lo"), col("h1"), col("h2"))
    val wedges = bloomFilterOpt match {
      case Some(bf) => wedges0.filter(graft.plans.BloomMightContainBcast
        .probe(spark, bf,
          xxhash64(least(col("h1"), col("h2")),
            greatest(col("h1"), col("h2")))))
      case None => wedges0
    }
    val closing = oriented.select(col("lo").as("h1"), col("hi").as("h2"))
    val right = if (stream) closing else closing.hint("SHUFFLE_HASH")
    wedges
      .join(right, Seq("h1", "h2"), "left_semi")
      .select(least(col("lo"), col("h1"), col("h2")).as("ta"),
        greatest(col("lo"), col("h1"), col("h2")).as("tc"),
        (col("lo") + col("h1") + col("h2")).as("sum3"))
      .select(col("ta").as("a"),
        (col("sum3") - col("ta") - col("tc")).as("b"), col("tc").as("c"))
  }

  /** Link prediction by common-neighbor counting: for every NON-adjacent
    * node pair sharing ≥ 1 neighbor, the common-neighbor count and the
    * neighborhood Jaccard |N(u)∩N(v)| / |N(u)∪N(v)| — the standard
    * "who should be connected" baselines (Liben-Nowell & Kleinberg,
    * CIKM'03). Wedge enumeration keyed on the CENTER node (one
    * count-aggregated equi-join on neighbor), candidates anti-joined
    * against the edge set, degrees joined back for the union size.
    *
    * Scale: total wedge volume is Σ_z d(z)² — inherent to exact
    * common-neighbor counting (unlike triangles, orientation cannot
    * shrink it: every wedge is a potential prediction). `maxHubDegree`
    * caps it: centers with degree above the cap are excluded from
    * wedge generation (a celebrity node predicts every fan pair — the
    * excluded wedges are exactly the uninformative ones; standard
    * practice at scale). 0 = exact.
    */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
      maxHubDegree: Int = 0): DataFrame = {
    // not checkpointed — the triangles rationale: every multi-reference
    // frame here shares the distinct()/groupBy exchanges below it, and
    // AQE stage reuse already deduplicates those across branches
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val adj = e.select(col("a").as("n"), col("b").as("nbr"))
      .union(e.select(col("b").as("n"), col("a").as("nbr")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val centers =
      if (maxHubDegree > 0)
        adj.join(broadcast(deg.filter(col("d") > maxHubDegree)
          .select(col("n").as("nbr"))), Seq("nbr"), "left_anti")
      else adj
    val cand = centers.select(col("n").as("u"), col("nbr"))
      .join(centers.select(col("n").as("v"), col("nbr")), Seq("nbr"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
    cand
      .join(e, cand("u") === e("a") && cand("v") === e("b"), "left_anti")
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("common"),
        (col("common").cast("double") /
          (col("du") + col("dv") - col("common")).cast("double"))
          .as("jaccard"))
  }

  /** Single-source shortest paths over a weighted directed graph —
    * frontier Bellman-Ford, the Pregel shape: each round relaxes only
    * the edges leaving nodes whose distance improved LAST round (the
    * delta frontier), so total work is proportional to improvements,
    * not rounds × |E|. Per round: one equi-join of the frontier against
    * the (cached) edge set shuffled on `src`, one min-aggregation on
    * the destination key, one anti-join merge into the distance frame —
    * all distributed, nothing driver-side beyond the empty-frontier
    * test. Distance frames re-materialize via localCheckpoint so the
    * plan stays flat across rounds (the [[pageRank]] lineage
    * discipline). Weights are integral longs, so every distance is
    * exact and the result oracle-able digit-for-digit against a
    * bounded-walk recursive CTE.
    *
    * Parallel edges collapse to their min weight up front. Negative
    * weights are rejected (Bellman-Ford tolerates them on DAGs but a
    * bounded-walk oracle does not; the engine contract is
    * non-negative).
    *
    * Output: (node, dist) for every node reachable from `source`.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, source: Long,
      maxIterations: Int = 50, checkpointEvery: Int = 3): DataFrame = {
    // drop negative-weight edges BEFORE collapsing parallels: filtering
    // after min() would also discard a pair's legitimate non-negative
    // duplicate whenever any parallel edge is negative
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") >= 0)
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
      .cache()
    var dist = e.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("dist"))
      .localCheckpoint(eager = true)
    var frontier = dist
    var iter = 0
    var done = false
    while (!done && iter < maxIterations) {
      val relaxed = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
        .groupBy("node").agg(min(col("cand")).as("cand"))
      // the frontier must materialize each round (it gates the loop),
      // but the accumulated distance frame only re-checkpoints every
      // few rounds — the transitiveClosure lineage cadence
      val fresh = relaxed
        .join(dist.withColumnRenamed("dist", "od"), Seq("node"), "left")
        .filter(col("od").isNull || col("cand") < col("od"))
        .select(col("node"), col("cand").as("dist"))
        .localCheckpoint(eager = true)
      if (fresh.isEmpty) done = true
      else {
        dist = dist.join(fresh, Seq("node"), "left_anti")
          .unionByName(fresh)
        if ((iter + 1) % checkpointEvery == 0)
          dist = dist.localCheckpoint(eager = true)
        frontier = fresh
      }
      iter += 1
    }
    e.unpersist()
    dist
  }
}
