package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.TextAnalysis

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine.
  *
  * Design for 100 TB: every signature is a per-row expression tree
  * (whole-stage codegen, no UDFs, no shuffle); candidate generation is
  * an equi-join on LSH bucket keys (shuffle on bucket hash — the only
  * shuffle in the pipeline, and it's key-balanced by construction
  * because bucket ids are hashes); verification runs only on candidate
  * pairs, never all-pairs. Driver never sees row data.
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** Exact dedup, keep-first by `tiebreaker`: the distributed form of
    * the reference's unique-key enforcement (`data_loader.py:681-728`)
    * applied to content hashes. One shuffle on the hash.
    */
  def exactDedup(df: DataFrame, keyCols: Seq[String], tiebreaker: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tiebreaker))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup on normalized-text fingerprint (hash-groupBy). */
  def exactTextDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exactDedup(
      df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      Seq("__fp"), idCol).drop("__fp")

  // ---------------------------------------------------------- MinHash

  /** K-slot MinHash signature from per-shingle hashes: the native
    * [[graft.plans.MinHashSlots]] expression (one fused codegen loop;
    * per-slot avalanche permutations of each hash). Signatures — and
    * therefore persisted [[DedupIndex]] band keys — are only comparable
    * within this one hash family.
    */
  def minHashColumn(hashes: Column, k: Int): Column =
    call_function("minhash_slots", hashes, lit(k))

  /** Distinct shingle-set as 64-bit hashes, SORTED ascending — the
    * unit all near-dup math runs on. Native [[graft.plans.NgramHashes]]
    * (tokens hashed once, windows mixed in a codegen loop — shingle
    * strings never materialize). Sorted because verification Jaccard
    * merge-walks pairs ([[jaccardColumn]]) — sorting costs
    * O(len log len) once per DOC; hashing-based intersection costs an
    * allocation per candidate PAIR, and pairs outnumber docs on any
    * dup-heavy corpus.
    */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("ngram_hashes",
      split(lower(trim(text)), "[\\s\\p{Punct}]+"), lit(n))

  /** LSH band keys from a MinHash signature: `bands` hashes, each over
    * `rows = k/bands` consecutive signature slots. Two docs sharing ANY
    * band key are candidates (standard banding: P[candidate] =
    * 1-(1-j^rows)^bands for Jaccard j).
    */
  def lshBandKeys(signature: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(lit(b), slice(signature, b * rows + 1, rows))): _*)

  /** Candidate near-dup pairs via MinHash LSH:
    * sign → band → explode → self-equi-join on (band_idx, band_key) →
    * distinct (idA < idB) pairs → verified Jaccard from shingle sets.
    * Returns (idA, idB, jaccard) for pairs with jaccard ≥ threshold.
    */
  def minHashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, k: Int = 32, bands: Int = 16,
      threshold: Double = 0.6, maxBucketSize: Int = 100): DataFrame = {
    // bands=16/rows=2 targets j ≈ (1/bands)^(1/rows) ≈ 0.25: recall at
    // j=0.5 is 1-(1-0.25)^16 ≈ 0.99; rows=4 would coin-flip there.
    // maxBucketSize drops degenerate "stop buckets": a band key shared
    // by B docs yields B²/2 candidates, so one hot bucket (common
    // boilerplate shingles) turns LSH quadratic. Oversized buckets
    // carry no dedup signal — standard web-dedup practice is to skip
    // them; pairs inside them are only lost if they share NO other
    // non-hot band (probability (1-j²)^15 per remaining band).
    val rows = k / bands
    // Materialize (id, shingles) ONCE (eager local checkpoint, the
    // caller-owned-storage pattern of [[nearDupClusters]]): the plan
    // references it three times — signature/banding plus both sides of
    // the verification join — and without the checkpoint each reference
    // re-scans the corpus and re-hashes every shingle (tokenize + 32
    // MinHash permutations), i.e. 3 full text passes per run. Measured
    // at sf0.1/32 cores: 10.4 s median (and degrading across repeats)
    // → 1.3 s stable. At 100 TB the checkpoint is one compact
    // (id, hash-array) table on executor-local storage vs re-reading
    // and re-hashing the corpus twice more — the §8 "compute the proxy
    // once" shape.
    val shingled = df.select(
      col(idCol).as("id"),
      shingleHashes(col(textCol), shingleSize).as("shingles"))
      .localCheckpoint(eager = true)
    // The band join carries ONLY (id, band) — shingle arrays never ride
    // the candidate-generation shuffle — and candidate pairs are
    // dedup'd BEFORE verification, so Jaccard runs once per pair
    // instead of once per shared band. At corpus scale this is the
    // difference between shuffling ids and shuffling the corpus.
    val banded = shingled
      .withColumn("sig", minHashColumn(col("shingles"), k))
      .select(col("id"),
        posexplode(lshBandKeys(col("sig"), bands, rows)).as(Seq("band_idx", "band_key")))
    val capped = banded
      .withColumn("__bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_key"))))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
    val candidates = capped.select(col("band_idx"), col("band_key"),
        col("id").as("id_a"))
      .join(capped.select(col("band_idx"), col("band_key"),
        col("id").as("id_b")), Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    candidates
      .join(shingled.select(col("id").as("id_a"), col("shingles").as("sh_a")),
        Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("shingles").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardColumn(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup pairs: a NEW batch against itself and an
    * existing corpus, never corpus×corpus — the ingest-time shape of
    * dedup at 100 TB (the full-corpus pairing ran once; every later
    * batch must cost O(batch), the same idempotent-re-ingest economics
    * as `data_loader.py:173-177` on the load path). Candidates come
    * from the same capped LSH band buckets as [[minHashNearDupPairs]],
    * but pairs are generated only where at least one side is new:
    * new×new (ordered) plus new×corpus. The corpus contributes one
    * (id, band) tuple stream; [[DedupIndex]] is the persisted form —
    * band tuples and shingle sets stored in warehouse tables, scans
    * bloom-pruned by the batch — so the per-batch cost is banding the
    * batch plus two pruned joins (DedupIndexSpec proves pair-for-pair
    * equality with this method).
    *
    * Returns ascending-normalized (id_a, id_b, jaccard) with
    * jaccard ≥ threshold, where at least one id is from `newDocs`.
    * Ids are assumed disjoint across the two frames.
    */
  def minHashNearDupPairsIncremental(
      newDocs: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, k: Int = 32, bands: Int = 16,
      threshold: Double = 0.6, maxBucketSize: Int = 100): DataFrame = {
    val rows = k / bands
    def prep(df: DataFrame, isNew: Boolean) =
      df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleSize).as("shingles"),
        lit(isNew).as("is_new"))
    // same three-reference shape as [[minHashNearDupPairs]] — one eager
    // materialization instead of three tokenize+hash passes
    val shingled = prep(newDocs, isNew = true)
      .unionByName(prep(corpus, isNew = false))
      .localCheckpoint(eager = true)
    val banded = shingled
      .withColumn("sig", minHashColumn(col("shingles"), k))
      .select(col("id"), col("is_new"),
        posexplode(lshBandKeys(col("sig"), bands, rows))
          .as(Seq("band_idx", "band_key")))
    // hot buckets are a corpus-wide property: cap over BOTH sides, so a
    // boilerplate band key doesn't go quadratic against the archive
    val capped = banded
      .withColumn("__bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_key"))))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
    val newSide = capped.filter(col("is_new"))
      .select(col("band_idx"), col("band_key"), col("id").as("id_n"))
    val anySide = capped.select(col("band_idx"), col("band_key"),
      col("id").as("id_o"), col("is_new").as("o_new"))
    val candidates = newSide.join(anySide, Seq("band_idx", "band_key"))
      .filter(col("id_n") =!= col("id_o"))
      // new×new pairs would otherwise appear from both endpoints
      .filter(!col("o_new") || col("id_n") < col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
    candidates
      .join(shingled.select(col("id").as("id_a"), col("shingles").as("sh_a")),
        Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("shingles").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardColumn(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Set Jaccard over two arrays (assumed distinct elements). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Verification Jaccard over SORTED-distinct hash arrays (what
    * [[shingleHashes]] produces): the native merge-walk kernel
    * ([[graft.plans.JaccardSorted]]) — identical results to [[jaccard]]
    * (small integer counts divided in double precision).
    */
  def jaccardColumn(a: Column, b: Column): Column =
    call_function("jaccard_sorted", a, b)

  /** All-pairs n-gram Jaccard within a bounded scope (the brute-force
    * verifier / small-corpus path; LSH above is the scale path).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, minJaccard: Double): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleSize).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardColumn(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** EXACT all-pairs Jaccard-threshold join via prefix filtering — the
    * AllPairs/PPJoin shape (Bayardo et al., WWW'07; Chaudhuri et al.,
    * ICDE'06): deterministic-recall scale path where MinHash-LSH is the
    * probabilistic one.
    *
    * Shingle-hash sets are ordered RARE-FIRST by global document
    * frequency; a pair with J ≥ τ must share a token within each set's
    * first |x| − ⌈τ·|x|⌉ + 1 tokens of that order (prefix-filter
    * lemma: J ≥ τ forces overlap ≥ ⌈τ·|x|⌉, and two sets overlapping
    * that much cannot avoid each other's prefixes). So candidate
    * generation is an inverted-index equi-join on PREFIX tokens only —
    * the frequent tokens that explode a naive token join are exactly
    * the ones the rare-first prefix excludes — plus the size filter
    * |B| ≥ ⌈τ·|A|⌉ (J ≥ τ bounds size ratio by τ). Survivors verify
    * with one exact merge-walk Jaccard per candidate pair.
    *
    * Scale: shuffles on shingle-hash (prefix join) and pair keys
    * (verify); per-doc work is one partitioned window; no cross join
    * at any size. Same output contract as [[ngramJaccardPairs]] —
    * spec-proven identical.
    */
  def setSimJoinPrefix(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, minJaccard: Double): DataFrame =
    setSimPairsOnSets(
      df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleSize).as("sh")),
      minJaccard)

  /** [[setSimJoinPrefix]]'s core over precomputed shingle-hash sets
    * `(id, sh)` — also the class-level engine under
    * [[setSimTopKPrefix]], where `id` is a class representative and
    * the row count is the DISTINCT-set count, not the corpus.
    */
  private[graft] def setSimPairsOnSets(sets: DataFrame,
      minJaccard: Double): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0,1], got $minJaccard")
    val spark = sets.sparkSession
    // All threshold filters run in EXACT long arithmetic against the
    // rational p/q ≤ τ (q = 1e6): conservative by at most the
    // rationalization, so no float-boundary ceil can ever drop a true
    // pair — only the final verification compares against τ itself.
    val q = 1000000L
    val p = math.floor(minJaccard * q).toLong
    val sh = sets.select(col("id"), col("sh"))
      .withColumn("len", size(col("sh")))
      .filter(col("len") > 0)
      .cache()
    val tok = sh.select(col("id"), col("len"), explode(col("sh")).as("tk"))
    val dfreq = tok.groupBy("tk").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("tk"))
    // prefix length |x| − ⌈τ|x|⌉ + 1, with ⌈p·len/q⌉ ≤ ⌈τ·len⌉
    // (longer-or-equal prefix: safe)
    val prefix = tok.join(dfreq, "tk")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("len") -
        floor((lit(p) * col("len") + lit(q - 1)) / lit(q)).cast("long") + 1)
      .select(col("id"), col("len"), col("tk"), col("rn"))
      .localCheckpoint(eager = true)
    // PRE-FLIGHT: the candidate join emits Σ_tk prefdf(tk)² rows, and
    // on a corpus of mutually-similar clone GROUPS (every group member
    // shares every prefix token) that is Ω(groupsize²) per group — an
    // exact join there doesn't run slow, it dies by disk (a 100-copy
    // salted-replica corpus spilled ~76 GB before this guard). The
    // estimate is one cheap aggregation over the prefix table; above
    // the cap the join REFUSES with the diagnosis and the remedies
    // instead of exhausting the cluster's scratch space.
    // Σ n·(n−1)/2 counts exactly the unordered id_a<id_b pairs the
    // join can emit per token (df² would double-count and refuse
    // corpora within ~2× of the cap that actually fit); it is still
    // an upper bound — the length/positional filters only shrink it
    val est = prefix.groupBy("tk").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0L))
        .cast("long")).head.getLong(0)
    // default cap: 1e9 estimated UNORDERED pairs, calibrated by
    // measurement: forcing the join on a 2.4e9-estimate corpus (the
    // 10× salted replicas) consumed ~70 GB of sort/shuffle scratch —
    // it completes in ~95 s when that fits and dies by disk when it
    // doesn't (this box's usable scratch is ~90 GB; the 100× shape
    // estimates ~2.4e11 and is hopeless anywhere). Scratch demand
    // scales with the estimate (~30 GB per 1e9 pairs), so the default
    // refuses anything that would monopolize a typical node's disk;
    // deployments with real scratch raise it deliberately.
    val maxCand = spark.conf.getOption("spark.graft.setsim.maxCandidates")
      .map(_.toLong).getOrElse(1000000000L)
    if (est > maxCand) {
      sh.unpersist()
      throw new graft.core.PreflightRefusal(
        s"setSim prefix join refused: ~$est candidate rows " +
          s"(Σ prefix-token df·(df−1)/2, an upper bound before the " +
          s"length/positional filters; cap $maxCand) — the corpus is " +
          "dominated by large groups of mutually-similar documents, " +
          "where EXACT set-similarity is inherently quadratic per " +
          "group. Exact-duplicate replication collapses via " +
          "setSimTopKPrefix's class collapse; near-dup-heavy corpora " +
          "should route to the capped LSH family " +
          "(minHashNearDupPairs). Raise " +
          "spark.graft.setsim.maxCandidates to force the exact join.")
    }
    // candidates: shared prefix token + size filter |B|·q ≥ p·|A| +
    // PPJoin positional filter — a match at full-order positions
    // (i, j) caps the overlap at min(la−i, lb−j)+1, which must reach
    // the equivalent-overlap threshold τ/(1+τ)·(la+lb); in rationals:
    // (bound)·(p+q) ≥ p·(la+lb)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tk") === col("b.tk") && col("a.id") < col("b.id") &&
          col("b.len") * q >= col("a.len") * p &&
          col("a.len") * q >= col("b.len") * p &&
          (least(col("a.len") - col("a.rn"), col("b.len") - col("b.rn")) + 1)
            * (p + q) >= (col("a.len") + col("b.len")) * p)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val out = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardColumn(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      // materialize the (bounded) verified pairs so the corpus-sized
      // shingle cache can be released before returning — a long
      // session would otherwise pin one shingle copy per call
      .localCheckpoint(eager = true)
    sh.unpersist()
    out
  }

  /** Bounded-output face of [[setSimJoinPrefix]] — top-`k`
    * most-similar peers per document at J ≥ τ, EXACT (identical rows
    * to ranking the naive all-pairs join), with candidate volume
    * independent of replication:
    *
    *  1. Documents collapse into EQUIVALENCE CLASSES by their exact
    *     shingle-hash set (ngram_hashes is sorted-distinct, so set
    *     equality is array equality). Same class ⇔ pairwise J = 1;
    *     cross-class J < 1 and depends only on the two sets. On a
    *     100-copy replica corpus the class table is base-corpus-sized
    *     — the clone-group quadratic that makes the exact pair dump
    *     unsweepable never forms.
    *  2. The prefix-filter join ([[setSimPairsOnSets]]) runs over one
    *     representative per class — same recall proof, |classes|²
    *     worst case instead of |docs|².
    *  3. Per-doc top-k reconstructs exactly: own-class peers enter at
    *     J = 1 (each class carries its k+1 smallest member ids — for
    *     any member, its k smallest OTHER members are within those);
    *     candidate classes keep `rank() ≤ k` over J desc WITH ties
    *     (a class with k strictly-better classes can never reach any
    *     member's top-k, since every class is non-empty), and
    *     contribute their k smallest ids; the final per-doc
    *     row_number over (J desc, peer asc) trims to k via
    *     WindowGroupLimit.
    */
  def setSimTopKPrefix(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, minJaccard: Double, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val sh = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    val classes = sh.groupBy(col("sh")).agg(
        min(col("id")).as("cid"),
        slice(sort_array(collect_list(col("id"))), 1, k + 1).as("top_ids"))
      .localCheckpoint(eager = true)
    val classPairs = setSimPairsOnSets(
      classes.select(col("cid").as("id"), col("sh")), minJaccard)
    val symC = classPairs
      .select(col("id_a").as("cid"), col("id_b").as("peer_cid"),
        col("jaccard"))
      .unionByName(classPairs
        .select(col("id_b").as("cid"), col("id_a").as("peer_cid"),
          col("jaccard")))
    val wc = Window.partitionBy(col("cid")).orderBy(col("jaccard").desc)
    val topC = symC.withColumn("__rk", rank().over(wc))
      .filter(col("__rk") <= k).drop("__rk")
    val docs = sh.join(classes, Seq("sh"))
      .select(col("id"), col("cid"), col("top_ids"))
    val own = docs
      .select(col("id"), explode(col("top_ids")).as("peer"),
        lit(1.0).as("jaccard"))
      .filter(col("peer") =!= col("id"))
    val cross = docs.select(col("id"), col("cid"))
      .join(topC, Seq("cid"))
      .join(classes.select(col("cid").as("peer_cid"),
        col("top_ids").as("__peer_ids")), Seq("peer_cid"))
      .select(col("id"), explode(col("__peer_ids")).as("peer"),
        col("jaccard"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("jaccard").desc, col("peer"))
    own.unionByName(cross)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumnRenamed("id", idCol)
  }

  // ---------------------------------------------------------- SimHash

  /** 64-bit SimHash as BIGINT: bit i is set iff the sum over tokens of
    * ±1 (by bit i of the token's hash) is positive. The 64 bit
    * positions are unrolled at plan-build time (static Int shifts keep
    * the tree codegen-eligible); the per-bit inner fold runs over the
    * token-hash array.
    */
  def simHash(text: Column): Column = {
    val toks = array_distinct(split(lower(trim(text)), "[\\s\\p{Punct}]+"))
    val hashes = transform(toks, t => xxhash64(t))
    (0 until 64).map { i =>
      when(
        aggregate(hashes, lit(0L),
          (s, h) => s + when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
          > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** [[simHash]] through the native `simhash64` expression (one
    * counter pass vs 64 interpreted aggregate passes): the identical
    * signature (same token hashes, same sign rule).
    */
  def simHashColumn(text: Column): Column = {
    val toks = array_distinct(split(lower(trim(text)), "[\\s\\p{Punct}]+"))
    call_function("simhash64", transform(toks, t => xxhash64(t)))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming ≤ maxDistance, using the
    * pigeonhole banding trick: split the 64-bit signature into
    * (maxDistance+1) chunks — any pair within distance d must agree on
    * at least one chunk, so candidates come from equi-joins on chunk
    * values (shuffle on chunk key, never all-pairs).
    */
  def simHashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    signatureNearDupPairs(
      df.select(col(idCol).as("id"),
        simHashColumn(col(textCol)).as("sig")),
      "id", "sig", maxDistance, maxBucketSize)

  /** Hamming near-dup pairs over PRECOMPUTED 64-bit signatures — the
    * banding engine behind [[simHashNearDupPairs]], reusable for any
    * 64-bit fingerprint family (SimHash over text, perceptual image
    * hashes, …). Pigeonhole chunking: a pair within distance d agrees
    * on at least one of d+1 chunks, so candidates come from chunk-value
    * equi-joins — shuffle on chunk key, never all-pairs.
    */
  def signatureNearDupPairs(df: DataFrame, idCol: String, sigCol: String,
      maxDistance: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    // bits == 64 (maxDistance 0: candidates = exact-signature equi-join,
    // the scale path for identical-signature dedup): (1L << 64) wraps
    // to 1 under JVM shift-mod-64, which would zero the mask and fold
    // the whole corpus into one bucket
    val mask = if (bits >= 64) lit(-1L) else lit((1L << bits) - 1)
    val sigs = df.select(col(idCol).as("id"), col(sigCol).as("sig"))
    val chunkArr = array((0 until chunks).map(c =>
      shiftright(col("sig"), c * bits).bitwiseAND(mask)): _*)
    // Same hot-bucket guard as minHashNearDupPairs: a 16-bit chunk of
    // short/boilerplate docs collides massively (all-zero chunks
    // especially), and a chunk bucket of B docs emits B²/2 candidate
    // pairs. The count-over-window shares its partition key with the
    // self-join below, so the cap costs no extra exchange. Pairs in a
    // dropped bucket survive iff they agree on another, colder chunk.
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(chunkArr).as(Seq("chunk_idx", "chunk_val")))
      .withColumn("__bucket_n", count(lit(1)).over(
        Window.partitionBy(col("chunk_idx"), col("chunk_val"))))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
    val a = banded.select(col("chunk_idx"), col("chunk_val"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("chunk_idx"), col("chunk_val"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("distance"))
      .distinct()
      .filter(col("distance") <= maxDistance)
  }

  // ------------------------------------------------- cluster + canonical

  /** Connected components over near-dup pairs via iterative min-label
    * propagation — the step between candidate pairs and actual dedup:
    * transitively-linked docs form one cluster keyed by its smallest
    * id. Each round is one join + one shuffle on the node id; labels
    * are localCheckpoint'ed so lineage stays flat (same pattern as
    * [[graft.analytics.Iterate]]). Converges in O(component diameter)
    * rounds — near-dup components are shallow in practice.
    */
  def nearDupClusters(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      maxIterations: Int = 20): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var iter = 0
    var done = false
    while (!done && iter < maxIterations) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nlabel"))
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
        .localCheckpoint(true)
      val changes = updated.as("u")
        .join(labels.as("l"), Seq("id"))
        .filter(col("u.label") =!= col("l.label"))
        .count()
      // the superseded round's checkpoint storage is dead after the
      // change-count above — free it, or per-batch dedup pipelines
      // leak one checkpoint RDD per iteration per call
      if (iter > 0) graft.core.Caching.freeLocalCheckpoint(labels)
      labels = updated
      done = changes == 0
      iter += 1
    }
    edges.unpersist(blocking = false)
    labels // (id, label = min id of the component); caller-owned
           // checkpoint — one round of storage, freed on GC
  }

  /** Keep one canonical doc per near-dup cluster (the smallest id) and
    * every unclustered doc — the terminal dedup step. `clusters` is
    * [[nearDupClusters]] output; docs absent from it pass through.
    */
  def keepCanonical(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame =
    df.join(clusters.select(col("id").as("__cid"), col("label").as("__clabel")),
        col(idCol) === col("__cid"), "left")
      .filter(col("__clabel").isNull || col("__clabel") === col(idCol))
      .drop("__cid", "__clabel")

  // ------------------------------------------- embedding cosine near-dup

  /** Embedding near-dup pairs: cosine ≥ threshold. Brute-force within
    * an optional blocking column (e.g. LSH bucket or label); for the
    * unblocked scale path use [[graft.sim.Similarity.lshBucketPairs]].
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockCol: Option[String] = None): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      blockCol.map(col).getOrElse(lit(0)).as("blk"))
    val a = base.select(col("blk"), col("id").as("id_a"), col("v").as("v_a"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.sim.Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------------- sorted-neighborhood dedup

  /** Sorted-neighborhood near-dup candidate pairs (Hernández & Stolfo,
    * SIGMOD'95): sort the corpus by a normalized blocking key, compare
    * each record only to its `windowSize − 1` successors in that order,
    * verify with exact distinct-word Jaccard. The third dedup blocking
    * family next to MinHash-LSH (probabilistic) and prefix filtering
    * (similarity-bounded): SNM's candidate count is EXACTLY
    * (w−1)·N regardless of data distribution — the only scheme with a
    * hard a-priori bound, at the price of key-locality recall.
    *
    * Scale: the global sort rank is fully distributed — range partition
    * by (key, id), partition-local row_number, P-row broadcast offset
    * table (the balancedShards prefix-sum idiom; the only
    * single-partition window runs over P rows). Neighbor pairing is an
    * equi-join on rank, shuffled on rank — never a cross join, never a
    * corpus-wide window partition.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
      windowSize: Int = 4, minJaccard: Double = 0.5,
      keyLen: Int = 24): DataFrame = {
    require(windowSize >= 2, s"windowSize must be ≥ 2, got $windowSize")
    val spark = df.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val toks = df.select(col(idCol).as("id"),
      array_distinct(split(lower(trim(col(textCol))), "[\\s\\p{Punct}]+"))
        .as("tk"),
      substring(regexp_replace(lower(trim(col(textCol))), "[^a-z0-9]", ""),
        1, keyLen).as("key"))
    // distributed global rank over (key, id). The range exchange is
    // MATERIALIZED once (localCheckpoint): spark_partition_id is only
    // meaningful relative to one concrete partitioning, and the
    // offsets branch below must observe the same boundaries as the
    // rank branch — two independent evaluations of repartitionByRange
    // can sample different ranges (per-RDD seed) and corrupt ranks.
    val ranged = toks.repartitionByRange(p, col("key"), col("id"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = true)
    val local = Window.partitionBy(col("__pid")).orderBy(col("key"), col("id"))
    val withRn = ranged.withColumn("__lrn", row_number().over(local))
    val offW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withRn.groupBy(col("__pid"))
      .agg(max(col("__lrn")).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(offW), lit(0L)))
      .select(col("__pid"), col("__off"))
    val ranked = withRn.join(broadcast(offsets), Seq("__pid"))
      .select(col("id"), col("tk"),
        (col("__off") + col("__lrn")).cast("long").as("rn"))
    val leftSide = ranked.select(col("id").as("id_l"), col("tk").as("tk_l"),
        col("rn"),
        explode(array((1 until windowSize).map(d => lit(d)): _*)).as("rank_dist"))
      .withColumn("rn2", col("rn") + col("rank_dist"))
    val rightSide = ranked.select(col("id").as("id_r"), col("tk").as("tk_r"),
      col("rn").as("rn2"))
    val inter = size(array_intersect(col("tk_l"), col("tk_r")))
    val j = inter.cast("double") /
      (size(col("tk_l")) + size(col("tk_r")) - inter).cast("double")
    leftSide.join(rightSide, Seq("rn2"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        col("rank_dist"), j.as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
