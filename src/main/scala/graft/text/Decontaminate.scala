package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data hygiene pass that
  * removes eval-set leakage before a corpus ships: flag every training
  * document that shares at least one word n-gram with a benchmark /
  * eval corpus (the standard 8–13-gram overlap rule; `n` is a
  * parameter because the right size depends on vocabulary entropy).
  *
  * 100 TB shape: the eval side is a *benchmark* — thousands of
  * documents, not billions — so its distinct n-gram set is bounded and
  * rides a broadcast. The training corpus is scanned once; shingling
  * is per-row expression work ([[graft.dedup.Dedup.shingleHashes]] —
  * grams travel as 64-bit hashes, native codegen kernel, no shingle
  * strings, no explode until the join input), and the only shuffle is
  * the per-doc count aggregation, keyed by doc id. No all-pairs step
  * anywhere. Beyond the reference's surface (its analytics package is
  * empty, `src/analytics/__init__.py:1`); first-class for the LLM-
  * pipeline layer this engine targets.
  */
object Decontaminate {

  /** Per-training-doc contamination report: `(idCol, n_shared,
    * contaminated)` — `n_shared` = how many of the doc's distinct
    * n-grams appear anywhere in the eval corpus, `contaminated` =
    * any overlap at all. Every training doc appears (zero-overlap docs
    * report 0/false), so the report is a complete curation mask.
    */
  def contaminationReport(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"n-gram size must be positive, got $n")
    // Gram EQUALITY is all the overlap needs, so grams travel as
    // 64-bit hashes ([[graft.dedup.Dedup.shingleHashes]] — identical
    // tokenization and short-doc collapse as wordShingles, native
    // codegen kernel): no per-window
    // string materialization on the corpus scan, and the broadcast
    // eval-gram set is 8 bytes/gram instead of an n-word string.
    // Same 2⁻⁶⁴ collision posture as the MinHash family.
    val evalGrams = eval
      .select(explode(graft.dedup.Dedup.shingleHashes(col(textCol), n)).as("gram"))
      .distinct()
    val trainGrams = train
      .select(col(idCol), // shingleHashes already dedups within doc
        explode(graft.dedup.Dedup.shingleHashes(col(textCol), n)).as("gram"))
    val shared = trainGrams
      .join(broadcast(evalGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
    train.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Containment-scored (fuzzy) contamination report: per training
    * doc, `containment` = |doc grams ∩ eval grams| / |doc grams| — the
    * fraction of the document's own distinct n-grams that appear
    * anywhere in the eval corpus. The any-overlap rule above is binary
    * and brittle for small n (one boilerplate trigram flags the doc);
    * the containment score is what fuzzy decontamination thresholds on
    * ("remove if ≥ 80% of the doc's grams are eval grams" — the
    * asymmetric cousin of Jaccard, right when the doc is much smaller
    * than the benchmark suite). Same 100 TB shape as
    * [[contaminationReport]]: eval grams broadcast, corpus scanned
    * once, one keyed aggregation.
    */
  def containmentReport(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    require(n > 0, s"n-gram size must be positive, got $n")
    // hashed grams, as in [[contaminationReport]] — equality-only use
    val evalGrams = eval
      .select(explode(graft.dedup.Dedup.shingleHashes(col(textCol), n)).as("gram"))
      .distinct()
      .withColumn("__hit", lit(1L))
    val trainGrams = train
      .select(col(idCol),
        explode(graft.dedup.Dedup.shingleHashes(col(textCol), n)).as("gram"))
    val scored = trainGrams
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_shared"))
    train.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("n_shared").cast("double") / col("n_grams"), 6))
          .as("containment"),
        (coalesce(col("n_grams"), lit(0L)) > 0 &&
          col("n_shared").cast("double") / col("n_grams") >= threshold)
          .as("contaminated"))
  }

  /** The curation action: training rows with zero eval overlap —
    * `train` anti-joined against the contaminated id set. */
  def removeContaminated(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    val dirty = contaminationReport(train, eval, idCol, textCol, n)
      .filter(col("contaminated"))
      .select(col(idCol))
    train.join(dirty, Seq(idCol), "left_anti")
  }

  /** Per-row contamination predicate — the STREAMING-safe form of the
    * overlap rule. [[contaminationReport]]'s explode→join→groupBy
    * can't run over an unbounded stream (a stream can't anti-join a
    * derivative of itself), so here the eval corpus's distinct n-gram
    * set — bounded, it's a benchmark — is collected once and broadcast
    * as a driver-built set; each row then answers "any shingle in the
    * set?" locally, no shuffle, no state. Exact same verdict as the
    * batch report (`contaminated` ⇔ predicate true), proven in
    * StreamCurationSpec. A deliberate UDF: the probe set lives in a
    * broadcast variable, which no codegen expression can reach; the
    * per-row work is |shingles| hash lookups.
    */
  def contaminationPredicate(eval: DataFrame, textCol: String, n: Int): Column = {
    require(n > 0, s"n-gram size must be positive, got $n")
    val spark = eval.sparkSession
    import spark.implicits._
    // hashed grams (the report functions' representation): the driver
    // set holds 8-byte longs instead of n-word strings, the per-row
    // probe skips shingle-string materialization, and the verdict is
    // unchanged (gram equality ⇔ hash equality mod 2⁻⁶⁴)
    val grams = eval
      .select(explode(graft.dedup.Dedup.shingleHashes(col(textCol), n)).as("gram"))
      .distinct().as[Long].collect().toSet
    val bc = spark.sparkContext.broadcast(grams)
    val hit = udf { shingles: Seq[Long] =>
      shingles != null && shingles.exists(bc.value.contains)
    }
    hit(graft.dedup.Dedup.shingleHashes(col(textCol), n))
  }

  /** Size-routed front door: the exact broadcast-set predicate while
    * the eval corpus's distinct gram count fits `maxExactGrams`
    * (default 10M — a few hundred MB of driver set, the practical
    * broadcast ceiling), the bloom form above it. The exact form is
    * benchmark-suite-sized hygiene with zero false positives; the
    * bloom form is the unbounded-eval scale path and is one-sided in
    * the SAFE direction (no false negatives — contamination is never
    * missed, a bounded `fpp` of clean rows is over-removed). Costs
    * one distinct-count aggregation over the (bounded) eval corpus to
    * decide, and that count seeds the filter's expectedGrams so the
    * fpp bound actually holds at the measured cardinality.
    */
  def contaminationPredicateAuto(eval: DataFrame, textCol: String, n: Int,
      maxExactGrams: Long = 10000000L, fpp: Double = 0.001): Column = {
    require(n > 0, s"n-gram size must be positive, got $n")
    val nGrams = eval
      .select(explode(graft.dedup.Dedup.shingleHashes(col(textCol), n)).as("gram"))
      .distinct().count()
    if (nGrams <= maxExactGrams) contaminationPredicate(eval, textCol, n)
    else contaminationPredicateBloom(eval, textCol, n,
      expectedGrams = nGrams, fpp = fpp)
  }

  /** Bloom form of [[contaminationPredicate]] — the scale path when
    * the eval-gram set outgrows an exact broadcast set (multi-
    * benchmark suites at large n): grams fold to a bloom filter (a
    * few MB at any gram count), the predicate becomes "any shingle
    * MIGHT be in the filter". One-sided by construction: never misses
    * a true contamination (no false negatives — safe direction for
    * hygiene: you only ever over-remove), false positives bounded by
    * `fpp`. Pure expressions via the native `bloom_might_contain` —
    * no UDF, no broadcast-variable plumbing.
    */
  def contaminationPredicateBloom(eval: DataFrame, textCol: String,
      n: Int, expectedGrams: Long = 10000000L,
      fpp: Double = 0.001): Column = {
    require(n > 0, s"n-gram size must be positive, got $n")
    val spark = eval.sparkSession
    val grams = eval
      .select(explode(graft.dedup.Dedup.shingleHashes(col(textCol), n)).as("__g"))
    // empty gram set: nothing can contaminate (stat.bloomFilter also
    // NPEs on zero rows — same guard as ScaleJoins.bloomPruned)
    if (grams.isEmpty) return lit(false)
    // identical filter construction (same bits ⇒ same false-positive
    // set ⇒ bit-identical verdicts); the carrier is a broadcast handle
    // shared by every per-shingle probe the lambda builds, instead of
    // an ~18 MB (at the 10M-gram default) task-binary literal
    val bf = grams.stat.bloomFilter("__g", math.max(expectedGrams, 1L), fpp)
    val handle = spark.sparkContext.broadcast(bf)
    exists(graft.dedup.Dedup.shingleHashes(col(textCol), n),
      h => graft.plans.BloomMightContainBcast.probe(handle, h))
  }
}
