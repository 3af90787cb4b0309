package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling"): score every raw
  * document by how target-like its hashed n-gram distribution is —
  * log w(d) = Σ_g c(g,d) · (ln p_target(g) − ln p_raw(g)) over
  * unigram+bigram features g, both models Laplace-smoothed over the
  * union feature space — then keep the top-weighted docs. The
  * standard public recipe for "select pretraining data that looks
  * like my high-quality target set".
  *
  * Feature space: exact grams by default, carried as 64-bit hashes
  * (oracle-able — collision-free at any test scale, so the
  * verification gate recomputes every weight over gram strings in
  * SQL), or hashed
  * buckets (`nBuckets = Some(m)`, xxhash64 → pmod) for real corpora
  * where the gram vocabulary itself is too large to enumerate: the
  * paper's 10k-bucket form. Same plan either way — only the gram key
  * expression changes.
  *
  * Scale posture: model fit is two gram-keyed counts (map-side
  * combine) over raw and target; λ(g) = ln p_t − ln p_r is one
  * full-outer merge of those counts, bounded by the feature space
  * (hashed: ≤ nBuckets rows) and broadcast; scoring joins per-doc
  * gram counts against the broadcast λ and sums per doc. Nothing
  * pairwise, nothing driver-side; target corpus is typically ≪ raw
  * and never joined row-to-row against it.
  *
  * Determinism: counts are exact longs; each gram's contribution is
  * pure per-row double arithmetic decimal-cast BEFORE the per-doc
  * sum (order-independent); smoothed probabilities spell out the
  * same ((cnt + α) / (tot + α·V)) shape the oracle restates.
  */
object Dsir {

  /** Unigram + bigram feature grams of `textCol` as 64-bit hashes via
    * the positional NgramHashes kernel (codegen; no per-window string
    * materialization) — DSIR only ever COUNTS gram occurrences, so
    * identity modulo 2⁻⁶⁴ collisions is all the model needs.
    * ngram_hashes_pos(tk, 1) emits exactly one hash per token (0 for
    * empty); the bigram arm is empty below 2 tokens (the kernel's
    * short-doc collapse would emit 1).
    */
  private[text] def gramHashes(text: Column): Column = {
    val tk = TextAnalysis.words(text)
    val uni = call_function("ngram_hashes_pos", tk, lit(1))
    val bi = when(size(tk) < 2, array().cast("array<long>"))
      .otherwise(call_function("ngram_hashes_pos", tk, lit(2)))
    concat(uni, bi)
  }

  private def gramKey(nBuckets: Option[Int]): Column = nBuckets match {
    // pmod of the 64-bit gram hash — bucketing is internal: weights
    // only depend on bucket-count distributions, spec-pinned equal to
    // exact grams when collision-free
    case Some(m) => pmod(xxhash64(col("gram")), lit(m.toLong)).cast("string")
    case None    => col("gram")
  }

  /** Per-document DSIR log importance weight of every `raw` doc
    * against `target`'s feature distribution. Output:
    * (idCol, n_grams, dsir_weight); gram-less (blank) docs score
    * (0, 0.0) — row-preserving like [[UnigramLm.meanNll]].
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String,
      nBuckets: Option[Int] = None, smoothing: Double = 1.0): DataFrame = {
    val rawGrams = raw.select(col(idCol),
      explode(gramHashes(col(textCol))).as("gram"))
      .select(col(idCol), gramKey(nBuckets).as("g"))
    val tgtGrams = target.select(explode(gramHashes(col(textCol))).as("gram"))
      .select(gramKey(nBuckets).as("g"))

    // ONE corpus explode pass: the per-(doc, gram) counts are computed
    // first and materialized (eager local checkpoint), and the global
    // per-gram counts REGROUP those partial counts (Σ over docs) —
    // previously rawGrams was referenced by rawCnt AND the scoring
    // join under different keys, re-running the scan + explode, and
    // `merged` fed totals AND lambda the same way (3 corpus passes
    // total; now 1 + two small-table reads).
    val perDocCnt = rawGrams.groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val rawCnt = perDocCnt.groupBy("g").agg(sum(col("c")).as("rc"))
    val tgtCnt = tgtGrams.groupBy("g").agg(count(lit(1)).as("tc"))
    // union feature space: V for smoothing, full-outer so grams seen
    // on only one side still get their α mass on the other
    val merged = rawCnt.join(tgtCnt, Seq("g"), "full_outer")
      .select(col("g"),
        coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
      .localCheckpoint(eager = true)
    val totals = merged.agg(
      sum(col("rc")).as("rtot"), sum(col("tc")).as("ttot"),
      count(lit(1)).as("v"))
    val lambda = merged.crossJoin(broadcast(totals))
      .select(col("g"),
        (log((col("tc").cast("double") + lit(smoothing)) /
            (col("ttot").cast("double") + lit(smoothing) * col("v").cast("double"))) -
         log((col("rc").cast("double") + lit(smoothing)) /
            (col("rtot").cast("double") + lit(smoothing) * col("v").cast("double"))))
          .as("lambda"))

    val perDoc = perDocCnt
      .join(broadcast(lambda), Seq("g"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_grams"),
        sum((col("c").cast("double") * col("lambda"))
          .cast("decimal(20,10)")).as("__w"))
      .select(col(idCol), col("n_grams"),
        round(col("__w").cast("double"), 6).cast("double").as("dsir_weight"))

    raw.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dsir_weight"), lit(0.0)).as("dsir_weight"))
  }

  /** Top-`k` most target-like raw docs by weight (id tie-break) —
    * the deterministic selection form; the paper's Gumbel-noise
    * resample is this with per-doc noise added to the weight.
    */
  def selectTopK(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, nBuckets: Option[Int] = None): DataFrame =
    importanceWeights(raw, target, idCol, textCol, nBuckets)
      .orderBy(col("dsir_weight").desc, col(idCol))
      .limit(k)
}
