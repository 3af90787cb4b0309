package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document duplicated-span analysis (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better",
  * arXiv:2107.06499): for every document, the fraction of its word
  * n-grams that also occur in at least one OTHER document. Where
  * [[QualityRules]]' repetition stats are within-doc and the MinHash
  * path judges whole-document similarity, this is the span-level
  * cross-doc view — the signal behind exact-substring dedup: a doc
  * can be globally unique yet assembled from boilerplate spans shared
  * across the corpus.
  *
  * Scale posture: distinct (doc, gram) explode → gram-keyed
  * doc-frequency agg (map-side combined) → join back on the SAME gram
  * key → doc-keyed count agg. Four keyed exchanges, all O(corpus
  * grams), no pairwise anything — the gram's doc-frequency stands in
  * for the quadratic "which docs share this span" join a naive
  * implementation would do.
  */
object SpanDedup {

  /** Word n-grams of `textCol` as one array: whitespace tokens, then
    * every length-`n` window joined by single spaces; docs shorter
    * than `n` tokens collapse to one whole-doc gram (the NgramHashes
    * convention, and DuckDB's truncating list-slice semantics, so the
    * SQL oracle derives the identical set). The string reference form
    * of the gram hashes both operators below run on.
    */
  def wordGrams(textCol: Column, n: Int): Column = {
    val tk = split(trim(textCol), "\\s+")
    transform(
      sequence(lit(1), greatest(size(tk) - lit(n - 1), lit(1))),
      i => concat_ws(" ", slice(tk, i, lit(n))))
  }

  /** Per-document report: (idCol, n_grams, n_dup_grams, dup_frac).
    * `n_grams` counts DISTINCT grams in the doc; a gram is duplicated
    * iff it occurs in ≥ 2 distinct documents. Blank docs are
    * preserved as (0, 0, null) — the row-preservation contract.
    */
  def dupSpanReport(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // Gram IDENTITY is all this needs (equality for the doc-frequency
    // count), so the grams are 64-bit [[graft.plans.NgramHashes]]
    // hashes of the [[wordGrams]] windows, never strings: the per-doc
    // distinct happens inside the codegen kernel (no corpus-wide
    // (doc, gram) distinct exchange) and both keyed exchanges carry
    // 8-byte longs instead of n-word strings. Same 2⁻⁶⁴ collision
    // posture as the MinHash shingle family.
    val dg = docs.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), explode(call_function("ngram_hashes",
        split(trim(col(textCol)), "\\s+"), lit(n))).as("__g"))
    // doc-frequency per gram: dg is already distinct per (doc, gram),
    // so count(*) IS the distinct-doc count — no countDistinct state
    val dfreq = dg.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val per = dg.join(dfreq, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        when(col("n_grams") > 0,
          round(col("n_dup_grams").cast("double") /
            col("n_grams").cast("double"), 6)).as("dup_frac"))
  }

  /** Keep-first exact-substring removal — the span-level surgery of
    * Lee et al. 2022 (arXiv:2107.06499 §3, ExactSubstr): every
    * occurrence of a corpus-duplicated word n-gram EXCEPT the
    * canonical first one (smallest (doc, position)) is removed, token
    * by token, and each document's text is reassembled from its
    * surviving tokens. Unlike [[dropDuplicated]] this edits documents
    * instead of dropping them — the form that preserves the unique
    * tail of a mostly-boilerplate page.
    *
    * Returns (idCol, n_tokens_kept, new_text) for EVERY input doc
    * (blank docs → (0, "")). `idCol` must be integral with values
    * < ~9e12 and docs shorter than 1M tokens (occurrences pack into
    * one long key, `id·10⁶ + pos`, so the canonical pick is a plain
    * `min` — no struct-ordering dependency between engines).
    *
    * Scale posture: occurrences explode O(tokens); gram-keyed agg
    * (map-side combined) picks (count, canonical); removed occurrences
    * explode ≤ n covered indices each; reassembly is ONE doc-keyed
    * aggregation (sort the (pos, token) structs inside the row —
    * array_sort is per-row, not a shuffle). Nothing pairwise: the
    * gram key stands in for "which docs share this span", exactly as
    * in [[dupSpanReport]].
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"n-gram size must be positive, got $n")
    // materialized once: the tokenized corpus feeds BOTH the
    // occurrence explode and the token explode (different generators,
    // no shared exchange) — one scan+split pass instead of two
    // (A/B at 10×: 3.16 → 2.81 s)
    val base = docs
      .filter(trim(col(textCol)) =!= "")
      .select(col(idCol).as("__id"),
        split(trim(col(textCol)), "\\s+").as("__tk"))
      .withColumn("__ntk", size(col("__tk")))
      .localCheckpoint(true)
    // positional gram HASHES (occurrence identity only needs
    // equality): no per-window string materialization, and the
    // gram-keyed exchange under gstats carries longs — the
    // dupSpanReport rationale at the occurrence level. Gram at array
    // position i (1-based) covers tokens [i, i+n-1], truncated at the
    // doc end.
    val occ = base
      .select(col("__id"), col("__ntk"),
        posexplode(call_function("ngram_hashes_pos", col("__tk"), lit(n)))
          .as(Seq("__p0", "__g")))
      .withColumn("__pos", col("__p0") + 1)
      // canonical occurrence = lexicographic min of (id, pos) — a
      // STRUCT, not a packed long: id * 10^6 + pos overflows for ids
      // past ~9.2e12 (ScaleUp's disjoint-copy shifts live at 2^40),
      // and min/inequality on a two-field struct is the same codegen
      // comparison without any arithmetic to overflow
      .withColumn("__key", struct(col("__id"), col("__pos")))
    val gstats = occ.groupBy(col("__g"))
      .agg(count(lit(1)).as("__nocc"), min(col("__key")).as("__canon"))
    val removed = occ.join(gstats, Seq("__g"))
      .filter(col("__nocc") > 1 && col("__key") =!= col("__canon"))
    val covered = removed
      .select(col("__id"), explode(sequence(col("__pos"),
        least(col("__pos") + lit(n - 1), col("__ntk")))).as("__ti"))
      .distinct()
    val tokens = base
      .select(col("__id"), posexplode(col("__tk")).as(Seq("__t0", "__tok")))
      .withColumn("__ti", col("__t0") + 1)
    val rebuilt = tokens
      .join(covered, Seq("__id", "__ti"), "left_anti")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__ti"), col("__tok")))),
            s => s.getField("__tok")),
          " ").as("new_text"))
    docs.select(col(idCol))
      .join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** Drop documents whose duplicated-span fraction exceeds
    * `maxDupFrac` — the document-level filter built on the report
    * (span-level surgery is a tokenizer-coupled editorial decision;
    * the filter form is what curation pipelines compose, and
    * [[removeDuplicateSpans]] is the surgical alternative). Blank docs
    * survive (nothing duplicated).
    */
  def dropDuplicated(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDupFrac: Double): DataFrame =
    docs.join(
      dupSpanReport(docs, idCol, textCol, n)
        .filter(coalesce(col("dup_frac") <= maxDupFrac, lit(true)))
        .select(col(idCol)),
      Seq(idCol), "left_semi")
}
