package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token
  * counting, quality scoring, language ID, fingerprinting.
  *
  * Everything here is a composed Catalyst Column expression — no UDFs
  * — so the operators stay inside whole-stage codegen and scale as
  * embarrassingly-parallel per-row work (zero shuffles). This layer is
  * beyond the reference's surface (its analytics package is empty,
  * `src/analytics/__init__.py:1`) and is designed for the 100 TB
  * document-corpus use case the engine targets.
  */
object TextAnalysis {

  /** Whitespace-run tokens of the trimmed text; blank text → empty
    * array (NOT the [""] raw split produces). THE tokenizer every
    * word-level operator shares (QualityRules, Chunker, token counts)
    * — oracle SQL mirrors depend on there being exactly one definition.
    */
  def words(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Whitespace token count. `split(trim(s), "\\s+")` — matches the
    * conventional `len(text.split())`. Empty/blank text → 0.
    */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword token estimate: words + punctuation runs counted
    * separately (a cheap stand-in for a real tokenizer's fragment
    * count — deterministic and vectorizable).
    */
  def regexTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text),
        "\\s+|(?=[\\p{Punct}])|(?<=[\\p{Punct}])")))

  /** Mean characters per token — quality signal (very long "words"
    * indicate binary junk; very short indicate OCR noise). */
  def meanTokenLength(text: Column): Column = {
    val nTok = tokenCount(text)
    when(nTok === 0, lit(0.0))
      .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast("double")
        / nTok.cast("double"))
  }

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) -
        length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
        / length(text).cast("double"))

  /** Ratio of uppercase letters to all letters. */
  def upperRatio(text: Column): Column = {
    val letters = length(regexp_replace(text, "[^A-Za-z]", ""))
    when(letters === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^A-Z]", "")).cast("double")
        / letters.cast("double"))
  }

  /** English stopword hit ratio: fraction of tokens that are common
    * function words — the classic "is this natural language" signal.
    */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by")

  /** Count of `toks` elements that are members of `words`, in
    * codegen: per-token 64-bit hashes via `ngram_hashes_pos` +
    * [[graft.plans.InSetCount]] binary search over the pre-hashed
    * probe set, instead of an interpreted per-element OR-chain lambda
    * (which dominated the langid/quality scans at scale). Token
    * equality becomes hash equality (the MinHash family's 2⁻⁶⁴
    * posture).
    */
  private def memberCount(toks: Column, words: Seq[String]): Column =
    call_function("in_set_count",
      call_function("ngram_hashes_pos", toks, lit(1)),
      array(words.map(w => lit(graft.plans.NgramHashes.tokenGramHash(w))): _*))

  def stopwordRatio(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val hits = memberCount(toks, stopwords)
    when(size(toks) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: weighted blend of the signals,
    * tuned to favor natural prose (stopword presence, moderate token
    * length, low punctuation density).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val meanTok = meanTokenLength(text)
    val tokScore = when(meanTok.between(3.0, 10.0), 1.0).otherwise(0.5)
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round(lenScore * 0.25 + punctPenalty * 0.25 + tokScore * 0.25 +
      stopScore * 0.25, 6)
  }

  // ------------------------------------------------------- language ID

  /** Per-language marker profiles: distinctive high-frequency function
    * words (n-gram heuristic). CJK is detected by codepoint class
    * first — marker words don't apply.
    */
  val LanguageMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "that"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "es" -> Seq("el", "los", "las", "una", "que", "por", "para", "con"),
    "fr" -> Seq("le", "les", "des", "une", "est", "dans", "pour", "sur"))

  /** Language ID: CJK-char share → zh; otherwise argmax of marker-word
    * hit counts (ties → earlier entry in [[LanguageMarkers]]); no hits
    * → "und" (undetermined). Pure per-row expression tree.
    */
  def languageId(text: Column): Column = {
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val toks = split(lower(trim(text)), "[\\s\\p{Punct}]+")
    // Argmax WITHOUT re-evaluating the scores: the old
    // greatest-fold + reversed when-chain referenced every score
    // ~5× — and codegen subexpression elimination does not count
    // occurrences inside conditional branches, so each reference
    // re-tokenized and re-scored the row (measured 8.3 s for a 50k-doc
    // scan that costs 0.2 s per score pass). Here each score is
    // computed exactly ONCE as an always-evaluated array element
    // (struct with a rank that makes max() break ties toward the
    // earlier marker entry — the documented tie rule), and a 4-element
    // aggregate fold picks the winner. The fold itself is a
    // CodegenFallback HOF, but over 4 tiny structs per row its cost is
    // noise next to one scoring pass.
    val n = LanguageMarkers.size
    val entries = LanguageMarkers.zipWithIndex.map { case ((lang, words), i) =>
      struct(memberCount(toks, words).as("s"),
        lit(n - i).as("r"), lit(lang).as("l"))
    }
    val best = aggregate(array(entries: _*),
      struct(lit(0).as("s"), lit(n + 1).as("r"), lit("und").as("l")),
      (acc, x) => when(x.getField("s") > acc.getField("s") ||
          (x.getField("s") === acc.getField("s") &&
            x.getField("r") > acc.getField("r")), x).otherwise(acc))
    when(cjk.cast("double") / greatest(length(text), lit(1)).cast("double") > 0.05,
      lit("zh")).otherwise(best.getField("l"))
  }

  // --------------------------------------------------------- redaction

  /** PII redaction — the scrub step a training corpus runs before
    * anything else ships: emails, dashed/dotted phone numbers, and
    * IPv4 literals replaced by typed placeholder tags. Patterns are
    * deliberately RE2-compatible (no lookaround, no backrefs) so the
    * exact same regexes run in Spark (Java regex) and any RE2 engine
    * (the DuckDB oracle) — and the expressions stay codegen'd.
    * Order matters: emails first (their domains contain dot-runs the
    * IP pattern could nibble), then phones, then bare IPs.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
  val Ipv4Pattern = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        PhonePattern, "[PHONE]"),
      Ipv4Pattern, "[IP]")

  // ----------------------------------------------------- fingerprinting

  /** Canonical text normalization (lowercase, punctuation stripped,
    * whitespace collapsed) — the ONE definition [[fingerprint]],
    * exact-dedup and [[CorpusReport]]'s dup rate all key on; they must
    * agree or "duplicate" means different things in different ops.
    */
  def normalized(text: Column): Column =
    regexp_replace(
      regexp_replace(lower(text), "[\\p{Punct}]", ""), "\\s+", " ")

  /** 64-bit document fingerprint: xxhash64 of the normalized text
    * (lowercase, collapsed whitespace, stripped punctuation). Exact-
    * duplicate detection key — normalization-insensitive.
    */
  def fingerprint(text: Column): Column = xxhash64(normalized(text))

  /** Word n-gram shingles (the unit of near-dup detection): sliding
    * windows of `n` tokens joined by single spaces, deduplicated.
    * transform(sequence(...)) keeps it inside codegen — no explode.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(lower(trim(text)), "[\\s\\p{Punct}]+")
    val count = size(toks)
    when(count < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(0), count - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }
}
