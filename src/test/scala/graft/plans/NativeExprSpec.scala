package graft.plans

import graft.SparkSpec
import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** The native expressions must agree with their composed-builtin
  * twins where the semantics are defined to be identical, and must
  * execute inside codegen.
  */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b c", "singletoken", "repeated repeated repeated words words")

  test("simhash64 native == composed for identical token hashes") {
    val df = texts.toDF("t")
    val both = df.select(
      Dedup.simHashColumn($"t").as("native"),
      Dedup.simHash($"t").as("composed"))
      .as[(Long, Long)].collect()
    both.foreach { case (n, c) => assert(n === c) }
  }

  test("ngram_hashes cardinality == string-shingle cardinality") {
    val df = texts.toDF("t")
    val sizes = df.select(
      size(Dedup.shingleHashes($"t", 3)).as("native_n"),
      size(TextAnalysis.wordShingles($"t", 3)).as("string_n"))
      .as[(Int, Int)].collect()
    sizes.foreach { case (n, s) => assert(n === s) }
  }

  test("ngram_hashes_pos: one hash per window in order; set form == sorted-distinct of it") {
    val df = texts.toDF("t")
      .select(split(trim($"t"), "\\s+").as("tk"))
    val rows = df.select(
      call_function("ngram_hashes_pos", $"tk", lit(3)).as("pos"),
      call_function("ngram_hashes", $"tk", lit(3)).as("set"),
      size($"tk").as("ntk"))
      .as[(Seq[Long], Seq[Long], Int)].collect()
    rows.foreach { case (pos, set, ntk) =>
      // positional length = max(ntk - n + 1, 1) — the wordGrams window rule
      assert(pos.length === math.max(ntk - 2, 1))
      // the sorted-distinct form is exactly the set of positional hashes
      assert(pos.distinct.sorted === set)
    }
    // window i hashes tokens [i, i+n): same text prefix -> same leading hashes
    val p = Seq("a b c d e", "a b c x y").toDF("t")
      .select(call_function("ngram_hashes_pos",
        split($"t", "\\s+"), lit(2)).as("h"))
      .as[Seq[Long]].collect()
    assert(p(0)(0) === p(1)(0)) // "a b"
    assert(p(0)(1) === p(1)(1)) // "b c"
    assert(p(0)(2) !== p(1)(2)) // "c d" vs "c x"
  }

  test("in_set_count == interpreted filter-count; tokenGramHash == kernel 1-gram hash") {
    // plan-time twin parity: hashing a token on the driver must equal
    // what ngram_hashes_pos emits for it on the executor
    val words = Seq("the", "and", "zebra", "", "éclair")
    val kernel = words.toDF("w")
      .select(call_function("ngram_hashes_pos", array($"w"), lit(1)).as("h"))
      .as[Seq[Long]].collect().map(_.head)
    words.zip(kernel).foreach { case (w, h) =>
      assert(NgramHashes.tokenGramHash(w) === h, s"token '$w'")
    }
    // membership count keeps duplicates and ignores non-members —
    // exactly size(filter(toks, t => t === w1 || ...))
    val stop = Seq("the", "and")
    val probes = array(stop.map(w => lit(NgramHashes.tokenGramHash(w))): _*)
    val df = Seq(
      "the cat and the dog and",  // the×2 and×2 -> 4
      "no matches here",          // 0
      "").toDF("t")
    val got = df.select(
      call_function("in_set_count",
        call_function("ngram_hashes_pos", split($"t", "\\s+"), lit(1)),
        probes).as("n"),
      size(filter(split($"t", "\\s+"),
        t => stop.foldLeft(lit(false))((acc, w) => acc || t === w))).as("ref"))
      .as[(Int, Int)].collect()
    got.foreach { case (n, ref) => assert(n === ref) }
    assert(got.head._1 === 4)
  }

  test("minhash_slots: identical inputs -> identical signature; supersets only lower minima") {
    val df = Seq(
      (1L, Seq(10L, 20L, 30L)),
      (2L, Seq(10L, 20L, 30L)),
      (3L, Seq(10L, 20L, 30L, 40L, 50L))
    ).toDF("id", "hashes")
    val sigs = df.select($"id",
      call_function("minhash_slots", $"hashes", lit(8)).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) === sigs(2L))
    // superset's minima can only be <= the subset's, slotwise
    sigs(3L).zip(sigs(1L)).foreach { case (sup, sub) => assert(sup <= sub) }
  }

  test("native expressions stay inside whole-stage codegen") {
    // needs a real file scan: LocalTableScan never codegens
    val dir = java.nio.file.Files.createTempDirectory("ne").toString
    texts.toDF("t").write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
      .select(Dedup.simHashColumn($"t").as("s"))
    val plan = graft.ops.EngineOps.explain(df, "codegen")
    assert(plan.contains("Found 1 WholeStageCodegen subtree"), plan.take(400))
  }

  test("generated code COMPILES — no silent interpreted fallback (fallback disabled)") {
    // A subtree existing is not enough: janino can reject the
    // generated source at runtime (e.g. a bare loop variable shadowing
    // an enclosing generated local — the pre-round-6 simhash64 bug)
    // and Spark silently degrades the stage to interpreted. With
    // fallback off, that degradation becomes a hard failure here.
    val dir = java.nio.file.Files.createTempDirectory("ne2").toString
    texts.toDF("t").write.parquet(s"$dir/t")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.read.parquet(s"$dir/t")
        .select(Dedup.simHashColumn($"t").as("sig"),
          Dedup.shingleHashes($"t", 3).as("grams"),
          call_function("ngram_hashes_pos",
            split(trim($"t"), "\\s+"), lit(3)).as("posgrams"))
      assert(df.collect().length === texts.length)
      // the full banding composition q_dedup_simhash runs
      val pairs = Dedup.simHashNearDupPairs(
        (texts ++ texts).zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "doc_id", "text", maxDistance = 3)
      assert(pairs.count() >= texts.length) // each duplicated text pairs
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
