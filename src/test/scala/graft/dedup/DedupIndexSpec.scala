package graft.dedup

import graft.SparkSpec
import graft.store.Warehouse
import org.apache.spark.sql.functions._
import java.nio.file.Files

class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while " +
    "rain falls softly on the quiet meadow and birds sing in the trees"
  private def doc(i: Long, text: String) = (i, text)

  test("build self-dedups; update finds cross-batch dups without re-pairing the archive") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dix").toString)
    val batch1 = Seq(
      doc(1, base),
      doc(2, base + " extra trailing words here"), // near-dup of 1
      doc(3, "completely different content about spark query planning " +
        "and distributed shuffle execution strategies at large scale"))
      .toDF("doc_id", "text")
    val pairs1 = DedupIndex.build(wh, "dix", batch1, "doc_id", "text",
      threshold = 0.5)
    assert(pairs1.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      === Set((1L, 2L)))

    // batch 2: one near-dup of archived doc 1, one internal dup pair, one novel
    val batch2 = Seq(
      doc(10, base + " with a small tail change"),
      doc(11, "novel text that matches nothing else in any batch at all " +
        "because every single shingle here is unique to this document"),
      doc(12, "novel text that matches nothing else in any batch at all " +
        "because every single shingle here is unique to this document too"))
      .toDF("doc_id", "text")
    val pairs2 = DedupIndex.update(wh, "dix", batch2, "doc_id", "text",
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // cross-batch and intra-batch dups found; NO old×old pair re-emitted
    assert(pairs2.contains((1L, 10L)), s"cross-batch dup missing: $pairs2")
    assert(pairs2.contains((11L, 12L)), s"intra-batch dup missing: $pairs2")
    assert(!pairs2.contains((1L, 2L)), s"archive re-paired: $pairs2")
    assert(pairs2.forall { case (a, b) => a >= 10 || b >= 10 })

    // the index grew: a third batch still sees batch-2 docs
    val batch3 = Seq(doc(20, base + " with a small tail change too"))
      .toDF("doc_id", "text")
    val pairs3 = DedupIndex.update(wh, "dix", batch3, "doc_id", "text",
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs3.contains((10L, 20L)), s"batch-2 doc not indexed: $pairs3")
  }

  test("replaying a batch is idempotent: nothing re-inserted, nothing re-paired") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dix3").toString)
    val batch1 = Seq(doc(1, base), doc(2, base + " extra tail words here"))
      .toDF("doc_id", "text")
    DedupIndex.build(wh, "dix", batch1, "doc_id", "text", threshold = 0.5)
    val bandRows = wh.read("dix__bands").count()
    val shingleRows = wh.read("dix__shingles").count()
    // replay the same batch (the natural crash recovery)
    val replay = DedupIndex.update(wh, "dix", batch1, "doc_id", "text",
      threshold = 0.5)
    assert(replay.count() === 0, "replay must not re-pair indexed docs")
    assert(wh.read("dix__bands").count() === bandRows)
    assert(wh.read("dix__shingles").count() === shingleRows)
    // a genuinely new doc in a mixed replay batch still pairs
    val mixed = batch1.union(Seq(doc(3, base + " another small tail"))
      .toDF("doc_id", "text"))
    val pairs = DedupIndex.update(wh, "dix", mixed, "doc_id", "text",
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a == 3L || b == 3L })
  }

  test("crash repair: ids left shingles-only rerun fully, no duplicate shingles") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dix4").toString)
    DedupIndex.build(wh, "dix", Seq(doc(1, base)).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    // simulate a crash between the two appends: doc 2's SHINGLES landed
    // but its BANDS did not
    val batch2 = Seq(doc(2, base + " with one extra tail")).toDF("doc_id", "text")
    import graft.text.TextAnalysis
    wh.append("dix__shingles", batch2.select(col("doc_id").as("id"),
      Dedup.shingleHashes(col("text"), 5).as("shingles")))
    assert(wh.read("dix__bands").filter(col("id") === 2L).count() === 0)
    // replaying the batch repairs it: bands land, shingles NOT duplicated
    val pairsDf = DedupIndex.update(wh, "dix", batch2, "doc_id", "text",
      threshold = 0.5)
    // the repaired id is in both the rerun batch and the stored shingles
    // table; the verify lookup must still hold ONE row for it, or this
    // pair would emit twice (count, not set — a set hides duplicates)
    assert(pairsDf.count() === 1)
    val pairs = pairsDf.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
    assert(wh.read("dix__bands").filter(col("id") === 2L).count() > 0)
    assert(wh.read("dix__shingles").filter(col("id") === 2L).count() === 1)
  }

  test("incremental pairs match the one-shot incremental API on the same corpus") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dix2").toString)
    val corpus = (0L until 30L).map(i => doc(i,
      s"filler document number $i about topic ${i % 7} with ordinary " +
        s"words repeated across the corpus ${i % 3}")).toDF("doc_id", "text")
    val batch = Seq(
      doc(100, "filler document number 5 about topic 5 with ordinary " +
        "words repeated across the corpus 2")).toDF("doc_id", "text")
    DedupIndex.build(wh, "dix", corpus, "doc_id", "text", threshold = 0.6)
    val viaIndex = DedupIndex.update(wh, "dix", batch, "doc_id", "text",
      threshold = 0.6).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val oneShot = Dedup.minHashNearDupPairsIncremental(batch, corpus,
      "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaIndex === oneShot)
  }
}
