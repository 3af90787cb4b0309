package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.{ScaleJoins, Warehouse}

/** Persistent MinHash-LSH dedup index — the stored form the
  * incremental pairing ([[Dedup.minHashNearDupPairsIncremental]])
  * documents: band tuples and shingle sets are computed ONCE per
  * document and land in warehouse tables, so deduping a new batch
  * against a 100 TB archive costs banding the batch plus two pruned
  * joins — the archive's text is never re-read, re-tokenized or
  * re-signed.
  *
  * Layout: `<name>__bands` (id, band_idx, band_key — 3 longs per band
  * per doc), `<name>__shingles` (id, shingles — the verification
  * sets), `<name>__params` (one row; updates must band with the same
  * family, so parameters live WITH the index, not in caller code).
  *
  * Scale posture per update: the index's bands scan is bloom-pruned
  * by the batch's own band keys BEFORE the candidate join (no false
  * negatives: every truly-matching bucket survives whole, so bucket
  * caps stay exact for every bucket the batch touches; false
  * positives only add stray tuples to other buckets). The shingles
  * scan is likewise pruned to candidate ids. Both prunes happen
  * inside the scan stage — non-matching archive rows never enter an
  * exchange.
  */
object DedupIndex {

  private def bandsTable(name: String) = s"${name}__bands"
  private def shinglesTable(name: String) = s"${name}__shingles"
  private def paramsTable(name: String) = s"${name}__params"

  final case class Params(shingleSize: Int, k: Int, bands: Int,
      maxBucketSize: Int)

  private def readParams(wh: Warehouse, name: String): Params = {
    val r = wh.read(paramsTable(name)).collect()
    require(r.length == 1, s"dedup index $name: corrupt params table")
    Params(r(0).getAs[Int]("shingle_size"), r(0).getAs[Int]("k"),
      r(0).getAs[Int]("bands"), r(0).getAs[Int]("max_bucket"))
  }

  /** Create the index from an initial corpus and return its internal
    * near-dup pairs (the one-time full self-dedup). */
  def build(wh: Warehouse, name: String, corpus: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 5, k: Int = 32, bands: Int = 16,
      threshold: Double = 0.6, maxBucketSize: Int = 100): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val spark = corpus.sparkSession
    import spark.implicits._
    val params = Seq((shingleSize, k, bands, maxBucketSize))
      .toDF("shingle_size", "k", "bands", "max_bucket")
    wh.createTable(paramsTable(name), params.schema, ifExists = "replace")
    wh.append(paramsTable(name), params)
    val empty = signAndBand(corpus.limit(0), idCol, textCol,
      Params(shingleSize, k, bands, maxBucketSize))
    wh.createTable(bandsTable(name), empty._1.schema, ifExists = "replace")
    wh.createTable(shinglesTable(name), empty._2.schema, ifExists = "replace")
    update(wh, name, corpus, idCol, textCol, threshold)
  }

  /** Shingle + sign + band one frame with the index's parameters.
    * Returns (bands df, shingles df). */
  private def signAndBand(df: DataFrame, idCol: String, textCol: String,
      p: Params): (DataFrame, DataFrame) = {
    val shingled = df.select(col(idCol).as("id"),
      Dedup.shingleHashes(col(textCol), p.shingleSize).as("shingles"))
    val banded = shingled
      .withColumn("sig", Dedup.minHashColumn(col("shingles"), p.k))
      .select(col("id"),
        posexplode(Dedup.lshBandKeys(col("sig"), p.bands, p.k / p.bands))
          .as(Seq("band_idx", "band_key")))
      .select(col("id"), col("band_idx"), col("band_key"))
    (banded, shingled)
  }

  /** Dedup a new batch against the index and fold it in: returns
    * ascending (id_a, id_b, jaccard ≥ threshold) pairs where at least
    * one side is new, then appends the batch's bands and shingles.
    * Ids must be globally unique across all updates.
    *
    * Crash/replay safety: membership is judged against the BANDS
    * table — the one appended LAST — so replaying a failed batch is
    * idempotent (fully-landed ids drop out) AND repairing: ids a crash
    * left with shingles but no bands still count as unprocessed, rerun
    * end-to-end, and complete their band rows. Their shingles append
    * is separately deduped against the shingles table so the repair
    * never double-inserts there either.
    *
    * `onPairs` (optional) persists the verified pairs BEFORE the
    * index appends — for sinks that must survive the same crash
    * window as the index itself (the streaming twin,
    * [[graft.streaming.StreamDedup]]). Ordering contract: pairs sink
    * → shingles → bands. A crash anywhere leaves the batch's ids out
    * of bands, so the replay recomputes the same deterministic pairs
    * — the sink must therefore be idempotent per (id_a, id_b) key.
    */
  def update(wh: Warehouse, name: String, newDocs: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.6,
      onPairs: DataFrame => Unit = _ => ()): DataFrame = {
    val p = readParams(wh, name)
    // membership = presence in BANDS (the table appended last): ids a
    // crash left shingles-only rerun here and get repaired
    val fresh = ScaleJoins.bloomPrunedAntiJoin(
      newDocs.select(col(idCol)),
      wh.read(bandsTable(name)).select(col("id").as(idCol)).distinct(),
      Seq(idCol), expectedItems = 1000000L)
      .join(newDocs, Seq(idCol))
    // materialize shingles ONCE, then signatures ONCE on top of them:
    // everything below (bloom build, candidate join, verify lookups,
    // both appends) reuses the checkpointed results — without this the
    // batch would be re-shingled+re-signed ~4 times
    val newShingles = fresh.select(col(idCol).as("id"),
      Dedup.shingleHashes(col(textCol), p.shingleSize)
        .as("shingles"))
      .localCheckpoint()
    val newBands = newShingles
      .withColumn("sig", Dedup.minHashColumn(col("shingles"), p.k))
      .select(col("id"),
        posexplode(Dedup.lshBandKeys(col("sig"), p.bands, p.k / p.bands))
          .as(Seq("band_idx", "band_key")))
      .select(col("id"), col("band_idx"), col("band_key"))
      .localCheckpoint()
    val nNew = newShingles.count()

    // archive bands, scan-pruned to the batch's band keys
    val oldBands = ScaleJoins.bloomPruned(
      newBands.select("band_idx", "band_key"), wh.read(bandsTable(name)),
      Seq("band_idx", "band_key"), expectedItems = math.max(nNew * p.bands, 1L))
    val unioned = newBands.withColumn("is_new", lit(true))
      .unionByName(oldBands.withColumn("is_new", lit(false)))
    val capped = unioned
      .withColumn("__bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_key"))))
      .filter(col("__bucket_n") <= p.maxBucketSize)
      .drop("__bucket_n")
    val newSide = capped.filter(col("is_new"))
      .select(col("band_idx"), col("band_key"), col("id").as("id_n"))
    val anySide = capped.select(col("band_idx"), col("band_key"),
      col("id").as("id_o"), col("is_new").as("o_new"))
    val candidates = newSide.join(anySide, Seq("band_idx", "band_key"))
      .filter(col("id_n") =!= col("id_o"))
      .filter(!col("o_new") || col("id_n") < col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()

    // verification shingles: the batch's own + the archive's, pruned
    // to candidate ids before the lookup joins
    val candIds = candidates.select(col("id_a").as("id"))
      .union(candidates.select(col("id_b").as("id"))).distinct()
    val oldShingles = ScaleJoins.bloomPruned(candIds,
      wh.read(shinglesTable(name)), Seq("id"),
      expectedItems = math.max(nNew * 4, 1L))
    // crash repair: an id the crash left shingles-only is in BOTH
    // newShingles (rerun) and the stored table — keep one row per id
    // (the fresh signing) or every pair touching it would emit twice
    val lookup = newShingles.unionByName(
      oldShingles.join(newShingles.select("id"), Seq("id"), "left_anti"))
    val pairs = candidates
      .join(lookup.select(col("id").as("id_a"), col("shingles").as("sh_a")),
        Seq("id_a"))
      .join(lookup.select(col("id").as("id_b"), col("shingles").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // composed (sort-insensitive) form on purpose: these arrays
        // come from the PERSISTED shingles table, which an index built
        // before sorted-shingle output would have stored unsorted
        Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // materialize BEFORE the index grows: the returned frame must
      // not re-plan over tables this update is about to append to
      .localCheckpoint()

    // pairs sink before any index append (see ordering contract above)
    onPairs(pairs)

    // shingles first, bands last (bands are the membership marker —
    // see crash/replay note). A crash-repair rerun re-derives shingles
    // for ids that already landed them, so dedupe this append.
    val shinglesToAppend = ScaleJoins.bloomPrunedAntiJoin(
      newShingles.select(col("id")),
      wh.read(shinglesTable(name)).select(col("id")),
      Seq("id"), expectedItems = 1000000L)
      .join(newShingles, Seq("id"))
    wh.append(shinglesTable(name), shinglesToAppend)
    wh.append(bandsTable(name), newBands)
    newShingles.unpersist()
    newBands.unpersist()
    pairs
  }
}
