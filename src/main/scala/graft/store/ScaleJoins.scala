package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-out join strategies (SURVEY §4 / the 100 TB posture):
  * bucketed co-located joins (no shuffle at query time) and salted
  * joins for skewed keys.
  */
object ScaleJoins {

  /** Write a table bucketed by join keys — repeated joins on those
    * keys then read both sides pre-partitioned and skip the exchange
    * entirely (the bucketing trade: one shuffle at write time buys
    * zero shuffles on every subsequent join).
    */
  def saveBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket keys. With matching
    * bucket counts Catalyst plans a SortMergeJoin with NO Exchange on
    * either side.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, keys: Seq[String],
      joinType: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys, joinType)

  /** Prune `big` to rows whose join key MIGHT appear in `small`,
    * using a bloom filter built over `small`'s keys — the explicit
    * form of Catalyst's runtime join filter, for when library code
    * knows the asymmetry up front (e.g. an ingest batch anti-joined
    * against the whole warehouse, [[graft.load.Loader.dedupAppend]]).
    *
    * Lossless for any equi-join on `keys`: blooms have no false
    * negatives, so every `big` row that can match a `small` key
    * survives; false positives (rate `fpp`) only pass extra rows to
    * the join. At 100 TB the win is shuffle volume — the filter is
    * evaluated inside `big`'s scan stage, so non-matching rows never
    * enter the exchange; with a 1% fpp, anti-joining a batch against
    * a warehouse shuffles ~|batch| + fpp·|warehouse| rows instead of
    * the whole table.
    *
    * Composite keys probe as one `xxhash64(keys…)` long on both sides
    * (a hash collision is just one more false positive). Probing uses
    * the native [[graft.plans.BloomMightContainBcast]] over a broadcast
    * filter. `expectedItems` sizes the filter — pass the small side's
    * (approximate) distinct key count.
    */
  def bloomPruned(small: DataFrame, big: DataFrame, keys: Seq[String],
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    require(keys.nonEmpty, "bloomPruned needs at least one key column")
    // single string/integral keys probe directly; anything else
    // (composite, timestamp, decimal…) folds to one xxhash64 long
    val direct = keys.size == 1 &&
      (small.schema(keys.head).dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType => true
        case _ => false
      })
    def probe(df: DataFrame) =
      if (direct) col(keys.head) else xxhash64(keys.map(col): _*)
    val keyed = small.select(probe(small).as("__bk"))
    // an empty key side admits nothing (stat.bloomFilter also NPEs on
    // zero rows); lossless because no big row can equi-match no keys
    if (keyed.isEmpty) return big.filter(lit(false))
    // identical filter construction as before (same bits ⇒ same false-
    // positive set ⇒ bit-identical results); only the CARRIER changed:
    // a broadcast handle instead of a plan literal, so the filter ships
    // once per executor rather than inside every stage's task binary
    val bf = keyed.stat.bloomFilter("__bk", math.max(expectedItems, 1L), fpp)
    big.filter(graft.plans.BloomMightContainBcast.probe(
      big.sparkSession, bf, probe(big)))
  }

  /** `small LEFT ANTI big` with the existing side bloom-pruned first:
    * identical result to the plain anti-join (no false negatives),
    * shuffle bounded by the batch size + the false-positive trickle.
    */
  def bloomPrunedAntiJoin(small: DataFrame, big: DataFrame,
      keys: Seq[String], expectedItems: Long, fpp: Double = 0.01): DataFrame =
    small.join(
      bloomPruned(small, big, keys, expectedItems, fpp)
        .select(keys.map(col): _*),
      keys, "left_anti")

  /** Salted equi-join for skewed keys: the big (skewed) side gets a
    * random salt in [0, saltFactor); the small side is exploded across
    * every salt value. The hot key's rows spread over `saltFactor`
    * reducers instead of one straggler. (AQE skew-join handles most
    * cases adaptively; explicit salting is for the pathological keys
    * AQE can't split, e.g. a single key larger than an executor.)
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      saltFactor: Int, joinType: String = "inner"): DataFrame = {
    require(saltFactor > 0)
    // The small side is replicated saltFactor times, so any join type
    // that emits UNMATCHED small-side rows (right/full outer) would
    // duplicate them once per salt — silently wrong results. Left
    // variants only ever emit small-side rows on a match.
    val allowed = Set("inner", "cross", "left", "leftouter", "left_outer",
      "leftsemi", "left_semi", "leftanti", "left_anti")
    require(allowed.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin supports inner/left join types only, got '$joinType' " +
        "(right/full outer would duplicate unmatched small-side rows " +
        s"$saltFactor times)")
    val saltedBig = big.withColumn("__salt",
      (rand(42) * saltFactor).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig.join(saltedSmall, keys :+ "__salt", joinType).drop("__salt")
  }
}
