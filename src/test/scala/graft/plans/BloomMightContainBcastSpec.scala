package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `BloomMightContainBcast` — the broadcast-handle probe behind
  * `ScaleJoins.bloomPruned` and the triangle wedge prune. Its two
  * evaluation paths must agree bit for bit: interpreted `eval` runs
  * whenever a plan falls out of whole-stage codegen, generated code
  * otherwise, and a disagreement would make pruning depend on the
  * plan shape. Both must honour the builder's `put(Object)` dispatch
  * (strings as UTF-8 bytes, integrals as longs), so nothing that was
  * put in ever probes false.
  */
class BloomMightContainBcastSpec extends SparkSpec {
  import spark.implicits._

  /** (interpreted, generated) probe results for `keys` (internal
    * representation, `null` allowed) against `bf`. */
  private def bothPaths(bf: BloomFilter, dt: DataType,
      keys: Seq[Any]): (Seq[Any], Seq[Any]) = {
    val expr = BloomMightContainBcast(BoundReference(0, dt, nullable = true),
      spark.sparkContext.broadcast(bf))
    val gen = GenerateUnsafeProjection.generate(Seq(expr))
    val rows = keys.map(k => InternalRow(k))
    (rows.map(r => expr.eval(r)),
      rows.map { r =>
        val out = gen(r)
        if (out.isNullAt(0)) null else out.getBoolean(0)
      })
  }

  private def check(bf: BloomFilter, dt: DataType, inserted: Seq[Any],
      others: Seq[Any]): Unit = {
    val (interp, codegen) = bothPaths(bf, dt, inserted ++ others :+ null)
    assert(interp === codegen, s"$dt: interpreted and generated probes differ")
    assert(interp.take(inserted.size).forall(_ == true),
      s"$dt: an inserted key probed false (false negative)")
    assert(interp.last == null, s"$dt: a null key must probe null")
  }

  test("string, bigint and int keys: eval ≡ codegen, no false negatives") {
    val strs = (1 to 400).map(i => s"key_$i")
    check(strs.toDF("k").stat.bloomFilter("k", 400, 0.01), StringType,
      strs.map(UTF8String.fromString),
      (1 to 400).map(i => UTF8String.fromString(s"other_$i")))

    val longs = (1L to 400L).map(_ * 7919L)
    check(longs.toDF("k").stat.bloomFilter("k", 400, 0.01), LongType,
      longs, (1L to 400L).map(_ * 7919L + 1L))

    // int keys go into the filter through the builder's putLong
    // widening, so the int probe must widen the same way
    val ints = (1 to 400).map(_ * 31)
    check(ints.toDF("k").stat.bloomFilter("k", 400, 0.01), IntegerType,
      ints, (1 to 400).map(_ * 31 + 1))
  }

  test("an empty filter probes false on both paths") {
    val empty = BloomFilter.create(1000, 0.01)
    Seq[(DataType, Seq[Any])](
      StringType -> Seq(UTF8String.fromString("a"), UTF8String.fromString("")),
      LongType -> Seq(0L, -1L, Long.MaxValue),
      IntegerType -> Seq(0, 1, Int.MinValue)).foreach { case (dt, keys) =>
      val (interp, codegen) = bothPaths(empty, dt, keys)
      assert(interp === codegen)
      assert(interp.forall(_ == false), s"$dt: empty filter admitted a key")
    }
  }

  test("a filter capped by spark.graft.bloom.maxBits keeps every key") {
    val key = "spark.graft.bloom.maxBits"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    try {
      val bits = BloomMightContainBcast.cappedNumBits(spark, 100000L, 0.01)
      assert(bits === 1024L)
      // 5000 keys in 1024 bits: saturated, so false positives abound,
      // but a capped filter must still never drop an inserted key
      val keys = (1L to 5000L).map(_ * 104729L)
      val bf = keys.toDF("k").stat.bloomFilter("k", 100000L, bits)
      assert(bf.bitSize() === 1024L)
      check(bf, LongType, keys, (1L to 500L).map(_ * 104729L + 3L))
      // and through the Column probe on a DataFrame, codegen'd plan
      val hits = keys.toDF("k")
        .filter(BloomMightContainBcast.probe(spark, bf, $"k")).count()
      assert(hits === keys.size)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
