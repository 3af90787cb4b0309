package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Engine extensions, registered via
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Every session
  * the engine runs on carries them: [[graft.core.SparkEnv.session]]
  * sets the key and fails at session start when the kernels are
  * missing, so library code calls them unconditionally.
  *
  * This file is the ONE place a SQL-surface kernel is registered:
  * [[GraftExtensions.functions]] lists every name with its builder,
  * and [[GraftExtensions.apply]] injects exactly that list plus the
  * [[LargeInToSemiJoin]] optimizer rule (default-on above 8192 values;
  * kill switch `spark.graft.rewriteLargeIn=false`). Kernels that carry
  * a driver-built payload (broadcast filters, codebooks, chunk bounds
  * — [[BloomMightContainBcast]], [[PqEncode]], [[NearestCentroid]],
  * [[RangeChunkId]], [[LshSignatures]], [[CovPairSums]]) are built as
  * Columns by their callers and need no SQL name.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
    ext.injectOptimizerRule(spark => LargeInToSemiJoin(spark))
  }
}

object GraftExtensions {
  val ClassName = "graft.plans.GraftExtensions"

  /** One registered SQL function: `build` maps the call's arguments to
    * the expression, or throws `usage: <usage>` on any other shape. */
  final case class Kernel(name: String, cls: Class[_], usage: String,
      shape: PartialFunction[Seq[Expression], Expression]) {
    def build(children: Seq[Expression]): Expression =
      shape.applyOrElse(children, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(s"usage: $usage"))
  }

  val functions: Seq[Kernel] = Seq(
    Kernel("minhash_slots", classOf[MinHashSlots],
      "minhash_slots(array<bigint>, <int literal k>)", {
        case Seq(arr, Literal(k: Int, IntegerType)) => MinHashSlots(arr, k)
      }),
    Kernel("ngram_hashes", classOf[NgramHashes],
      "ngram_hashes(array<string>, <int literal n>)", {
        case Seq(arr, Literal(n: Int, IntegerType)) => NgramHashes(arr, n)
      }),
    Kernel("ngram_hashes_pos", classOf[NgramHashes],
      "ngram_hashes_pos(array<string>, <int literal n>)", {
        case Seq(arr, Literal(n: Int, IntegerType)) =>
          NgramHashes(arr, n, positional = true)
      }),
    // the probe set must be plan-time foldable: it is evaluated HERE
    // and baked into the expression as a sorted long[]
    Kernel("in_set_count", classOf[InSetCount],
      "in_set_count(array<bigint>, <foldable array<bigint>>)", {
        case Seq(arr, probes) if probes.foldable &&
            probes.dataType.isInstanceOf[ArrayType] =>
          InSetCount(arr,
            probes.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq)
      }),
    Kernel("simhash64", classOf[SimHash64], "simhash64(array<bigint>)", {
      case Seq(arr) => SimHash64(arr)
    }),
    Kernel("int8_quantize", classOf[Int8Quantize],
      "int8_quantize(array<float|double>)", {
        case Seq(arr) => Int8Quantize(arr)
      }),
    Kernel("int8_cosine", classOf[Int8Cosine],
      "int8_cosine(array<tinyint>, array<tinyint>)", {
        case Seq(a, b) => Int8Cosine(a, b)
      }),
    Kernel("vec_cosine", classOf[VecCosine],
      "vec_cosine(array<float|double>, array<float|double>)", {
        case Seq(a, b) => VecCosine(a, b)
      }),
    Kernel("jaccard_sorted", classOf[JaccardSorted],
      "jaccard_sorted(array<bigint>, array<bigint>)", {
        case Seq(a, b) => JaccardSorted(a, b)
      }),
    Kernel("space_saving_topk", classOf[SpaceSavingTopK],
      "space_saving_topk(col, <int literal k>)", {
        case Seq(c, Literal(k: Int, IntegerType)) => SpaceSavingTopK(c, k)
      }),
    Kernel("bottom_k_sample", classOf[BottomKSample],
      "bottom_k_sample(value, priority, <int literal k>)", {
        case Seq(v, p, Literal(k: Int, IntegerType)) => BottomKSample(v, p, k)
      }),
    Kernel("cms_query", classOf[CmsQuery], "cms_query(sketch_binary, key)", {
      case Seq(sketch, key) => CmsQuery(sketch, key)
    }),
    Kernel("bloom_agg", classOf[BloomAggregate],
      "bloom_agg(col, <integer literal expectedItems>)", {
        case Seq(c, Literal(n: Long, LongType)) => BloomAggregate(c, n)
        case Seq(c, Literal(n: Int, IntegerType)) => BloomAggregate(c, n.toLong)
      }),
    Kernel("jaro_winkler", classOf[JaroWinklerSim], "jaro_winkler(string, string)", {
      case Seq(a, b) => JaroWinklerSim(a, b)
    }),
    Kernel("bloom_might_contain", classOf[BloomMightContain],
      "bloom_might_contain(filter_binary, key)", {
        case Seq(bf, key) => BloomMightContain(bf, key)
      }),
    Kernel("profile_col", classOf[ColumnProfileAgg], "profile_col(col)", {
      case Seq(c) => ColumnProfileAgg(c)
    }))
}
