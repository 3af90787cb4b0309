package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** `cms_query(sketch, key)` — point-frequency estimate from a
  * Count-Min sketch built by Spark's own `count_min_sketch(col, eps,
  * confidence, seed)` aggregate. The missing half of the built-in:
  * Spark ships the mergeable sketch BUILDER (partial-aggregated
  * map-side, O(depth·width) state per partition — the whole point at
  * 100 TB: a frequency summary with NO billion-key shuffle) but no
  * in-plan way to ASK the sketch anything; the binary blob is a dead
  * end without driver-side code. This expression deserializes the
  * sketch and answers `estimateCount` in-plan, so sketch-probe queries
  * stay declarative.
  *
  * Encoding contract (must mirror the builder,
  * `CountMinSketchAgg.update`): string keys were added as their UTF-8
  * bytes (`addBinary`), integral keys via `addLong` — so probe with
  * `byte[]` / long respectively. Verified empirically in CmsQuerySpec
  * (a lone key's estimate is EXACTLY its count when the sketch is
  * wide enough — any representation drift would read a wrong cell).
  *
  * CMS guarantees carried to the output: `est ≥ true` always;
  * `est ≤ true + eps·N` with probability ≥ confidence (Cormode &
  * Muthukrishnan, "An Improved Data Stream Summary: The Count-Min
  * Sketch and its Applications"). q_cms_counts contract-oracles both.
  *
  * Eval-only (CodegenFallback): the sketch argument is one aggregated
  * row — probing happens a handful of times per query, never in a
  * per-row hot path; a same-buffer cache skips re-deserialization when
  * one sketch row is probed for many keys.
  */
case class CmsQuery(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_query"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, StringType | LongType | IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"cms_query needs (binary sketch, string|bigint|int key), got ($l, $r)")
  }

  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedSketch: CountMinSketch = _

  private def sketchFor(bytes: Array[Byte]): CountMinSketch = {
    if (!(bytes eq cachedBytes)) {
      cachedSketch = CountMinSketch.readFrom(bytes)
      cachedBytes = bytes
    }
    cachedSketch
  }

  override def nullSafeEval(sketchBytes: Any, key: Any): Any = {
    val sketch = sketchFor(sketchBytes.asInstanceOf[Array[Byte]])
    key match {
      case s: UTF8String => sketch.estimateCount(s.getBytes)
      case l: java.lang.Long => sketch.estimateCount(l)
      case i: java.lang.Integer => sketch.estimateCount(java.lang.Long.valueOf(i.longValue()))
      case other => throw new IllegalArgumentException(
        s"cms_query: unsupported key $other")
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsQuery =
    copy(left = newLeft, right = newRight)
}

/** Column-API sugar for the sketch-build + sketch-probe pair. */
object Cms {
  /** Mergeable Count-Min build: `eps` relative error, `confidence`
    * the probability the `eps·N` bound holds, deterministic `seed`. */
  def sketch(key: Column, eps: Double, confidence: Double, seed: Int): Column =
    call_function("count_min_sketch", key, lit(eps), lit(confidence), lit(seed))

  /** Point estimate via the native `cms_query` kernel. */
  def query(sketch: Column, key: Column): Column =
    call_function("cms_query", sketch, key)
}
