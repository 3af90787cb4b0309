package graft.plans

import graft.SparkSpec
import graft.core.SparkEnv
import org.apache.spark.sql.catalyst.expressions.Literal

/** The single registration point: every kernel `GraftExtensions`
  * lists is callable by name in an engine session, every builder
  * rejects a wrong argument shape with its `usage:` message, and a
  * session started without the extension is refused.
  */
class GraftExtensionsSpec extends SparkSpec {

  private val names = GraftExtensions.functions.map(_.name)

  test("every listed kernel resolves in the SparkEnv session") {
    assert(names.distinct.size === names.size, "duplicate kernel names")
    val missing = names.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not registered: $missing")
  }

  test("every builder rejects a wrong argument shape with its usage") {
    // no kernel takes zero or four arguments
    val shapes = Seq(Nil, Seq.fill(4)(Literal(1)))
    GraftExtensions.functions.foreach { f =>
      shapes.foreach { args =>
        val e = intercept[IllegalArgumentException](f.build(args))
        assert(e.getMessage === s"usage: ${f.usage}")
        assert(f.usage.startsWith(s"${f.name}("))
      }
    }
  }

  test("a usage error surfaces through SQL") {
    val e = intercept[Exception](
      spark.sql("SELECT minhash_slots(array(1L), 'k')").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(
        "usage: minhash_slots(array<bigint>, <int literal k>)")))
  }

  test("a session started without the extension is refused, naming the key") {
    Seq("", "other.Ext", "graft.plans.GraftExtensionsX").foreach { conf =>
      val e = intercept[IllegalStateException](SparkEnv.requireKernels(conf))
      assert(e.getMessage.contains(
        "spark.sql.extensions=graft.plans.GraftExtensions"))
    }
    SparkEnv.requireKernels("other.Ext, graft.plans.GraftExtensions")
    // the engine session itself was started with it
    SparkEnv.requireKernels(
      spark.sparkContext.getConf.get("spark.sql.extensions", ""))
  }
}
