package graft.plans

import graft.SparkSpec
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class VecCosineSpec extends SparkSpec {
  import spark.implicits._

  test("native vec_cosine is bit-identical to the composed-builtin form") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val n = 1 + rng.nextInt(96)
      (i, Array.fill(n)(rng.nextFloat() * 2 - 1),
        Array.fill(n)(rng.nextFloat() * 2 - 1))
    } :+ ((0, Array.fill(8)(0f), Array.fill(8)(1f))) // zero vector -> 0.0
    val df = rows.toDF("id", "a", "b").cache()
    val got = df.select($"id",
        call_function("vec_cosine", $"a", $"b").as("native"),
        Similarity.cosineComposed($"a", $"b").as("composed"))
      .collect()
    got.foreach { r =>
      // exact comparison: same accumulation order must mean same bits
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id ${r.getInt(0)}: native ${r.getDouble(1)} vs composed ${r.getDouble(2)}")
    }
    assert(got.find(_.getInt(0) == 0).get.getDouble(1) === 0.0)
  }

  test("Similarity.cosine dispatches to vec_cosine under GraftExtensions") {
    val plan = Similarity.cosine(col("a"), col("b")).toString
    assert(plan.contains("vec_cosine") || plan.contains("VecCosine"),
      s"expected native dispatch, got: $plan")
  }

  test("jaccard_sorted merge walk == composed array_intersect form") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      val a = Array.fill(1 + rng.nextInt(60))(rng.nextInt(40).toLong)
        .distinct.sorted
      val b = Array.fill(1 + rng.nextInt(60))(rng.nextInt(40).toLong)
        .distinct.sorted
      (i, a, b)
    } :+ ((0, Array.empty[Long], Array.empty[Long])) // both empty -> 0.0
    val df = rows.toDF("id", "a", "b").cache()
    val got = df.select($"id",
        call_function("jaccard_sorted", $"a", $"b").as("native"),
        graft.dedup.Dedup.jaccard($"a", $"b").as("composed"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id ${r.getInt(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    assert(got.find(_.getInt(0) == 0).get.getDouble(1) === 0.0)
  }

  test("shingleHashes output arrives sorted ascending (merge-walk precondition)") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "a b c", "x").toDF("t")
    val arrs = df.select(
        graft.dedup.Dedup.shingleHashes($"t", 3).as("sh"))
      .as[Seq[Long]].collect()
    arrs.foreach(a => assert(a === a.sorted, s"unsorted: $a"))
  }

  test("double arrays and mixed float/double inputs work") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0f, 0.0f, 1.0f)))
      .toDF("d", "f")
    val got = df.select(
      call_function("vec_cosine", $"d", $"f").as("c")).head().getDouble(0)
    val expect = 4.0 / (math.sqrt(14.0) * math.sqrt(2.0))
    assert(math.abs(got - expect) < 1e-15)
  }
}
