package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the engine on one production path. Sessions come from
  * `SparkEnv.session` (the driver-contract mains `Bench` and `Verify`
  * keep their own builders), and native kernels are checked for once,
  * in `SparkEnv` — a per-call `functionExists` / active-session probe
  * is how a composed-builtin second implementation creeps back in.
  * The `p_date` table layout is likewise Warehouse's alone.
  */
class SinglePathGuardSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => p.getFileName.toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  private def filesUsing(needle: String): Set[String] =
    sources.collect { case (f, text) if text.contains(needle) => f }.toSet

  test("the guard sees the engine sources") {
    assert(sources.exists(_._1 == "SparkEnv.scala"))
  }

  test("SparkSession.builder only in SparkEnv, Bench and Verify") {
    val extra = filesUsing("SparkSession.builder") --
      Set("SparkEnv.scala", "Bench.scala", "Verify.scala")
    assert(extra.isEmpty, s"session built outside SparkEnv: $extra")
  }

  test("kernel selection by catalog or active session only in SparkEnv") {
    Seq("catalog.functionExists", "getActiveSession").foreach { needle =>
      val extra = filesUsing(needle) - "SparkEnv.scala"
      assert(extra.isEmpty, s"$needle outside SparkEnv: $extra")
    }
  }

  test("the derived date-partition layout is known only to Warehouse") {
    val extra = filesUsing("DerivedDateCol") - "Warehouse.scala"
    assert(extra.isEmpty, s"DerivedDateCol outside Warehouse: $extra")
  }
}
