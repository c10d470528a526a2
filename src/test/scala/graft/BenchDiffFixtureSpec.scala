package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Exit-code gate for bench_diff.py against the committed artifact pair
  * under src/test/resources/bench/: an idle leg and a genuinely loaded
  * leg (probe 0.953 s, eff_cores 7.2 → 2.6). The loaded leg also
  * carries a `solo` map written by an older Bench; bench_diff must
  * ignore it, because the only solo re-measure of record is the manual
  * SPARK_GRAFT_ONLY run on an idle box. The fixtures are read-only
  * here; the one tampered variant is a temp copy.
  */
class BenchDiffFixtureSpec extends AnyFunSuite {

  private val fixtureDir = Paths.get("src/test/resources/bench")
  private val idle = fixtureDir.resolve("idle.json")
  private val loaded = fixtureDir.resolve("tripped_healed.json")
  private val om = new ObjectMapper()

  private def runDiff(prev: Path, curr: Path): (Int, String) = {
    val pb = new ProcessBuilder(
      "python3", "scripts/bench_diff.py", prev.toString, curr.toString)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    (code, out)
  }

  private def assertSuppressed(prev: Path, curr: Path): Unit = {
    val (code, out) = runDiff(prev, curr)
    assert(code == 3, s"contended pair must exit 3, got $code:\n$out")
    assert(out.contains("CONTENDED") && out.contains("SPARK_GRAFT_ONLY"),
      s"must name the contention and the idle re-measure:\n$out")
  }

  test("loaded leg as curr: its legacy solo map is ignored (exit 3)") {
    assert(om.readTree(Files.readAllBytes(loaded)).has("solo"),
      "the loaded fixture must still carry its legacy solo map")
    assertSuppressed(idle, loaded)
  }

  test("loaded leg as prev exits 3") {
    assertSuppressed(loaded, idle)
  }

  test("idle vs idle is a clean pass (exit 0)") {
    val (code, out) = runDiff(idle, idle)
    assert(code == 0, s"clean identical pair must exit 0, got $code:\n$out")
    assert(out.contains("(1.000x)"), out)
  }

  test("a clean pair whose every query reads 3x exits 1") {
    // five queries skip the broad-front check (<20 comparable), so
    // the >2x common-subset total gate decides
    val root = om.readTree(Files.readAllBytes(idle)).asInstanceOf[ObjectNode]
    val qs = root.get("queries").asInstanceOf[ObjectNode]
    qs.fieldNames().asScala.toList.foreach(q =>
      qs.put(q, qs.get(q).asDouble * 3))
    val f = Files.createTempFile("bench_fixture_", ".json")
    f.toFile.deleteOnExit()
    Files.write(f, om.writeValueAsBytes(root))
    val (code, out) = runDiff(idle, f)
    assert(code == 1, s"3x clean regression must exit 1, got $code:\n$out")
    assert(out.contains("broad-front check: skipped"), out)
  }
}
