package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the keyed fold is written once. Every streaming twin
  * goes through `graft.streaming.KeyedFold`; the only other
  * group-state operator is `TrackStream.latestWithTtl`, which needs
  * Update mode and an event-time timeout. A new twin that copies the
  * `groupByKey` → `flatMapGroupsWithState` wiring fails here.
  */
class KeyedFoldLintSpec extends AnyFunSuite {

  private val call = """\.(flatMap|map)GroupsWithState\b""".r

  test("flatMapGroupsWithState is called only by KeyedFold and latestWithTtl") {
    val root = Paths.get("src/main/scala")
    val sites = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) =>
        root.relativize(p).toString ->
          call.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).size)
      .filter(_._2 > 0).toMap
    assert(sites == Map(
      "graft/streaming/KeyedFold.scala" -> 1,
      "graft/streaming/TrackStream.scala" -> 1),
      s"group-state call sites outside the fold helper: $sites")
  }
}
