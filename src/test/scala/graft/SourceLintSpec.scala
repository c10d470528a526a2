package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lints over `src/main/scala`: patterns that may appear only
  * at named sites, so a copy of wiring that has one home fails here.
  */
class SourceLintSpec extends AnyFunSuite {

  /** Files (relative to `src/main/scala`) matching `re`, with their
    * match counts. */
  private def sites(re: scala.util.matching.Regex): Map[String, Int] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) =>
        root.relativize(p).toString ->
          re.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).size)
      .filter(_._2 > 0).toMap
  }

  // The keyed fold is written once. Every streaming twin goes through
  // `graft.streaming.KeyedFold`; the only other group-state operator
  // is `TrackStream.latestWithTtl`, which needs Update mode and an
  // event-time timeout. A new twin that copies the `groupByKey` →
  // `flatMapGroupsWithState` wiring fails here.
  test("flatMapGroupsWithState is called only by KeyedFold and latestWithTtl") {
    val found = sites("""\.(flatMap|map)GroupsWithState\b""".r)
    assert(found == Map(
      "graft/streaming/KeyedFold.scala" -> 1,
      "graft/streaming/TrackStream.scala" -> 1),
      s"group-state call sites outside the fold helper: $found")
  }

  // GraftExtensions is the one registration path: no imperative
  // `spark.experimental` strategies/rules and no temp functions, which
  // would change a shared session mid-run and drift from the extension.
  test("graft registers into a session only through GraftExtensions") {
    val found = sites("""spark\.experimental|createOrReplaceTempFunction""".r)
    assert(found.isEmpty, s"registration outside GraftExtensions: $found")
  }

  // Nothing in the program starts a child process: a fork per call is
  // the cost NioLocalFs takes out of Hadoop's local filesystem.
  test("no source file starts a child process") {
    val found = sites(("""ProcessBuilder|sys\.process|""" +
      """Runtime\.getRuntime\.exec|org\.apache\.hadoop\.util\.Shell""").r)
    assert(found.isEmpty, s"process spawns: $found")
  }

  // `file:` is rebound in one place, per session (NioLocalFs.install);
  // a SparkContext-wide or second copy of the keys fails here.
  test("the file: filesystem keys are set only by NioLocalFs.install") {
    val found = sites(""""fs\.(AbstractFileSystem\.)?file\.impl"""".r)
    assert(found == Map("graft/NioLocalFs.scala" -> 2),
      s"file: filesystem keys outside NioLocalFs.install: $found")
  }

  // md5 has one owner (BloomHash): the sketches, the stream twins'
  // prefix hashes and the LSH planes digest through it, so the
  // engine-portable recipe cannot drift between copies.
  test("MessageDigest appears only in BloomExpressions.scala") {
    val found = sites("""MessageDigest""".r)
    assert(found.keySet == Set("graft/plans/BloomExpressions.scala"),
      s"md5 digests outside BloomHash: $found")
  }

  // The shingle → signature → band pipeline has one owner (Dedup):
  // batch, index and stream band through it, so a doc bands alike on
  // every path.
  test("Sketches.minhashSignature( is called only in Dedup.scala") {
    val found = sites("""Sketches\.minhashSignature\(""".r)
    assert(found == Map("graft/operators/Dedup.scala" -> 1),
      s"MinHash signatures outside Dedup: $found")
  }

  // The cosine has one kernel (CosineSimExpr), built by the Column
  // entry point (VectorFunctions) and the SQL function registration;
  // an operator that builds its own cannot drift from the null rule.
  test("CosineSimExpr( is constructed only in VectorFunctions and GraftExtensions") {
    val found = sites("""(?<!class )\bCosineSimExpr\(""".r)
    assert(found.keySet == Set("graft/functions/VectorFunctions.scala",
      "graft/GraftExtensions.scala"),
      s"cosine kernels built outside the entry points: $found")
  }

  // One MinHash / SimHash family: the md5-portable sketches.
  test("minhashSignature and simhash64 are defined only in SketchExpressions.scala") {
    val found = sites("""def (minhashSignature|simhash64)\b""".r)
    assert(found == Map("graft/plans/SketchExpressions.scala" -> 2),
      s"second sketch family: $found")
  }

  // Spark's file source is the one streaming reader of a directory:
  // it tracks the paths it has read, so a file is read once whatever
  // its name sorts after, and it supports spool cleanup. A DSv2
  // micro-batch stream over the same files fails here.
  test("no source implements a DSv2 micro-batch stream") {
    val found = sites("""MicroBatchStream|MICRO_BATCH_READ""".r)
    assert(found.isEmpty, s"DSv2 micro-batch streams: $found")
  }

  /** SubmitSink.scala without its comments. */
  private def sinkCode: String = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/streaming/SubmitSink.scala")), "UTF-8")
    .replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("""//[^\n]*""", "")

  // The StateFirst sink keeps its processed keys on the driver: the
  // state log is read in one place (the key load), and nothing is
  // cached or checkpointed, because no plan after the load reads it.
  test("SubmitSink reads the state log once and neither persists nor checkpoints") {
    assert("""localCheckpoint|persist|\.cache\(""".r.findAllIn(sinkCode).isEmpty,
      "SubmitSink caches or cuts lineage")
    assert("""\.read\.""".r.findAllIn(sinkCode).size == 1,
      "SubmitSink reads the state log outside the key load")
  }

  // The sink writes its two files on the driver (SubmitSink.writeParquet),
  // so a batch costs one Spark job; a DataFrameWriter call would bring
  // back one job per write.
  test("SubmitSink makes no DataFrameWriter call") {
    assert("""\.write\s*\.""".r.findAllIn(sinkCode).isEmpty,
      "SubmitSink writes through a DataFrameWriter")
  }
}
