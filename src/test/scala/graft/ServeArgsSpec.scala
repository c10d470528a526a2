package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.SubmitSink

/** `Serve.parseArgs`, the whole command line of `graft.Serve`, on the
  * argument vectors `docker/entrypoint.sh` builds and on the ones it
  * must refuse. No Spark session is started.
  */
class ServeArgsSpec extends AnyFunSuite {

  private val Dirs = Seq("/d/spool", "/d/ckpt", "/d/submit", "/d/state")

  /** The arguments `docker/entrypoint.sh` hands `graft.Serve` under
    * `env`: it runs against a stub `spark-submit` that prints its
    * arguments, and what follows the application jar is Serve's. */
  private def entrypointArgs(env: (String, String)*): Seq[String] = {
    import scala.sys.process._
    val home = Files.createTempDirectory("graft-entrypoint")
    val stub = Files.createDirectories(home.resolve("bin"))
      .resolve("spark-submit")
    Files.writeString(stub, "#!/bin/bash\nprintf '%s\\n' \"$@\"\n")
    Files.setPosixFilePermissions(stub,
      PosixFilePermissions.fromString("rwxr-xr-x"))
    val dirs = Seq("GRAFT_SPOOL_DIR", "GRAFT_CHECKPOINT_DIR",
      "GRAFT_SUBMIT_DIR", "GRAFT_STATE_DIR").zip(Dirs)
    val out = Process(Seq("bash", "docker/entrypoint.sh"), None,
      (Seq("SPARK_HOME" -> home.toString) ++ dirs ++ env): _*).!!
    out.linesIterator.toSeq.dropWhile(_ != "/opt/graft/graft.jar").drop(1)
  }

  test("the vectors entrypoint.sh builds parse to its settings") {
    val cases = Seq(
      Seq.empty -> (false, SubmitSink.StateFirst),
      Seq("GRAFT_DEBUG" -> "1") -> (true, SubmitSink.StateFirst),
      Seq("GRAFT_ORDER" -> "submit-first") -> (false, SubmitSink.SubmitFirst),
      Seq("GRAFT_DEBUG" -> "true", "GRAFT_ORDER" -> "submit-first") ->
        (true, SubmitSink.SubmitFirst),
      Seq("GRAFT_ORDER" -> "state-first") -> (false, SubmitSink.StateFirst))
    cases.foreach { case (env, (debug, order)) =>
      val args = entrypointArgs(env: _*)
      assert(args.take(4) == Dirs, s"$env: $args")
      assert(Serve.parseArgs(args) ==
        Serve.Args(Dirs(0), Dirs(1), Dirs(2), Dirs(3), debug, order),
        s"$env: $args")
    }
  }

  test("flags parse in any position") {
    assert(Serve.parseArgs(Seq("--order", "submit-first", "a", "b",
      "--debug", "c", "d")) ==
      Serve.Args("a", "b", "c", "d", true, SubmitSink.SubmitFirst))
  }

  test("a bad command line is refused, never read as StateFirst") {
    val refused = Seq(
      (Dirs :+ "--order") -> "--order needs a value",
      Dirs ++ Seq("--order", "at-most-once") -> "got 'at-most-once'",
      Dirs ++ Seq("--order", "--debug") -> "got '--debug'",
      (Dirs :+ "--verbose") -> "unknown flag '--verbose'",
      Dirs.take(3) -> "want 4 directories, got 3",
      (Dirs :+ "/d/extra") -> "want 4 directories, got 5")
    refused.foreach { case (args, why) =>
      val e = intercept[IllegalArgumentException](Serve.parseArgs(args))
      assert(e.getMessage.contains(why) && e.getMessage.contains("usage:"),
        s"$args: ${e.getMessage}")
    }
  }
}
