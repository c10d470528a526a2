package graft

import org.apache.spark.sql.DataFrame
import graft.streaming.SubmitSink

/** Crash-ordering parity for the two sink paths (SURVEY §3.1/§3.2):
  * the reference submits-then-persists on refresh (`task.ts:235` →
  * `242`) and persists-then-submits on webhook (`task.ts:149` →
  * `151`). This spec kills a checkpointed streaming query BETWEEN
  * the two writes in each order and pins the opposite failure
  * semantics: submit-first re-sends but never loses (at-least-once);
  * state-first never duplicates but loses the killed batch's send
  * (at-most-once).
  */
class SinkOrderingSpec extends SparkSpec {
  import spark.implicits._

  private case class Run(submitCounts: Map[Long, Long],
      stateKeys: Set[Long])

  /** Drive a file-source checkpointed query through: clean batch
    * {1,2} → crash between the writes on batch {3,4} → restart and
    * drain. Returns per-key submit counts and the state key set.
    */
  private def run(order: SubmitSink.Order): Run = {
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-sink-$p").toString
    val (srcDir, ckpt) = (tmp("src"), tmp("ckpt"))
    // parquet writers refuse a pre-existing dir only on overwrite;
    // append-mode creation is fine, so just name the paths
    val submitDir = tmp("submit") + "/out"
    val stateDir = tmp("state") + "/st"
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = spark.readStream
      .schema("entityId LONG, course DOUBLE")
      .json(srcDir)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        SubmitSink.processBatch(df, "entityId", order, submitDir,
          stateDir, () => if (crash.getAndSet(false))
            throw new RuntimeException("injected crash between writes"))
      }
      .option("checkpointLocation", ckpt).start()
    def feed(name: String, keys: Seq[Long]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(srcDir, name),
        keys.map(k => s"""{"entityId":$k,"course":${k * 10.0}}""")
          .mkString("\n").getBytes("UTF-8"))

    feed("a.json", Seq(1L, 2L))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    feed("b.json", Seq(3L, 4L))
    crash.set(true)
    val q2 = start()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q2.processAllAvailable())
    } finally q2.stop()
    assert(!crash.get(), "failpoint should have fired")

    val q3 = start() // recovery: offsets uncommitted → batch replays
    try q3.processAllAvailable() finally q3.stop()

    // a CLEAN batch after state already exists — the regression leg
    // for the recacheByPath loss: StateFirst's anti-joined batch
    // must survive its own state write (persist() did not — the
    // state append recomputed the cached plan against the
    // just-written keys and submitted EMPTY)
    feed("c.json", Seq(5L, 6L))
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()

    val submits = spark.read.parquet(submitDir)
      .groupBy($"entityId").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val state = spark.read.parquet(stateDir)
      .select($"entityId").distinct().as[Long].collect().toSet
    Run(submits, state)
  }

  test("submit-before-state (refresh, task.ts:235->242): crash re-sends, never loses") {
    val r = run(SubmitSink.SubmitFirst)
    // the clean batch went through once
    assert(r.submitCounts(1L) == 1 && r.submitCounts(2L) == 1)
    // the killed batch was submitted, crashed before the state
    // write, and REPLAYED: present (no loss) and duplicated
    assert(r.submitCounts(3L) == 2 && r.submitCounts(4L) == 2,
      s"expected the killed batch re-sent exactly twice: ${r.submitCounts}")
    assert(r.stateKeys == Set(1L, 2L, 3L, 4L, 5L, 6L),
      s"state must catch up on replay: ${r.stateKeys}")
    assert(r.submitCounts(5L) == 1 && r.submitCounts(6L) == 1,
      s"clean post-crash batch must submit once: ${r.submitCounts}")
  }

  test("state-before-submit (webhook, task.ts:149->151): crash loses, never duplicates") {
    val r = run(SubmitSink.StateFirst)
    assert(r.submitCounts(1L) == 1 && r.submitCounts(2L) == 1)
    // the state write landed before the crash, so the replay is
    // guarded off: the killed batch's submit never happens — lost
    // from the sink, exactly once in the state, zero duplicates
    assert(!r.submitCounts.contains(3L) && !r.submitCounts.contains(4L),
      s"state-first must NOT re-send after the state landed: " +
        s"${r.submitCounts}")
    assert(r.stateKeys == Set(1L, 2L, 3L, 4L, 5L, 6L),
      s"state should have recorded the killed batch: ${r.stateKeys}")
    // the clean batch AFTER state exists must flow — the
    // recacheByPath regression lost exactly this leg
    assert(r.submitCounts(5L) == 1 && r.submitCounts(6L) == 1,
      s"clean second batch lost (recacheByPath regression): " +
        s"${r.submitCounts}")
    assert(r.submitCounts.values.forall(_ == 1L),
      s"state-first must never duplicate: ${r.submitCounts}")
  }

  test("StateFirst: a state log with repeated keys across files drops each seen key, multiplies nothing") {
    // SubmitFirst leaves a key in the log more than once when a batch
    // replays after its state write landed; StateFirst reads that
    // log with no distinct and no schema inference, so pin both: a
    // seen key is dropped however often the log repeats it, a new
    // key submits once, and String keys (the webhook's msg_key)
    // read back under the batch's own key field
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-dupstate-$p").toString
    val stateDir = tmp("state") + "/st"
    def batch(ks: String*) =
      ks.map(k => (k, k.length.toDouble)).toDF("msg_key", "course")
    val replayed = tmp("replayed") + "/out"
    Seq(batch("a", "b"), batch("a", "b"), batch("b", "c")).foreach(
      SubmitSink.processBatch(_, "msg_key", SubmitSink.SubmitFirst,
        replayed, stateDir))
    val log = spark.read.parquet(stateDir)
    assert(log.inputFiles.length > 1 &&
      log.count() > log.distinct().count(),
      s"log should repeat keys across files: ${log.collect().toSeq}")

    val submitDir = tmp("submit") + "/out"
    SubmitSink.processBatch(batch("a", "b", "c", "d", "e"), "msg_key",
      SubmitSink.StateFirst, submitDir, stateDir)
    val sent = spark.read.parquet(submitDir)
      .select("msg_key").as[String].collect().sorted.toSeq
    assert(sent == Seq("d", "e"), s"submitted: $sent")
    val state = spark.read.parquet(stateDir)
      .groupBy("msg_key").count().as[(String, Long)].collect().toMap
    assert(state("d") == 1L && state("e") == 1L,
      s"new keys must be logged once: $state")
  }

  test("StateFirst: uncommitted state dir (crash during first write) reads as nothing-processed") {
    // a kill mid-way through the FIRST state write leaves the dir
    // existing with only _temporary scaffolding — replay must treat
    // that as an empty log (the batch flows), not crash-loop on
    // "unable to infer schema"
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-uncommitted-$p").toString
    val stateDir = tmp("state") + "/st"
    val submitDir = tmp("submit") + "/out"
    assert(new java.io.File(stateDir, "_temporary/0").mkdirs())
    val batch = Seq((1L, 10.0), (2L, 20.0))
      .toDF("entityId", "course")
    SubmitSink.processBatch(batch, "entityId",
      SubmitSink.StateFirst, submitDir, stateDir)
    assert(spark.read.parquet(submitDir).count() == 2,
      "batch must submit against an uncommitted state dir")
    assert(spark.read.parquet(stateDir).distinct().count() == 2)
  }

  test("StateFirst: a restarted query reads a new guard from the log and drops the previous run's keys") {
    // Serve.pipeline holds one guard per query; a restart is a new
    // query, so its guard must come from the log the last run wrote
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-restart-$p").toString
    val (srcDir, ckpt) = (tmp("src"), tmp("ckpt"))
    val submitDir = tmp("submit") + "/out"
    val stateDir = tmp("state") + "/st"
    def feed(name: String, keys: Seq[Long]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, name),
        keys.map(k => s"""{"entityId":$k}""").mkString("\n")
          .getBytes("UTF-8"))
    def drain(): SubmitSink.Guard = {
      val guard = new SubmitSink.Guard(stateDir)
      val q = spark.readStream.schema("entityId LONG").json(srcDir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          SubmitSink.processBatch(df, "entityId", SubmitSink.StateFirst,
            submitDir, stateDir, guard = Some(guard))
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      guard
    }
    feed("a.json", Seq(1L, 2L))
    assert(drain().size == 2)
    // a fresh checkpoint would replay a.json too; this one only sees
    // b.json, whose 2 was processed by the previous run
    feed("b.json", Seq(2L, 3L))
    assert(drain().size == 3)
    val sent = spark.read.parquet(submitDir).as[Long].collect().sorted.toSeq
    assert(sent == Seq(1L, 2L, 3L), s"submitted: $sent")
  }

  test("StateFirst: on one guard a key re-sent in a later batch is dropped without a log read") {
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-guard-$p").toString
    val stateDir = tmp("state") + "/st"
    val submitDir = tmp("submit") + "/out"
    val guard = new SubmitSink.Guard(stateDir)
    def batch(ks: String*) = ks.map(k => (k, 1.0)).toDF("msg_key", "course")
    SubmitSink.processBatch(batch("a", "b"), "msg_key",
      SubmitSink.StateFirst, submitDir, stateDir, guard = Some(guard))
    // take the log away: only the guard can still know "b"
    val log = new java.io.File(stateDir)
    assert(log.renameTo(new java.io.File(stateDir + ".moved")))
    SubmitSink.processBatch(batch("b", "c"), "msg_key",
      SubmitSink.StateFirst, submitDir, stateDir, guard = Some(guard))
    val sent = spark.read.parquet(submitDir)
      .select("msg_key").as[String].collect().sorted.toSeq
    assert(sent == Seq("a", "b", "c"), s"submitted: $sent")
    // the new log holds only what the second batch wrote
    assert(spark.read.parquet(stateDir).as[String].collect().toSeq ==
      Seq("c"))
  }

  test("StateFirst: a key twice in one batch and not in the log submits twice, with or without a guard") {
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-repeat-$p").toString
    def batch(ks: String*) = ks.map(k => (k, 1.0)).toDF("msg_key", "course")
    Seq(false, true).foreach { guarded =>
      val stateDir = tmp("state") + "/st"
      val submitDir = tmp("submit") + "/out"
      val guard = Some(new SubmitSink.Guard(stateDir)).filter(_ => guarded)
      Seq(batch("b"), batch("a", "a", "b")).foreach(
        SubmitSink.processBatch(_, "msg_key", SubmitSink.StateFirst,
          submitDir, stateDir, guard = guard))
      val sent = spark.read.parquet(submitDir)
        .select("msg_key").as[String].collect().sorted.toSeq
      assert(sent == Seq("a", "a", "b"), s"guarded=$guarded: $sent")
    }
  }

  test("StateFirst: a key the driver cannot compare by value is refused") {
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-keytype-$p").toString
    val binary = Seq((Array[Byte](1, 2), 1.0)).toDF("k", "course")
    val struct = Seq(((1, "x"), 1.0)).toDF("k", "course")
    Seq(binary, struct).foreach { b =>
      val e = intercept[IllegalArgumentException](
        SubmitSink.processBatch(b, "k", SubmitSink.StateFirst,
          tmp("submit") + "/out", tmp("state") + "/st"))
      assert(e.getMessage.contains("must be a string or integral column"),
        e.getMessage)
    }
  }
}
