package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** The reference pipeline writes its two sinks — the feature submit
  * (K1) and the entity-state persist (K2) — in OPPOSITE orders on
  * its two invocation paths, which gives the paths opposite crash
  * semantics (reference `task.ts`, SURVEY §3.1/§3.2):
  *
  *  - refresh path: `submit` THEN state write (`task.ts:235` before
  *    `237-242`) — a crash between them leaves the state un-advanced,
  *    so the batch is re-processed and RE-SENT: at-least-once, never
  *    a loss, duplicates possible ([[SubmitFirst]]);
  *  - webhook path: state write THEN `submit` (`task.ts:149` before
  *    `151`) — the state says "processed", so the replay is guarded
  *    off and the submit that never happened is LOST: at-most-once,
  *    never a duplicate ([[StateFirst]]).
  *
  * Spark-first translation for a `foreachBatch` sink: the submit is
  * an append-mode parquet write, the state a keyed processed-log
  * append, and on [[StateFirst]] the submit is state-GUARDED (an
  * anti-join against the processed log — the guard is what makes the
  * state-first ordering mean something on replay, exactly like the
  * webhook's upsert-before-submit). A failure between the two writes
  * is injectable via `failpoint` so the semantics are testable
  * (SinkOrderingSpec kills both orders there and pins re-send vs
  * loss). Everything is executor-side distributed I/O — no driver
  * collect; the anti-join broadcasts or shuffles by Catalyst's
  * choice over the processed-log size.
  *
  * Job shape of a [[StateFirst]] batch: while the processed log is
  * under the broadcast threshold, a batch runs 4 Spark jobs — the
  * state-keys broadcast, the `localCheckpoint`, the state write and
  * the submit write. Each job is a driver round trip that, at the
  * webhook's ~20-row batches, costs more than the work, so two
  * others are left out on purpose:
  *  - no schema inference: the log is read with the batch's own key
  *    field as its schema (the log holds nothing else), so no footer
  *    job runs before the plan is built;
  *  - no `distinct` on the log: a left-anti join keeps each batch row
  *    at most once however often its key repeats in the log (a
  *    [[SubmitFirst]] replay writes a key twice), so a distinct only
  *    added a shuffle stage.
  * A log past the threshold makes Catalyst shuffle both sides
  * instead; the guard stays correct, only the job count grows.
  */
object SubmitSink {

  /** Which of the two writes goes first (see object doc). */
  sealed trait Order
  /** Reference refresh ordering (`task.ts:235` → `242`):
    * at-least-once — crash between re-sends, never loses. */
  case object SubmitFirst extends Order
  /** Reference webhook ordering (`task.ts:149` → `151`):
    * at-most-once — crash between loses the send, never duplicates. */
  case object StateFirst extends Order

  /** Keys already persisted to the state log, or None when the log
    * doesn't exist yet. The existence check goes through the
    * session's Hadoop conf, so it resolves the same FileSystem as
    * the log read and the two writes. A driver-local
    * `java.nio.file.Files.exists` would be false for every
    * non-local stateDir (hdfs://, s3a://) and silently disable the
    * StateFirst anti-join guard, turning at-most-once into
    * duplicate sends. A real read error propagates for the same
    * reason: "could not read the log" must fail the batch, not
    * masquerade as "nothing processed yet".
    *
    * "Exists" means COMMITTED DATA FILES, not the directory: a crash
    * during the very first state write leaves the dir holding only
    * `_temporary` scaffolding (FileOutputCommitter creates the dir
    * at job setup), and `spark.read.parquet` on that throws
    * "unable to infer schema" — which would crash-loop the stream
    * forever on replay. An uncommitted dir IS "nothing processed
    * yet"; only files outside the `_`/`.` marker namespace count.
    */
  private def processedKeys(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, keyField: StructField): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(stateDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = fs.exists(path) &&
      fs.listStatus(path).exists { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    if (committed)
      Some(spark.read.schema(StructType(Seq(keyField))).parquet(stateDir))
    else None
  }

  /** Process one micro-batch with the chosen write ordering.
    * `failpoint` runs BETWEEN the two writes (default no-op).
    */
  def processBatch(batch: DataFrame, keyCol: String, order: Order,
      submitDir: String, stateDir: String,
      failpoint: () => Unit = () => ()): Unit = order match {
    case SubmitFirst =>
      batch.write.mode(SaveMode.Append).parquet(submitDir)
      failpoint()
      batch.select(col(keyCol)).write.mode(SaveMode.Append)
        .parquet(stateDir)
    case StateFirst =>
      // EAGER lineage cut, not persist(): the state write below runs
      // recacheByPath on stateDir, which recomputes any cached plan
      // that READS stateDir — a persist()'d anti-join re-evaluates
      // against the keys it just wrote and comes back EMPTY, so the
      // submit write silently loses every clean batch after the
      // first (caught by ServeSpec end-to-end; SinkOrderingSpec now
      // pins the clean-second-batch leg). localCheckpoint
      // materializes the anti-joined batch BEFORE the state write
      // and replaces the plan with the materialized partitions, so
      // nothing downstream can re-read stateDir. Executor loss
      // between the writes fails the batch → streaming retry →
      // replay is guarded off by the state log: still at-most-once.
      val fresh = processedKeys(batch.sparkSession, stateDir,
          batch.schema(keyCol))
        .fold(batch)(seen =>
          batch.join(seen, Seq(keyCol), "left_anti"))
        .localCheckpoint()
      fresh.select(col(keyCol)).write.mode(SaveMode.Append)
        .parquet(stateDir)
      failpoint()
      fresh.write.mode(SaveMode.Append).parquet(submitDir)
  }
}
