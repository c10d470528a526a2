package graft.streaming

import java.io.IOException
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** The reference pipeline writes its two sinks — the feature submit
  * (K1) and the entity-state persist (K2) — in OPPOSITE orders on
  * its two invocation paths, which gives the paths opposite crash
  * semantics (reference `task.ts`, SURVEY §3.1/§3.2):
  *
  *  - refresh path: `submit` THEN state write (`task.ts:235` before
  *    `237-242`) — a crash between them leaves the state un-advanced,
  *    so the batch is re-processed and RE-SENT: at-least-once, never
  *    a loss, duplicates possible ([[SubmitSink.SubmitFirst]]);
  *  - webhook path: state write THEN `submit` (`task.ts:149` before
  *    `151`) — the state says "processed", so the replay is guarded
  *    off and the submit that never happened is LOST: at-most-once,
  *    never a duplicate ([[SubmitSink.StateFirst]]).
  *
  * Spark-first translation for a `foreachBatch` sink: the submit is
  * an append-mode parquet write, the state a keyed processed-log
  * append, and on [[SubmitSink.StateFirst]] the submit is
  * state-GUARDED: a batch row whose key the log already holds is
  * dropped (the guard is what makes the state-first ordering mean
  * something on replay, exactly like the webhook's
  * upsert-before-submit). A failure between the two writes is
  * injectable via `failpoint` so the semantics are testable
  * (SinkOrderingSpec kills both orders there and pins re-send vs
  * loss).
  *
  * One instance per streaming query owns the whole micro-batch, as
  * the reference's webhook handler loads its keyed state once,
  * upserts it in memory and then persists and submits
  * (`task.ts:145-151`). [[write]]:
  *  - collects the batch once, narrowed to one partition (no
  *    shuffle; the batches this path sees are small, see `Serve`);
  *  - keeps the first row of each key, on the driver;
  *  - on [[SubmitSink.StateFirst]], also drops the keys of its
  *    processed-key set. The set is read from the committed log on
  *    the first batch, one Spark job, and none when the log has no
  *    committed file yet. It gains a batch's keys only after that
  *    batch's state write has returned, so it never holds a key the
  *    log lacks, and it lives as long as the sink: a restarted query
  *    makes a new sink, which reads the log again. One sink per
  *    state log: a second writer to the same log while a query runs
  *    would go unseen;
  *  - writes both files on the driver through [[SubmitSink.writeParquet]].
  *
  * Job shape: 1 Spark job a batch in either order, and 2 on the
  * [[SubmitSink.StateFirst]] batch that loads the key set. The writes
  * go through Spark's own parquet writer: one file per write, with
  * the schema and row metadata a `DataFrameWriter` append writes, and
  * no `_SUCCESS` marker (nothing reads one in these directories). A
  * crash in the middle of a write leaves a dot-prefixed
  * `.part-….parquet.tmp` file, which the key-set load and every
  * parquet reader skip, so the write counts as not made; a crash
  * between the two writes is the ordering case above. Nothing reads
  * the state log after the load, so its cost per batch is O(batch),
  * not O(batches so far). No Spark write runs, so no `recacheByPath`
  * runs either (the hazard DESIGN.md's "recacheByPath loss" records):
  * a DataFrame cached over either directory does not see the new
  * files until it is re-read.
  *
  * Memory: the key set grows exactly as the log does, one entry per
  * distinct key. Measured with Spark's `SizeEstimator` on a set
  * loaded from 100,000 webhook `msg_key`s (`inreach-<id>@<ISO time>`,
  * 35 characters on average), it holds about 114 bytes a key: 11 MB
  * per 100,000 processed points. The log has no retention yet, so
  * neither has the key set.
  *
  * Not thread-safe: a streaming query runs its batches one at a time.
  */
final class SubmitSink(keyCol: String, order: SubmitSink.Order,
    submitDir: String, stateDir: String) {
  import SubmitSink._

  /** The processed keys of the state log; null until the first
    * [[StateFirst]] batch reads them. */
  private var processed: mutable.HashSet[Any] = null

  /** Keys held; 0 before the first load. */
  private[graft] def keysHeld: Int =
    if (processed == null) 0 else processed.size

  /** Write one micro-batch in this sink's order. `failpoint` runs
    * BETWEEN the two writes (default no-op). A null key never
    * matches, as in a join: every row with one passes.
    */
  def write(batch: DataFrame, failpoint: () => Unit = () => ()): Unit = {
    val spark = batch.sparkSession
    val field = batch.schema(keyCol)
    require(byValue(field.dataType),
      s"key '$keyCol' must be a string or integral column to be " +
        s"compared on the driver, got ${field.dataType.sql}")
    val k = batch.schema.fieldIndex(keyCol)
    val seen: collection.Set[Any] = order match {
      case SubmitFirst => Set.empty
      case StateFirst =>
        if (processed == null)
          processed = processedKeys(spark, stateDir, field)
        processed
    }
    val taken = mutable.HashSet.empty[Any]
    val rows = batch.coalesce(1).collect().toSeq.filter { r =>
      r.isNullAt(k) || { val key = r.get(k); !seen(key) && taken.add(key) }
    }
    def writeState(): Unit = writeParquet(spark, stateDir,
      StructType(Seq(field)), rows.map(r => Row(r.get(k))))
    def writeSubmit(): Unit =
      writeParquet(spark, submitDir, batch.schema, rows)
    order match {
      case SubmitFirst =>
        writeSubmit()
        failpoint()
        writeState()
      case StateFirst =>
        writeState()
        processed ++= taken
        failpoint()
        writeSubmit()
    }
  }
}

object SubmitSink {

  /** Which of the two writes goes first (see the class doc). */
  sealed trait Order
  /** Reference refresh ordering (`task.ts:235` → `242`):
    * at-least-once — crash between re-sends, never loses. */
  case object SubmitFirst extends Order
  /** Reference webhook ordering (`task.ts:149` → `151`):
    * at-most-once — crash between loses the send, never duplicates. */
  case object StateFirst extends Order

  /** Key types whose JVM value equality is Spark's value equality:
    * integral numbers, and strings under the default (UTF8_BINARY)
    * collation. A binary or struct key would compare by reference on
    * the driver, so repeats in a batch and processed keys would both
    * pass: duplicate sends in either order.
    */
  private def byValue(t: DataType): Boolean = t match {
    case s: StringType => s.collationId == StringType.collationId
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Keys already persisted to the state log, empty when the log
    * holds no committed file yet. The existence check goes through
    * the session's Hadoop conf, so it resolves the same FileSystem as
    * the log read and the two writes. A driver-local
    * `java.nio.file.Files.exists` would be false for every
    * non-local stateDir (hdfs://, s3a://) and silently empty the
    * StateFirst key set, turning at-most-once into duplicate sends. A
    * real read error propagates for the same reason: "could not read
    * the log" must fail the batch, not masquerade as "nothing
    * processed yet".
    *
    * "Exists" means COMMITTED DATA FILES, not the directory: a crash
    * during the very first state write leaves the dir holding only
    * [[writeParquet]]'s dot-prefixed temporary file (or, from a Spark
    * write, `_temporary` scaffolding), and `spark.read.parquet` on
    * that throws "unable to infer schema" — which would crash-loop
    * the stream forever on replay. An uncommitted dir IS "nothing
    * processed yet"; only files outside the `_`/`.` marker namespace
    * count.
    *
    * The log is read with the batch's own key field as its schema
    * (the log holds nothing else), so no footer job runs before the
    * read. A key the log repeats (a [[SubmitFirst]] replay writes a
    * key twice) is held once; a null key never matches, as in a join.
    */
  private def processedKeys(spark: SparkSession, stateDir: String,
      keyField: StructField): mutable.HashSet[Any] = {
    val path = new Path(stateDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = fs.exists(path) &&
      fs.listStatus(path).exists { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val keys = mutable.HashSet.empty[Any]
    if (committed)
      spark.read.schema(StructType(Seq(keyField))).parquet(stateDir)
        .collect().foreach(r => if (!r.isNullAt(0)) keys += r.get(0))
    keys
  }

  /** Write `rows` to one new parquet file in `dir` on the driver,
    * through the writer Spark's write tasks run
    * (`ParquetFileFormat.prepareWrite` → `OutputWriterFactory`), so
    * the file's parquet schema and Spark row metadata are those a
    * `DataFrameWriter` append of the same schema writes. The file is
    * written under a dot-prefixed temporary name, which every parquet
    * reader (and [[processedKeys]]) skips, and then renamed to a
    * `part-` name; a failed rename throws, as a failed Spark write
    * does. No `_SUCCESS` marker is written. The FileSystem comes from
    * the session's Hadoop conf, as in [[processedKeys]].
    */
  private[graft] def writeParquet(spark: SparkSession, dir: String,
      schema: StructType, rows: Iterable[Row]): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID()}-c000" +
      factory.getFileExtension(ctx)
    val (tmp, out) = (new Path(dir, s".$name.tmp"), new Path(dir, name))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = factory.newInstance(tmp.toString, schema, ctx)
    try rows.foreach(r =>
      writer.write(toInternal(r).asInstanceOf[InternalRow]))
    finally writer.close()
    if (!out.getFileSystem(job.getConfiguration).rename(tmp, out))
      throw new IOException(s"could not rename $tmp to $out")
  }
}
