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
  *    a loss, duplicates possible ([[SubmitFirst]]);
  *  - webhook path: state write THEN `submit` (`task.ts:149` before
  *    `151`) — the state says "processed", so the replay is guarded
  *    off and the submit that never happened is LOST: at-most-once,
  *    never a duplicate ([[StateFirst]]).
  *
  * Spark-first translation for a `foreachBatch` sink: the submit is
  * an append-mode parquet write, the state a keyed processed-log
  * append, and on [[StateFirst]] the submit is state-GUARDED: a batch
  * row whose key the log already holds is dropped (the guard is what
  * makes the state-first ordering mean something on replay, exactly
  * like the webhook's upsert-before-submit). A failure between the
  * two writes is injectable via `failpoint` so the semantics are
  * testable (SinkOrderingSpec kills both orders there and pins
  * re-send vs loss).
  *
  * The guard is a [[Guard]]: the log's keys held on the driver, as the
  * reference loads its keyed state once per invocation and upserts it
  * in memory (`task.ts:145-151`). Its lifecycle:
  *  - it is read from the committed log on its first [[StateFirst]]
  *    batch, one Spark job, and none when the log has no committed
  *    file yet;
  *  - it gains a batch's fresh keys only after that batch's state
  *    write has returned, so it never holds a key the log lacks;
  *  - it lives as long as its holder: `Serve.pipeline` makes one per
  *    streaming query, and a restarted query reads the log again.
  * One guard per state log: a second writer to the same log while a
  * query runs would go unseen.
  *
  * Job shape: 1 Spark job a batch in either order (it was 3), and 2
  * on the [[StateFirst]] batch that loads its guard. The batch is
  * `collect()`ed once (`Serve.dedupBatch` has already narrowed it to
  * one partition and deduped it), [[StateFirst]] filters it against
  * the guard on the driver, and both files are written on the driver
  * by [[writeParquet]], through Spark's own parquet writer: one file
  * per write, with the schema and row metadata a `DataFrameWriter`
  * append writes, and no `_SUCCESS` marker (nothing reads one in
  * these directories). A crash in the middle of a write leaves a
  * dot-prefixed `.part-….parquet.tmp` file, which the guard load and
  * every parquet reader skip, so the write counts as not made; a
  * crash between the two writes is the ordering case above. Nothing
  * reads the state log after the load, so its cost per batch is
  * O(batch), not O(batches so far). No Spark write runs, so no
  * `recacheByPath` runs either (the hazard DESIGN.md's "recacheByPath
  * loss" records): a DataFrame cached over either directory does not
  * see the new files until it is re-read. The rows pass through the
  * driver, which suits the small batches this path sees (see
  * `Serve`).
  *
  * Memory: the guard grows exactly as the log does, one entry per
  * distinct key. Measured with Spark's `SizeEstimator` on a guard
  * loaded from 100,000 webhook `msg_key`s (`inreach-<id>@<ISO time>`,
  * 35 characters on average), it holds about 114 bytes a key: 11 MB
  * per 100,000 processed points. The log has no retention yet, so
  * neither has the guard.
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

  /** The keys of the state log at `stateDir`, held on the driver (see
    * the object doc for its lifecycle). Not thread-safe: a streaming
    * query runs its batches one at a time.
    */
  final class Guard(val stateDir: String) {
    private var keys: mutable.HashSet[Any] = null

    /** The processed keys, read from the log on the first call. */
    private[streaming] def seen(spark: SparkSession,
        keyField: StructField): collection.Set[Any] = {
      if (keys == null) keys = processedKeys(spark, stateDir, keyField)
      keys
    }

    /** Record keys whose state write has returned. */
    private[streaming] def add(written: Iterator[Any]): Unit =
      keys ++= written

    /** Keys held; 0 before the first load. */
    def size: Int = if (keys == null) 0 else keys.size
  }

  /** Key types whose JVM value equality is Spark's value equality:
    * integral numbers, and strings under the default (UTF8_BINARY)
    * collation. A binary or struct key would compare by reference on
    * the driver, miss the guard, and turn at-most-once into duplicate
    * sends.
    */
  private def guardable(t: DataType): Boolean = t match {
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
    * StateFirst guard, turning at-most-once into duplicate sends. A
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

  /** Process one micro-batch with the chosen write ordering.
    * `failpoint` runs BETWEEN the two writes (default no-op).
    * [[StateFirst]] guards with `guard`, or, without one, with a
    * guard it reads from the log for this batch alone. Either order
    * collects the batch once and writes both files on the driver
    * ([[writeParquet]]).
    */
  def processBatch(batch: DataFrame, keyCol: String, order: Order,
      submitDir: String, stateDir: String,
      failpoint: () => Unit = () => (),
      guard: Option[Guard] = None): Unit = {
    val spark = batch.sparkSession
    val field = batch.schema(keyCol)
    val k = batch.schema.fieldIndex(keyCol)
    def writeState(rows: Seq[Row]): Unit =
      writeParquet(spark, stateDir, StructType(Seq(field)),
        rows.map(r => Row(r.get(k))))
    def writeSubmit(rows: Seq[Row]): Unit =
      writeParquet(spark, submitDir, batch.schema, rows)
    order match {
      case SubmitFirst =>
        val rows = batch.collect().toSeq
        writeSubmit(rows)
        failpoint()
        writeState(rows)
      case StateFirst =>
        val g = guard.getOrElse(new Guard(stateDir))
        require(g.stateDir == stateDir,
          s"guard holds the keys of ${g.stateDir}, not of $stateDir")
        require(guardable(field.dataType),
          s"StateFirst key '$keyCol' must be a string or integral column " +
            s"to be compared on the driver, got ${field.dataType.sql}")
        val seen = g.seen(spark, field)
        // in-batch repeats of a fresh key all pass, as a left-anti join
        // against the log keeps them
        val fresh = batch.collect().toSeq
          .filter(r => r.isNullAt(k) || !seen(r.get(k)))
        writeState(fresh)
        g.add(fresh.iterator.filterNot(_.isNullAt(k)).map(_.get(k)))
        failpoint()
        writeSubmit(fresh)
    }
  }
}
