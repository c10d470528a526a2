package graft.sources

import java.util

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the reference's REST polling
  * source (`/root/reference/task.ts:175-205`): a directory of
  * JSON-lines track points read as a typed table, with the
  * `noEarlierThan` time filter (`task.ts:177`) realized as REAL
  * source-side pushdown — `SupportsPushDownFilters` hands the
  * predicate to the reader, which drops rows before they ever become
  * Spark rows, and `SupportsPushDownRequiredColumns` prunes parsing
  * to the projected fields (`task.ts` reads a subset of the payload;
  * here the scan never materializes unused columns at all).
  *
  * Scale: one `InputPartition` per file — parallelism follows the
  * file layout exactly like Spark's own file sources, no driver-side
  * data movement; each reader streams its file.
  *
  * Usage: `spark.read.format("graft.sources.TrackPointSource")
  * .option("path", dir).load()`.
  *
  * Batch only. To stream such a directory, use Spark's file source:
  * `spark.readStream.schema(TrackPointSource.schema).json(dir)`. It
  * remembers the paths it has read, so each file is read once
  * whatever its name sorts after, and a `ts >= v` filter and the
  * selected columns reach its reader as pushed filters and a pruned
  * read schema.
  */
class TrackPointSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TrackPointSource.schema
  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TrackPointTable(properties.get("path"))
}

object TrackPointSource {
  /** Normalized track-point record (webhook/poll union, SURVEY §1.1):
    * ids, display name, epoch-ms time, position, emergency flag.
    */
  val schema: StructType = StructType(Seq(
    StructField("entity_id", LongType, nullable = false),
    StructField("event_id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("ts", LongType, nullable = true),
    StructField("lon", DoubleType, nullable = true),
    StructField("lat", DoubleType, nullable = true),
    StructField("emergency", BooleanType, nullable = true)))

  private[sources] val numericCols = Set("entity_id", "event_id", "ts")

  /** Which filters the source accepts: numeric comparisons on the id
    * and time columns — exactly the family the reference pushes into
    * its API query string.
    */
  private[sources] def supported(f: Filter): Boolean = f match {
    case GreaterThanOrEqual(a, _: java.lang.Number) => numericCols(a)
    case GreaterThan(a, _: java.lang.Number) => numericCols(a)
    case LessThanOrEqual(a, _: java.lang.Number) => numericCols(a)
    case LessThan(a, _: java.lang.Number) => numericCols(a)
    case EqualTo(a, _: java.lang.Number) => numericCols(a)
    // constraint-inferred null guards must be accepted: a residual
    // IsNotNull Filter between Aggregate and scan would block
    // aggregate pushdown entirely
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case _ => false
  }
}

class TrackPointTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"trackpoints($path)"
  override def schema(): StructType = TrackPointSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new TrackPointScanBuilder(path)
}

/** One aggregate accepted by the source: kind ∈ max|min|count, with
  * `col` empty for count-all. The reference's poll API computing
  * `latestPositionOnly` server-side IS this shape — the server
  * returns per-key aggregates instead of raw rows.
  */
private[sources] case class PushedAgg(kind: String, col: String)

class TrackPointScanBuilder(path: String)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, NamedReference}
  import org.apache.spark.sql.connector.expressions.{Literal => VLiteral}
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = TrackPointSource.schema
  private var aggGroups: Seq[String] = Nil
  private var aggs: Seq[PushedAgg] = Nil
  private var aggSchema: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(TrackPointSource.supported)
    pushed = ok
    rest // residual: Spark re-applies anything we can't evaluate
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Partial aggregate pushdown (`supportCompletePushDown` stays
    * false): each file partition returns its LOCAL per-group
    * max/min/count and Spark's final aggregate merges — max of
    * maxes, sum of counts — exactly the partial/final split a
    * shuffle-side aggregation would plan, except the raw rows never
    * exist. Grouped aggregations only: a global aggregate would
    * need empty partitions to emit seed rows to merge correctly.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def name(e: VExpr): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val groups = agg.groupByExpressions.toSeq.map(name)
    if (groups.isEmpty || groups.exists(_.isEmpty)) return false
    val specs: Seq[Option[PushedAgg]] = agg.aggregateExpressions.toSeq.map {
      case m: Max => name(m.column)
        .filter(TrackPointSource.numericCols).map(PushedAgg("max", _))
      case m: Min => name(m.column)
        .filter(TrackPointSource.numericCols).map(PushedAgg("min", _))
      case _: CountStar => Some(PushedAgg("count", ""))
      case c: Count if !c.isDistinct => c.column match {
        case _: VLiteral[_] => Some(PushedAgg("count", "")) // count(1)
        case other => name(other).map(PushedAgg("count", _)) // non-null col
      }
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    aggGroups = groups.flatten
    aggs = specs.flatten
    val base = TrackPointSource.schema
    aggSchema = Some(StructType(
      aggGroups.map(g => base(base.fieldIndex(g))) ++
        aggs.zipWithIndex.map { case (a, i) =>
          StructField(s"agg_${i}_${a.kind}", LongType,
            nullable = a.kind != "count")
        }))
    true
  }

  override def build(): Scan =
    new TrackPointScan(path, aggSchema.getOrElse(required), pushed,
      aggGroups, aggs)
}

class TrackPointScan(path: String, required: StructType,
    pushed: Array[Filter], aggGroups: Seq[String],
    aggs: Seq[PushedAgg]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"TrackPointScan ReadSchema: ${required.catalogString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (aggs.nonEmpty)
        s", PushedAggregates: [${aggs.map(a => s"${a.kind}(${a.col})")
          .mkString(", ")}] groupBy [${aggGroups.mkString(", ")}]"
      else "")

  override def planInputPartitions(): Array[InputPartition] = {
    val files = TrackPointScan.listFiles(path)
    files.map(f => TrackFilePartition(f.getAbsolutePath): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TrackPointReaderFactory(required, pushed, aggGroups, aggs)
}

object TrackPointScan {
  /** The `part-` files of the directory, one partition each, in name
    * order so a scan plans its partitions alike on every run.
    */
  private[sources] def listFiles(path: String): Array[java.io.File] =
    Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
}

case class TrackFilePartition(file: String) extends InputPartition

class TrackPointReaderFactory(required: StructType,
    pushed: Array[Filter], aggGroups: Seq[String],
    aggs: Seq[PushedAgg]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    if (aggs.isEmpty)
      new TrackPointReader(p.asInstanceOf[TrackFilePartition].file,
        required, pushed)
    else
      new TrackPointAggReader(p.asInstanceOf[TrackFilePartition].file,
        required, pushed, aggGroups, aggs)
}

/** Aggregate-pushdown reader: hash-aggregates its one file's rows
  * (pushed filters applied first) and emits the per-group partials.
  * Memory is O(groups in this file) — the rows themselves never
  * become Spark rows at all.
  */
class TrackPointAggReader(file: String, required: StructType,
    pushed: Array[Filter], groups: Seq[String], aggs: Seq[PushedAgg])
    extends PartitionReader[InternalRow] {

  private val base = new TrackPointReader(file,
    TrackPointSource.schema, pushed)
  private val baseSchema = TrackPointSource.schema
  private val groupOrds = groups.map(baseSchema.fieldIndex).toArray
  private val aggOrds = aggs.map(a =>
    if (a.col.isEmpty) -1 else baseSchema.fieldIndex(a.col)).toArray

  private lazy val results: Iterator[InternalRow] = {
    val acc = scala.collection.mutable.LinkedHashMap[
      List[Any], Array[java.lang.Long]]()
    while (base.next()) {
      val r = base.get()
      val key = groupOrds.map(o =>
        if (r.isNullAt(o)) null
        else r.get(o, baseSchema(o).dataType)).toList
      val st = acc.getOrElseUpdate(key,
        new Array[java.lang.Long](aggs.length))
      var i = 0
      while (i < aggs.length) {
        val o = aggOrds(i)
        aggs(i).kind match {
          case "count" =>
            if (o < 0 || !r.isNullAt(o))
              st(i) = if (st(i) == null) 1L else st(i) + 1L
          case "max" => if (!r.isNullAt(o)) {
            val v = r.getLong(o)
            if (st(i) == null || v > st(i)) st(i) = v
          }
          case "min" => if (!r.isNullAt(o)) {
            val v = r.getLong(o)
            if (st(i) == null || v < st(i)) st(i) = v
          }
        }
        i += 1
      }
    }
    base.close()
    acc.iterator.map { case (key, st) =>
      val out = new GenericInternalRow(groups.length + aggs.length)
      key.zipWithIndex.foreach { case (v, i) =>
        if (v == null) out.setNullAt(i) else out.update(i, v)
      }
      st.zipWithIndex.foreach { case (v, i) =>
        val slot = groups.length + i
        if (v == null) {
          // count of zero non-null rows is 0, not null
          if (aggs(i).kind == "count") out.setLong(slot, 0L)
          else out.setNullAt(slot)
        } else out.setLong(slot, v)
      }
      out
    }
  }

  private var row: InternalRow = _
  override def next(): Boolean =
    if (results.hasNext) { row = results.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Streams one JSONL file; evaluates the pushed predicates on the
  * parsed record BEFORE building a Spark row, and materializes only
  * the pruned columns.
  */
class TrackPointReader(file: String, required: StructType,
    pushed: Array[Filter]) extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val in = new java.io.BufferedReader(
    new java.io.InputStreamReader(
      new java.io.FileInputStream(file), "UTF-8"))
  private var row: InternalRow = _

  // a missing/null field fails any numeric comparison (SQL
  // three-valued logic: NULL op x is not TRUE) — never NPEs, and the
  // result can't depend on whether a pushed IsNotNull on the same
  // column happens to be evaluated first.
  //
  // Long/long comparisons stay in LONG arithmetic: Spark trusts a
  // pushed filter completely (only the declared residual is
  // re-checked), and rounding both sides to double would equate
  // longs that differ beyond 2^53 — `entity_id = 9007199254740993`
  // must not match 9007199254740992.
  private def cmp(node: JsonNode, field: String, v: java.lang.Number)(
      test: Int => Boolean): Boolean = {
    val n = node.get(field)
    n != null && !n.isNull && {
      val c = v match {
        case _: java.lang.Long | _: java.lang.Integer |
             _: java.lang.Short | _: java.lang.Byte
            if n.isIntegralNumber =>
          java.lang.Long.compare(n.asLong(), v.longValue())
        case _ =>
          java.lang.Double.compare(n.asDouble(), v.doubleValue())
      }
      test(c)
    }
  }

  private def keep(node: JsonNode): Boolean = pushed.forall {
    case GreaterThanOrEqual(a, v: java.lang.Number) =>
      cmp(node, a, v)(_ >= 0)
    case GreaterThan(a, v: java.lang.Number) =>
      cmp(node, a, v)(_ > 0)
    case LessThanOrEqual(a, v: java.lang.Number) =>
      cmp(node, a, v)(_ <= 0)
    case LessThan(a, v: java.lang.Number) =>
      cmp(node, a, v)(_ < 0)
    case EqualTo(a, v: java.lang.Number) =>
      cmp(node, a, v)(_ == 0)
    case IsNotNull(a) =>
      val v = node.get(a); v != null && !v.isNull
    case _ => true
  }

  private def project(node: JsonNode): InternalRow = {
    val out = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val f = required(i)
      val v = node.get(f.name)
      if (v == null || v.isNull) out.setNullAt(i)
      else f.dataType match {
        case LongType => out.setLong(i, v.asLong())
        case DoubleType => out.setDouble(i, v.asDouble())
        case BooleanType => out.setBoolean(i, v.asBoolean())
        case StringType => out.update(i, UTF8String.fromString(v.asText()))
        case dt => throw new IllegalStateException(s"unsupported $dt")
      }
      i += 1
    }
    out
  }

  override def next(): Boolean = {
    var line = in.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        val node = mapper.readTree(line)
        if (keep(node)) { row = project(node); return true }
      }
      line = in.readLine()
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** A derived data set written once per data dir to
  * `target/fixtures/<tag>_<data dir name>` (inside the repo), then
  * reused: memoized per dir in this JVM, and skipped across JVMs once
  * its `_SUCCESS` marker exists. The path is keyed by the data dir's
  * NAME, so two different dirs of one name share a fixture.
  */
class DirFixture(tag: String)(
    write: (org.apache.spark.sql.SparkSession, String, String) => Unit) {
  private val done = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The fixture's absolute path for data dir `dir`, written first if
    * absent: `write(session, dir, out)`. */
  def ensure(s: org.apache.spark.sql.SparkSession, dir: String): String =
    done.computeIfAbsent(dir, { _ =>
      val out = new java.io.File(
        s"target/fixtures/${tag}_${new java.io.File(dir).getName}")
        .getAbsolutePath
      if (!new java.io.File(out, "_SUCCESS").exists()) write(s, dir, out)
      out
    })
}

/** Deterministic JSONL fixture for the DSv2 source, derived from the
  * `events` table (TESTDATA.md) so the DuckDB oracle can recompute
  * the same result straight from the parquet: entity/event ids, a
  * derived callsign, epoch-ms time, a position derived from `value`,
  * and the emergency flag.
  */
object TrackPointFixture extends DirFixture("trackpoints")({ (s, dir, out) =>
  import org.apache.spark.sql.functions._
  graft.Tables(s, dir, "events")
    .select(to_json(struct(
      col("user_id").as("entity_id"),
      col("event_id"),
      concat(lit("u"), col("user_id")).as("name"),
      unix_millis(col("ts")).as("ts"),
      col("value").as("lon"),
      (-col("value")).as("lat"),
      (col("event_type") === "error").as("emergency"))).as("value"))
    .write.mode("overwrite").text(out)
})

/** Deterministic CSV fixture (header + explicit schema read-back),
  * derived from `events` like [[TrackPointFixture]] — covers the
  * delimited-text leg of the source matrix.
  */
object CsvFixture extends DirFixture("events_csv")({ (s, dir, out) =>
  import org.apache.spark.sql.functions._
  graft.Tables(s, dir, "events")
    .select(col("event_id"), col("user_id"),
      unix_millis(col("ts")).as("t"),
      col("event_type"), col("value"))
    .write.mode("overwrite").option("header", "true").csv(out)
})

/** ORC fixture: the `part` table rewritten as ORC. ORC ships in Spark
  * itself — the columnar alternative when a lake standardizes on it —
  * and reads through the same DSv2 scan machinery as parquet (pushed
  * filters, pruned columns, vectorized reader), which SourcesSpec
  * asserts.
  */
object OrcFixture extends DirFixture("part_orc")({ (s, dir, out) =>
  graft.Tables(s, dir, "part").write.mode("overwrite").orc(out)
})
