package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for the reference's date-prefixed CSV layout
  * (`"<YYYY-MM-DD>/<date>_BINS_XETR<HH>.csv"` under one base path —
  * `xetra/common/s3.py:52-63` + the extract loop,
  * `xetra_transformer.py:104-125`). The reference's ONE manual optimization
  * — listing only pending dates' prefixes — becomes *declarative* here:
  * `Date` predicates push into the scan and prune whole date directories at
  * planning time, and column pruning narrows what each reader parses. A
  * plain `df.filter(col("Date") >= d)` now reads exactly the files the
  * reference's hand-rolled date loop would, with no driver-side path
  * plumbing in user code.
  *
  * Usage: `spark.read.format("graft.sources.XetraBarsProvider")
  * .load(basePath)`. Pruning is conservative: every pushed filter is also
  * returned as a residual, so Spark re-evaluates rows and correctness never
  * depends on the pruning logic. Listing and readers use the session's
  * Hadoop configuration (`spark.hadoop.*` and session-set keys such as s3a
  * credentials), taken once when the scan is built.
  */
class XetraBarsProvider extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "xetra-bars" // via META-INF/services
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XetraBarsTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new XetraBarsTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object XetraBarsTable {
  /** The reference's 9 source columns with declared types (FIXTURES.md §1;
    * pandas inference replaced by a schema, SURVEY.md §4.4.3).
    */
  val Schema: StructType = StructType(Seq(
    StructField("ISIN", StringType), StructField("Mnemonic", StringType),
    StructField("Date", StringType), StructField("Time", StringType),
    StructField("StartPrice", DoubleType), StructField("EndPrice", DoubleType),
    StructField("MinPrice", DoubleType), StructField("MaxPrice", DoubleType),
    StructField("TradedVolume", LongType)))
}

class XetraBarsTable(path: String) extends Table with SupportsRead {
  require(path != null, "xetra-bars source requires a path")
  override def name(): String = s"xetra_bars($path)"
  override def schema(): StructType = XetraBarsTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XetraBarsScanBuilder(path, options.getBoolean("trustLayout", false))
}

/** Supported pushed-aggregate shapes ([[SupportsPushDownAggregates]]). */
private[sources] sealed trait PushedAgg
private[sources] object PushedAgg {
  /** `count(*)` — sound unconditionally: the row reader emits one row per
    * non-header line whatever the cells contain, so a per-file line count
    * is exactly the row count, with no split/parse/InternalRow per row.
    */
  case object CountAll extends PushedAgg
  /** `min(Date)` / `max(Date)` — answered from the date DIRECTORY NAMES,
    * zero file opens. Only offered under `trustLayout=true` (see
    * [[XetraBarsScanBuilder]]).
    */
  case object MinDate extends PushedAgg
  case object MaxDate extends PushedAgg
}

class XetraBarsScanBuilder(path: String, trustLayout: Boolean)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = XetraBarsTable.Schema
  private var pushedAggs: Option[Seq[PushedAgg]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept the Date-shaped predicates for directory pruning; EVERYTHING
    // stays a residual (returned array) so Spark re-applies row-level
    pushed = filters.filter {
      case EqualTo("Date", _: String) => true
      case GreaterThan("Date", _: String) => true
      case GreaterThanOrEqual("Date", _: String) => true
      case LessThan("Date", _: String) => true
      case LessThanOrEqual("Date", _: String) => true
      case StringStartsWith("Date", _) => true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown (`SupportsPushDownAggregates`), two tiers:
    *
    *  - `count(*)` pushes UNCONDITIONALLY as a partial: one per-file line
    *    count per input partition (parallel, no row materialization), with
    *    Spark's final aggregate summing the partials. Sound because the
    *    row reader emits exactly one row per non-header line regardless of
    *    cell contents.
    *  - `min(Date)` / `max(Date)` push only when the user opted in with
    *    `.option("trustLayout", true)`: the answer comes from the date
    *    directory NAMES with zero file opens — the reference's own layout
    *    contract (`s3.py` derives the processed-date set from key
    *    prefixes), but it IS a contract: a stray row whose Date cell
    *    disagrees with its directory, or an empty date directory, is
    *    out-of-contract and would make the metadata answer differ from a
    *    full scan. Default is off, so the unopted source never trades
    *    correctness for speed.
    *
    * Metadata-only shapes (no count) report COMPLETE pushdown: the scan
    * returns the single final row, computed at planning time from the
    * pruned listing — at 100 TB that is a directory listing instead of a
    * table scan. Any grouping, any other aggregate, or any residual
    * filter (Spark's own rule: aggregates never push through post-scan
    * filters, and every filter here stays residual) falls back to the
    * ordinary row scan.
    */
  private def classify(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation): Option[Seq[PushedAgg]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def isDate(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("Date"))
        case _ => false
      }
    if (agg.groupByExpressions.nonEmpty) return None
    val fns = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(PushedAgg.CountAll)
      case m: Min if isDate(m.column) && trustLayout => Some(PushedAgg.MinDate)
      case m: Max if isDate(m.column) && trustLayout => Some(PushedAgg.MaxDate)
      case _ => None
    }
    if (fns.nonEmpty && fns.forall(_.isDefined)) Some(fns.flatten) else None
  }

  override def supportCompletePushDown(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean =
    classify(agg).exists(!_.contains(PushedAgg.CountAll))

  override def pushAggregation(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = {
    classify(agg) match {
      case some @ Some(_) => pushedAggs = some; true
      case None => false
    }
  }

  override def build(): Scan =
    new XetraBarsScan(path, pushed, required, pushedAggs,
      SparkSession.active.sessionState.newHadoopConf())
}

class XetraBarsScan(path: String, pushed: Array[Filter],
    required: StructType, aggs: Option[Seq[PushedAgg]],
    hadoopConf: Configuration)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Runtime (dynamic-partition-pruning) date filters, delivered by Spark
    * AFTER planning when this scan joins a selective build side on `Date`:
    * the DPP subquery collects the build side's actual date set and
    * [[filter]] receives it as an `In` — `planInputPartitions` then
    * re-lists with the runtime set intersected, so directories for dates
    * the join can never match are not even opened. This is the 100 TB
    * star-join path: the static pushdown prunes by WHERE clauses, the
    * runtime filter prunes by the dimension's surviving keys.
    */
  @volatile private[graft] var runtimeFilters: Array[Filter] = Array.empty

  /** Partition count of the most recent [[planInputPartitions]] — test
    * observability for the runtime re-plan (6 static → N filtered).
    */
  @volatile private[graft] var lastPlannedPartitions: Int = -1

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // aggregate pushdown scans produce pre-aggregated rows — declining
    // runtime filtering keeps their complete/partial contracts exact
    if (aggs.isEmpty)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column("Date"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  /** Positional schema of the pushed-aggregate rows (partial or final) —
    * Spark matches scan output to the pushed `aggregateExpressions` by
    * position.
    */
  private def aggSchema(fns: Seq[PushedAgg]): StructType =
    StructType(fns.zipWithIndex.map {
      case (PushedAgg.CountAll, i) =>
        StructField(s"agg_$i", LongType, nullable = false)
      case (_, i) => StructField(s"agg_$i", StringType)
    })

  override def readSchema(): StructType =
    aggs.map(aggSchema).getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String =
    s"XetraBars path=$path prunedBy=[${pushed.mkString(", ")}] " +
      aggs.fold(s"columns=[${required.fieldNames.mkString(",")}]")(fns =>
        s"PushedAggregates=[${fns.mkString(", ")}]")

  /** One date directory survives iff its name satisfies every pushed Date
    * predicate (names are ISO dates, so lexicographic compare is order-
    * correct — the same property the reference's string filter relies on).
    */
  private def dateAdmitted(date: String): Boolean =
    (pushed ++ runtimeFilters).forall {
      case EqualTo("Date", v: String) => date == v
      case GreaterThan("Date", v: String) => date > v
      case GreaterThanOrEqual("Date", v: String) => date >= v
      case LessThan("Date", v: String) => date < v
      case LessThanOrEqual("Date", v: String) => date <= v
      case StringStartsWith("Date", v) => date.startsWith(v)
      // the DPP shape: the build side's collected date set
      case In("Date", vs) => vs.exists(v => String.valueOf(v) == date)
      case _ => true
    }

  /** Admitted (dateDir, csvFile) pairs from one listing pass. */
  private def listFiles(): Seq[(String, String)] = {
    val base = new Path(path)
    val fs = base.getFileSystem(hadoopConf)
    if (!fs.exists(base)) return Nil
    fs.listStatus(base).iterator
      .filter(s => s.isDirectory && dateAdmitted(s.getPath.getName))
      .flatMap(d => fs.listStatus(d.getPath).iterator
        .filter(f => f.isFile && f.getPath.getName.endsWith(".csv"))
        .map(f => (d.getPath.getName, f.getPath.toString)))
      .toSeq
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = planPartitions()
    lastPlannedPartitions = parts.length
    parts
  }

  private def planPartitions(): Array[InputPartition] = aggs match {
    case None =>
      listFiles().map { case (_, f) => XetraBarsPartition(f) }.toArray
    case Some(fns) if fns.contains(PushedAgg.CountAll) =>
      // partial pushdown: one per-file partition, each emits one partial
      // row (its line count; min/max partials = the trusted dir name);
      // Spark's final aggregate merges. Zero admitted files → zero
      // partials → Spark's final agg still yields count 0 / null min.
      listFiles().map { case (d, f) => XetraBarsAggPartition(fns, d, f) }
        .toArray
    case Some(fns) =>
      // complete pushdown, metadata only: ONE final row from the pruned
      // directory listing — no file is ever opened. Nulls when no dates.
      val dates = listFiles().map(_._1)
      val row = fns.map {
        case PushedAgg.MinDate if dates.nonEmpty => dates.min
        case PushedAgg.MaxDate if dates.nonEmpty => dates.max
        case _ => null
      }
      Array(XetraBarsAggRowPartition(row))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new XetraBarsReaderFactory(required,
      new SerializableConfiguration(hadoopConf))
}

case class XetraBarsPartition(file: String) extends InputPartition

/** Partial-aggregate partition: one file to line-count + its date dir. */
case class XetraBarsAggPartition(fns: Seq[PushedAgg], date: String,
    file: String) extends InputPartition

/** Complete-pushdown partition carrying the precomputed final row. */
case class XetraBarsAggRowPartition(values: Seq[String])
  extends InputPartition

/** Ships the scan's Hadoop configuration to the executors with the tasks. */
class XetraBarsReaderFactory(required: StructType,
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case XetraBarsPartition(file) =>
        new XetraBarsReader(file, required, conf.value)
      case a: XetraBarsAggPartition => new XetraBarsAggReader(a, conf.value)
      case r: XetraBarsAggRowPartition => new SingleRowReader(
        InternalRow.fromSeq(r.values.map(v =>
          if (v == null) null else UTF8String.fromString(v))))
    }
}

/** Emits one partial-aggregate row for one file: the line count (bytes
  * streamed, no split/parse/row allocation) and, when requested, the
  * trusted directory date as the min/max partial.
  */
class XetraBarsAggReader(p: XetraBarsAggPartition, conf: Configuration)
  extends PartitionReader[InternalRow] {

  private var emitted = false

  // one file pass per partition, however the next()/get() contract is
  // exercised (an agg partition is only planned when CountAll is present,
  // so the count is always needed)
  private lazy val row: InternalRow = {
    val lines: Long = {
      val fp = new Path(p.file)
      val fs = fp.getFileSystem(conf)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(fp), java.nio.charset.StandardCharsets.UTF_8))
      try {
        var n = -1L // header
        while (in.readLine() != null) n += 1
        math.max(n, 0L)
      } finally in.close()
    }
    InternalRow.fromSeq(p.fns.map {
      case PushedAgg.CountAll => java.lang.Long.valueOf(lines)
      case _ => UTF8String.fromString(p.date)
    })
  }

  override def next(): Boolean = !emitted && { emitted = true; true }

  override def get(): InternalRow = row

  override def close(): Unit = ()
}

/** Single precomputed row (complete metadata-only aggregate pushdown). */
class SingleRowReader(row: InternalRow) extends PartitionReader[InternalRow] {
  private var done = false
  // next() advances the cursor (PartitionReader contract); get() is
  // side-effect free so repeated next() calls cannot re-emit the row.
  override def next(): Boolean = if (done) false else { done = true; true }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Per-file CSV reader emitting only the pruned columns. Parse failures
  * null the cell (PERMISSIVE semantics, same as the engine's CSV path).
  */
class XetraBarsReader(file: String, required: StructType, conf: Configuration)
  extends PartitionReader[InternalRow] {

  private val full = XetraBarsTable.Schema
  private val colIdx = required.fields.map(f => full.fieldIndex(f.name))
  private val in = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
  }
  in.readLine() // header
  private var line: String = _

  override def next(): Boolean = { line = in.readLine(); line != null }

  override def get(): InternalRow = {
    val cells = line.split(",", -1)
    val values = colIdx.zip(required.fields).map { case (i, f) =>
      if (i >= cells.length || cells(i).isEmpty) null
      else f.dataType match {
        case StringType => UTF8String.fromString(cells(i))
        case DoubleType => try java.lang.Double.valueOf(cells(i).toDouble)
          catch { case _: NumberFormatException => null }
        case LongType => try java.lang.Long.valueOf(cells(i).toLong)
          catch { case _: NumberFormatException => null }
        case other => throw new IllegalStateException(s"unsupported $other")
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def close(): Unit = in.close()
}
