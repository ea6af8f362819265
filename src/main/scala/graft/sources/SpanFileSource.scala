package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max => AggMax, Min => AggMin}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A1 as a first-class Spark DataSourceV2: OTLP/JSON span files read
  * through a custom `TableProvider` with
  *
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): the
  *    reader materializes ONLY the requested fields — `ReadSchema` in
  *    `.explain("formatted")` shows the pruned set, and unrequested
  *    attribute parsing never happens;
  *  - **filter pushdown with file skipping**
  *    (`SupportsPushDownFilters`): service equality/IN and start-time
  *    bounds are evaluated against the per-file min/max + service-set
  *    stats in the `_stats.json` sidecar (the catalog-stats model of
  *    Delta/Iceberg, and the same skipping the reference gets from
  *    ClickHouse's MergeTree primary index, db/clickhouse.go:107-109),
  *    so non-matching FILES are never opened. At 100 TB this is the
  *    difference between a scan bounded by the predicate's time window
  *    and a scan of every request file ever collected.
  *
  * Correctness does not depend on the stats: every pushed filter is
  * also returned as a post-scan filter (the `pushFilters` return
  * value), so Spark re-evaluates it row-by-row above the scan — stats
  * can only prune, never decide. A file the stats wrongly EXCLUDE
  * would silently drop rows, so SourceSpec pins pruned == unpruned on
  * every skipping predicate it exercises.
  *
  * The per-file parse is Jackson over the protojson wire shape
  * (`resourceSpans → scopeSpans → spans`, hex ids re-encoded to the
  * store's base64 convention, collector/service.go:273-275) — an
  * INDEPENDENT implementation of the batch decoder in
  * [[graft.spans.OtlpIngest]], which is exactly what makes the a7
  * oracle a real cross-check. One file = one input partition (request
  * files are small and many; at scale the unit of parallelism is the
  * file, as with any log-structured collector output).
  */
class SpanFileSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SpanFileSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SpanTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

object SpanFileSource {
  /** The span projection this source serves (the scalar columns of the
    * reference's span store; nested attrs/events stay with the batch
    * ingest path). */
  val Schema: StructType = StructType(Seq(
    StructField("trace_id", StringType),
    StructField("span_id", StringType),
    StructField("parent_span_id", StringType),
    StructField("name", StringType),
    StructField("service_name", StringType),
    StructField("start_ns", LongType),
    StructField("duration_ns", LongType),
    StructField("status_code", StringType)))

  /** Reader entry point: `SpanFileSource.read(spark, dir)`. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format(classOf[SpanFileSource].getName).load(dir)

  /** Observability hook for the runtime-filter path: (files surviving
    * static skipping, files surviving the runtime join-key filter) of
    * the most recent [[SpanScan.filter]] call in this JVM. A test
    * seam — the numbers also appear in the scan's `description()`. */
  @volatile var lastRuntimePrune: Option[(Int, Int)] = None

  final case class FileStat(file: String, nSpans: Long, minStartNs: Long,
      maxStartNs: Long, services: Set[String])

  def readStats(dir: String): Seq[FileStat] = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(new java.io.File(dir, "_stats.json"))
    root.elements().asScala.map { n =>
      FileStat(n.get("file").asText(), n.get("n_spans").asLong(),
        n.get("min_start_ns").asLong(), n.get("max_start_ns").asLong(),
        n.get("services").elements().asScala.map(_.asText()).toSet)
    }.toSeq
  }

  /** Which sidecar statistic answers `f` exactly — `count` / `min` /
    * `max` — or None if the function can't be served from stats. */
  def statKind(f: AggregateFunc): Option[String] = f match {
    case _: CountStar => Some("count")
    case m: AggMin => m.column() match {
      case nr: NamedReference
          if nr.fieldNames().sameElements(Array("start_ns")) => Some("min")
      case _ => None
    }
    case m: AggMax => m.column() match {
      case nr: NamedReference
          if nr.fieldNames().sameElements(Array("start_ns")) => Some("max")
      case _ => None
    }
    case _ => None
  }

  /** Can `f` be evaluated against file-level stats? */
  def skippable(f: Filter): Boolean = f match {
    case EqualTo("service_name", _: String) => true
    case In("service_name", _) => true
    case GreaterThan("start_ns", _: Long) => true
    case GreaterThanOrEqual("start_ns", _: Long) => true
    case LessThan("start_ns", _: Long) => true
    case LessThanOrEqual("start_ns", _: Long) => true
    case _ => false
  }

  /** Might a file with these stats contain a row matching `f`?
    * Conservative: unknown shapes keep the file. */
  def mightMatch(s: FileStat, f: Filter): Boolean =
    f match {
      case EqualTo("service_name", v: String) => s.services.contains(v)
      case In("service_name", vs) =>
        vs.exists(v => s.services.contains(String.valueOf(v)))
      case GreaterThan("start_ns", v: Long) => s.maxStartNs > v
      case GreaterThanOrEqual("start_ns", v: Long) => s.maxStartNs >= v
      case LessThan("start_ns", v: Long) => s.minStartNs < v
      case LessThanOrEqual("start_ns", v: Long) => s.minStartNs <= v
      case _ => true
    }
}

private[sources] class SpanTable(dir: String) extends Table
    with SupportsRead {
  override def name(): String = s"graft_spans($dir)"
  override def schema(): StructType = SpanFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new SpanScanBuilder(dir,
      options.getInt("maxFilesPerTrigger", Int.MaxValue))
}

private[sources] class SpanScanBuilder(dir: String,
    maxFilesPerTrigger: Int) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = SpanFileSource.Schema
  private var skipping: Array[Filter] = Array.empty
  private var pushedAgg: Option[Seq[String]] = None

  /** Keep the stats-evaluable subset for skipping; return EVERY filter
    * as post-scan so Spark re-applies them row-by-row (stats prune,
    * they never decide). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    skipping = filters.filter(SpanFileSource.skippable)
    filters
  }
  override def pushedFilters(): Array[Filter] = skipping

  /** Global count(*) / min(start_ns) / max(start_ns) are answered
    * ENTIRELY from the sidecar — zero span files opened. Sound because
    * Spark only attempts aggregate pushdown when every filter was fully
    * handled by the source, and this source hands every filter back as
    * post-scan — so aggregation is only ever pushed into a filterLESS
    * scan, where the sidecar totals are exact by construction. */
  private def servable(agg: Aggregation): Option[Seq[String]] =
    if (agg.groupByExpressions().nonEmpty) None
    // an EMPTY sidecar (collector started, nothing ingested) has no
    // min/max to serve — min over an empty table is SQL NULL, which
    // the non-nullable stats row cannot carry (and .min would throw).
    // Decline the pushdown entirely: Spark's own aggregation over the
    // then-empty scan produces the correct NULL/0 row.
    else if (SpanFileSource.readStats(dir).isEmpty) None
    else {
      val kinds = agg.aggregateExpressions().toSeq
        .map(SpanFileSource.statKind)
      if (kinds.forall(_.isDefined)) Some(kinds.flatten) else None
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    servable(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = servable(agg)
    pushedAgg.isDefined
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty pruned schema (count(*) over the source) still needs row
    // COUNTS — keep a 1-field schema so the reader emits one row per span
    required =
      if (requiredSchema.isEmpty)
        StructType(SpanFileSource.Schema.take(1))
      else requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some(kinds) => new SpanStatsAggScan(dir, kinds)
    case None => new SpanScan(dir, required, skipping, maxFilesPerTrigger)
  }
}

/** The fully-pushed-aggregate scan: ONE synthetic partition whose
  * single row is computed from the `_stats.json` sidecar — no span
  * file is ever opened (description carries `files=0/N`). */
private[sources] class SpanStatsAggScan(dir: String, kinds: Seq[String])
    extends Scan with Batch {
  private val stats = SpanFileSource.readStats(dir)

  override def readSchema(): StructType =
    StructType(kinds.zipWithIndex.map { case (k, i) =>
      StructField(s"agg_${i}_$k", LongType, nullable = false)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSpanStatsAgg files=0/${stats.size} " +
      s"agg=[${kinds.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    Array(SpanStatsAggPartition(kinds.map {
      case "count" => stats.map(_.nSpans).sum
      case "min" => stats.map(_.minStartNs).min
      case "max" => stats.map(_.maxStartNs).max
    }))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var done = false
          private val values =
            p.asInstanceOf[SpanStatsAggPartition].values
          override def next(): Boolean =
            if (done) false else { done = true; true }
          override def get(): InternalRow =
            new GenericInternalRow(
              values.map(_.asInstanceOf[Any]).toArray)
          override def close(): Unit = ()
        }
    }
}

private[sources] final case class SpanStatsAggPartition(values: Seq[Long])
    extends InputPartition

private[sources] class SpanScan(dir: String, required: StructType,
    skipping: Array[Filter], maxFilesPerTrigger: Int = Int.MaxValue)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {
  private val stats = SpanFileSource.readStats(dir)
  /** Statically-pruned file list — IMMUTABLE (review finding, round 6:
    * the earlier in-place mutation made pruning monotone across filter()
    * invocations, so a re-executed plan whose runtime key set widened
    * could stay over-pruned from the previous execution). Runtime
    * survivors are derived fresh from `runtime` at plan time instead. */
  private val staticSurvivors = stats.filter(s =>
    skipping.forall(f => SpanFileSource.mightMatch(s, f)))
  private var runtime: Array[Filter] = Array.empty

  private def runtimeSurvivors: Seq[SpanFileSource.FileStat] =
    staticSurvivors.filter(s =>
      runtime.forall(f => SpanFileSource.mightMatch(s, f)))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Sidecar stats feed the COST MODEL (`SupportsReportStatistics`):
    * numRows is the exact span count of the files that survive static
    * skipping, sizeInBytes a per-column estimate over the PRUNED
    * schema. This is what lets the planner choose a broadcast join for
    * a predicate-narrowed span scan WITHOUT a hint — without it a V2
    * relation defaults to an unknown/huge size and every un-hinted
    * join goes shuffle. Stats reflect static pruning only (runtime
    * filters arrive after planning, by definition). */
  override def estimateStatistics(): Statistics = new Statistics {
    // staticSurvivors by construction: stats reflect static pruning
    // only, regardless of whether filter() already ran
    private val rows = staticSurvivors.map(_.nSpans).sum
    // the reader materializes only `required`: ~24 bytes per string
    // cell (ids/names), 8 per long — a deliberate order-of-magnitude
    // estimate; the cost model needs magnitude, not precision
    private val rowBytes = required.fields.map(_.dataType match {
      case LongType => 8L
      case _ => 24L
    }).sum.max(8L)
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(rows * rowBytes)
    override def numRows(): util.OptionalLong =
      util.OptionalLong.of(rows)
  }

  /** Runtime (DPP-style) filtering: when this scan feeds a join whose
    * other side carries a selective predicate, Spark plans a
    * DynamicPruning subquery over the join keys declared here and
    * hands the materialized key set back as an `In` filter BEFORE
    * partitions are planned — so files whose sidecar service set
    * cannot match any surviving join key are never opened. Soundness:
    * the same conservative [[SpanFileSource.mightMatch]] the static
    * path uses (stats only prune); rows from a wrongly-kept file are
    * dropped by the join itself, and SourceSpec pins filtered ==
    * unfiltered results. */
  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("service_name"))

  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters.filter(SpanFileSource.skippable)
    // test observability seam only (SourceSpec): best-effort under
    // concurrency, never feeds planning — survivors are derived fresh
    SpanFileSource.lastRuntimePrune =
      Some((staticSurvivors.size, runtimeSurvivors.size))
  }

  /** Shown in `.explain()` — SourceSpec greps the `files=` fraction to
    * pin that skipping actually happened. */
  override def description(): String =
    s"GraftSpanScan files=${runtimeSurvivors.size}/${stats.size} " +
      s"skipping=[${skipping.mkString(", ")}] " +
      s"runtime=[${runtime.mkString(", ")}] " +
      s"columns=[${required.fieldNames.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    runtimeSurvivors.map(s => SpanInputPartition(s"$dir/${s.file}")
      .asInstanceOf[InputPartition]).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new SpanReaderFactory(required)

  /** The streaming read of the same source (MICRO_BATCH_READ): offsets
    * index the NAME-SORTED file list, each trigger admits at most
    * `maxFilesPerTrigger` new files — the standard log-structured file
    * source design (a collector drops request files; the stream tails
    * the directory in deterministic order). Stats skipping and column
    * pruning apply inside each admitted range exactly as in batch. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read
      .streaming.MicroBatchStream =
    new SpanMicroBatchStream(dir, required, skipping, maxFilesPerTrigger)
}

/** Offset = count of files (of the sorted listing) already admitted,
  * plus a fingerprint of THOSE files' names: positional offsets are only
  * sound while the seen prefix of the sorted listing is immutable, so
  * the prefix is pinned in the offset itself and every trigger
  * re-validates it against the live directory — a file arriving with a
  * name that sorts INSIDE the seen range (a non-monotonically-named
  * producer) fails loudly instead of silently shifting what every later
  * offset means (data loss + duplicates). */
private[sources] final case class SpanStreamOffset(filesSeen: Int,
    prefixHash: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"filesSeen":$filesSeen,"prefixHash":"$prefixHash"}"""
}

private[sources] class SpanMicroBatchStream(dir: String,
    required: StructType, skipping: Array[Filter], maxFilesPerTrigger: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** Re-list the directory EVERY call (the sidecar is one small JSON):
    * a collector appending files mid-run is the point of a stream; a
    * constructor-time snapshot would never admit them. */
  private def listing(): Seq[SpanFileSource.FileStat] =
    SpanFileSource.readStats(dir).sortBy(_.file)

  private def prefixHash(fs: Seq[SpanFileSource.FileStat],
      n: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    fs.take(n).foreach(f => md.update((f.file + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def seen(o: Offset): Int =
    o.asInstanceOf[SpanStreamOffset].filesSeen

  /** The seen prefix must still be the seen prefix: fail loudly on
    * non-monotonic producers rather than silently re-indexing. Empty
    * recorded hash (a pre-upgrade checkpoint) skips the check. */
  private def validatePrefix(fs: Seq[SpanFileSource.FileStat],
      o: Offset): Unit = {
    val off = o.asInstanceOf[SpanStreamOffset]
    if (off.prefixHash.nonEmpty &&
        prefixHash(fs, off.filesSeen) != off.prefixHash)
      throw new IllegalStateException(
        s"graft span stream: the first ${off.filesSeen} files of " +
          s"$dir changed after being read — a file was added, renamed " +
          "or removed inside the consumed range (non-monotonic file " +
          "naming?). Positional offsets cannot continue safely.")
  }

  override def initialOffset(): Offset = SpanStreamOffset(0, prefixHash(Nil, 0))

  /** Admission control: each trigger admits at most maxFilesPerTrigger
    * files beyond the offset the engine RESUMES FROM — stateless in
    * this object, so a fresh stream instance per trigger (which the
    * engine is free to create) still paces correctly; 24 fixture files
    * at the test cap of 8 run as 3 genuine micro-batches (pinned in
    * SourceSpec). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val fs = listing()
    validatePrefix(fs, start)
    val n = math.min(seen(start) + maxFilesPerTrigger.toLong,
      fs.size.toLong).toInt
    SpanStreamOffset(n, prefixHash(fs, n))
  }

  /** The true end of available data, regardless of pacing. */
  override def reportLatestOffset(): Offset = {
    val fs = listing()
    SpanStreamOffset(fs.size, prefixHash(fs, fs.size))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry")

  override def deserializeOffset(json: String): Offset = {
    val node = new ObjectMapper().readTree(json)
    SpanStreamOffset(node.get("filesSeen").asInt(),
      Option(node.get("prefixHash")).map(_.asText()).getOrElse(""))
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val fs = listing()
    validatePrefix(fs, start)
    validatePrefix(fs, end)
    fs.slice(seen(start), seen(end))
      .filter(s => skipping.forall(f => SpanFileSource.mightMatch(s, f)))
      .map(s => SpanInputPartition(s"$dir/${s.file}")
        .asInstanceOf[InputPartition]).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SpanReaderFactory(required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] final case class SpanInputPartition(path: String)
    extends InputPartition

private[sources] class SpanReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new SpanPartitionReader(
      partition.asInstanceOf[SpanInputPartition].path, required)
}

/** Jackson parse of one OTLP/JSON request file → pruned InternalRows. */
private[sources] class SpanPartitionReader(path: String,
    required: StructType) extends PartitionReader[InternalRow] {

  private def b64OfHex(s: String): String =
    if (s == null || s.isEmpty) ""
    else java.util.Base64.getEncoder.encodeToString(
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)

  private val rows: Iterator[InternalRow] = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    val out = ArrayBuffer.empty[InternalRow]
    root.path("resourceSpans").elements().asScala.foreach { rs =>
      val service = rs.path("resource").path("attributes").elements()
        .asScala
        .find(_.path("key").asText() == "service.name")
        .map(_.path("value").path("stringValue").asText())
        .getOrElse("")
      rs.path("scopeSpans").elements().asScala.foreach { ss =>
        ss.path("spans").elements().asScala.foreach { sp =>
          val startNs = sp.path("startTimeUnixNano").asText("0").toLong
          val endNs = sp.path("endTimeUnixNano").asText("0").toLong
          def field(name: String): Any = name match {
            case "trace_id" =>
              UTF8String.fromString(b64OfHex(sp.path("traceId").asText()))
            case "span_id" =>
              UTF8String.fromString(b64OfHex(sp.path("spanId").asText()))
            case "parent_span_id" =>
              UTF8String.fromString(
                b64OfHex(sp.path("parentSpanId").asText()))
            case "name" =>
              UTF8String.fromString(sp.path("name").asText())
            case "service_name" => UTF8String.fromString(service)
            case "start_ns" => startNs
            case "duration_ns" => endNs - startNs
            case "status_code" =>
              UTF8String.fromString(
                sp.path("status").path("code").asText() match {
                  case "STATUS_CODE_ERROR" => "ERROR"
                  case "STATUS_CODE_OK" => "OK"
                  case other => other
                })
          }
          out += new GenericInternalRow(
            required.fieldNames.map(field): Array[Any])
        }
      }
    }
    out.iterator
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
