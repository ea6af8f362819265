package graft.spans

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import graft.spans.OtlpProto._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** OTLP trace ingestion (SURVEY §2.A A1-A4): OTLP/JSON
  * `ExportTraceServiceRequest` documents → one denormalized row per span.
  *
  * Mirrors the reference collector's behavior:
  *  - A2: accepts both the current `scopeSpans` form and the legacy
  *    `instrumentationLibrarySpans` form incl. `{Value:{StringValue:..}}`
  *    wrapped attribute values (reference collector/controller.go:54-70,
  *    97-223).
  *  - A3: flattens resource → scope → span → events and stringifies
  *    attribute values with the reference's rules
  *    (collector/service.go:184-237): string kept; int/double/bool
  *    rendered; all-string arrays comma-joined, other arrays JSON;
  *    kvlist JSON; bytes stay base64 (OTLP/JSON already base64s bytes).
  *  - ids: OTLP/JSON carries hex ids; the reference stores base64 of the
  *    raw bytes (collector/service.go:273-275) — hex ids are re-encoded
  *    to base64 to match.
  *  - A4: [[writeSpans]] materializes `duration_ns` (db/clickhouse.go:94)
  *    and appends date-partitioned parquet — the clustering analog of the
  *    reference's MergeTree ORDER BY (start_time, trace_id)
  *    (db/clickhouse.go:107-109): partition pruning + row-group min/max
  *    stats give the same time-range skipping at scale.
  *
  * A JSON document decodes per partition, in [[decodeJson]], into the
  * value model and span rows of the protobuf decoder ([[OtlpProto]]), so
  * both wire forms share one stringification and one attribute-map
  * builder; only the scope/resource ids are derived by Spark
  * expressions ([[withDerivedIds]]), after the decode. A request the
  * decoder rejects fails a batch and is dropped and counted by a stream,
  * for both wire forms ([[spanTable]]).
  */
object OtlpIngest {

  // ---- A2+A3: OTLP/JSON → span rows ----

  // Spark's JSON reader accepts single-quoted strings and unquoted
  // NaN/Infinity by default (JSONOptions), so this mapper does too
  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES, JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  // Field readers over the Jackson tree. They read as Spark's JSON
  // reader (from_json) does, so a document gives the rows it gave when
  // the ingest was a from_json schema: a field of the wrong JSON type
  // reads as absent, a string field takes any other JSON value as its
  // JSON text, a list with an element that is neither an object nor
  // null reads as absent, and a null element reads as an object with
  // every field absent.
  private def field(n: JsonNode, name: String): JsonNode =
    if (n == null) null else n.get(name)
  private def obj(n: JsonNode, name: String): JsonNode =
    Option(field(n, name)).filter(_.isObject).orNull
  private def text(n: JsonNode, name: String): String = {
    val v = field(n, name)
    if (v == null || v.isNull) null else if (v.isTextual) v.textValue else v.toString
  }
  private def list(n: JsonNode, name: String): Option[Seq[JsonNode]] =
    Option(field(n, name)).filter(_.isArray).map(_.elements.asScala.toSeq)
      .filter(_.forall(x => x.isObject || x.isNull))
      .map(_.map(x => if (x.isNull) mapper.createObjectNode() else x))
  private def objs(n: JsonNode, name: String): Seq[JsonNode] =
    list(n, name).getOrElse(Nil)
  private def bool(n: JsonNode, name: String): Option[Boolean] =
    Option(field(n, name)).filter(_.isBoolean).map(_.booleanValue)
  private def double(n: JsonNode, name: String): Option[Double] =
    Option(field(n, name)).flatMap { v =>
      if (v.isNumber) Some(v.doubleValue)
      else if (!v.isTextual) None
      else v.textValue match {
        case "NaN" => Some(Double.NaN)
        case "Infinity" | "+Infinity" | "+INF" => Some(Double.PositiveInfinity)
        case "-Infinity" | "-INF" => Some(Double.NegativeInfinity)
        case _ => None
      }
    }
  /** An int64 carried as a string (or number); a value that is not an
    * integer fails the request ([[spanTable]] sets what that means). */
  private def int64(n: JsonNode, name: String): java.lang.Long =
    Option(text(n, name)).map { s =>
      try java.lang.Long.valueOf(s.trim)
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"OTLP/JSON $name '$s' is not an int64")
      }
    }.orNull

  /** end − start; a difference past int64 fails the request, as a bad
    * time value does. */
  private def duration(start: java.lang.Long, end: java.lang.Long): java.lang.Long =
    try java.lang.Long.valueOf(Math.subtractExact(end.longValue, start.longValue))
    catch {
      case _: ArithmeticException => throw new IllegalArgumentException(
        s"OTLP/JSON endTimeUnixNano '$end' minus startTimeUnixNano '$start' overflows int64")
    }

  /** AnyValue → [[PValue]]; the first field set wins, in the order
    * string, int, double, bool, bytes, the legacy `Value` wrapper,
    * array, kvlist. No field set → null. */
  private def anyValue(v: JsonNode): PValue =
    if (v == null || !v.isObject) null
    else {
      val legacy = obj(v, "Value")
      def str(n: JsonNode, f: String, as: String => PValue) = Option(text(n, f)).map(as)
      str(v, "stringValue", PString)
        .orElse(str(v, "intValue", PText))
        .orElse(double(v, "doubleValue").map(PDouble))
        .orElse(bool(v, "boolValue").map(PBool))
        .orElse(str(v, "bytesValue", PText))
        .orElse(Option(legacy).flatMap(l => str(l, "StringValue", PString)
          .orElse(str(l, "IntValue", PText))
          .orElse(double(l, "DoubleValue").map(PDouble))
          .orElse(bool(l, "BoolValue").map(PBool))))
        .orElse(list(obj(v, "arrayValue"), "values").map(vs => PArray(vs.map(anyValue))))
        .orElse(list(obj(v, "kvlistValue"), "values").map(kvs =>
          PKvList(keyValues(kvs).map { case (k, x) => k -> anyValue(x) })))
        .orNull
    }

  /** The KeyValue entries that carry a key. */
  private def keyValues(kvs: Seq[JsonNode]): Seq[(String, JsonNode)] =
    kvs.flatMap(kv => Option(text(kv, "key")).map(_ -> kv.get("value")))

  private def attrs(n: JsonNode): Map[String, String] =
    attrMap(keyValues(objs(n, "attributes"))
      .map { case (k, v) => k -> stringify(anyValue(v)) })

  /** Hex id → base64 of its bytes (collector/service.go:273-275); a
    * non-hex or odd-length id passes through, an absent one is "". */
  private def storedId(id: String): String =
    if (id == null || id.isEmpty) ""
    else if (id.length % 2 == 0 && id.forall(c => c < 128 && Character.digit(c, 16) >= 0))
      java.util.Base64.getEncoder.encodeToString(java.util.HexFormat.of.parseHex(id))
    else id

  /** One OTLP/JSON request → its span rows. A document that does not
    * parse, or is not an object, has no rows, as under Spark's JSON
    * reader; a bad time value raises `IllegalArgumentException`. */
  def decodeJson(doc: String): Seq[SpanRow] = {
    val root =
      try if (doc == null) null else mapper.readTree(doc)
      catch { case _: JacksonException => null }
    val out = ArrayBuffer[SpanRow]()
    for (rs <- objs(root, "resourceSpans")) {
      val res = attrs(obj(rs, "resource"))
      val schemaUrl = Option(text(rs, "schemaUrl")).getOrElse("")
      // scopeSpans wins only when it carries entries: a migration-era
      // exporter may send both lists, and an empty scopeSpans must not
      // hide the legacy spans; spans read from the legacy list get the
      // legacy attribute merge
      val scoped = objs(rs, "scopeSpans")
      val legacy = scoped.isEmpty
      for (ss <- if (legacy) objs(rs, "instrumentationLibrarySpans") else scoped) {
        val scopeName = Option(text(obj(ss, "scope"), "name"))
          .getOrElse(text(obj(ss, "instrumentationLibrary"), "name"))
        for (sp <- objs(ss, "spans")) {
          val spanAttrs = attrs(sp)
          val start = int64(sp, "startTimeUnixNano")
          val end = int64(sp, "endTimeUnixNano")
          out += SpanRow(storedId(text(sp, "traceId")),
            storedId(text(sp, "spanId")), storedId(text(sp, "parentSpanId")),
            Option(field(sp, "flags")).filter(f => f.isIntegralNumber && f.canConvertToInt)
              .fold(0)(_.intValue),
            text(sp, "name"), start, end,
            if (start == null || end == null) null else duration(start, end),
            scopeName, schemaUrl,
            if (legacy) mergeLegacy(res, spanAttrs) else res, spanAttrs,
            objs(sp, "events").map(e =>
              SpanEvent(int64(e, "timeUnixNano"), text(e, "name"), attrs(e))),
            res)
        }
      }
    }
    out.toSeq
  }

  /** Parse a Dataset of OTLP/JSON request documents and flatten to the
    * span table (one row per span), decoded per partition. Works on a
    * streaming Dataset too ([[graft.streaming.StreamingOps.streamOtlpJson]]). */
  def fromJson(requests: Dataset[String]): DataFrame =
    spanTable(requests)(decodeJson)

  /** Requests decoded per partition into span rows → the span table in
    * SpanSchema column order, with scope and resource ids derived.
    *
    * The one rule for a request the decoder rejects (an
    * `IllegalArgumentException`: a malformed protobuf message, a JSON
    * time value that is not an int64, an `end − start` past int64), for
    * both wire forms: a batch job fails and the error names the value;
    * a stream drops the request and counts it in
    * [[OtlpProto.droppedMessages]], because a failed micro-batch replays
    * the same offsets on restart and would fail forever. A production
    * deployment routes the dropped bytes to a dead-letter sink. */
  private[spans] def spanTable[T](requests: Dataset[T])(
      decode: T => Seq[SpanRow]): DataFrame = {
    val streaming = requests.isStreaming
    requests.mapPartitions(_.flatMap { r =>
      try decode(r)
      catch {
        case _: IllegalArgumentException if streaming =>
          droppedMessages.incrementAndGet()
          Seq.empty
      }
    })(Encoders.product[SpanRow])
      .toDF()
      .transform(withDerivedIds(_, Some(col("resource_identity"))))
      .select(SpanSchema.columns.map(col): _*)
  }

  // ---- derived scope/resource ids ----

  /** Deterministic UUID-format id from content (md5 → 8-4-4-4-12 groups).
    * The reference's denormalized writer leaves scope_id/resource_id as
    * zero UUIDs (utils/types.go:44-46 — never assigned on the live path);
    * its dead normalized path draws RANDOM uuids per request
    * (controller.go:233,259). Content-derived ids keep the row
    * byte-complete and are the right call at scale: the same
    * scope/resource hashes to the same id on every executor and every
    * replay, no coordination, and downstream joins on scope_id actually
    * mean something. */
  def contentUuid(parts: Column*): Column = {
    val h = md5(concat_ws("\u0000", parts: _*))
    concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
      substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
  }

  /** Order-insensitive canonical text of an attr map (sorted k=v lines),
    * so the id does not depend on map entry order. */
  private def canonicalAttrs(m: Column): Column =
    array_join(array_sort(transform(map_entries(m),
      e => concat(e.getField("key"), lit("="),
        coalesce(e.getField("value"), lit(""))))), "\n")

  /** Populate scope_id/resource_id from scope name and resource identity
    * (schema url + canonical attrs). Works on any frame with those
    * columns — both ingest paths route through it. `resourceIdentity`
    * overrides the attr map the resource hash reads: the decoders pass
    * the PRE-merge resource attrs, because legacy requests fold each
    * span's own attrs into `resource_attributes` and hashing the merged
    * map would give spans of one resource different resource_ids. */
  def withDerivedIds(spans: DataFrame,
      resourceIdentity: Option[Column] = None): DataFrame = {
    val identity = resourceIdentity.getOrElse(col("resource_attributes"))
    spans
      .withColumn("scope_id",
        contentUuid(lit("scope"), coalesce(col("scope_name"), lit(""))))
      .withColumn("resource_id", contentUuid(lit("resource"),
        coalesce(col("resource_schema_url"), lit("")),
        canonicalAttrs(identity)))
  }

  // ---- A4: sink ----

  /** Writer tasks per date — bounds files/partition while keeping
    * write parallelism (see [[writeSpans]]). */
  val WriteTasksPerDate = 8

  /** Append the span table as date-partitioned parquet. Partitioning by
    * event date + parquet min/max stats replaces the reference's MergeTree
    * time clustering (db/clickhouse.go:107-109) for range pruning.
    * The repartition is SALTED by trace hash: live telemetry batches
    * are overwhelmingly single-date, so repartition(date) alone
    * funnels each micro-batch through ONE writer task (zero
    * parallelism, straggler/OOM at the volumes this path claims —
    * round-10 review); date+salt keeps ≤[[WriteTasksPerDate]] files
    * per (batch, date) with parallel writers. */
  def writeSpans(spans: DataFrame, path: String): Unit =
    spans
      .withColumn("date",
        to_date(timestamp_micros(expr("start_time_unix_nano div 1000"))))
      .repartition(col("date"),
        pmod(xxhash64(col("trace_id")), lit(WriteTasksPerDate)))
      .write.mode("append").partitionBy("date").parquet(path)

  def readSpans(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
