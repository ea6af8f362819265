package graft

import graft.spans.OtlpProto
import java.io.ByteArrayOutputStream

/** Protobuf ingest path: decode hand-encoded OTLP wire bytes and compare
  * with the JSON path's semantics (stringification, base64 ids,
  * duration materialization). */
class OtlpProtoSpec extends SparkSpec {
  import OtlpProtoSpec.{W, kv, strVal}

  private def request: Array[Byte] = OtlpProtoSpec.exampleRequestBytes

  test("wire decode: ids, times, attrs, events match the JSON semantics") {
    val rows = OtlpProto.decodeRequest(request)
    assert(rows.length === 1)
    val r = rows.head
    assert(r.trace_id === "CgsMDQ==")  // same base64 as the JSON path
    assert(r.span_id === "AQIDBA==")
    assert(r.parent_span_id === "")
    assert(r.name === "GET /users")
    assert(r.duration_ns === 100000000L)
    assert(r.scope_name === "gateway")
    assert(r.resource_schema_url === "https://example/schema")
    assert(r.resource_attributes("service.name") === "gateway")
    assert(r.resource_attributes("tags") === "a,b") // all-string: comma join
    assert(r.span_attributes("http.method") === "GET")
    assert(r.span_attributes("retries") === "42")
    assert(r.span_attributes("ratio") === "0.5")
    assert(r.events.head.name === "exception")
    assert(r.events.head.attributes("exception.type") === "IOException")
  }

  test("unknown fields are skipped (wire-format forward compatibility)") {
    // span with extra fields the decoder doesn't know: varint field 90,
    // fixed64 field 91, length-delimited field 92
    val span = new W()
      .bytes(1, Array[Byte](1)).bytes(2, Array[Byte](2))
      .str(5, "future-span")
      .fixed64(7, 1000L).fixed64(8, 2000L)
      .vint(90, 12345L)
      .fixed64(91, 999L)
      .str(92, "ignored payload")
    val req = new W().msg(1, new W()
      .msg(2, new W().msg(1, new W().str(1, "svc")).msg(2, span)))
      .out.toByteArray
    val rows = OtlpProto.decodeRequest(req)
    assert(rows.length === 1)
    assert(rows.head.name === "future-span")
    assert(rows.head.duration_ns === 1000L)
  }

  test("empty and span-less requests decode to zero rows") {
    assert(OtlpProto.decodeRequest(Array.emptyByteArray) === Seq.empty)
    val emptyRs = new W().msg(1, new W()).out.toByteArray
    assert(OtlpProto.decodeRequest(emptyRs) === Seq.empty)
  }

  test("truncated/corrupt requests raise descriptive errors, not garbage rows") {
    val full = request
    // truncating anywhere inside the message must throw a descriptive
    // malformed-protobuf error (never a raw ArrayIndexOutOfBounds or a
    // silently wrong decode)
    for (cut <- Seq(1, full.length / 4, full.length / 2, full.length - 1)) {
      val e = intercept[IllegalArgumentException] {
        OtlpProto.decodeRequest(full.take(cut))
      }
      assert(e.getMessage.contains("malformed protobuf"), s"cut=$cut: $e")
    }
    // a length prefix larger than the remaining bytes is rejected
    val lyingLen = new W().tag(1, 2).varint(1000L).out.toByteArray
    val e1 = intercept[IllegalArgumentException] {
      OtlpProto.decodeRequest(lyingLen ++ Array[Byte](1, 2, 3))
    }
    assert(e1.getMessage.contains("exceeds remaining"), e1.getMessage)
    // a submessage must not read its parent's sibling bytes: resource
    // attrs submessage claims 2 bytes but its inner field wants more
    val inner = new W().tag(1, 2).varint(50L) // kv claims 50 bytes, has 0
    val req = new W().msg(1, new W().msg(1, inner)).out.toByteArray
    val e2 = intercept[IllegalArgumentException] {
      OtlpProto.decodeRequest(req)
    }
    assert(e2.getMessage.contains("malformed protobuf"), e2.getMessage)
  }

  test("protobuf binary-file stream -> span store end-to-end") {
    import spark.implicits._
    val in = SparkSpec.tempDir("otlp-pb")
    val store = SparkSpec.tempDir("pb-store")
    val ckpt = SparkSpec.tempDir("pb-ckpt")
    // a truncated request beside the good one: the stream drops and
    // counts it, and the good request's rows still arrive
    val truncated = request.take(request.length / 2)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$in/req1.pb"), request)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$in/req2.pb"), truncated)
    val dropped = OtlpProto.droppedMessages.get
    val stream = graft.streaming.StreamingOps.streamOtlpProtobuf(spark, in)
    val q = graft.streaming.StreamingOps.writeToSpanStore(stream, store, ckpt)
    q.awaitTermination(60000)
    val back = graft.spans.OtlpIngest.readSpans(spark, store)
    assert(back.count() === 1)
    assert(back.collect().head.getAs[String]("trace_id") === "CgsMDQ==")
    assert(OtlpProto.droppedMessages.get - dropped === 1)
    // the same bytes fail a batch job
    val e = intercept[Exception](
      OtlpProto.fromProtobuf(spark.createDataset(Seq(request, truncated))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("malformed protobuf")), e)
  }

  test("fromProtobuf: DataFrame in SpanSchema column order") {
    import spark.implicits._
    val df = OtlpProto.fromProtobuf(spark.createDataset(Seq(request)))
    assert(df.columns.toSeq === graft.spans.SpanSchema.columns)
    assert(df.count() === 1)
    val row = df.collect().head
    assert(row.getAs[String]("trace_id") === "CgsMDQ==")
    assert(row.getAs[Long]("duration_ns") === 100000000L)
  }

  test("one request in both wire forms decodes to identical rows, " +
    "map entry order included") {
    import spark.implicits._
    // (key, OTLP/JSON value, protobuf AnyValue writer)
    type Attr = (String, String, W => W)
    val res: Seq[Attr] = Seq(
      ("service.name", """{"stringValue":"gateway"}""", strVal("gateway")),
      ("host.name", """{"stringValue":"h-1"}""", strVal("h-1")),
      ("region", """{"stringValue":"eu"}""", strVal("eu")),
      ("pid", """{"intValue":"4242"}""", _.vint(3, 4242)),
      ("load", """{"doubleValue":0.75}""", _.fixed64(4,
        java.lang.Double.doubleToLongBits(0.75))),
      ("debug", """{"boolValue":false}""", _.vint(2, 0)),
      ("tags", """{"arrayValue":{"values":[{"stringValue":"a"},{"stringValue":"b"}]}}""",
        _.msg(5, new W().msg(1, new W().str(1, "a")).msg(1, new W().str(1, "b")))),
      ("novalue", null, null))
    val span: Seq[Attr] = Seq(
      ("http.method", """{"stringValue":"GET"}""", strVal("GET")),
      ("retries", """{"intValue":"42"}""", _.vint(3, 42)),
      ("ratio", """{"doubleValue":0.5}""", _.fixed64(4,
        java.lang.Double.doubleToLongBits(0.5))),
      ("mixed", """{"arrayValue":{"values":[{"stringValue":"a"},{"intValue":"1"}]}}""",
        _.msg(5, new W().msg(1, new W().str(1, "a")).msg(1, new W().vint(3, 1)))),
      ("meta", """{"kvlistValue":{"values":[{"key":"k","value":{"stringValue":"v"}}]}}""",
        _.msg(6, new W().msg(1, kv("k", strVal("v"))))),
      ("blob", """{"bytesValue":"aGVsbG8="}""", _.bytes(7, "hello".getBytes("UTF-8"))),
      ("novalue", null, null),
      ("http.method", """{"stringValue":"POST"}""", strVal("POST")))
    // a null value is a KeyValue with no value field in either wire form
    def json(as: Seq[Attr]): String = as.map {
      case (k, null, _) => s"""{"key":"$k"}"""
      case (k, v, _) => s"""{"key":"$k","value":$v}"""
    }.mkString("[", ",", "]")
    def proto(w: W, field: Int, as: Seq[Attr]): W =
      as.foldLeft(w) {
        case (acc, (k, _, null)) => acc.msg(field, new W().str(1, k))
        case (acc, (k, _, v)) => acc.msg(field, kv(k, v))
      }
    val jsonDoc =
      s"""{"resourceSpans":[{"resource":{"attributes":${json(res)}},
         |"schemaUrl":"https://example/schema",
         |"scopeSpans":[{"scope":{"name":"gateway"},"spans":[
         |{"traceId":"0a0b0c0d","spanId":"01020304","parentSpanId":"05060708",
         | "flags":1,"name":"GET /users",
         | "startTimeUnixNano":"1704067200000000000",
         | "endTimeUnixNano":"1704067200100000000",
         | "attributes":${json(span)},
         | "events":[{"timeUnixNano":"1704067200050000000","name":"exception",
         |   "attributes":${json(span.take(3))}}]}]}]}]}"""
        .stripMargin.replace("\n", "")
    val protoSpan = proto(new W()
      .bytes(1, Array[Byte](0x0a, 0x0b, 0x0c, 0x0d))
      .bytes(2, Array[Byte](1, 2, 3, 4))
      .bytes(4, Array[Byte](5, 6, 7, 8))
      .str(5, "GET /users")
      .fixed64(7, 1704067200000000000L)
      .fixed64(8, 1704067200100000000L), 9, span)
      .msg(11, proto(new W()
        .fixed64(1, 1704067200050000000L)
        .str(2, "exception"), 3, span.take(3)))
      .fixed32(16, 1)
    val protoDoc = new W().msg(1, new W()
      .msg(1, proto(new W(), 1, res))
      .msg(2, new W().msg(1, new W().str(1, "gateway")).msg(2, protoSpan))
      .str(3, "https://example/schema")).out.toByteArray
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.selectExpr("to_json(struct(*))").as[String].collect().toSeq
    val fromJson = rows(graft.spans.OtlpIngest.fromJson(
      spark.createDataset(Seq(jsonDoc))))
    assert(fromJson.length === 1)
    assert(rows(OtlpProto.fromProtobuf(spark.createDataset(Seq(protoDoc)))) === fromJson)
  }
}

/** Wire-bytes fixtures shared with other specs (e.g. the Kafka decode
  * test in StreamingSpec). */
object OtlpProtoSpec {
  // -- minimal protobuf writer (test-only) --
  private[graft] class W {
    val out = new ByteArrayOutputStream()
    def varint(v: Long): W = {
      var x = v
      while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt); this
    }
    def tag(field: Int, wire: Int): W = varint((field.toLong << 3) | wire)
    def bytes(field: Int, bs: Array[Byte]): W = {
      tag(field, 2).varint(bs.length); out.write(bs); this
    }
    def str(field: Int, s: String): W = bytes(field, s.getBytes("UTF-8"))
    def msg(field: Int, w: W): W = bytes(field, w.out.toByteArray)
    def fixed64(field: Int, v: Long): W = {
      tag(field, 1)
      (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt))
      this
    }
    def fixed32(field: Int, v: Int): W = {
      tag(field, 5)
      (0 until 4).foreach(i => out.write((v >>> (8 * i)) & 0xFF))
      this
    }
    def vint(field: Int, v: Long): W = tag(field, 0).varint(v)
  }
  private[graft] def kv(key: String, value: W => W): W =
    new W().str(1, key).msg(2, value(new W()))
  private[graft] def strVal(s: String): W => W = _.str(1, s)

  /** One ExportTraceServiceRequest: resource attrs (string + array),
    * scope "gateway", one span with string/int/double attrs + an event. */
  def exampleRequestBytes: Array[Byte] = {
    val span1 = new W()
      .bytes(1, Array[Byte](0x0a, 0x0b, 0x0c, 0x0d)) // trace_id
      .bytes(2, Array[Byte](1, 2, 3, 4))             // span_id
      .str(5, "GET /users")
      .fixed64(7, 1704067200000000000L)
      .fixed64(8, 1704067200100000000L)
      .msg(9, kv("http.method", strVal("GET")))
      .msg(9, kv("retries", _.msg(2, new W().vint(3, 42))))   // int attr
      .msg(9, kv("ratio", _.msg(2, new W().fixed64(4,
        java.lang.Double.doubleToLongBits(0.5)))))            // double attr
      .msg(11, new W()                                        // event
        .fixed64(1, 1704067200050000000L)
        .str(2, "exception")
        .msg(3, kv("exception.type", strVal("IOException"))))
    val scopeSpans = new W()
      .msg(1, new W().str(1, "gateway"))
      .msg(2, span1)
    val resource = new W()
      .msg(1, kv("service.name", strVal("gateway")))
      .msg(1, kv("tags", _.msg(2, new W().msg(5, new W()
        .msg(1, new W().str(1, "a")).msg(1, new W().str(1, "b"))))))
    val resourceSpans = new W()
      .msg(1, resource)
      .msg(2, scopeSpans)
      .str(3, "https://example/schema")
    new W().msg(1, resourceSpans).out.toByteArray
  }
}
