package graft.spans

import java.util.Base64
import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{DataFrame, Dataset}
import scala.collection.immutable.VectorMap
import scala.collection.mutable.ArrayBuffer

/** OTLP/protobuf ingestion (SURVEY §2.A A1, the `application/x-protobuf`
  * branch of the reference collector, collector/controller.go:46-53), and
  * the decoder model both wire forms share.
  *
  * A dependency-free protobuf wire-format decoder for
  * `ExportTraceServiceRequest` (message/field layout per the public
  * opentelemetry-proto schema) reads each request into [[PValue]]
  * attribute values and [[SpanRow]]s. [[OtlpIngest.decodeJson]] reads
  * OTLP/JSON into the same model, so both wire forms share one
  * stringification ([[stringify]], collector/service.go:184-237), one
  * attribute-map builder ([[attrMap]]) and one row type, as the
  * reference collector unmarshals both into the same structs
  * (collector/controller.go:45-77).
  *
  * Decoding runs per partition (`mapPartitions`) over a binary column —
  * the batch shape a Kafka `value: binary` stream feeds directly.
  *
  * Proto3 does not tell an absent scalar field from its default, so two
  * fields that are null when absent from an OTLP/JSON request read as
  * their defaults here: an absent scope name is "" (JSON: null) and an
  * absent start, end or event time is 0 (JSON: null). Each wire form
  * keeps its own reading of these two; a KeyValue with no value, which
  * the wire does mark, is a null attribute value in both.
  */
object OtlpProto {

  // ---- minimal protobuf wire reader ----
  // Every read is bounds-checked against the reader's logical `end`, not
  // just the backing array: a submessage Reader must never consume its
  // parent's sibling bytes, and a truncated/corrupt request must raise a
  // descriptive error instead of silently mis-decoding into garbage rows
  // (this is the untrusted-input ingest path).
  final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end
    private def fail(what: String): Nothing =
      throw new IllegalArgumentException(
        s"malformed protobuf: $what at offset $pos (message end $end)")
    private def need(n: Int): Unit =
      if (n < 0 || pos + n > end) fail(s"need $n bytes past message bound")
    def varint(): Long = {
      var shift = 0; var result = 0L
      while (shift < 64) {
        if (pos >= end) fail("varint runs past message bound")
        val b = buf(pos); pos += 1
        result |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      fail("varint longer than 10 bytes")
    }
    /** varint length prefix, validated to fit in the remaining bytes. */
    private def lenPrefix(): Int = {
      val raw = varint()
      if (raw < 0 || raw > end - pos)
        fail(s"length $raw exceeds remaining ${end - pos} bytes")
      raw.toInt
    }
    def fixed64(): Long = {
      need(8)
      var r = 0L; var i = 0
      while (i < 8) { r |= (buf(pos + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 8; r
    }
    def fixed32(): Int = {
      need(4)
      var r = 0; var i = 0
      while (i < 4) { r |= (buf(pos + i) & 0xFF) << (8 * i); i += 1 }
      pos += 4; r
    }
    def bytes(): Array[Byte] = {
      val len = lenPrefix()
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len; out
    }
    def sub(): Reader = {
      val len = lenPrefix()
      val r = new Reader(buf, pos, pos + len)
      pos += len; r
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => need(8); pos += 8
      case 2 =>
        // read the length FIRST: `pos += varint()` would capture the old
        // pos before varint() advances it, mis-skipping the field
        val len = lenPrefix()
        pos += len
      case 5 => need(4); pos += 4
      case w => fail(s"unknown wire type $w")
    }
    /** (fieldNumber, wireType) */
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
  }

  // ---- OTLP model subset ----
  sealed trait PValue
  final case class PString(s: String) extends PValue
  final case class PBool(b: Boolean) extends PValue
  final case class PInt(i: Long) extends PValue
  final case class PDouble(d: Double) extends PValue
  final case class PArray(vs: Seq[PValue]) extends PValue
  final case class PKvList(kvs: Seq[(String, PValue)]) extends PValue
  final case class PBytes(bs: Array[Byte]) extends PValue
  /** A non-string scalar kept as its wire text: OTLP/JSON carries int64
    * and bytes values as strings, rendered as received. */
  final case class PText(s: String) extends PValue

  private def readAnyValue(r: Reader): PValue = {
    // an AnyValue with NO recognized field set is a NULL attribute
    // value, as on the JSON path, so element_at and the canonicalAttrs
    // hash feeding resource_id agree across the wire forms
    var v: PValue = null
    while (r.hasNext) {
      val (f, w) = r.tag()
      f match {
        case 1 => v = PString(new String(r.bytes(), "UTF-8"))
        case 2 => v = PBool(r.varint() != 0)
        case 3 => v = PInt(r.varint())
        case 4 => v = PDouble(java.lang.Double.longBitsToDouble(r.fixed64()))
        case 5 =>
          val sr = r.sub(); val vs = ArrayBuffer[PValue]()
          while (sr.hasNext) {
            val (ff, ww) = sr.tag()
            if (ff == 1) vs += readAnyValue(sr.sub()) else sr.skip(ww)
          }
          v = PArray(vs.toSeq)
        case 6 =>
          val sr = r.sub(); val kvs = ArrayBuffer[(String, PValue)]()
          while (sr.hasNext) {
            val (ff, ww) = sr.tag()
            if (ff == 1) kvs += readKeyValue(sr.sub()) else sr.skip(ww)
          }
          v = PKvList(kvs.toSeq)
        case 7 => v = PBytes(r.bytes())
        case _ => r.skip(w)
      }
    }
    v
  }

  private def readKeyValue(r: Reader): (String, PValue) = {
    // no value field is a null attribute value, as an empty AnyValue is
    var k = ""; var v: PValue = null
    while (r.hasNext) {
      val (f, w) = r.tag()
      f match {
        case 1 => k = new String(r.bytes(), "UTF-8")
        case 2 => v = readAnyValue(r.sub())
        case _ => r.skip(w)
      }
    }
    (k, v)
  }

  // reference stringification rules (collector/service.go:184-237);
  // strings inside JSON renderings are escaped as Spark's to_json does
  private def quoted(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
  def stringify(v: PValue): String = v match {
    case null       => null
    case PString(s) => s
    case PBool(b)   => b.toString
    case PInt(i)    => i.toString
    case PDouble(d) => d.toString
    case PBytes(bs) => Base64.getEncoder.encodeToString(bs)
    case PText(s)   => s
    // an all-string array (the empty one too) is comma-joined; any
    // other array is a JSON array of the rendered elements
    case PArray(vs) if vs.forall(_.isInstanceOf[PString]) =>
      vs.map(_.asInstanceOf[PString].s).mkString(",")
    case PArray(vs) => vs.map(jsonText).mkString("[", ",", "]")
    case PKvList(kvs) =>
      kvs.map { case (k, x) => quoted(k) + ":" + jsonText(x) }
        .mkString("{", ",", "}")
  }
  private def jsonText(v: PValue): String =
    Option(stringify(v)).map(quoted).getOrElse("null")

  /** An attribute list as a map: a repeated key keeps its last value, at
    * the position of its last occurrence (the Go reference's map
    * assignment, with the wire order kept for the stored row). */
  def attrMap(kvs: Seq[(String, String)]): Map[String, String] = {
    val seen = new java.util.HashSet[String]()
    VectorMap.from(kvs.reverseIterator.filter(kv => seen.add(kv._1)).toSeq.reverse)
  }

  /** A legacy request's resource attributes with the span's merged in:
    * a key present in both takes the span value (controller.go:199-207),
    * resource entries first. */
  def mergeLegacy(res: Map[String, String],
      span: Map[String, String]): Map[String, String] =
    VectorMap.from(res.iterator.filter(kv => !span.contains(kv._1)) ++ span)

  final case class SpanEvent(time_unix_nano: java.lang.Long, name: String,
      attributes: Map[String, String])
  /** One decoded span, its resource and scope folded in.
    * `resource_identity` is the resource's own attributes; it differs
    * from `resource_attributes` only for a legacy JSON request, whose
    * span attributes merge into the resource's, and it is what the
    * resource id hashes ([[OtlpIngest.withDerivedIds]]). */
  final case class SpanRow(trace_id: String, span_id: String,
      parent_span_id: String, flags: Int, name: String,
      start_time_unix_nano: java.lang.Long, end_time_unix_nano: java.lang.Long,
      duration_ns: java.lang.Long, scope_name: String,
      resource_schema_url: String, resource_attributes: Map[String, String],
      span_attributes: Map[String, String], events: Seq[SpanEvent],
      resource_identity: Map[String, String])

  private def b64(bs: Array[Byte]): String =
    if (bs.isEmpty) "" else Base64.getEncoder.encodeToString(bs)

  private def readAttrs(r: Reader): (String, String) = {
    val (k, v) = readKeyValue(r)
    (k, stringify(v))
  }

  private def readEvent(r: Reader): SpanEvent = {
    var t = 0L; var name = ""; val attrs = ArrayBuffer[(String, String)]()
    while (r.hasNext) {
      val (f, w) = r.tag()
      f match {
        case 1 => t = r.fixed64()
        case 2 => name = new String(r.bytes(), "UTF-8")
        case 3 => attrs += readAttrs(r.sub())
        case _ => r.skip(w)
      }
    }
    SpanEvent(t, name, attrMap(attrs.toSeq))
  }

  private def readSpan(r: Reader): SpanRow = {
    var traceId, spanId, parentId = Array.emptyByteArray
    var name = ""; var flags = 0
    var start = 0L; var end = 0L
    val attrs = ArrayBuffer[(String, String)]()
    val events = ArrayBuffer[SpanEvent]()
    while (r.hasNext) {
      val (f, w) = r.tag()
      f match {
        case 1  => traceId = r.bytes()
        case 2  => spanId = r.bytes()
        case 4  => parentId = r.bytes()
        case 5  => name = new String(r.bytes(), "UTF-8")
        case 7  => start = r.fixed64()
        case 8  => end = r.fixed64()
        case 9  => attrs += readAttrs(r.sub())
        case 11 => events += readEvent(r.sub())
        case 16 => flags = r.fixed32()
        case _  => r.skip(w)
      }
    }
    SpanRow(b64(traceId), b64(spanId), b64(parentId), flags, name,
      start, end, end - start, "", "", Map.empty, attrMap(attrs.toSeq),
      events.toSeq, Map.empty)
  }

  /** Decode one ExportTraceServiceRequest → flat span rows. */
  def decodeRequest(bytes: Array[Byte]): Seq[SpanRow] = {
    val out = ArrayBuffer[SpanRow]()
    val root = new Reader(bytes, 0, bytes.length)
    while (root.hasNext) {
      val (f, w) = root.tag()
      if (f != 1) { root.skip(w) }
      else {
        val rs = root.sub()
        var resAttrs = Map.empty[String, String]
        var schemaUrl = ""
        val scoped = ArrayBuffer[(String, Seq[SpanRow])]()
        while (rs.hasNext) {
          val (rf, rw) = rs.tag()
          rf match {
            case 1 =>
              val rr = rs.sub(); val as = ArrayBuffer[(String, String)]()
              while (rr.hasNext) {
                val (ff, ww) = rr.tag()
                if (ff == 1) as += readAttrs(rr.sub()) else rr.skip(ww)
              }
              resAttrs = attrMap(as.toSeq)
            case 2 =>
              val sr = rs.sub()
              var scopeName = ""
              val spans = ArrayBuffer[SpanRow]()
              while (sr.hasNext) {
                val (sf, sw) = sr.tag()
                sf match {
                  case 1 =>
                    val scr = sr.sub()
                    while (scr.hasNext) {
                      val (cf, cw) = scr.tag()
                      if (cf == 1) scopeName = new String(scr.bytes(), "UTF-8")
                      else scr.skip(cw)
                    }
                  case 2 => spans += readSpan(sr.sub())
                  case _ => sr.skip(sw)
                }
              }
              scoped += (scopeName -> spans.toSeq)
            case 3 => schemaUrl = new String(rs.bytes(), "UTF-8")
            case _ => rs.skip(rw)
          }
        }
        scoped.foreach { case (scopeName, spans) =>
          spans.foreach { s =>
            out += s.copy(scope_name = scopeName,
              resource_schema_url = schemaUrl,
              resource_attributes = resAttrs, resource_identity = resAttrs)
          }
        }
      }
    }
    out.toSeq
  }

  /** Dataset of serialized requests → span DataFrame (SpanSchema column
    * order), decoded per partition. A message that fails to decode fails
    * a batch job and is dropped and counted by a stream
    * ([[OtlpIngest.spanTable]]). */
  def fromProtobuf(requests: Dataset[Array[Byte]]): DataFrame =
    OtlpIngest.spanTable(requests)(decodeRequest)

  /** Per-JVM count of requests a stream dropped as undecodable, for
    * both wire forms (a monitoring seam; per executor on a cluster). */
  val droppedMessages = new java.util.concurrent.atomic.AtomicLong(0)
}
