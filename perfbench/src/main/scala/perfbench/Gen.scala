package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Base64, SplittableRandom}

/** One generated span, in the OTLP shape: raw id bytes, service name,
  * endpoint or operation name, times in ns, string attributes and at
  * most one exception event. */
final case class GSpan(traceId: Array[Byte], spanId: Array[Byte],
    parentId: Array[Byte], service: String, host: String, name: String,
    startNs: Long, endNs: Long, attrs: Vector[(String, String)],
    error: Boolean) {
  def isRoot: Boolean = parentId.isEmpty
  def exceptionEvent: Option[(Long, String, Vector[(String, String)])] =
    if (!error) None
    else Some(((startNs + endNs) / 2, "exception", Vector(
      "exception.type" -> "java.lang.IllegalStateException",
      "exception.message" -> s"failed ${Ids.hex(spanId)}")))
}

final case class GTrace(spans: Vector[GSpan]) {
  def root: GSpan = spans.head
  def id: Array[Byte] = root.traceId
}

object Ids {
  private val b64 = Base64.getEncoder

  /** splitmix64's finaliser: a bijection on 64-bit values, so distinct
    * counters give distinct ids. */
  def mix64(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def longBytes(v: Long): Array[Byte] =
    Array.tabulate(8)(i => (v >>> (56 - 8 * i)).toByte)

  def hex(bs: Array[Byte]): String = bs.map("%02x".format(_)).mkString

  /** The stored id form: base64 of the raw bytes, "" for none. */
  def stored(bs: Array[Byte]): String =
    if (bs.isEmpty) "" else b64.encodeToString(bs)
}

/** Seeded span source: 12 services, 40 root endpoints, 1-19 spans per
  * trace in a random tree, about 3% of spans carrying an exception
  * event. Every id is a bijection of (seed, counter), so ids never
  * repeat within one generator and the same seed replays the same
  * traces in the same order. */
final class SpanGen(seed: Long) {
  import SpanGen._
  private val rnd = new SplittableRandom(seed)
  private val idBase = Ids.mix64(seed ^ 0x6a09e667f3bcc908L)
  private var traceCtr = 0L
  private var spanCtr = 0L

  private def nextSpanId(): Array[Byte] = {
    spanCtr += 1
    Ids.longBytes(Ids.mix64(idBase + (spanCtr << 1)))
  }

  private def nextTraceId(): Array[Byte] = {
    traceCtr += 1
    Ids.longBytes(Ids.mix64(~idBase + (traceCtr << 1))) ++
      Ids.longBytes(Ids.mix64(~idBase + (traceCtr << 1) + 1))
  }

  private def logNormalNs(medianMs: Double, sigma: Double): Long = {
    val ms = medianMs * math.exp(sigma * rnd.nextGaussian())
    math.max(50000L, math.min(ms, 20000.0) * 1e6).toLong
  }

  /** One trace whose root starts at `startNs`. */
  def trace(startNs: Long): GTrace = {
    val tid = nextTraceId()
    val n = 1 + rnd.nextInt(19)
    val (endpoint, rootSvc) = Endpoints(rnd.nextInt(Endpoints.size))
    val rootDur = logNormalNs(40.0, 1.0)
    val rootErr = rnd.nextDouble() < ErrorShare
    val root = GSpan(tid, nextSpanId(), Array.emptyByteArray, rootSvc,
      host(rootSvc), endpoint, startNs, startNs + rootDur,
      Vector("http.method" -> endpoint.takeWhile(_ != ' '),
        "http.status_code" -> (if (rootErr) "500" else "200")),
      rootErr)
    val spans = Vector.newBuilder[GSpan]
    spans += root
    val made = scala.collection.mutable.ArrayBuffer(root)
    var k = 1
    while (k < n) {
      val parent = made(rnd.nextInt(made.size))
      val pDur = parent.endNs - parent.startNs
      val start = parent.startNs + rnd.nextLong(math.max(1L, pDur / 2))
      val dur = 1000L + rnd.nextLong(math.max(2L, parent.endNs - start - 1000L))
      val svc =
        if (rnd.nextInt(3) == 0) parent.service
        else Services(rnd.nextInt(Services.size))
      val op = ChildOps(rnd.nextInt(ChildOps.size))
      val err = rnd.nextDouble() < ErrorShare
      val s = GSpan(tid, nextSpanId(), parent.spanId, svc, host(svc), op,
        start, math.min(start + dur, parent.endNs),
        Vector("component" -> op.takeWhile(_ != '.'),
          "peer.service" -> parent.service), err)
      made += s
      spans += s
      k += 1
    }
    GTrace(spans.result())
  }

  /** `n` traces with root starts uniform over [t0, t0 + spanNs), in
    * start order. */
  def traces(n: Int, t0: Long, spanNs: Long): Vector[GTrace] = {
    val starts = Array.fill(n)(t0 + rnd.nextLong(spanNs)).sorted
    starts.toVector.map(trace)
  }

}

object SpanGen {
  val Services: Vector[String] = Vector.tabulate(12)(i => f"svc-$i%02d")
  private val Verbs = Vector("GET", "POST", "PUT", "DELETE")
  val Endpoints: Vector[(String, String)] = Vector.tabulate(40)(i =>
    (s"${Verbs(i % 4)} /api/v1/r$i", Services(i % 12)))
  val ChildOps: Vector[String] = Vector("db.query", "cache.get",
    "rpc.call", "queue.publish", "render.page", "auth.check")
  val ErrorShare = 0.03
  val DayNs: Long = 24L * 3600 * 1000000000L
  /** 2026-01-05T00:00:00Z: the start of every generated store. */
  val T0Ns: Long = 1767571200L * 1000000000L

  def host(service: String): String = s"host-${service.last}"
}

/** The three OTLP wire forms a collector accepts, written from the
  * generator's spans: current OTLP/JSON (`scopeSpans`), the legacy
  * `instrumentationLibrarySpans` JSON with `{Value:{StringValue}}`
  * wrapped values, and protobuf `ExportTraceServiceRequest` bytes. One
  * ResourceSpans per service, in first-seen order. */
object OtlpWire {
  private def byService(spans: Seq[GSpan]): Seq[(String, Seq[GSpan])] = {
    val order = spans.map(_.service).distinct
    val groups = spans.groupBy(_.service)
    order.map(s => s -> groups(s))
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  private def kvJson(kv: (String, String), legacy: Boolean): String = {
    val (k, v) = kv
    val value =
      if (legacy) s"""{"Value":{"StringValue":${q(v)}}}"""
      else if (k == "http.status_code") s"""{"intValue":${q(v)}}"""
      else s"""{"stringValue":${q(v)}}"""
    s"""{"key":${q(k)},"value":$value}"""
  }

  private def spanJson(s: GSpan, legacy: Boolean): String = {
    val attrs = s.attrs.map(kvJson(_, legacy)).mkString(",")
    val events = s.exceptionEvent.map { case (t, name, as) =>
      s"""{"timeUnixNano":"$t","name":${q(name)},"attributes":[""" +
        as.map(kvJson(_, legacy)).mkString(",") + "]}"
    }.toSeq.mkString(",")
    s"""{"traceId":"${Ids.hex(s.traceId)}","spanId":"${Ids.hex(s.spanId)}",""" +
      s""""parentSpanId":"${Ids.hex(s.parentId)}","name":${q(s.name)},""" +
      s""""startTimeUnixNano":"${s.startNs}","endTimeUnixNano":"${s.endNs}",""" +
      s""""attributes":[$attrs],"events":[$events]}"""
  }

  /** One request document on one line. */
  def json(spans: Seq[GSpan], legacy: Boolean): String = {
    val rs = byService(spans).map { case (svc, ss) =>
      val res = Seq("service.name" -> svc, "host.name" -> SpanGen.host(svc))
        .map(kvJson(_, legacy)).mkString(",")
      val scope =
        if (legacy) s""""instrumentationLibrarySpans":[{"instrumentationLibrary":{"name":${q(svc)}},"""
        else s""""scopeSpans":[{"scope":{"name":${q(svc)}},"""
      s"""{"resource":{"attributes":[$res]},$scope"spans":[""" +
        ss.map(spanJson(_, legacy)).mkString(",") + "]}]}"
    }
    s"""{"resourceSpans":[${rs.mkString(",")}]}"""
  }

  /** Minimal protobuf writer: only the wire types OTLP traces use. */
  final class Pb {
    private val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Pb = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
      this
    }
    private def tag(field: Int, wire: Int): Pb = varint((field << 3 | wire).toLong)
    def bytes(field: Int, bs: Array[Byte]): Pb = {
      tag(field, 2).varint(bs.length.toLong); out.write(bs); this
    }
    def string(field: Int, s: String): Pb = bytes(field, s.getBytes(UTF_8))
    def message(field: Int, m: Pb): Pb = bytes(field, m.result)
    def fixed64(field: Int, v: Long): Pb = {
      tag(field, 1)
      var i = 0
      while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
      this
    }
    def int64(field: Int, v: Long): Pb = tag(field, 0).varint(v)
    def result: Array[Byte] = out.toByteArray
  }

  private def kvPb(kv: (String, String)): Pb = {
    val (k, v) = kv
    val any = new Pb
    if (k == "http.status_code") any.int64(3, v.toLong) else any.string(1, v)
    new Pb().string(1, k).message(2, any)
  }

  /** ExportTraceServiceRequest bytes (opentelemetry-proto trace/v1). */
  def protobuf(spans: Seq[GSpan]): Array[Byte] = {
    val req = new Pb
    byService(spans).foreach { case (svc, ss) =>
      val res = new Pb
      Seq("service.name" -> svc, "host.name" -> SpanGen.host(svc))
        .foreach(kv => res.message(1, kvPb(kv)))
      val scope = new Pb().message(1, new Pb().string(1, svc))
      ss.foreach { s =>
        val sp = new Pb().bytes(1, s.traceId).bytes(2, s.spanId)
        if (s.parentId.nonEmpty) sp.bytes(4, s.parentId)
        sp.string(5, s.name).fixed64(7, s.startNs).fixed64(8, s.endNs)
        s.attrs.foreach(kv => sp.message(9, kvPb(kv)))
        s.exceptionEvent.foreach { case (t, name, as) =>
          val ev = new Pb().fixed64(1, t).string(2, name)
          as.foreach(kv => ev.message(3, kvPb(kv)))
          sp.message(11, ev)
        }
        scope.message(2, sp)
      }
      req.message(1, new Pb().message(1, res).message(2, scope))
    }
    req.result
  }
}

/** One OTLP export request: a few complete traces in one wire form. */
final case class OtlpReq(traces: Vector[GTrace], form: Int) {
  def spans: Vector[GSpan] = traces.flatMap(_.spans)
  def isProto: Boolean = form == OtlpReq.Proto
  def bytes: Array[Byte] = form match {
    case OtlpReq.Current => OtlpWire.json(spans, legacy = false).getBytes(UTF_8)
    case OtlpReq.Legacy => OtlpWire.json(spans, legacy = true).getBytes(UTF_8)
    case _ => OtlpWire.protobuf(spans)
  }
}

object OtlpReq {
  val Current = 0
  val Legacy = 1
  val Proto = 2
}
