package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.spans.{OtlpIngest, OtlpProto, SearchRequest, TraceService}
import org.apache.spark.sql.SparkSession

/** One Query API request of the fixed, seed-determined sequence. */
final case class ApiReq(cls: String, method: String, trace: Int = -1,
    span: Int = -1, query: String = "", startNs: Long = 0L, endNs: Long = 0L,
    page: Int = 1, rootOnly: Boolean = true, p: Double = 50.0)

/** The trace_api inputs: the store's traces (the last six hours' also
  * as OTLP export requests) plus the request sequence. */
final case class ApiInputs(traces: Vector[GTrace], otlp: Vector[OtlpReq],
    requests: Vector[ApiReq]) {
  private val fromOtlp = otlp.flatMap(_.traces).map(t => Ids.stored(t.id)).toSet
  /** Spans written directly into the store, the history before the
    * last six hours. */
  def bulk: Vector[GSpan] =
    traces.filterNot(t => fromOtlp(Ids.stored(t.id))).flatMap(_.spans)
}

object TraceApiWorkload {
  val Traces = 2000
  val Clients = 2
  val SequenceLength = 20000
  val WeekNs: Long = 7 * SpanGen.DayNs
  val SetupRepeats = 3
  val TracesPerRequest = 10
  val WarmupRequests = 12
  val MinRounds = 2
  val OtlpWindowNs: Long = 6 * 3600 * 1000000000L

  val Lookup = Vector("traceDetails", "waterfall", "spanDetails")
  val Search = Vector("search", "searchWithTotal")
  val Series = Vector("traceCounts", "percentileSeries", "avgSeries",
    "errorCounts", "searchMetrics")
  val Rollup = Vector("endpointLatencies", "serviceDependencies", "traceList",
    "serviceMetrics", "endpointMetrics", "traceHeatmap", "services",
    "topSlowTraces")
  /** One round of the request sequence: 30% lookup, 30% search, 25%
    * series and 15% rollup, interleaved. The order is fixed so every run
    * measures the same mix; the seed draws the parameters, and round k
    * takes rollups 3k..3k+2 (mod 8) so the rollups rotate. */
  val Round = Vector("traceDetails", "search", "traceCounts", "waterfall",
    "searchWithTotal", "rollup", "spanDetails", "search", "percentileSeries",
    "traceDetails", "searchWithTotal", "avgSeries", "waterfall", "rollup",
    "search", "errorCounts", "spanDetails", "searchWithTotal",
    "searchMetrics", "rollup")

  /** Pure function of the seed: traces, export requests, API requests. */
  def inputs(seed: Long, nTraces: Int = Traces, nReq: Int = SequenceLength): ApiInputs = {
    val gen = new SpanGen(seed)
    val traces = gen.traces(nTraces, SpanGen.T0Ns, WeekNs)
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    // the last six hours arrive through the collector, the three wire
    // forms in turn
    val otlp = traces.filter(_.root.startNs >= SpanGen.T0Ns + WeekNs - OtlpWindowNs)
      .grouped(TracesPerRequest).zipWithIndex
      .map { case (ts, i) => OtlpReq(ts, i % 3) }.toVector
    // Zipf(1.1) over recency rank: rank 0 is the newest trace
    val cdf = {
      val w = Array.tabulate(nTraces)(r => 1.0 / math.pow(r + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def recentTrace(): Int = {
      val u = rnd.nextDouble()
      val rank = java.util.Arrays.binarySearch(cdf, u) match {
        case i if i >= 0 => i
        case i => math.min(-i - 1, nTraces - 1)
      }
      nTraces - 1 - rank
    }
    // window lengths, DSL forms, pages and percentiles rotate in a fixed
    // order; the seed draws services, endpoints, window starts and traces
    val windows = Vector(3600L, 6 * 3600L, 24 * 3600L, 7 * 24 * 3600L)
      .map(_ * 1000000000L)
    var draws = 0
    def window(): (Long, Long) = {
      val len = windows(draws % windows.size)
      val start = SpanGen.T0Ns + rnd.nextLong(WeekNs - len + 1)
      (start, start + len)
    }
    def query(): String = {
      val svc = SpanGen.Services(rnd.nextInt(SpanGen.Services.size))
      val (ep, _) = SpanGen.Endpoints(rnd.nextInt(SpanGen.Endpoints.size))
      (draws + draws / 4) % 8 match {
        case 0 => ""
        case 1 => s"scope=$svc"
        case 2 => s"name=$ep"
        case 3 => "http.status_code=500"
        case 4 => s"scope=$svc,component=db"
        case 5 => "http.status_code!=200"
        case 6 => svc
        case _ => s"host.name=${SpanGen.host(svc)}"
      }
    }
    val reqs = Vector.tabulate(nReq) { i =>
      val round = i / Round.size
      Round(i % Round.size) match {
        case "rollup" => ApiReq("rollup", Rollup((3 * round + i % Round.size / 7) % Rollup.size))
        case m if Lookup.contains(m) =>
          val t = recentTrace()
          ApiReq("lookup", m, trace = t, span = rnd.nextInt(traces(t).spans.size))
        case m =>
          val (s, e) = window()
          val r =
            if (Search.contains(m))
              ApiReq("search", m, query = query(), startNs = s, endNs = e,
                page = 1 + draws % 3, rootOnly = draws % 2 == 0)
            else ApiReq("series", m, query = query(), startNs = s, endNs = e,
              p = Seq(50.0, 90.0, 99.0)(draws % 3))
          draws += 1
          r
      }
    }
    ApiInputs(traces, otlp, reqs)
  }

  /** Load the store: the history with the span-store writer, then the
    * last six hours' export requests through the collector's batch parse
    * paths (OTLP/JSON both generations, and protobuf), appended by the
    * collector's parquet sink. Returns the seconds the OTLP part took. */
  def load(spark: SparkSession, in: ApiInputs, path: String, cores: Int): Double = {
    import spark.implicits._
    Store.write(spark, in.bulk, path, cores)
    val t0 = System.nanoTime()
    val (pb, json) = in.otlp.partition(_.isProto)
    val sink = new graft.sinks.ParquetSpanSink(path)
    sink.writeBatch(OtlpIngest.fromJson(spark.createDataset(
      json.map(r => new String(r.bytes, "UTF-8")))), 0L)
    sink.writeBatch(OtlpProto.fromProtobuf(spark.createDataset(pb.map(_.bytes))), 1L)
    (System.nanoTime() - t0) / 1e9
  }

  /** Expected answers computed from the generator's own records. */
  final class Expect(traces: Vector[GTrace]) {
    private val spans = traces.flatMap(_.spans)
    val services: Set[String] = spans.map(_.service).toSet
    val edges: Map[(String, String), Long] = {
      val svcOf = spans.map(s => Ids.stored(s.spanId) -> s.service).toMap
      spans.filter(!_.isRoot)
        .map(s => (svcOf(Ids.stored(s.parentId)), s.service))
        .filter { case (p, c) => p != c }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    }
    val endpointN: Map[(String, String), Long] =
      traces.map(_.root).groupBy(r => (r.name, r.service))
        .map { case (k, v) => k -> v.size.toLong }
    private val rootStarts = traces.map(_.root.startNs).sorted.toArray

    /** traceCounts' zero-filled buckets: the library's bucket rule
      * (interval = range/15, floor-aligned) applied to the roots. */
    def traceCounts(startNs: Long, endNs: Long): Seq[(Long, Long)] = {
      val startS = startNs / 1000000000L
      val endS = endNs / 1000000000L
      val step = math.max((endS - startS) / 15, 1L)
      val aligned = startS - startS % step
      val counts = scala.collection.mutable.Map[Long, Long]()
      rootStarts.iterator.filter(t => t >= startNs && t <= endNs).foreach { t =>
        val s = t / 1000000000L
        val b = s - s % step
        counts(b) = counts.getOrElse(b, 0L) + 1
      }
      (aligned to endS by step).map(b => b -> counts.getOrElse(b, 0L))
    }
  }

  /** Run one request; returns (rows returned, check failure or ""). */
  private def call(svc: TraceService, in: ApiInputs, exp: Expect, r: ApiReq,
      tracer: Tracer): OpRec = {
    var check = ""
    var total = -1L
    def fail(msg: String): Unit = if (check.isEmpty) check = msg
    val rec = tracer.op(r.method, "spans", r.cls) {
      val tr = if (r.trace >= 0) in.traces(r.trace) else null
      val sr = SearchRequest(query = r.query, startNs = r.startNs,
        endNs = r.endNs, rootOnly = r.rootOnly, page = r.page)
      r.method match {
        case "traceDetails" => svc.traceDetails(Ids.stored(tr.id))
        case "waterfall" => svc.waterfall(Ids.stored(tr.id))
        case "spanDetails" => svc.spanDetails(Ids.stored(tr.spans(r.span).spanId))
        case "search" => svc.search(sr)
        case "searchWithTotal" =>
          val (df, n) = svc.searchWithTotal(sr); total = n; df
        case "traceCounts" => svc.traceCounts(r.startNs, r.endNs)
        case "percentileSeries" => svc.percentileSeries(r.p, r.startNs, r.endNs)
        case "avgSeries" => svc.avgSeries(r.startNs, r.endNs)
        case "errorCounts" => svc.errorCounts(r.startNs, r.endNs)
        case "searchMetrics" => svc.searchMetrics(r.query, r.p, r.startNs, r.endNs)
        case "endpointLatencies" => svc.endpointLatencies()
        case "serviceDependencies" => svc.serviceDependencies()
        case "traceList" => svc.traceList()
        case "serviceMetrics" => svc.serviceMetrics()
        case "endpointMetrics" => svc.endpointMetrics()
        case "traceHeatmap" => svc.traceHeatmap()
        case "services" => svc.services()
        case "topSlowTraces" => svc.topSlowTraces()
      }
    } { df =>
      val rows = df.collect()
      val tr = if (r.trace >= 0) in.traces(r.trace) else null
      r.method match {
        case "traceDetails" | "waterfall" =>
          if (rows.length != tr.spans.size)
            fail(s"${r.method}: ${rows.length} spans, want ${tr.spans.size}")
        case "spanDetails" =>
          val want = Ids.stored(tr.id)
          if (rows.length != 1 || rows(0).getAs[String]("trace_id") != want)
            fail(s"spanDetails: ${rows.length} rows")
        case "search" | "searchWithTotal" =>
          if (rows.length > 10) fail(s"${r.method}: page of ${rows.length}")
          if (total >= 0 && rows.length > total)
            fail(s"searchWithTotal: page ${rows.length} > total $total")
        case "traceCounts" =>
          val got = rows.map(x => x.getLong(0) -> x.getLong(1)).toSeq
          if (got != exp.traceCounts(r.startNs, r.endNs))
            fail(s"traceCounts: buckets differ for [${r.startNs}, ${r.endNs}]")
        case "serviceDependencies" =>
          val got = rows.map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
          if (got != exp.edges) fail(s"serviceDependencies: ${got.size} edges, want ${exp.edges.size}")
        case "services" =>
          if (rows.map(_.getString(0)).toSet != exp.services)
            fail("services: service set differs")
        case "endpointLatencies" =>
          val got = rows.map(x => (x.getAs[String]("name"), x.getAs[String]("scope_name")) ->
            x.getAs[Long]("n")).toMap
          if (got != exp.endpointN) fail("endpointLatencies: n per endpoint differs")
        case _ => ()
      }
      rows.length.toLong
    }
    if (rec.ok && check.nonEmpty) rec.copy(ok = false, error = check) else rec
  }

  def run(spark: SparkSession, cfg: Config, tracer: Tracer): Outcome = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val genT0 = System.nanoTime()
    val in = inputs(cfg.seed)
    val genS = (System.nanoTime() - genT0) / 1e9
    val exp = new Expect(in.traces)
    val allSpans = in.traces.flatMap(_.spans)
    // set-up: load the store, several times; queries use the last copy
    val setups = (1 to SetupRepeats).map { i =>
      val path = new File(tmp, s"store$i").getPath
      val t0 = System.nanoTime()
      val otlpS = load(spark, in, path, cfg.cores)
      ((System.nanoTime() - t0) / 1e9, otlpS, path)
    }
    val store = setups.last._3
    setups.init.foreach(s => Store.rmrf(new File(s._3)))
    val svc = new TraceService(OtlpIngest.readSpans(spark, store))

    // first pass: every method once, cold, split over the clients
    val firstReqs = (Lookup ++ Search ++ Series ++ Rollup).map { m =>
      in.requests.find(_.method == m).get
    }
    val first = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val fpCpu0 = Host.cpuS()
    val fp0 = System.nanoTime()
    (0 until Clients).map { c =>
      val t = new Thread(() => firstReqs.indices.filter(_ % Clients == c)
        .foreach(i => first.add(call(svc, in, exp, firstReqs(i), tracer))))
      t.start(); t
    }.foreach(_.join())
    val firstPassS = (System.nanoTime() - fp0) / 1e9
    val firstPassCpuS = Host.cpuS() - fpCpu0

    // closed loop: the clients share one session and pull the indices
    // [lo, hi) of the request sequence from one counter, each sending its
    // next request when its last one returns
    def runRange(lo: Int, hi: Int): Seq[OpRec] = {
      val next = new AtomicInteger(lo)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
      (1 to Clients).map { _ =>
        val t = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < hi) {
            out.add(call(svc, in, exp, in.requests(i % in.requests.size), tracer))
            i = next.getAndIncrement()
          }
        })
        t.start(); t
      }.foreach(_.join())
      out.asScala.toSeq
    }
    // unmeasured warm-up, then whole rounds: at least MinRounds and until
    // --seconds have passed, so every run times the same requests; the
    // CPU totals stop after MinRounds, so they always cover the same work
    val warmup = runRange(0, WarmupRequests)
    val cpu0 = Host.cpuNs()
    val jit0 = Host.jitCpuNs()
    val from = System.nanoTime()
    val rounds = scala.collection.mutable.ArrayBuffer[Seq[OpRec]]()
    var fixedWorkEndCpuS = 0.0
    while (rounds.size < MinRounds || System.nanoTime() - from < cfg.seconds * 1000000000L) {
      val lo = WarmupRequests + rounds.size * Round.size
      rounds += runRange(lo, lo + Round.size)
      if (rounds.size == MinRounds) fixedWorkEndCpuS = Host.cpuS()
    }
    val loopS = (System.nanoTime() - from) / 1e9
    val loopCpuS = (Host.cpuNs() - cpu0) / 1e9
    val loopJitS = (Host.jitCpuNs() - jit0) / 1e9
    val recs = rounds.toSeq.flatten
    val all = first.asScala.toSeq ++ warmup ++ recs
    val okMs = recs.filter(_.ok).map(_.wallMs)
    def p50(cls: String): Metric = {
      val xs = recs.filter(r => r.ok && r.cls == cls).map(_.wallMs)
      Metric(if (xs.isEmpty) Double.NaN else Stats.median(xs), "ms", xs.size)
    }
    val base = Map(
      "setup_s" -> Metric(Stats.median(setups.map(_._1)), "s", setups.size),
      "gen_s" -> Metric(genS, "s", 1),
      "otlp_ingest_spans_per_s" -> Metric(
        in.otlp.map(_.spans.size).sum / Stats.median(setups.map(_._2)), "1/s", setups.size),
      "first_pass_s" -> Metric(firstPassS, "s", firstReqs.size),
      "first_pass_cpu_s" -> Metric(firstPassCpuS, "s", firstReqs.size),
      "api_cpu_ms_per_req" -> Metric(1000 * loopCpuS / math.max(1, recs.size), "ms", recs.size),
      "work_cpu_s" -> Metric(fixedWorkEndCpuS - fpCpu0, "s",
        firstReqs.size + WarmupRequests + MinRounds * Round.size),
      "run_cpu_s" -> Metric(fixedWorkEndCpuS, "s", 1),
      "api_jit_ms_per_req" -> Metric(1000 * loopJitS / math.max(1, recs.size), "ms", recs.size),
      "api_p50_ms" -> Metric(Stats.median(okMs), "ms", okMs.size),
      "api_p90_ms" -> Metric(Stats.q(okMs, 0.9), "ms", okMs.size),
      "api_qps" -> Metric(recs.count(_.ok) / loopS, "1/s", recs.size),
      "api_lookup_p50_ms" -> p50("lookup"),
      "api_search_p50_ms" -> p50("search"),
      "api_series_p50_ms" -> p50("series"),
      "api_rollup_p50_ms" -> p50("rollup"),
      "store_spans" -> Metric(allSpans.size, "count", 1))
    val aliases = Map("p50_ms" -> "api_p50_ms", "p90_ms" -> "api_p90_ms",
      "work_per_s" -> "api_qps", "cpu_ms_per_op" -> "api_cpu_ms_per_req")
    val layers = if (!cfg.traced) Map.empty[String, Metric] else {
      val aggs = tracer.aggregates()
      val common = Layers.common(recs, aggs)
      val classRatios = Seq("lookup", "search", "series", "rollup").map { c =>
        val rs = recs.filter(_.cls == c)
        val read = rs.flatMap(r => aggs.get(r.id)).map(_.recordsRead).sum.toDouble
        s"api.$c.rows_read_per_row_returned" ->
          Metric(read / math.max(1L, rs.map(_.rowsOut).sum), "ratio", rs.size)
      }
      val shuffle = common("op_shuffle_write_kb")
      Map("api.shuffle_bytes_per_req" -> shuffle.copy(value = shuffle.value * 1024, unit = "B")) ++
        Seq("construct_ms", "plan_ms", "exec_ms", "jobs", "tasks", "task_cpu_ms",
          "sched_delay_ms").map(k => s"api.${k}_per_req" -> common(s"op_$k")) ++
        classRatios ++ common
    }
    val metrics = base ++ layers
    Outcome(Layers.withAliases(metrics, aliases), all.size.toLong,
      all.count(!_.ok).toLong,
      all.filter(!_.ok).map(r => s"${r.name}: ${r.error}"))
  }
}
