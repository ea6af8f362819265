package graft

import graft.spans.TraceService
import graft.spans.SearchRequest
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}

/** Span-native semantics pinned on the canonical FIXTURES.md §B trace. */
class TraceServiceSpec extends SparkSpec {
  private lazy val svc = new TraceService(SpanFixtures.spans(spark))
  private val Base = 1704067200000000000L

  test("T5 dependencies: cross-service parent→child edges only") {
    val edges = svc.serviceDependencies().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(edges === Seq(("gateway", "users", 1L), ("users", "db", 1L)))
  }

  test("T1 top slow: root spans only, most recent first") {
    val rows = svc.topSlowTraces().collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("T2", "T1"))
    assert(rows.forall(r => Seq("GET /users", "GET /profile")
      .contains(r.getString(1))))
  }

  test("T4 endpoint latencies: roots only, exact stats") {
    val rows = svc.endpointLatencies().collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("GET /profile", "users"), ("GET /users", "gateway")))
    val getUsers = rows.find(_.getString(0) == "GET /users").get
    assert(getUsers.getAs[Long]("min_ns") === 100000000L)
    assert(getUsers.getAs[Long]("n") === 1L)
  }

  test("T8 trace list: issues counts spans slower than 2x trace avg") {
    val byTrace = svc.traceList().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    // T1 durations ms: 100,60,40,10 → avg 52.5, threshold 105 → 0 issues
    assert(byTrace("T1") === ((4L, 0L)))
    assert(byTrace("T2") === ((1L, 0L)))
  }

  test("T9 search: span-attribute map lookup with mode filter") {
    val hit = svc.search(SearchRequest(query = "db.statement!=nope",
      rootOnly = false, pageSize = 10))
    assert(hit.count() === 3) // all child spans (absent key => not-equal)
    val eq = svc.search(SearchRequest(
      query = "db.statement=SELECT * FROM users", rootOnly = false))
    assert(eq.collect().map(_.getAs[String]("span_id")).toSeq === Seq("s3"))
  }

  test("T18 services: distinct from resource-attribute map") {
    assert(svc.services().collect().map(_.getString(0)).toSeq ===
      Seq("db", "gateway", "users"))
  }

  test("U1 waterfall: offsets within [0,100], root spans full width") {
    val w = svc.waterfall("T1").collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(w("s1")._1 === 0.0)
    assert(w("s1")._2 === 100.0)
    assert(w("s3")._1 === 10.0 && w("s3")._2 === 40.0)
  }

  test("T2 service traces: ANY span of the service, not only roots " +
    "(the reference filters scope_name only, api/service.go:212-244)") {
    val t = svc.serviceTraces("db").collect()
    assert(t.map(_.getString(1)).toSeq === Seq("s3"),
      "db has only the child span s3 — it must be returned")
  }

  test("U1 waterfall: a zero-width trace yields offset 0 / width 100, " +
    "never NULL percentages") {
    val z = SpanFixtures.spans(spark).filter(col("span_id") === "s1")
      .withColumn("trace_id", lit("TZ"))
      .withColumn("end_time_unix_nano", col("start_time_unix_nano"))
      .withColumn("duration_ns", lit(0L))
    val zsvc = new TraceService(z)
    val w = zsvc.waterfall("TZ").collect()
    assert(w.length === 1)
    assert(w.head.getDouble(3) === 0.0 && w.head.getDouble(4) === 100.0)
  }

  test("T9 search: page 0 clamps to page 1, and searchWithTotal's " +
    "total equals the filtered count behind the page") {
    val req = graft.spans.SearchRequest()
    val p1 = svc.search(req.copy(page = 1)).collect().toSeq
    val p0 = svc.search(req.copy(page = 0)).collect().toSeq
    assert(p0 === p1, "page 0 must behave as page 1, not a negative offset")
    val (pageDf, total) = svc.searchWithTotal(req)
    assert(total >= pageDf.count())
  }

  test("U2 error spans: exception details extracted from event attrs") {
    val rows = svc.errorSpans().collect()
    assert(rows.length === 1)
    assert(rows.head.getString(1) === "s3")
    assert(rows.head.getString(3) === "SQLException")
    assert(rows.head.getString(4) === "deadlock")
  }

  test("T16 error series: zero-filled, exception span bucketed") {
    val df = svc.errorCounts(Base, Base + 300L * 1000000000L) // 300 s window
    val rows = df.collect()
    assert(rows.length === 16) // 300s/15 = 20s step, aligned grid
    assert(rows.map(_.getLong(1)).sum === 1L)
    assert(rows.head.getLong(1) === 1L) // exception span in first bucket
  }

  test("T11 service metrics: per-service counts and error rates") {
    val rows = svc.serviceMetrics().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(rows.keySet === Set("db", "gateway", "users"))
    assert(rows("gateway")._1 === 2L) // s1 + s4
    // gateway avg = (100+10)/2 = 55ms; only s1 (100ms) > 110ms? no ->
    // error_rate 0; and no span anywhere exceeds 2x its service avg
    assert(rows.values.forall(_._2 === 0.0))
  }

  test("T12 endpoint metrics: ordered by count desc then name") {
    val names = svc.endpointMetrics().collect().map(_.getString(0)).toSeq
    assert(names.length === 5)
    assert(names === names.sortBy(n => n)) // all counts are 1 -> name order
  }

  test("T13 slowest in window: only roots inside the range, by duration") {
    val base = 1704067200000000000L
    val rows = svc.slowestTraces(base, base + 1000L * 1000000L)
      .collect().map(_.getString(0))
    assert(rows.toSeq === Seq("T1", "T2")) // 100ms root before 20ms root
  }

  test("T7 span details: diff percent vs same-name aggregate") {
    val r = svc.spanDetails("s3").collect().head
    assert(r.getAs[Long]("duration_ns") === 40000000L)
    // only span with this name → avg == own duration → diff 0
    assert(math.abs(r.getAs[Double]("duration_diff_percent")) < 1e-9)
  }

  /** The series tests' window: 300 s from the fixture base, so the
    * bucket is 300/15 = 20 s and every fixture span falls in the first
    * of the 16 buckets. */
  private val SeriesEnd = Base + 300L * 1000000000L

  test("T3 trace details: one trace's spans by start, events and " +
    "attributes included") {
    val rows = svc.traceDetails("T1").collect()
    assert(rows.map(_.getAs[String]("span_id")).toSeq ===
      Seq("s1", "s2", "s3", "s4"))
    assert(rows.map(_.getAs[String]("parent_span_id")).toSeq ===
      Seq("", "s1", "s2", "s1"))
    assert(rows.map(_.getAs[Double]("duration_ms")).toSeq ===
      Seq(100.0, 60.0, 40.0, 10.0))
    val s3 = rows(2)
    assert(s3.getAs[Map[String, String]]("span_attributes") ===
      Map("db.statement" -> "SELECT * FROM users"))
    val evs = s3.getAs[collection.Seq[Row]]("events")
    assert(evs.map(_.getAs[String]("name")) === Seq("exception"))
    assert(evs.head.getAs[Map[String, String]]("attributes")
      .apply("exception.type") === "SQLException")
    assert(rows.take(2).forall(_.getAs[collection.Seq[Row]]("events").isEmpty))
  }

  test("T6 heatmap: root spans per hour with their average duration") {
    val rows = svc.traceHeatmap().collect()
    // both roots (s1 100 ms, s5 20 ms) start in the base hour
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((Base / 1000000000L, 2L, 60.0)))
  }

  test("T10 trace counts: root spans only, zero-filled 20 s grid") {
    val rows = svc.traceCounts(Base, SeriesEnd).collect()
    val startS = Base / 1000000000L
    assert(rows.map(_.getLong(0)).toSeq === (0 to 15).map(startS + 20L * _))
    assert(rows.map(_.getLong(1)).toSeq === 2L +: Seq.fill(15)(0L))
  }

  test("T14 percentile series: exact percentile in ms, p clamped to " +
    "[0,100]") {
    // durations of all five spans, ms: 10, 20, 40, 60, 100
    def first(p: Double) = {
      val rows = svc.percentileSeries(p, Base, SeriesEnd).collect()
      assert(rows.length === 16)
      assert(rows.tail.forall(_.getDouble(1) === 0.0))
      rows.head.getDouble(1)
    }
    assert(first(50.0) === 40.0)
    assert(first(75.0) === 60.0)
    assert(first(150.0) === 100.0) // clamped to p100: the maximum
    assert(first(-5.0) === 10.0) // clamped to p0: the minimum
  }

  test("T15 avg series: mean duration of every span per bucket, " +
    "empty buckets 0") {
    val rows = svc.avgSeries(Base, SeriesEnd).collect()
    assert(rows.length === 16)
    assert(rows.head.getDouble(1) === 46.0) // (100+60+40+10+20)/5
    assert(rows.tail.forall(_.getDouble(1) === 0.0))
  }

  test("T17 search metrics: percentile, count and avg of the DSL-" +
    "filtered spans in one pass") {
    val rows = svc.searchMetrics("scope=gateway", 50.0, Base, SeriesEnd)
      .collect()
    assert(rows.length === 16)
    // gateway spans: s1 100 ms, s4 10 ms
    val h = rows.head
    assert((h.getDouble(1), h.getLong(2), h.getDouble(3)) === ((55.0, 2L, 55.0)))
    assert(rows.tail.forall(r =>
      r.getDouble(1) == 0.0 && r.getLong(2) == 0L && r.getDouble(3) == 0.0))
    val all = svc.searchMetrics("", 200.0, Base, SeriesEnd).collect().head
    assert((all.getDouble(1), all.getLong(2)) === ((100.0, 5L)))
  }
}
