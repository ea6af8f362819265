package graft.operators

import graft._
import graft.spans.{SearchRequest, TraceService}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** The Query API behind the oracle: the `events` table mapped into the
  * span schema by two pure, SQL-expressible mappings, and the REAL
  * [[TraceService]] methods run over them. Every entry here is
  * `new TraceService(<mapping>).<method>(args)`; the entry may select,
  * rename or round the method's output columns, never filter or
  * re-aggregate, so the oracle checks the code users run. Each oracle
  * states the same method in DuckDB SQL over the same mapping.
  *
  * Both mappings: trace = 'trace-' || user_id; name = event_type;
  * start = ts truncated to µs (the precision the oracle reads), as ns;
  * duration = floor(value × 1e6) ns (value is ms); span attribute `k` =
  * props.k; resource `service.name` = the span's service; one
  * `exception` event (type 'Error', message 'event <event_id>') when
  * event_type = 'error'.
  *  - Flat ([[eventsAsSpans]], the tn_* entries): every event is a root
  *    span 'span-' || event_id of service 'svc-' || (user_id mod 5).
  *  - Tree ([[eventsAsTreeSpans]], t01–t18 except the t04 family, u1
  *    and u5): events are ranked per user by (ts_us, event_id); rank r is
  *    span 's<user>.<r>' and parents onto rank r div 2, rank 1 is the
  *    root. Span ids are unique across traces, so span-id-only joins
  *    (serviceDependencies) stay exact, and the service
  *    'svc-' || (event_id mod 5) varies within a trace, so the
  *    cross-service edge set is non-empty.
  */
object SpanNativeOps extends QueryModule {

  /** Events with the trace/span/parent/service columns → SpanSchema
    * rows, in schema order (the shared half of both mappings). */
  private def asSpans(events: DataFrame, spanId: Column, parentId: Column,
      service: Column): DataFrame = {
    // floor() before the long cast: Spark's double->long cast truncates
    // while DuckDB's rounds — floor on both sides pins the value
    val dur = floor(col("value") * 1000000).cast("long")
    val start = col("ts_us") * 1000L
    events.select(
      concat(lit("trace-"), col("user_id")).as("trace_id"),
      spanId.as("span_id"),
      parentId.as("parent_span_id"),
      lit(0).as("flags"),
      col("event_type").as("name"),
      start.as("start_time_unix_nano"),
      (start + dur).as("end_time_unix_nano"),
      dur.as("duration_ns"),
      lit("").as("scope_id"),
      service.as("scope_name"),
      lit("").as("resource_id"),
      lit("").as("resource_schema_url"),
      map(lit("service.name"), service).as("resource_attributes"),
      map(lit("k"), get_json_object(col("props"), "$.k"))
        .as("span_attributes"),
      when(col("event_type") === "error",
        array(struct(start.as("time_unix_nano"),
          lit("exception").as("name"),
          map(lit("exception.type"), lit("Error"),
            lit("exception.message"), concat(lit("event "), col("event_id")))
            .as("attributes"))))
        .otherwise(array().cast(ArrayType(graft.spans.SpanSchema.eventType)))
        .as("events"))
  }

  /** events → flat SpanSchema rows: one root span per event. */
  def eventsAsSpans(spark: SparkSession, dir: String): DataFrame =
    asSpans(Tables.events(spark, dir),
      spanId = concat(lit("span-"), col("event_id")),
      parentId = lit(""),
      service = concat(lit("svc-"), pmod(col("user_id"), lit(5))))

  /** events → SpanSchema rows with a heap-shaped parent tree per trace:
    * depth ⌈log₂ n⌉, deterministic and SQL-expressible, so
    * [[TraceService.spanDepths]] has a recursive-CTE oracle (ranking on
    * ts_us, not raw ns, because the oracle's epoch_us() truncates —
    * ns-order would break µs ties differently). */
  def eventsAsTreeSpans(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    def id(rank: Column) = concat(lit("s"), col("user_id"), lit("."), rank)
    asSpans(Tables.events(spark, dir).withColumn("r", row_number().over(w)),
      spanId = id(col("r")),
      parentId = when(col("r") === 1, "").otherwise(id(expr("r div 2"))),
      service = concat(lit("svc-"), pmod(col("event_id"), lit(5))))
  }

  private def flat(spark: SparkSession, dir: String) =
    new TraceService(eventsAsSpans(spark, dir))

  private def tree(spark: SparkSession, dir: String) =
    new TraceService(eventsAsTreeSpans(spark, dir))

  private val durNs = "CAST(floor(value*1000000) AS BIGINT)"

  /** DuckDB spelling of [[eventsAsTreeSpans]] as the CTE `spans`: its
    * scalar columns, plus `attr_k` (span_attributes['k']) and
    * `is_error` (carries the exception event). */
  private val Spans: String =
    s"""spans AS (
       |  SELECT 'trace-' || user_id AS trace_id,
       |   's' || user_id || '.' || r AS span_id,
       |   CASE WHEN r = 1 THEN ''
       |     ELSE 's' || user_id || '.' || (r // 2) END AS parent_span_id,
       |   event_type AS name,
       |   epoch_us(ts) * 1000 AS start_time_unix_nano,
       |   epoch_us(ts) * 1000 + $durNs AS end_time_unix_nano,
       |   $durNs AS duration_ns,
       |   'svc-' || (event_id % 5) AS scope_name,
       |   json_extract_string(props, '$$.k') AS attr_k,
       |   event_type = 'error' AS is_error
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |         ORDER BY epoch_us(ts), event_id) AS r FROM events))""".stripMargin

  /** TraceService's `durMs` and its µs-basis average (`avg_ns`). */
  private val DurMs = "duration_ns / 1e6"
  private val AvgNs =
    s"${OracleSql.avgExactRaw("CAST(duration_ns // 1000 AS DOUBLE)")} * 1000"

  /** The series window: the testdata month, as ns (TraceService's
    * series take ns bounds and bucket at range/15 seconds). */
  private val StartNs = EventWindow.StartS * 1000000000L
  private val EndNs = EventWindow.EndS * 1000000000L
  private val Step = (EventWindow.EndS - EventWindow.StartS) / 15
  private val DayNs = 86400L * 1000000000L

  /** TraceService's zero-filled series over `spans` rows matching
    * `where`: `aggs` per floor-aligned bucket, `fills` over the dense
    * frame (the `zeroFilled` dataflow, spelled once for t10/t14–t17). */
  private def seriesSql(where: String, aggs: String, fills: String): String =
    s"""WITH $Spans,
       | f AS (SELECT unnest(generate_series(
       |   ${EventWindow.StartS - EventWindow.StartS % Step},
       |   ${EventWindow.EndS}, $Step)) AS bucket_s),
       | c AS (SELECT (start_time_unix_nano // 1000000000)
       |         - (start_time_unix_nano // 1000000000) % $Step AS b, $aggs
       |       FROM spans
       |       WHERE start_time_unix_nano BETWEEN $StartNs AND $EndNs
       |        AND $where
       |       GROUP BY 1)
       |SELECT f.bucket_s, $fills
       |FROM f LEFT JOIN c ON f.bucket_s = c.b ORDER BY 1""".stripMargin

  /** The t09 request: DSL filter, span mode (B3), time floor, page 2. */
  private val SearchReq = SearchRequest(query = "name=purchase,k!=3",
    startNs = StartNs, rootOnly = false, page = 2, pageSize = 10)

  /** `df` with the named columns rounded to 6 decimals in place
    * (percentiles interpolate in engine-specific ways). */
  private def round6(df: DataFrame, names: String*): DataFrame =
    df.select(df.columns.toSeq.map(c =>
      if (names.contains(c)) round(col(c), 6).as(c) else col(c)): _*)

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("t01_top_slow_traces",
      "T1/F1 TraceService.topSlowTraces: root spans by start desc, " +
        "duration desc, top 10 (api/service.go:175-210)",
      (s, d) => tree(s, d).topSlowTraces(),
      Some(s"""WITH $Spans
              |SELECT trace_id, name, scope_name, start_time_unix_nano,
              | $DurMs AS duration_ms
              |FROM spans WHERE parent_span_id = ''
              |ORDER BY start_time_unix_nano DESC, duration_ms DESC, trace_id
              |LIMIT 10""".stripMargin)),
    GraftQuery("t02_service_traces",
      "T2/F2 TraceService.serviceTraces: latest 100 spans of one " +
        "service (api/service.go:212-244)",
      (s, d) => tree(s, d).serviceTraces("svc-1"),
      Some(s"""WITH $Spans
              |SELECT trace_id, span_id, name, start_time_unix_nano,
              | $DurMs AS duration_ms
              |FROM spans WHERE scope_name = 'svc-1'
              |ORDER BY start_time_unix_nano DESC, span_id LIMIT 100""".stripMargin)),
    GraftQuery("t03_trace_details",
      "T3/F3 TraceService.traceDetails: one trace's spans, start asc " +
        "(api/service.go:246-313)",
      // map/array columns left out: the oracle compare reads scalars
      (s, d) => tree(s, d).traceDetails("trace-13")
        .drop("span_attributes", "events"),
      Some(s"""WITH $Spans
              |SELECT span_id, parent_span_id, name, scope_name,
              | start_time_unix_nano, end_time_unix_nano, $DurMs AS duration_ms
              |FROM spans WHERE trace_id = 'trace-13'
              |ORDER BY start_time_unix_nano, span_id""".stripMargin)),
    GraftQuery("t05_service_dependencies",
      "T5/C1+D13 TraceService.serviceDependencies: parent⋈child on " +
        "span id, cross-service edges counted (api/service.go:365-398)",
      (s, d) => tree(s, d).serviceDependencies(),
      Some(s"""WITH $Spans
              |SELECT p.scope_name AS parent_service,
              | c.scope_name AS child_service, CAST(count(*) AS BIGINT) AS n_calls
              |FROM spans p JOIN spans c ON p.span_id = c.parent_span_id
              |WHERE c.parent_span_id <> '' AND p.scope_name <> c.scope_name
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    GraftQuery("t06_trace_heatmap",
      "T6/D2 TraceService.traceHeatmap: hourly root count + avg, latest " +
        "24 (api/service.go:400-433)",
      (s, d) => tree(s, d).traceHeatmap(),
      Some(s"""WITH $Spans
              |SELECT start_time_unix_nano // 3600000000000 * 3600 AS hour_s,
              | CAST(count(*) AS BIGINT) AS n,
              | ${OracleSql.avgExact(DurMs)} AS avg_ms
              |FROM spans WHERE parent_span_id = ''
              |GROUP BY 1 ORDER BY hour_s DESC LIMIT 24""".stripMargin)),
    GraftQuery("t07_span_details",
      "T7/D4 TraceService.spanDetails: one span vs its name's " +
        "avg/p50/p90/p99 (api/service.go:560-592)",
      (s, d) => round6(tree(s, d).spanDetails("s13.5"),
        "p50_ns", "p90_ns", "p99_ns"),
      Some(s"""WITH $Spans,
              | s AS (SELECT name AS stat_name, $AvgNs AS avg_ns,
              |   round(quantile_cont(duration_ns, 0.5), 6) AS p50_ns,
              |   round(quantile_cont(duration_ns, 0.9), 6) AS p90_ns,
              |   round(quantile_cont(duration_ns, 0.99), 6) AS p99_ns
              |  FROM spans GROUP BY 1)
              |SELECT x.span_id, x.trace_id, x.name, x.scope_name,
              | x.duration_ns, s.avg_ns, s.p50_ns, s.p90_ns, s.p99_ns,
              | (x.duration_ns - s.avg_ns) / s.avg_ns * 100
              |   AS duration_diff_percent
              |FROM spans x JOIN s ON x.name = s.stat_name
              |WHERE x.span_id = 's13.5'""".stripMargin)),
    GraftQuery("t08_trace_list",
      "T8/D3 TraceService.traceList: per-trace rollup, issues = " +
        "countIf(d > 2×trace avg) (api/service.go:597-640)",
      (s, d) => tree(s, d).traceList(),
      Some(s"""WITH $Spans,
              | a AS (SELECT trace_id AS t_id, $AvgNs AS avg_ns
              |  FROM spans GROUP BY 1)
              |SELECT s.trace_id, CAST(count(*) AS BIGINT) AS n_spans,
              | max(s.duration_ns) AS max_ns,
              | min(s.start_time_unix_nano) AS start_ns,
              | CAST(sum(CASE WHEN s.duration_ns > a.avg_ns * 2 THEN 1 ELSE 0 END)
              |   AS BIGINT) AS issues
              |FROM spans s JOIN a ON s.trace_id = a.t_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("t09_search",
      "T9/S1-S5+F5 TraceService.search: DSL filter, span mode, time " +
        "floor, sort, page 2 (api/service.go:698-892)",
      (s, d) => tree(s, d).search(SearchReq)
        .select("trace_id", "span_id", "parent_span_id", "name",
          "scope_name", "start_time_unix_nano", "end_time_unix_nano",
          "duration_ns"),
      Some(s"""WITH $Spans
              |SELECT trace_id, span_id, parent_span_id, name, scope_name,
              | start_time_unix_nano, end_time_unix_nano, duration_ns
              |FROM spans
              |WHERE start_time_unix_nano >= ${SearchReq.startNs}
              | AND end_time_unix_nano <= ${SearchReq.endNs}
              | AND name = 'purchase' AND coalesce(attr_k <> '3', true)
              | AND parent_span_id <> ''
              |ORDER BY start_time_unix_nano DESC, span_id
              |LIMIT 10 OFFSET 10""".stripMargin)),
    GraftQuery("t10_trace_counts",
      "T10/D7+H14 TraceService.traceCounts: zero-filled root-span " +
        "count series (api/service.go:899-959)",
      (s, d) => tree(s, d).traceCounts(StartNs, EndNs),
      Some(seriesSql("parent_span_id = ''", "count(*) AS n",
        "CAST(coalesce(c.n, 0) AS BIGINT) AS n"))),
    GraftQuery("t11_service_metrics",
      "T11/D5+C2 TraceService.serviceMetrics: per-service count/avg/" +
        "error_rate (api/service.go:961-1024)",
      (s, d) => tree(s, d).serviceMetrics(),
      Some(s"""WITH $Spans,
              | a AS (SELECT scope_name AS svc, $AvgNs AS avg_ns
              |  FROM spans GROUP BY 1)
              |SELECT s.scope_name, CAST(count(*) AS BIGINT) AS n,
              | ${OracleSql.avgExact(DurMs)} AS avg_ms,
              | CAST(sum(CASE WHEN s.duration_ns > a.avg_ns * 2 THEN 1 ELSE 0 END)
              |   AS DOUBLE) * 100e0 / count(*) AS error_rate
              |FROM spans s JOIN a ON s.scope_name = a.svc
              |GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("t12_endpoint_metrics",
      "T12/D6 TraceService.endpointMetrics: per-endpoint count/avg/p95, " +
        "top 10 (api/service.go:1026-1069)",
      (s, d) => round6(tree(s, d).endpointMetrics(), "p95_ms"),
      Some(s"""WITH $Spans
              |SELECT name, CAST(count(*) AS BIGINT) AS n,
              | ${OracleSql.avgExact(DurMs)} AS avg_ms,
              | round(quantile_cont($DurMs, 0.95), 6) AS p95_ms
              |FROM spans GROUP BY 1 ORDER BY n DESC, name LIMIT 10""".stripMargin)),
    GraftQuery("t13_slowest_traces",
      "T13/F4+B5 TraceService.slowestTraces: top-10 slowest roots in a " +
        "window (api/service.go:1071-1123)",
      (s, d) => tree(s, d).slowestTraces(StartNs, StartNs + DayNs),
      Some(s"""WITH $Spans
              |SELECT trace_id, name, scope_name, start_time_unix_nano,
              | $DurMs AS duration_ms
              |FROM spans WHERE parent_span_id = ''
              | AND start_time_unix_nano BETWEEN $StartNs
              |   AND ${StartNs + DayNs}
              |ORDER BY duration_ms DESC, trace_id LIMIT 10""".stripMargin)),
    GraftQuery("t14_pseries",
      "T14/D8+H14 TraceService.percentileSeries: zero-filled p90 " +
        "series (api/service.go:1125-1171)",
      (s, d) => round6(tree(s, d).percentileSeries(90.0, StartNs, EndNs),
        "p"),
      Some(seriesSql("true", s"round(quantile_cont($DurMs, 0.9), 6) AS p",
        "coalesce(c.p, 0.0) AS p"))),
    GraftQuery("t15_avg_series",
      "T15/D9+H14 TraceService.avgSeries: zero-filled avg series " +
        "(api/service.go:1173-1238)",
      (s, d) => tree(s, d).avgSeries(StartNs, EndNs),
      Some(seriesSql("true", s"${OracleSql.avgExact(DurMs)} AS avg_ms",
        "coalesce(c.avg_ms, 0.0) AS avg_ms"))),
    GraftQuery("t16_error_counts",
      "T16/D10+H14 TraceService.errorCounts: zero-filled exception-span " +
        "series (api/service.go:1240-1297)",
      (s, d) => tree(s, d).errorCounts(StartNs, EndNs),
      Some(seriesSql("true",
        "sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS n_errors",
        "CAST(coalesce(c.n_errors, 0) AS BIGINT) AS n_errors"))),
    GraftQuery("t17_search_metrics",
      "T17/D11+S6 TraceService.searchMetrics: single-pass p50+count+avg " +
        "series over a DSL filter (api/service.go:1339-1428)",
      (s, d) => round6(tree(s, d).searchMetrics("name=purchase,scope!=svc-2",
        50.0, StartNs, EndNs), "p"),
      Some(seriesSql("name = 'purchase' AND scope_name <> 'svc-2'",
        s"round(quantile_cont($DurMs, 0.5), 6) AS p, count(*) AS n, " +
          s"${OracleSql.avgExact(DurMs)} AS avg_ms",
        "coalesce(c.p, 0.0) AS p, CAST(coalesce(c.n, 0) AS BIGINT) AS n, " +
          "coalesce(c.avg_ms, 0.0) AS avg_ms"))),
    GraftQuery("t18_services",
      "T18/D12 TraceService.services: distinct service.name from the " +
        "resource-attribute map (api/service.go:1540-1570)",
      (s, d) => tree(s, d).services(),
      Some(s"""WITH $Spans
              |SELECT DISTINCT scope_name AS service_name
              |FROM spans ORDER BY 1""".stripMargin)),
    GraftQuery("tn_span_latencies",
      "span-native TraceService.endpointLatencies over mapped events " +
        "(api/service.go:315-363)",
      (s, d) => flat(s, d).endpointLatencies().select(col("name"),
        col("scope_name"), col("avg_ns"), round(col("p50_ns"), 6).as("p50_ns"),
        round(col("p90_ns"), 6).as("p90_ns"), col("min_ns"), col("max_ns"),
        col("n")),
      Some(s"""SELECT event_type AS name,
              | 'svc-' || (user_id % 5) AS scope_name,
              | ${OracleSql.avgExact(s"CAST($durNs // 1000 AS DOUBLE)")} * 1000 AS avg_ns,
              | round(quantile_cont($durNs, 0.5),6) AS p50_ns,
              | round(quantile_cont($durNs, 0.9),6) AS p90_ns,
              | min($durNs) AS min_ns, max($durNs) AS max_ns,
              | CAST(count(*) AS BIGINT) AS n
              |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),
    GraftQuery("tn_span_waterfall",
      "span-native TraceService.waterfall: per-span offset%/width% of " +
        "one trace over window min/max (TraceDetails.tsx:207-242)",
      (s, d) => flat(s, d).waterfall("trace-13"),
      Some(s"""WITH s AS (
              |  SELECT 'span-' || event_id AS span_id, event_type AS name,
              |   'svc-' || (user_id % 5) AS scope_name,
              |   epoch_us(ts) * 1000 AS st, $durNs AS dur
              |  FROM events WHERE user_id = 13),
              | b AS (SELECT min(st) AS t0, max(st + dur) AS t1 FROM s)
              |SELECT span_id, name, scope_name,
              | CASE WHEN t1 = t0 THEN 0.0
              |   ELSE (st - t0) * 100e0 / (t1 - t0) END AS offset_pct,
              | CASE WHEN t1 = t0 THEN 100.0
              |   ELSE dur * 100e0 / (t1 - t0) END AS width_pct
              |FROM s CROSS JOIN b ORDER BY span_id""".stripMargin)),
    GraftQuery("u1_waterfall",
      "U1 TraceService.waterfall: per-span offset%/width% of one trace " +
        "over its min start / max end (TraceDetails.tsx:207-242)",
      (s, d) => tree(s, d).waterfall("trace-13"),
      Some(s"""WITH $Spans,
              | t AS (SELECT * FROM spans WHERE trace_id = 'trace-13'),
              | b AS (SELECT min(start_time_unix_nano) AS t0,
              |   max(end_time_unix_nano) AS t1 FROM t)
              |SELECT span_id, name, scope_name,
              | CASE WHEN t1 = t0 THEN 0.0
              |   ELSE (start_time_unix_nano - t0) * 100e0 / (t1 - t0)
              |   END AS offset_pct,
              | CASE WHEN t1 = t0 THEN 100.0
              |   ELSE duration_ns * 100e0 / (t1 - t0) END AS width_pct
              |FROM t CROSS JOIN b ORDER BY span_id""".stripMargin)),
    GraftQuery("u5_critical_path",
      "U5 span-tree depth + critical path via level-synchronous BFS " +
        "(TraceService.spanDepths over the synthesized heap tree; " +
        "oracle = recursive CTE over the same construction)",
      (s, d) => tree(s, d).spanDepthsAuto(),
      Some(s"""WITH RECURSIVE rk AS (
              |  SELECT user_id, $durNs AS dur,
              |   row_number() OVER (PARTITION BY user_id
              |     ORDER BY epoch_us(ts), event_id) AS r
              |  FROM events),
              | d AS (
              |  SELECT user_id, r, 1 AS depth, dur AS path_ns
              |  FROM rk WHERE r = 1
              |  UNION ALL
              |  SELECT c.user_id, c.r, d.depth + 1, d.path_ns + c.dur
              |  FROM rk c JOIN d ON c.user_id = d.user_id
              |   AND c.r // 2 = d.r AND c.r > 1)
              |SELECT 'trace-' || user_id AS trace_id,
              | CAST(max(depth) AS INT) AS max_depth,
              | CAST(count(*) AS BIGINT) AS n_spans,
              | CAST(max(path_ns) AS BIGINT) AS critical_path_ns
              |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("tn_span_error_spans",
      "span-native TraceService.errorSpans: exception type/message " +
        "pulled from the events array (TraceDetails.tsx:111-124)",
      (s, d) => flat(s, d).errorSpans(),
      Some("""SELECT 'trace-' || user_id AS trace_id,
             | 'span-' || event_id AS span_id, event_type AS name,
             | 'Error' AS exception_type,
             | 'event ' || event_id AS exception_message
             |FROM events WHERE event_type = 'error'
             |ORDER BY 1, 2""".stripMargin)))
}
