package graft.spans

import graft.Exact
import graft.dsl.SearchDsl
import graft.util.TimeRanges
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Span-native trace analytics: every read endpoint of the reference
  * (SURVEY §2.T T1-T18, routes api/controller.go:380-398) as a DataFrame
  * transformation over a [[SpanSchema]] table. This is the library surface
  * a reference user switches to. The registry entries t01–t18 (all but
  * the lineitem-based t04 family) are calls of these methods over the
  * events → span mappings of `graft.operators.SpanNativeOps`, so the
  * DuckDB oracle checks this code; `TraceServiceSpec` pins the
  * span-native semantics on the FIXTURES.md §B trace.
  *
  * Scale design: callers hand in a spans DataFrame read from the
  * date-partitioned store ([[OtlpIngest.readSpans]]); every time-ranged
  * method filters on `start_time_unix_nano` first so partition pruning +
  * row-group skipping bound the scan. Top-k queries compile to
  * TakeOrderedAndProject; per-service aggregate sides of joins are tiny
  * and broadcast.
  */
final case class SearchRequest(
    query: String = "",
    startNs: Long = Long.MinValue,
    endNs: Long = Long.MaxValue,
    rootOnly: Boolean = true, // trace mode (B2) vs span mode (B3)
    sortField: String = "start_time_unix_nano",
    ascending: Boolean = false,
    page: Int = 1,
    pageSize: Int = 10)

class TraceService(spans: DataFrame) {
  /** BFS frontier rows under which a level joins by BROADCAST instead
    * of shuffle (spanDepths). Sized for the MATERIALIZED cost, not the
    * raw bytes: a broadcast hash relation of (two string ids + two
    * longs) runs ~100-200 bytes/row once unsafe rows + the hash table
    * are counted, so 1 M rows ≈ 100-200 MB on the driver and each
    * executor — a safe broadcast budget. Wider frontiers keep the
    * shuffle join. */
  private val BroadcastFrontierLimit = 1000000L
  private val durMs = (col("duration_ns") / lit(1000000.0)).as("duration_ms")
  private def isRoot = col("parent_span_id") === ""
  private def hasException =
    exists(col("events"), e => e.getField("name") === "exception")

  /** T1: top-n slowest root spans, most recent first
    * (api/service.go:175-210). */
  def topSlowTraces(n: Int = 10): DataFrame =
    spans.filter(isRoot)
      .select(col("trace_id"), col("name"), col("scope_name"),
        col("start_time_unix_nano"), durMs)
      .orderBy(col("start_time_unix_nano").desc, col("duration_ms").desc,
        col("trace_id"))
      .limit(n)

  /** T2: latest 100 spans of one service — ANY span, not only roots:
    * the reference endpoint (api/service.go:212-244) filters
    * scope_name only, unlike its root-scoped siblings
    * (round-10 review re-check; the earlier "root spans" doc phrase
    * was wrong, the code was faithful). */
  def serviceTraces(service: String, n: Int = 100): DataFrame =
    spans.filter(col("scope_name") === service)
      .select(col("trace_id"), col("span_id"), col("name"),
        col("start_time_unix_nano"), durMs)
      .orderBy(col("start_time_unix_nano").desc, col("span_id"))
      .limit(n)

  /** T3: all spans of one trace in waterfall order, events included
    * (api/service.go:246-313). */
  def traceDetails(traceId: String): DataFrame =
    spans.filter(col("trace_id") === traceId)
      .select(col("span_id"), col("parent_span_id"), col("name"),
        col("scope_name"), col("start_time_unix_nano"),
        col("end_time_unix_nano"), durMs, col("span_attributes"),
        col("events"))
      .orderBy(col("start_time_unix_nano"), col("span_id"))

  /** T4: per-endpoint latency stats over root spans
    * (api/service.go:315-363). Exact percentiles; swap in
    * `percentile_approx` at 100 TB. */
  def endpointLatencies(): DataFrame =
    spans.filter(isRoot)
      .groupBy(col("name"), col("scope_name"))
      .agg(
        // µs basis: micro-summing raw ns would overflow Long for groups
        // beyond ~9e3 year-scale spans; µs keeps 1000x headroom
        (Exact.avgExact(expr("duration_ns div 1000").cast("double")) * 1000)
          .as("avg_ns"),
        min(col("duration_ns")).as("min_ns"),
        max(col("duration_ns")).as("max_ns"),
        percentile(col("duration_ns"), lit(0.5)).as("p50_ns"),
        percentile(col("duration_ns"), lit(0.9)).as("p90_ns"),
        percentile(col("duration_ns"), lit(0.99)).as("p99_ns"),
        count(lit(1)).as("n"))
      .orderBy(col("name"), col("scope_name"))

  /** T5: service dependency edges — child span joined to its parent span,
    * cross-service only (api/service.go:365-398). Both sides shuffle once
    * on the join key; skew handled by AQE. FAITHFULNESS NOTE: the
    * reference joins on span id alone, and so does this method — but
    * OTLP only guarantees span-id uniqueness WITHIN a trace, so at
    * ~2³²⁺ spans birthday collisions fabricate cross-trace edges; a
    * deployment past that scale joins on (trace_id, parent_span_id)
    * (the [[spanDepths]] convention) and accepts deviating from the
    * reference's own collision behavior (round-10 review). */
  def serviceDependencies(): DataFrame = {
    val parents = spans.select(col("span_id").as("p_span_id"),
      col("scope_name").as("parent_service"))
    val children = spans.filter(col("parent_span_id") =!= "")
      .select(col("parent_span_id").as("c_parent_id"),
        col("scope_name").as("child_service"))
    parents.join(children, col("p_span_id") === col("c_parent_id"))
      .filter(col("parent_service") =!= col("child_service"))
      .groupBy(col("parent_service"), col("child_service"))
      .agg(count(lit(1)).as("n_calls"))
      .orderBy(col("parent_service"), col("child_service"))
  }

  /** T6: hourly heatmap — count + avg duration per hour, latest 24
    * (api/service.go:400-433). */
  def traceHeatmap(): DataFrame =
    spans.filter(isRoot)
      .groupBy(expr("start_time_unix_nano div 3600000000000 * 3600")
        .as("hour_s"))
      .agg(count(lit(1)).as("n"),
        Exact.avgExact((col("duration_ns") / 1000000.0)).as("avg_ms"))
      .orderBy(col("hour_s").desc)
      .limit(24)

  /** T7: one span + comparative stats vs all same-name spans
    * (api/service.go:560-592). */
  def spanDetails(spanId: String): DataFrame = {
    val stats = spans.groupBy(col("name").as("stat_name"))
      .agg((Exact.avgExactRaw(expr("duration_ns div 1000").cast("double"))
        * 1000).as("avg_ns"),
        percentile(col("duration_ns"), lit(0.5)).as("p50_ns"),
        percentile(col("duration_ns"), lit(0.9)).as("p90_ns"),
        percentile(col("duration_ns"), lit(0.99)).as("p99_ns"))
    spans.filter(col("span_id") === spanId)
      .join(broadcast(stats), col("name") === col("stat_name"))
      .select(col("span_id"), col("trace_id"), col("name"),
        col("scope_name"), col("duration_ns"), col("avg_ns"),
        col("p50_ns"), col("p90_ns"), col("p99_ns"),
        ((col("duration_ns") - col("avg_ns")) / col("avg_ns") * 100)
          .as("duration_diff_percent"))
  }

  /** T8: per-trace rollup with issues = countIf(dur > 2*trace-avg)
    * (api/service.go:597-640, the ClickHouse nested-aggregate trick).
    * The per-trace average is a window over the trace key: ONE shuffle
    * on trace_id computes it, and the groupBy on the same key reuses
    * that hash partitioning (no second Exchange). Per-trace cardinality
    * grows with the data, so a broadcast-back of the averages would be
    * unbounded at scale; the window is bounded per partition. PlanSpec
    * pins the single-Exchange shape. */
  def traceList(): DataFrame = {
    val byTrace = Window.partitionBy(col("trace_id"))
    spans
      .withColumn("avg_ns", Exact.avgExactRawOver(
        expr("duration_ns div 1000").cast("double"), byTrace) * 1000)
      .groupBy(col("trace_id"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("duration_ns")).as("max_ns"),
        min(col("start_time_unix_nano")).as("start_ns"),
        sum(when(col("duration_ns") > col("avg_ns") * 2, 1).otherwise(0))
          .cast("long").as("issues"))
      .orderBy(col("trace_id"))
  }

  /** T9: DSL search (SearchDsl.SpanBinder — correct map semantics, see
    * SURVEY §7 hard-part 3) + mode + range + sort + pagination
    * (api/service.go:698-892). */
  /** The filtered (pre-sort, pre-page) frame of T9 — ONE spelling of
    * the predicate/mode/range chain shared by [[search]] and
    * [[searchWithTotal]], so the reported total can never disagree
    * with the page contents (round-10 review: the chain was built
    * twice and could drift). */
  private def searchFiltered(req: SearchRequest): DataFrame = {
    val pred = if (req.query.isEmpty) lit(true)
      else SearchDsl.predicate(req.query, SearchDsl.SpanBinder)
    val mode = if (req.rootOnly) isRoot else col("parent_span_id") =!= ""
    spans
      .filter(col("start_time_unix_nano") >= req.startNs &&
        col("end_time_unix_nano") <= req.endNs)
      .filter(pred && mode)
  }

  def search(req: SearchRequest): DataFrame = {
    val sortCol = if (req.ascending) col(req.sortField).asc
      else col(req.sortField).desc
    // page is 1-based and pageSize positive at the API boundary; clamp
    // both instead of handing Spark a negative offset/limit (an opaque
    // AnalysisException far from the caller — the percentileSeries
    // clamp convention)
    val page = math.max(1, req.page)
    val pageSize = math.max(1, req.pageSize)
    searchFiltered(req)
      .orderBy(sortCol, col("span_id"))
      .offset((page - 1) * pageSize)
      .limit(pageSize)
  }

  /** T9 with page metadata: the reference wraps search results with a
    * total count for pagination (api/service.go:887-891). Two scans
    * (count + page) — at 100 TB swap the exact total for a cheaper bound
    * or cache it per predicate; the page itself stays TakeOrdered. */
  def searchWithTotal(req: SearchRequest): (DataFrame, Long) =
    (search(req), searchFiltered(req).count())

  /** Series helpers (T10/T14/T15/T16/T17): zero-filled time buckets,
    * interval = range/15 like the reference (utils/utils.go:81-85),
    * floor-aligned (utils/utils.go:74-79). */
  private def seriesFrame(startNs: Long, endNs: Long): (DataFrame, Column, Long) = {
    val startS = startNs / 1000000000L
    val endS = endNs / 1000000000L
    val step = TimeRanges.bucketSeconds(endS - startS)
    val aligned = TimeRanges.align(startS, step)
    val frame = spans.sparkSession.range(aligned, endS + 1, step)
      .toDF("bucket_s")
    val bucket = expr(s"(start_time_unix_nano div 1000000000) - " +
      s"(start_time_unix_nano div 1000000000) % $step")
    (frame, bucket, step)
  }

  private def zeroFilled(startNs: Long, endNs: Long, base: DataFrame,
      aggs: Seq[Column], fills: Seq[(String, Column)]): DataFrame = {
    val (frame, bucket, _) = seriesFrame(startNs, endNs)
    val agg = base
      .filter(col("start_time_unix_nano") >= startNs &&
        col("start_time_unix_nano") <= endNs)
      .groupBy(bucket.as("b")).agg(aggs.head, aggs.tail: _*)
    frame.join(agg, col("bucket_s") === col("b"), "left")
      .select(col("bucket_s") +: fills.map { case (n, f) =>
        coalesce(col(n), f).as(n) }: _*)
      .orderBy(col("bucket_s"))
  }

  /** T10: trace-count series (api/service.go:899-959). */
  def traceCounts(startNs: Long, endNs: Long): DataFrame =
    zeroFilled(startNs, endNs, spans.filter(isRoot),
      Seq(count(lit(1)).as("n")), Seq("n" -> lit(0L)))

  /** T14: duration-quantile series, p clamped to [0,100]
    * (api/service.go:1125-1171). */
  def percentileSeries(p: Double, startNs: Long, endNs: Long): DataFrame = {
    val clamped = math.min(math.max(p, 0.0), 100.0) / 100.0
    zeroFilled(startNs, endNs, spans,
      Seq(percentile((col("duration_ns") / 1000000.0), lit(clamped)).as("p")),
      Seq("p" -> lit(0.0)))
  }

  /** T15: avg-duration series (api/service.go:1173-1238). */
  def avgSeries(startNs: Long, endNs: Long): DataFrame =
    zeroFilled(startNs, endNs, spans,
      Seq(Exact.avgExact((col("duration_ns") / 1000000.0)).as("avg_ms")),
      Seq("avg_ms" -> lit(0.0)))

  /** T16: error-count series — spans carrying an 'exception' event
    * (api/service.go:1240-1297). */
  def errorCounts(startNs: Long, endNs: Long): DataFrame =
    zeroFilled(startNs, endNs, spans,
      Seq(sum(when(hasException, 1).otherwise(0)).cast("long").as("n_errors")),
      Seq("n_errors" -> lit(0L)))

  /** T17: combined single-pass quantile+count+avg series over a search
    * predicate — the reference's hand-fused 3-metric query
    * (api/service.go:1339-1428); one `agg` call here. */
  def searchMetrics(query: String, p: Double, startNs: Long,
      endNs: Long): DataFrame = {
    val pred = if (query.isEmpty) lit(true)
      else SearchDsl.predicate(query, SearchDsl.SpanBinder)
    val clamped = math.min(math.max(p, 0.0), 100.0) / 100.0
    zeroFilled(startNs, endNs, spans.filter(pred),
      Seq(percentile((col("duration_ns") / 1000000.0), lit(clamped)).as("p"),
        count(lit(1)).as("n"),
        Exact.avgExact((col("duration_ns") / 1000000.0)).as("avg_ms")),
      Seq("p" -> lit(0.0), "n" -> lit(0L), "avg_ms" -> lit(0.0)))
  }

  /** T11: per-service metrics with pseudo error-rate
    * (api/service.go:961-1024). */
  def serviceMetrics(): DataFrame = {
    val avgs = spans.groupBy(col("scope_name").as("svc"))
      .agg((Exact.avgExactRaw(expr("duration_ns div 1000").cast("double"))
        * 1000).as("avg_ns"))
    spans.join(broadcast(avgs), col("scope_name") === col("svc"))
      .groupBy(col("scope_name"))
      .agg(count(lit(1)).as("n"),
        Exact.avgExact((col("duration_ns") / 1000000.0)).as("avg_ms"),
        (sum(when(col("duration_ns") > col("avg_ns") * 2, 1).otherwise(0)) *
          lit(100.0) / count(lit(1))).as("error_rate"))
      .orderBy(col("scope_name"))
  }

  /** T12: per-endpoint count/avg/p95 top-10 (api/service.go:1026-1069). */
  def endpointMetrics(): DataFrame =
    spans.groupBy(col("name"))
      .agg(count(lit(1)).as("n"),
        Exact.avgExact((col("duration_ns") / 1000000.0)).as("avg_ms"),
        percentile((col("duration_ns") / 1000000.0), lit(0.95)).as("p95_ms"))
      .orderBy(col("n").desc, col("name"))
      .limit(10)

  /** T13: top-10 slowest root spans within a window
    * (api/service.go:1071-1123). */
  def slowestTraces(startNs: Long, endNs: Long, n: Int = 10): DataFrame =
    spans.filter(isRoot &&
        col("start_time_unix_nano") >= startNs &&
        col("start_time_unix_nano") <= endNs)
      .select(col("trace_id"), col("name"), col("scope_name"),
        col("start_time_unix_nano"), durMs)
      .orderBy(col("duration_ms").desc, col("trace_id"))
      .limit(n)

  /** T18: distinct service names from the resource-attribute map —
    * `element_at` replaces the reference's
    * arrayElement(values, indexOf(keys,...)) emulation
    * (api/service.go:1540-1570). */
  def services(): DataFrame =
    spans
      .filter(map_contains_key(col("resource_attributes"), "service.name"))
      .select(element_at(col("resource_attributes"), "service.name")
        .as("service_name"))
      .distinct()
      .orderBy(col("service_name"))

  /** U1: waterfall geometry per span of a trace — offset%/width%/share%
    * (ui TraceDetails.tsx:207-242, absorbed engine-side). */
  def waterfall(traceId: String): DataFrame = {
    val w = Window.partitionBy(col("trace_id"))
    spans.filter(col("trace_id") === traceId)
      .withColumn("t0", min(col("start_time_unix_nano")).over(w))
      .withColumn("t1", max(col("end_time_unix_nano")).over(w))
      .select(col("span_id"), col("name"), col("scope_name"),
        // a zero-width trace (every span an instant at one timestamp)
        // must not divide by zero into NULL percentages: the single
        // instant fills the view — offset 0, width 100
        when(col("t1") === col("t0"), lit(0.0))
          .otherwise((col("start_time_unix_nano") - col("t0")) *
            lit(100.0) / (col("t1") - col("t0"))).as("offset_pct"),
        when(col("t1") === col("t0"), lit(100.0))
          .otherwise(col("duration_ns") * lit(100.0) /
            (col("t1") - col("t0"))).as("width_pct"))
      .orderBy(col("span_id"))
  }

  /** U5 (beyond the reference's UI — the next thing a trace view asks):
    * span-tree depth and critical path per trace. Level-synchronous BFS
    * from the roots down the parent links, accumulating depth and the
    * root-to-node duration sum; per trace: deepest level, reachable
    * span count, and the max root-to-node duration sum — that sum is
    * monotone along any path, so its max over ALL reached nodes is the
    * critical (longest-duration root-to-leaf) path.
    *
    * Scale: one (trace_id, parent_span_id)⋈(trace_id, span_id) hash
    * join per LEVEL — iterations are bounded by tree depth (shallow for
    * real traces), not span count, and every frontier localCheckpoints
    * so lineage stays flat and the empty-frontier stop reads the
    * already-materialized checkpoint. Orphan spans (parent missing) are
    * unreachable and uncounted — the same semantics as the recursive
    * CTE the oracle states. A cycle (corrupt parent links) cannot
    * terminate BFS; the `maxLevels` ceiling raises instead of looping. */
  def spanDepths(maxLevels: Int = 64): DataFrame = {
    // cached across levels — every iteration probes it; the final
    // aggregate reads only the (materialized) level checkpoints, so
    // the cache is safely released before returning
    val base = spans.select(col("trace_id"), col("span_id"),
      col("parent_span_id"), col("duration_ns")).persist()
    try {
      var frontier = base.filter(isRoot)
        .select(col("trace_id"), col("span_id"), lit(1).as("depth"),
          col("duration_ns").as("path_ns"))
        .localCheckpoint(eager = false)
      val levels = scala.collection.mutable.ArrayBuffer(frontier)
      var level = 1
      // LAZY checkpoint + count = ONE job per level (an eager
      // checkpoint then count paid two; with the broadcast join below
      // the loop is job-overhead bound, so jobs per level is the cost)
      // — the count both terminates the loop
      // AND sizes the join strategy below; the ceiling only fires when
      // a level BEYOND maxLevels actually has content — a legitimate
      // acyclic tree of depth exactly maxLevels completes normally
      var frontierN = frontier.count()
      while (frontierN > 0) {
        level += 1
        // size-guarded broadcast frontier (round 9): at registry scale
        // every BFS level was paying a full shuffle of base + frontier
        // (~0.3 s/level of pure exchange). A frontier under the limit
        // broadcasts instead — base never shuffles, the level is one
        // map-side hash join over the cached scan. Wide trees (a
        // frontier near corpus size at 100 TB) keep the shuffle join:
        // the guard is a row count already paid by the loop test.
        val fSel = frontier.select(col("trace_id"),
          col("span_id").as("parent_span_id"), col("depth"),
          col("path_ns"))
        val f = if (frontierN <= BroadcastFrontierLimit) broadcast(fSel)
          else fSel
        frontier = base
          .join(f, Seq("trace_id", "parent_span_id"))
          .select(col("trace_id"), col("span_id"),
            (col("depth") + 1).as("depth"),
            (col("path_ns") + col("duration_ns")).as("path_ns"))
          .localCheckpoint(eager = false)
        frontierN = frontier.count()
        if (frontierN > 0) {
          if (level > maxLevels)
            throw new IllegalStateException(
              s"span tree deeper than $maxLevels levels — parent-link cycle?")
          levels += frontier
        }
      }
      levels.reduce(_ union _)
        .groupBy(col("trace_id"))
        .agg(max(col("depth")).cast("int").as("max_depth"),
          count(lit(1)).as("n_spans"),
          max(col("path_ns")).as("critical_path_ns"))
        .orderBy(col("trace_id"))
    } finally base.unpersist()
  }

  /** U5, grouped form: the same depth/critical-path semantics as
    * [[spanDepths]] in ONE shuffle. A critical path is a PER-TRACE
    * computation — shuffling spans to their trace once and walking the
    * tree in-group replaces depth-many full passes over the table (the
    * BFS's residual cost is depth × fixed job cost; at 100 TB each of
    * those jobs is a pass over the cached base, and caching 100 TB is
    * itself the problem). The walk mirrors the BFS join EXACTLY —
    * multiplicity included: a child whose parent span_id appears on k
    * reached rows is reached k times with k path sums, the same rows
    * the per-level hash join would produce, so `n_spans`, `max_depth`
    * and `critical_path_ns` are bit-identical (TraceServiceSpec pins
    * grouped ≡ BFS on the fixture tree plus orphan / duplicate-id /
    * null-duration cases). Orphans stay unreachable; content deeper
    * than `maxLevels` raises the same cycle error instead of looping.
    *
    * Memory: one trace's spans are materialized per task (~100 B/row),
    * so this form assumes traces are individually small — the real
    * shape of a trace (one request). [[spanDepthsAuto]] dispatches to
    * the BFS when a probe finds a trace wider than the cap. */
  def spanDepthsGrouped(maxLevels: Int = 64): DataFrame = {
    val sess = spans.sparkSession
    import sess.implicits._
    spans.select(col("trace_id").cast("string").as("_1"),
        col("span_id").cast("string").as("_2"),
        col("parent_span_id").cast("string").as("_3"),
        col("duration_ns").cast("long").as("_4"))
      .as[(String, String, String, Option[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (tid, it) =>
        val rows = it.toArray
        // parent span_id -> child row indices (null parents join nothing)
        val byParent = new java.util.HashMap[String, java.util.ArrayList[Int]]()
        var i = 0
        while (i < rows.length) {
          val p = rows(i)._3
          if (p != null) {
            var l = byParent.get(p)
            if (l == null) { l = new java.util.ArrayList[Int](4); byParent.put(p, l) }
            l.add(i): Unit
          }
          i += 1
        }
        // frontier of (row idx, root-to-row duration sum); a null
        // duration nulls the whole path, exactly as `path + dur` does
        var frontier = new scala.collection.mutable.ArrayBuffer[(Int, java.lang.Long)]()
        i = 0
        while (i < rows.length) {
          if (rows(i)._3 == "")
            frontier += ((i, rows(i)._4.map(java.lang.Long.valueOf).orNull))
          i += 1
        }
        var depth = 1
        var n = 0L
        var maxDepth = 0
        var best: java.lang.Long = null
        while (frontier.nonEmpty) {
          if (depth > maxLevels)
            throw new IllegalStateException(
              s"span tree deeper than $maxLevels levels — parent-link cycle?")
          maxDepth = depth
          val next = new scala.collection.mutable.ArrayBuffer[(Int, java.lang.Long)]()
          frontier.foreach { case (ri, path) =>
            n += 1
            if (path != null && (best == null || path.longValue > best.longValue))
              best = path
            val kids = byParent.get(rows(ri)._2)
            if (kids != null) {
              var k = 0
              while (k < kids.size) {
                val ci = kids.get(k)
                val d = rows(ci)._4
                val np: java.lang.Long =
                  if (path == null || d.isEmpty) null
                  else java.lang.Long.valueOf(path.longValue + d.get)
                next += ((ci, np))
                k += 1
              }
            }
          }
          frontier = next
          depth += 1
        }
        if (n == 0) Iterator.empty
        else Iterator((tid, maxDepth, n, Option(best).map(_.longValue)))
      }
      .toDF("trace_id", "max_depth", "n_spans", "critical_path_ns")
      .orderBy(col("trace_id"))
  }

  /** Spans per trace above which [[spanDepthsAuto]] keeps the
    * level-synchronous BFS instead of materializing a trace in one
    * task: 2 M rows ≈ a few hundred MB boxed — inside a normal
    * executor's task budget, far beyond any real trace. */
  private val GroupedTraceSpanLimit = 2000000L

  /** U5 dispatcher: grouped single-shuffle walk when every trace fits
    * a task ([[spanDepthsGrouped]]), level-synchronous BFS otherwise
    * ([[spanDepths]]). The probe is one partial-agg count shuffle over
    * trace ids — cheap at any scale relative to either plan. */
  def spanDepthsAuto(maxLevels: Int = 64): DataFrame = {
    val widest = spans.groupBy(col("trace_id")).count()
      .agg(max(col("count"))).collect()(0)
    if (!widest.isNullAt(0) && widest.getLong(0) > GroupedTraceSpanLimit)
      spanDepths(maxLevels)
    else spanDepthsGrouped(maxLevels)
  }

  /** U2: error flag + exception details per span
    * (TraceDetails.tsx:111-124). */
  def errorSpans(): DataFrame = {
    val exc = filter(col("events"), e => e.getField("name") === "exception")
    spans.filter(hasException)
      .select(col("trace_id"), col("span_id"), col("name"),
        element_at(element_at(exc, 1).getField("attributes"),
          "exception.type").as("exception_type"),
        element_at(element_at(exc, 1).getField("attributes"),
          "exception.message").as("exception_message"))
      .orderBy(col("trace_id"), col("span_id"))
  }
}
