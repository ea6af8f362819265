package graft.sources

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry entries for the DataSourceV2 span source (SURVEY §2.A A1 as
  * a first-class pluggable source — see [[SpanFileSource]]).
  *
  * Both oracles read `expected.parquet`, which [[SpanFixture]] computes
  * CLOSED-FORM in plain Scala — never through the source — so the
  * DuckDB pass independently checks the Jackson parse path, the
  * hex→base64 id re-encode, the duration arithmetic and the pushdown
  * semantics.
  */
object SourceOps extends QueryModule {

  /** A7: full scan through the DSv2 source — per-service span rollup.
    * Exercises schema projection (only 4 of 8 columns reach the
    * reader) and the aggregate above the custom Batch. */
  def dsv2Scan(spark: SparkSession, dir: String): DataFrame = {
    val d = SpanFixture.ensure(spark)
    SpanFileSource.read(spark, d)
      .groupBy(col("service_name"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("duration_ns")).as("total_dur_ns"),
        min(col("start_ns")).as("first_start_ns"),
        sum(when(col("status_code") === "ERROR", 1L).otherwise(0L))
          .as("n_errors"))
      .orderBy(col("service_name"))
  }

  private lazy val dsv2ScanSql: String =
    s"""SELECT service_name, CAST(count(*) AS BIGINT) AS n_spans,
       | CAST(sum(duration_ns) AS BIGINT) AS total_dur_ns,
       | CAST(min(start_ns) AS BIGINT) AS first_start_ns,
       | CAST(sum(CASE WHEN status_code = 'ERROR' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_errors
       |FROM read_parquet('${SpanFixture.Dir}/expected.parquet/*.parquet')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The a7b predicate: one service, first 12 hours — stats-skips all
    * but ~2 of the 24 files before any byte of JSON is read. */
  val PushService = "svc2"
  val PushMaxNs: Long = SpanFixture.BaseNs + 12 * SpanFixture.HourNs

  /** A7b: the same source under a selective predicate — service
    * equality + start-time upper bound, both pushed: the planner opens
    * only the files whose sidecar stats survive (2/24 here), Spark
    * re-evaluates the predicate row-by-row above (stats prune, never
    * decide). SourceSpec pins the files= fraction in the plan text and
    * pruned == unpruned results. */
  def dsv2Pushdown(spark: SparkSession, dir: String): DataFrame = {
    val d = SpanFixture.ensure(spark)
    SpanFileSource.read(spark, d)
      .filter(col("service_name") === PushService &&
        col("start_ns") < PushMaxNs)
      .select(col("span_id"), col("name"), col("start_ns"),
        col("duration_ns"), col("status_code"))
      .orderBy(col("start_ns"))
  }

  private lazy val dsv2PushdownSql: String =
    s"""SELECT span_id, name, start_ns, duration_ns, status_code
       |FROM read_parquet('${SpanFixture.Dir}/expected.parquet/*.parquet')
       |WHERE service_name = '$PushService' AND start_ns < $PushMaxNs
       |ORDER BY start_ns""".stripMargin

  /** A7c: global count/min/max through `SupportsPushDownAggregates` —
    * the whole query is answered from the `_stats.json` sidecar: the
    * plan is a single synthetic partition, ZERO span files opened
    * (SourceSpec pins `files=0/24` in the plan text). Sound because the
    * source hands every filter back as post-scan, so Spark only pushes
    * aggregation into filterless scans, where sidecar totals are exact. */
  def dsv2AggStats(spark: SparkSession, dir: String): DataFrame = {
    val d = SpanFixture.ensure(spark)
    SpanFileSource.read(spark, d)
      .agg(count(lit(1)).as("n_spans"),
        min(col("start_ns")).as("first_ns"),
        max(col("start_ns")).as("last_ns"))
  }

  private lazy val dsv2AggStatsSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_spans,
       | CAST(min(start_ns) AS BIGINT) AS first_ns,
       | CAST(max(start_ns) AS BIGINT) AS last_ns
       |FROM read_parquet('${SpanFixture.Dir}/expected.parquet/*.parquet')
       |""".stripMargin

  /** A8: the SAME custom source read as a STREAM (MICRO_BATCH_READ):
    * offsets index the name-sorted file listing, each trigger admits
    * ≤ 8 files past the committed point (24 fixture files → 3 genuine
    * micro-batches — SourceSpec pins the batch count and the offset
    * JSON round-trip), and the per-service rollup is a streaming
    * aggregation run to completion. Finite directory ⇒ the final table
    * equals the batch a7 rollup, so it shares a7's oracle — the
    * incremental admission machinery is what's under test. */
  def dsv2Stream(spark: SparkSession, dir: String): DataFrame = {
    val d = SpanFixture.ensure(spark)
    val stream = spark.readStream
      .format(classOf[SpanFileSource].getName)
      .option("maxFilesPerTrigger", "8")
      .load(d)
      .groupBy(col("service_name"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("duration_ns")).as("total_dur_ns"),
        min(col("start_ns")).as("first_start_ns"),
        sum(when(col("status_code") === "ERROR", 1L).otherwise(0L))
          .as("n_errors"))
    graft.streaming.StreamingOps
      .runToBatch(spark, stream, s"a8_stream_${ProcessHandle.current().pid()}")
      .orderBy(col("service_name"))
  }

  /** The a9 service→team dimension (a tiny ops-owned mapping table; the
    * VALUES mirror in the oracle SQL keeps both engines on the same
    * literal rows). */
  val TeamRows: Seq[(String, String)] = Seq(
    "svc0" -> "edge", "svc1" -> "core", "svc2" -> "edge",
    "svc3" -> "batch", "svc4" -> "core")

  /** The dim as a REAL parquet scan (written once per process): a
    * local relation won't do — the optimizer constant-folds a filter
    * over literal rows into the relation itself, and dynamic pruning is
    * only planned when the dim side still CARRIES a selective
    * predicate. [[graft.util.Memo.once]] returns only after the write,
    * so no caller reads a half-written dim. */
  private def teamsDim(spark: SparkSession): DataFrame =
    spark.read.parquet(graft.util.Memo.once("a9_teams", "") {
      val path = graft.util.Memo.path("graft_a9_teams")
      import spark.implicits._
      TeamRows.toDF("service_name", "team").coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    })

  /** A9: runtime (DPP-style) file pruning through
    * `SupportsRuntimeFiltering` — the spans source joined to a tiny
    * team dimension filtered to one team: Spark broadcasts the dim,
    * materializes the surviving join keys as a DynamicPruning subquery,
    * and hands them to the scan as an `In(service_name, ...)` filter
    * BEFORE partitions are planned, so the 15 files whose sidecar
    * service sets cannot match are never opened (24 → 9 here) — with
    * NO static predicate on the fact side at all. At 100 TB this is
    * join-driven data skipping: the dimension decides which span files
    * exist for the query. SourceSpec pins the plan's runtime-filter
    * expression, the 24→9 prune, and filtered == closed-form. */
  def dsv2RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = SpanFixture.ensure(spark)
    val dim = teamsDim(spark)
    SpanFileSource.read(spark, d)
      .join(broadcast(dim.filter(col("team") === "core")),
        Seq("service_name"))
      .groupBy(col("service_name"), col("team"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("duration_ns")).as("total_dur_ns"))
      .orderBy(col("service_name"))
  }

  private lazy val dsv2RuntimeFilterSql: String = {
    val values = TeamRows
      .map { case (s, t) => s"('$s', '$t')" }.mkString(", ")
    s"""SELECT service_name, team, CAST(count(*) AS BIGINT) AS n_spans,
       | CAST(sum(duration_ns) AS BIGINT) AS total_dur_ns
       |FROM read_parquet('${SpanFixture.Dir}/expected.parquet/*.parquet')
       |JOIN (SELECT * FROM (VALUES $values) AS t(service_name, team)
       |      WHERE team = 'core') USING (service_name)
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("a9_dsv2_runtime_filter",
      "A9 DSv2 runtime filtering (SupportsRuntimeFiltering): join-" +
        "driven file skipping — the broadcast dim's surviving keys " +
        "reach the scan as a DynamicPruning In-filter before " +
        "partitions are planned (24 -> 9 files, no static predicate)",
      dsv2RuntimeFilter, Some(dsv2RuntimeFilterSql)),
    GraftQuery("a8_dsv2_stream",
      "A8 DSv2 streaming read of the span source: MicroBatchStream " +
        "with file-count offsets + per-trigger admission (8 files/" +
        "batch, 3 batches over the fixture); finite stream equals the " +
        "batch rollup, sharing a7's oracle",
      dsv2Stream, Some(dsv2ScanSql)),
    GraftQuery("a7c_dsv2_agg_pushdown",
      "A7c DSv2 aggregate pushdown: global count/min/max answered " +
        "entirely from sidecar stats (files=0/24 - no span file " +
        "opened); falls back to the row scan for grouped or filtered " +
        "aggregates",
      dsv2AggStats, Some(dsv2AggStatsSql)),
    GraftQuery("a7_dsv2_scan",
      "A7 DataSourceV2 span source: OTLP/JSON files through a custom " +
        "TableProvider (Jackson parse, independent of the OtlpIngest " +
        "batch decoder); per-service rollup with column pruning at the " +
        "reader",
      dsv2Scan, Some(dsv2ScanSql)),
    GraftQuery("a7b_dsv2_pushdown",
      "A7b DSv2 filter pushdown: service + time-bound predicates " +
        "evaluated against _stats.json sidecar file stats — 2/24 files " +
        "opened (catalog-stats skipping, the MergeTree-index analog); " +
        "filters re-applied row-by-row above the scan",
      dsv2Pushdown, Some(dsv2PushdownSql)))
}
