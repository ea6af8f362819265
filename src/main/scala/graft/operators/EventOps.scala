package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Events-table operators outside the Query API: time-range and point
  * predicates (B4-B6), the salted-join skew path, the U2 per-trace
  * error rollup, and the value-profiling family (heavy hitters,
  * winsorization, CDF normalization, set operations, key skew). The
  * Query API endpoints themselves (T1-T18, and U1's waterfall) are
  * [[graft.spans.TraceService]] methods, oracle-checked through
  * [[SpanNativeOps]].
  *
  * Scale notes: per-group fences and stats are computed via a groupBy +
  * join of the (tiny) aggregate side with `broadcast()`, not a window
  * over the fact table; the salted self-join shuffles both sides on the
  * salted key once.
  */
object EventOps extends QueryModule {
  private val Minute: Long = 60L * 1000 * 1000 // µs
  private val Day: Long = 86400L * 1000 * 1000 // µs

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  /** The events-successor edges of [[GraphOps.successorEdges]] computed
    * through [[Skew.saltedJoin]] — identical semantics and oracle,
    * exercising the hot-key salting path end-to-end (the static fallback
    * when AQE skew-split isn't enough). */
  def serviceDependenciesSalted(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val build = e.select(col("user_id"),
      col("event_type").as("parent_type"), col("ts_us").as("t1"))
      .filter(col("parent_type").isin("signup", "purchase"))
    val probe = e.select(col("user_id"), col("event_id"),
      col("event_type").as("child_type"), col("ts_us").as("t2"))
    Skew.saltedJoin(probe, build, "user_id", col("event_id"))
      .filter(col("t2") > col("t1") && col("t2") <= col("t1") + lit(Minute) &&
        col("parent_type") =!= col("child_type"))
      .groupBy(col("parent_type"), col("child_type"))
      .agg(count(lit(1)).as("n_calls"))
      .orderBy(col("parent_type"), col("child_type"))
  }

  /** B4: absolute time-range predicate (api/service.go:709-712). */
  def timeRange(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .filter(col("ts_us") >= lit(1704844800000000L) &&
        col("ts_us") < lit(1705708800000000L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** B5: relative trailing window (7d back from data-max "now",
    * api/service.go:969-981). */
  def relativeWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val maxTs = e.agg(max(col("ts_us")).as("max_us"))
    e.crossJoin(broadcast(maxTs))
      .filter(col("ts_us") >= col("max_us") - lit(7 * Day))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** B6: point lookup by id (api/service.go:220,262,460). */
  def pointLookup(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .filter(col("event_id") === 777)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), round(col("value"), 6).as("dur"), col("props"))

  /** U2: error flag rollup — errors per trace (TraceDetails.tsx:111-124;
    * server-side variant api/service.go:817). */
  def errorRollup(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1).otherwise(0))
          .cast("long").as("n_errors"))
      .orderBy(col("user_id"))

  /** V11: exact heavy hitters — top event types by count (the full
    * groupBy form: state per distinct key). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))
      .limit(10)

  /** V11b: the same top-k via the mergeable Misra-Gries summary
    * ([[graft.functions.FreqSketch]]) — O(k) state per group regardless
    * of key cardinality, the streaming/100 TB form. On this column the
    * distinct count (5) is below k, so the summary never decrements and
    * the counts are EXACT — hence this entry is oracle-checked; the
    * lossy path (cardinality > k) is guarantee-pinned in FreqSketchSpec. */
  def heavyHittersSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.FreqSketch.freq_sketch
    ev(spark, dir)
      .agg(freq_sketch(col("event_type")).as("top"))
      .select(explode(col("top")).as("hh"))
      .select(col("hh.item").as("event_type"), col("hh.est").as("n"),
        col("hh.err_bound").as("err_bound"))
      .orderBy(col("n").desc, col("event_type"))
  }

  /** V26: winsorization (outlier clipping) — per-type exact p05/p95
    * fences, values clipped into the fences, clip counts and the
    * clipped mean: the robust-stats cleaning step between raw metrics
    * and model features. Two passes over events (a grouped-percentile
    * fence pass — the same shape as t04 — then a pure-map clip pass)
    * with the 5-row fence table BROADCAST back, so nothing but the
    * fences crosses the network twice; at 100 TB swap the fence pass to
    * approx_percentile when a second scan is too dear. Fences are
    * rounded to 6 dp BEFORE the comparison so both engines clip on
    * identical bits, and the clipped mean goes through [[Exact]]
    * micro-unit summation. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val fences = e.groupBy(col("event_type"))
      .agg(round(percentile(col("value"), lit(0.05)), 6).as("lo"),
        round(percentile(col("value"), lit(0.95)), 6).as("hi"))
    e.join(broadcast(fences), Seq("event_type"))
      .withColumn("cv", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1).otherwise(0))
          .cast("long").as("n_low"),
        sum(when(col("value") > col("hi"), 1).otherwise(0))
          .cast("long").as("n_high"),
        Exact.avgExact(col("cv")).as("avg_wins"))
      .orderBy(col("event_type"))
  }

  /** V30: quantile (CDF) normalization table — the feature-preprocessing
    * transform that maps a raw metric onto its empirical CDF, computed
    * WITHOUT a per-type global sort (percent_rank over a 5-value type
    * key would funnel each type's full volume through one window task).
    * Instead: histogram over unit-width value buckets — bounded by the
    * value DOMAIN, not the row count — then a cumulative window over
    * the ≤domain-width bucket frame per type (v14's bucketed
    * order-statistic trick generalized to the whole distribution).
    * Applying the transform to rows afterwards is a broadcast join of
    * this bounded table + a pure map. cdf is integer-exact
    * ([[Exact.ratio6]]). */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = ev(spark, dir)
      .groupBy(col("event_type"),
        floor(col("value")).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type"))
    val cum = byType.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("n")).over(cum))
      .withColumn("n_type", sum(col("n")).over(byType))
      .withColumn("cdf", Exact.ratio6(col("cum"), col("n_type")))
      .select(col("event_type"), col("bucket"), col("n"), col("cum"),
        col("cdf"))
      .orderBy(col("event_type"), col("bucket"))
  }

  private val cdfCumSql =
    "sum(n) OVER (PARTITION BY event_type ORDER BY bucket " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
  private val cdfTotSql = "sum(n) OVER (PARTITION BY event_type)"

  /** G1 (SURVEY §2.G — the reference issues no set operations; an
    * engine replacing it is asked for audience overlap immediately):
    * viewers ∩ buyers, viewers ∖ buyers, viewers ∪ buyers as user-set
    * counts. Spark plans INTERSECT/EXCEPT as keyed aggregates +
    * left-semi/anti joins on the high-cardinality user key — each leg
    * one shuffle, no driver state. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    def users(t: String) =
      e.filter(col("event_type") === t).select(col("user_id")).distinct()
    val (v, b) = (users("view"), users("purchase"))
    def tag(df: DataFrame, op: String) =
      df.agg(count(lit(1)).as("n_users")).select(lit(op).as("set_op"),
        col("n_users"))
    tag(v.intersect(b), "intersect")
      .unionByName(tag(v.except(b), "except"))
      .unionByName(tag(v.union(b).distinct(), "union"))
      .orderBy(col("set_op"))
  }

  /** V32: key-skew profile — the partition-planning report an engine
    * needs BEFORE choosing a shuffle strategy at 100 TB: per-key row
    * counts reduced to cardinality, max-key share, top-10 share and
    * median key size. The key histogram is itself a keyed aggregate
    * (one shuffle); the top-10 rides TakeOrdered (no global sort) and
    * the scalars cross-join back as 1-row frames. Shares are
    * integer-exact ratios; the median interpolates integers (exact
    * halves — bit-identical across engines). */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val keys = ev(spark, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    val tot = keys.agg(count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"), max(col("c")).as("max_c"),
      round(percentile(col("c"), lit(0.5)), 6).as("p50_c"))
    val top10 = keys.orderBy(col("c").desc, col("user_id")).limit(10)
      .agg(sum(col("c")).as("top10_rows"))
    tot.crossJoin(top10)
      .select(col("n_keys"), col("n_rows"), col("max_c"), col("p50_c"),
        Exact.ratio6(col("max_c"), col("n_rows")).as("max_share"),
        Exact.ratio6(col("top10_rows"), col("n_rows")).as("top10_share"))
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("g1_set_ops",
      "G1 set operations: viewer/buyer user-set intersect, except, " +
        "union counts (keyed aggregates + semi/anti joins)",
      setOps,
      Some("""SELECT 'except' AS set_op, CAST(count(*) AS BIGINT) AS n_users
             |FROM (SELECT DISTINCT user_id FROM events WHERE event_type='view'
             |      EXCEPT
             |      SELECT DISTINCT user_id FROM events WHERE event_type='purchase')
             |UNION ALL
             |SELECT 'intersect', CAST(count(*) AS BIGINT)
             |FROM (SELECT DISTINCT user_id FROM events WHERE event_type='view'
             |      INTERSECT
             |      SELECT DISTINCT user_id FROM events WHERE event_type='purchase')
             |UNION ALL
             |SELECT 'union', CAST(count(*) AS BIGINT)
             |FROM (SELECT user_id FROM events WHERE event_type='view'
             |      UNION
             |      SELECT user_id FROM events WHERE event_type='purchase')
             |ORDER BY 1""".stripMargin)),
    GraftQuery("v32_skew_profile",
      "V32 key-skew profile: cardinality, max/top-10 key shares, " +
        "median key size over the per-key histogram (the partition " +
        "planning report)",
      skewProfile,
      Some(s"""WITH k AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
              | t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
              |        CAST(sum(c) AS BIGINT) AS n_rows,
              |        CAST(max(c) AS BIGINT) AS max_c,
              |        round(quantile_cont(c, 0.5), 6) AS p50_c
              |       FROM k),
              | tt AS (SELECT CAST(sum(c) AS BIGINT) AS top10_rows FROM (
              |         SELECT c FROM k ORDER BY c DESC, user_id LIMIT 10))
              |SELECT n_keys, n_rows, max_c, p50_c,
              | ${OracleSql.ratio6("max_c", "n_rows")} AS max_share,
              | ${OracleSql.ratio6("top10_rows", "n_rows")} AS top10_share
              |FROM t CROSS JOIN tt""".stripMargin)),
    GraftQuery("v30_quantile_norm",
      "V30 quantile-normalization table: bucketed histogram CDF per " +
        "type (no per-type global sort; windows over the bounded " +
        "histogram only)",
      quantileNorm,
      Some(s"""WITH h AS (
              |  SELECT event_type, CAST(floor(value) AS INT) AS bucket,
              |   count(*) AS n
              |  FROM events GROUP BY 1, 2)
              |SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
              | CAST($cdfCumSql AS BIGINT) AS cum,
              | ${OracleSql.ratio6(cdfCumSql, cdfTotSql)} AS cdf
              |FROM h ORDER BY 1, 2""".stripMargin)),
    GraftQuery("v26_winsorize",
      "V26 winsorization: exact p05/p95 fences per type, clip + " +
        "clip-counts + clipped mean (fence pass + broadcast-back map)",
      winsorize,
      Some(s"""WITH f AS (
              |  SELECT event_type, round(quantile_cont(value, 0.05), 6) AS lo,
              |   round(quantile_cont(value, 0.95), 6) AS hi
              |  FROM events GROUP BY 1)
              |SELECT e.event_type, f.lo, f.hi, CAST(count(*) AS BIGINT) AS n,
              | CAST(sum(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
              | CAST(sum(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
              | ${OracleSql.avgExact("least(greatest(e.value, f.lo), f.hi)")} AS avg_wins
              |FROM events e JOIN f USING (event_type)
              |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),
    GraftQuery("v11_heavy_hitters",
      "V11 exact heavy hitters: top event types by count (full groupBy)",
      heavyHitters,
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY 1 ORDER BY n DESC, event_type
             |LIMIT 10""".stripMargin)),
    GraftQuery("v11b_heavy_hitters_sketch",
      "V11 heavy hitters via mergeable Misra-Gries summary (O(k) state; " +
        "exact here since distinct<=k, so oracle-checked; lossy path " +
        "pinned in FreqSketchSpec)",
      heavyHittersSketch,
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             | CAST(0 AS BIGINT) AS err_bound
             |FROM events GROUP BY 1 ORDER BY n DESC, event_type""".stripMargin)),
    GraftQuery("t05b_dependencies_salted",
      "T5-shaped events-successor edges (v29's edge set) via the " +
        "salted-join skew path",
      serviceDependenciesSalted,
      Some("""SELECT e1.event_type AS parent_type, e2.event_type AS child_type,
             | CAST(count(*) AS BIGINT) AS n_calls
             |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
             | AND epoch_us(e2.ts) > epoch_us(e1.ts)
             | AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 60000000
             |WHERE e1.event_type IN ('signup','purchase')
             | AND e1.event_type <> e2.event_type
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),
    GraftQuery("b4_time_range",
      "B4 absolute time-range predicate (api/service.go:709-712)",
      timeRange,
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
             |WHERE epoch_us(ts) >= 1704844800000000 AND epoch_us(ts) < 1705708800000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("b5_relative_window",
      "B5 trailing 7d window relative to data-max now (api/service.go:969-981)",
      relativeWindow,
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
             |WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events) - 604800000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("b6_point_lookup",
      "B6 equality point lookup (api/service.go:220,262,460)",
      pointLookup,
      Some("""SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             | round(value,6) AS dur, props
             |FROM events WHERE event_id=777""".stripMargin)),
    GraftQuery("u2_error_rollup",
      "U2 per-trace error counts (TraceDetails.tsx:111-124, api/service.go:817)",
      errorRollup,
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             | CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)))
}
