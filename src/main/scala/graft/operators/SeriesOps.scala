package graft.operators

import graft._
import graft.util.TimeRanges
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-bucketed series over `events` beyond the Query API's own
  * (the D7-D11 endpoint series are [[graft.spans.TraceService]] methods,
  * oracle-checked through [[SpanNativeOps]]): distinct-user series and
  * their HLL twins, moving windows, spike and SLO-burn alerting, and
  * DAU/WAU stickiness. Bucketed series share the reference's grid
  * ([[graft.util.TimeRanges]]): width range/15 (utils/utils.go:81-85),
  * `unix − unix % step` floor alignment (utils/utils.go:74-79),
  * zero-filled inside the plan (H14) by a `spark.range` calendar frame
  * left-joined to the aggregated buckets.
  *
  * Scale notes: one scan + one shuffle on the bucket key per series; the
  * frame side is ≤16 rows so the fill join is a broadcast.
  */
object SeriesOps extends QueryModule {
  // Query window: the testdata month [2024-01-01, 2024-01-31] in epoch secs.
  private val Start = EventWindow.StartS
  private val End = EventWindow.EndS
  private val Step = TimeRanges.bucketSeconds(End - Start) // 172800 s
  private val Aligned = TimeRanges.align(Start, Step)

  /** Events inside the window with the floor-aligned bucket column. */
  private def bucketed(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("ts_s") >= Start && col("ts_s") <= End)
      .withColumn("bucket_s", expr(s"ts_s - ts_s % $Step"))

  /** Dense calendar frame, one row per bucket edge (H14). */
  private def frame(spark: SparkSession): DataFrame =
    spark.range(Aligned, End + 1, Step).toDF("bucket_s")

  /** Left-join aggregated buckets onto the dense frame, zero-filling the
    * given (column name → fill literal) pairs. */
  private def zeroFill(spark: SparkSession, agg: DataFrame,
      fills: Seq[(String, Column)]): DataFrame = {
    val joined = frame(spark).join(agg.withColumnRenamed("bucket_s", "b"),
      col("bucket_s") === col("b"), "left")
    val cols = col("bucket_s") +: fills.map { case (n, f) =>
      coalesce(col(n), f).as(n)
    }
    joined.select(cols: _*).orderBy(col("bucket_s"))
  }

  private val frameSql =
    s"SELECT unnest(generate_series($Aligned, $End, $Step)) AS bucket_s"
  private val bucketSql =
    s"(epoch_us(ts)//1000000) - (epoch_us(ts)//1000000) % $Step"
  private val rangeSql =
    s"epoch_us(ts)//1000000 BETWEEN $Start AND $End"

  /** T19 (beyond the reference): trailing 7-day moving window over the
    * daily count series — window-frame coverage (rowsBetween) the
    * reference lacks entirely (SURVEY §2.E). */
  def movingAverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(expr("ts_s div 86400 * 86400").as("day_s"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day_s")).rowsBetween(-6, 0)
    daily
      .withColumn("n_7d", sum(col("n")).over(w))
      .withColumn("avg_7d", round(avg(col("n")).over(w), 6))
      .orderBy(col("day_s"))
  }

  /** T21 (beyond the reference): spike detection over the daily count
    * series — flag days whose count exceeds 2× the trailing 6-day mean,
    * the alerting rule a monitoring UI derives from the t10/t19 series.
    * The threshold compare runs in INTEGER space
    * (n·trail_n > 2·trail_sum — exactly n > 2·mean without the
    * division), so both engines flag identical rows. The trailing frame
    * is a RANGE frame over day_s — the six CALENDAR days before the
    * current one, not the six preceding observed rows (a ROWS frame
    * would silently reach past a traffic outage and average week-old
    * days); days absent from the data contribute nothing and are not
    * counted in trail_n, and the frame excludes the current day. Days
    * with no history (trail_n = 0) never flag. Like t19 the
    * unpartitioned window is over the day series, whose length is
    * bounded by the queried wall-clock range — not the data volume —
    * at any scale. */
  def anomalySeries(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(expr("ts_s div 86400 * 86400").as("day_s"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day_s"))
      .rangeBetween(-6L * 86400, -86400L)
    daily
      .withColumn("trail_n", count(lit(1)).over(w))
      .withColumn("trail_sum", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("is_spike",
        (col("trail_n") > 0 &&
          col("n") * col("trail_n") > col("trail_sum") * 2).cast("int"))
      .orderBy(col("day_s"))
  }

  /** W10 (beyond the reference — the alert rule its Monitoring page is
    * one step short of): SLO burn-rate over the error series, the SRE
    * multiwindow form: per hour bucket, the 1 h and trailing-6 h error
    * rates; a fast-burn alert fires when the short window burns
    * > 14.4× a 1% error budget AND the long window > 6× (the classic
    * page-worthy pair — the long window de-flaps the short one). Both
    * threshold compares are integer cross-multiplications
    * (err·1000 > n·144, err6·100 > n6·6), so both engines flag
    * identical hours. The 6 h lookback is a CALENDAR RANGE frame (an
    * ingest gap narrows the window rather than reaching further back),
    * over the bounded hour series. */
  def sloBurn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(spark, dir)
      .groupBy(expr("ts_s div 3600 * 3600").as("hour_s"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1).otherwise(0))
          .cast("long").as("err"))
    val w = Window.orderBy(col("hour_s")).rangeBetween(-5L * 3600, 0)
    hourly
      .withColumn("n6", sum(col("n")).over(w))
      .withColumn("err6", sum(col("err")).over(w))
      .withColumn("fast_burn",
        (col("err") * 1000 > col("n") * 144 &&
          col("err6") * 100 > col("n6") * 6).cast("int"))
      .orderBy(col("hour_s"))
  }

  /** T20: distinct users per bucket, zero-filled — distinct aggregation
    * inside a time series (unique-visitors shape). Exact countDistinct
    * is the oracle surface; [[uniqueUsersSeriesApprox]] is the mergeable
    * HLL++ form you'd run at 100 TB / in streaming. */
  def uniqueUsersSeries(spark: SparkSession, dir: String): DataFrame = {
    val agg = bucketed(spark, dir).groupBy(col("bucket_s"))
      .agg(countDistinct(col("user_id")).as("u"))
    zeroFill(spark, agg, Seq("u" -> lit(0L)))
  }

  /** T20b: same series via approx_count_distinct (HLL++, mergeable,
    * bounded state per bucket). Rows-only: sketch estimates are
    * engine-specific; tolerance vs exact pinned in ScaleSpec. */
  def uniqueUsersSeriesApprox(spark: SparkSession, dir: String): DataFrame = {
    val agg = bucketed(spark, dir).groupBy(col("bucket_s"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("u"))
    zeroFill(spark, agg, Seq("u" -> lit(0L)))
  }

  /** t20c dump path ([[graft.util.Memo.stablePath]]). */
  val HllSeriesPath: String = graft.util.Memo.stablePath("hll_series")

  /** T20c: the HLL++ series' error vs exact, ORACLE-WITNESSED — the
    * sketch series is dumped; both engines join it to their own exact
    * distinct series and report the worst per-bucket relative error
    * (exact-integer ratio). The sketch twin's accuracy stops being a
    * spec-only claim and becomes a value the driver hashes every
    * round. */
  def uniqueUsersSeriesError(spark: SparkSession, dir: String): DataFrame = {
    val approx = spark.read.parquet(graft.util.Memo.dump("hll_series", dir)(
        uniqueUsersSeriesApprox(spark, dir)))
      .select(col("bucket_s"), col("u").as("a"))
    uniqueUsersSeries(spark, dir).select(col("bucket_s"), col("u").as("e"))
      .join(approx, Seq("bucket_s"))
      .filter(col("e") > 0)
      .agg(count(lit(1)).as("n_buckets"),
        max(Exact.ratio6(abs(col("a") - col("e")), col("e")))
          .as("max_rel_err"))
  }

  private lazy val hllSeriesErrorSql: String =
    s"""WITH c AS (SELECT $bucketSql AS b,
       |        count(DISTINCT user_id) AS e FROM events
       |       WHERE $rangeSql GROUP BY 1),
       | a AS (SELECT bucket_s, u AS a
       |       FROM read_parquet('$HllSeriesPath/*.parquet')),
       | j AS (SELECT c.e AS e, a.a AS a
       |       FROM c JOIN a ON a.bucket_s = c.b WHERE c.e > 0)
       |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       | max(${OracleSql.ratio6("abs(a - e)", "e")}) AS max_rel_err
       |FROM j""".stripMargin

  /** W15: DAU/WAU stickiness — daily active users over trailing-7-day
    * active users per day. The one engagement series that CANNOT be
    * derived from the daily series (distinct users don't sum across
    * days — t19's moving average of counts is the wrong answer for
    * actives): the corpus reduces to DISTINCT (user, day) pairs first
    * (one shuffle, ≤ users×days rows), each pair EXPLODES to the ≤7
    * trailing windows it belongs to (a pure map — the BETWEEN-join
    * formulation compiles to a nested loop against the calendar frame;
    * this doesn't), and the per-day distinct count aggregates that
    * bounded ×7 expansion. At 100 TB the pair table is the (small)
    * reduction of the event volume; the WAU distinct swaps to HLL
    * sketches merged over the 7 days (the t20b convention) when even
    * pairs×7 is too dear. Partial leading windows (< 7 days of
    * history) count what exists. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val nDays = (EventWindow.EndS - EventWindow.StartS) / 86400L
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        Exact.intDiv(col("ts_s") - EventWindow.StartS, lit(86400L))
          .as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("n_dau"))
    val days = spark.range(0, nDays).toDF("d")
    val wau = ud
      // post-window activity (day > nDays-1) must contribute to NO
      // trailing window: Spark's sequence(a, b) runs DESCENDING when
      // a > b (sequence(30, 29) = [30, 29]), which would leak a
      // future day into day-29's WAU, while the oracle's
      // generate_series(30, 29) is empty — filter to the window
      // BEFORE the explode so both engines agree on boundary data
      // (round-10 review; pre-window days stay, ascending is safe
      // there and their trailing windows genuinely include day 0+)
      .filter(col("day") <= nDays - 1)
      .select(col("user_id"), explode(sequence(col("day"),
        least(col("day") + 6, lit(nDays - 1)))).as("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("n_wau"))
    days.join(dau, col("d") === col("day"), "left")
      .join(wau, Seq("d"), "left")
      .select((col("d") * 86400L + EventWindow.StartS).as("day_s"),
        coalesce(col("n_dau"), lit(0L)).as("n_dau"),
        coalesce(col("n_wau"), lit(0L)).as("n_wau"))
      .withColumn("stickiness",
        when(col("n_wau") > 0, Exact.ratio6(col("n_dau"), col("n_wau")))
          .otherwise(lit(0.0)))
      .orderBy(col("day_s"))
  }

  private lazy val stickinessSql: String = {
    val start = EventWindow.StartS
    val nDays = (EventWindow.EndS - EventWindow.StartS) / 86400L
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id,
       |   (epoch_us(ts)//1000000 - $start) // 86400 AS day
       |  FROM events),
       | days AS (SELECT unnest(range(0, $nDays)) AS d),
       | dau AS (SELECT day, count(*) AS n_dau FROM ud GROUP BY 1),
       | wau AS (
       |  SELECT d, count(DISTINCT user_id) AS n_wau
       |  FROM (SELECT user_id,
       |         unnest(generate_series(day, least(day + 6, ${nDays - 1})))
       |           AS d
       |        FROM ud)
       |  GROUP BY 1)
       |SELECT CAST(days.d * 86400 + $start AS BIGINT) AS day_s,
       | CAST(coalesce(dau.n_dau, 0) AS BIGINT) AS n_dau,
       | CAST(coalesce(wau.n_wau, 0) AS BIGINT) AS n_wau,
       | CASE WHEN coalesce(wau.n_wau, 0) > 0
       |   THEN ${OracleSql.ratio6("coalesce(dau.n_dau, 0)",
          "coalesce(wau.n_wau, 0)")}
       |   ELSE 0.0 END AS stickiness
       |FROM days LEFT JOIN dau ON days.d = dau.day
       |LEFT JOIN wau ON days.d = wau.d
       |ORDER BY 1""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("w15_stickiness",
      "W15 DAU/WAU stickiness: trailing-7-day distinct actives per day " +
        "(distinct (user, day) pairs + a 7-fan-out calendar join — " +
        "distincts don't sum, so no moving average can derive this)",
      stickiness, Some(stickinessSql)),
    GraftQuery("t20_unique_users_series",
      "T20 zero-filled distinct-users-per-bucket series (exact oracle " +
        "surface; HLL++ twin t20b is the scale form)",
      uniqueUsersSeries,
      Some(s"""WITH f AS ($frameSql),
              | c AS (SELECT $bucketSql AS b,
              |        count(DISTINCT user_id) AS u FROM events
              |       WHERE $rangeSql GROUP BY 1)
              |SELECT f.bucket_s, CAST(coalesce(c.u,0) AS BIGINT) AS u
              |FROM f LEFT JOIN c ON f.bucket_s=c.b ORDER BY 1""".stripMargin)),
    GraftQuery("t20b_unique_users_series_hll",
      "T20 distinct-users series via HLL++ (mergeable, bounded state; " +
        "rows-only — tolerance pinned in ScaleSpec)",
      uniqueUsersSeriesApprox, None),
    GraftQuery("t20c_hll_series_error",
      "T20c the HLL series' max relative error vs exact, ORACLE-" +
        "WITNESSED from the dumped sketch series (v2d2b convention) — " +
        "the 2%-target sketch's real per-bucket error as a driver-" +
        "visible value row",
      uniqueUsersSeriesError, Some(hllSeriesErrorSql)),
    GraftQuery("t19_moving_average",
      "T19 trailing 7-day moving sum/avg via window frames (rowsBetween)",
      movingAverage,
      Some("""WITH d AS (
             |  SELECT (epoch_us(ts)//1000000)//86400*86400 AS day_s,
             |   count(*) AS n
             |  FROM events GROUP BY 1)
             |SELECT day_s, CAST(n AS BIGINT) AS n,
             | CAST(sum(n) OVER w AS BIGINT) AS n_7d,
             | round(avg(n) OVER w, 6) AS avg_7d
             |FROM d
             |WINDOW w AS (ORDER BY day_s ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY day_s""".stripMargin)),
    GraftQuery("t21_anomaly_series",
      "T21 spike detection: integer-exact n > 2x the trailing-6-" +
        "CALENDAR-day mean (RANGE frame — an outage gap is not " +
        "bridged; frame excludes the current day)",
      anomalySeries,
      Some("""WITH d AS (
             |  SELECT (epoch_us(ts)//1000000)//86400*86400 AS day_s,
             |   count(*) AS n
             |  FROM events GROUP BY 1)
             |SELECT day_s, CAST(n AS BIGINT) AS n,
             | CAST(count(*) OVER w AS BIGINT) AS trail_n,
             | CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS trail_sum,
             | CAST((count(*) OVER w > 0 AND
             |       n * (count(*) OVER w) > 2 * coalesce(sum(n) OVER w, 0))
             |   AS INT) AS is_spike
             |FROM d
             |WINDOW w AS (ORDER BY day_s
             |   RANGE BETWEEN 518400 PRECEDING AND 86400 PRECEDING)
             |ORDER BY day_s""".stripMargin)),
    GraftQuery("w10_slo_burn",
      "W10 SLO burn-rate alerts: 1h/6h multiwindow error-budget burn " +
        "(integer cross-multiplied thresholds, calendar RANGE lookback)",
      sloBurn,
      Some("""WITH h AS (
             |  SELECT (epoch_us(ts)//1000000)//3600*3600 AS hour_s,
             |   count(*) AS n,
             |   sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS err
             |  FROM events GROUP BY 1)
             |SELECT hour_s, CAST(n AS BIGINT) AS n,
             | CAST(err AS BIGINT) AS err,
             | CAST(sum(n) OVER w AS BIGINT) AS n6,
             | CAST(sum(err) OVER w AS BIGINT) AS err6,
             | CAST((err * 1000 > n * 144 AND
             |       (sum(err) OVER w) * 100 > (sum(n) OVER w) * 6)
             |   AS INT) AS fast_burn
             |FROM h
             |WINDOW w AS (ORDER BY hour_s
             |   RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW)
             |ORDER BY hour_s""".stripMargin)))
}
