package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator coverage on the TPC-H-shaped testdata tables:
  * scans (SURVEY §2.A A5), projections/computed scalars (B1), grouped
  * multi-aggregate with exact percentiles (D1 — the reference's
  * "endpoint latencies" shape, api/service.go:315-363), and the
  * normalized-schema equi-join chain (C3, api/service.go:1300-1327).
  *
  * Scale notes (100 TB): every query here is a single scan + single
  * shuffle-on-group-key (or broadcast join for the dims); filters and
  * column pruning reach the parquet reader, partial aggregation runs
  * map-side, and the dimension joins are explicitly `broadcast()` so no
  * shuffle of the fact side ever happens for them.
  */
object Relational extends QueryModule {

  /** D1/T4 flagship: grouped avg/min/max/p50/p90/p99/count over lineitem.
    * Same operator shape as the reference's endpoint-latency query
    * (api/service.go:315-363) re-targeted at testdata. Exact `percentile`
    * for oracle parity; `percentile_approx` is the documented 100 TB path. */
  def endpointLatencies(spark: SparkSession, dir: String): DataFrame =
    // memoized ([[graft.util.PlanMemo]]): the t04 entry, t04d's witness
    // baseline and the spec tolerance pins share ONE execution of the
    // exact sort-based percentile plan per process
    graft.util.PlanMemo.memo(spark, "t04_exact", dir)(
      endpointLatenciesPlan(spark, dir))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private[graft] def endpointLatenciesPlan(spark: SparkSession,
      dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.avgExact(col("l_extendedprice")).as("avg_price"),
        round(min(col("l_extendedprice")), 6).as("min_price"),
        round(max(col("l_extendedprice")), 6).as("max_price"),
        round(percentile(col("l_extendedprice"), lit(0.5)), 6).as("p50_price"),
        round(percentile(col("l_extendedprice"), lit(0.9)), 6).as("p90_price"),
        round(percentile(col("l_extendedprice"), lit(0.99)), 6).as("p99_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val endpointLatenciesSql: String = {
    val avg = OracleSql.avgExact("l_extendedprice")
    s"""SELECT l_returnflag, l_linestatus,
       | $avg AS avg_price,
       | round(min(l_extendedprice),6) AS min_price,
       | round(max(l_extendedprice),6) AS max_price,
       | round(quantile_cont(l_extendedprice,0.5),6) AS p50_price,
       | round(quantile_cont(l_extendedprice,0.9),6) AS p90_price,
       | round(quantile_cont(l_extendedprice,0.99),6) AS p99_price,
       | CAST(count(*) AS BIGINT) AS n
       |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin
  }

  /** A5: full-table scan aggregate (the reference scans denormalized_span on
    * every query, e.g. api/service.go:177,707). */
  def scanCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      Exact.sumExact(col("l_quantity")).as("sum_qty"))

  /** B1: projection + computed scalar (duration_ns/1e6 analog,
    * api/service.go:178-185). */
  def projection(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** C3: normalized-schema join chain (the reference's dead 3-way join,
    * api/service.go:1300-1327, rebuilt live): fact ⋈ dims with explicit
    * broadcast of every dimension — zero fact-side shuffle for the joins,
    * one shuffle for the final group-by. */
  def dimJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(Exact.sumExact(col("o_totalprice")), 6).as("revenue"))
      .orderBy(col("r_name"))
  }

  /** The 100 TB variant of the flagship: `percentile_approx` sketches
    * (mergeable, bounded memory) instead of exact sort-based percentile.
    * Rows-only for the driver (approximate ≠ DuckDB's quantile_cont);
    * RelationalSpec pins it within tolerance of the exact form. */
  def endpointLatenciesApprox(spark: SparkSession, dir: String): DataFrame =
    // memoized: the t04b entry and t04d's dump side share one execution
    graft.util.PlanMemo.memo(spark, "t04b_approx", dir)(
      endpointLatenciesApproxPlan(spark, dir))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private def endpointLatenciesApproxPlan(spark: SparkSession,
      dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.avgExact(col("l_extendedprice")).as("avg_price"),
        round(percentile_approx(col("l_extendedprice"), lit(0.5),
          lit(10000)), 6).as("p50_price"),
        round(percentile_approx(col("l_extendedprice"), lit(0.9),
          lit(10000)), 6).as("p90_price"),
        round(percentile_approx(col("l_extendedprice"), lit(0.99),
          lit(10000)), 6).as("p99_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** The mergeable-sketch variant (graft.functions.QuantileSketchAgg):
    * bounded state per group, usable in streaming. Rows-only — centroid
    * boundaries depend on merge order; accuracy is pinned in
    * QuantileSketchSpec instead. */
  def endpointLatenciesSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileSketch.percentile_sketch
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(percentile_sketch(col("l_extendedprice"), 0.5).as("p50_sketch"),
        percentile_sketch(col("l_extendedprice"), 0.99).as("p99_sketch"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** V9: column profiling — count/nulls/min/max/distinct per numeric
    * column, one row per column (the data-quality "describe" step of a
    * pipeline). Each column is one scan-side aggregate; Catalyst fuses
    * the union into parallel stages. */
  private val ProfileCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Shared v9/v9b body — ONE scan: every column's stats in a single
    * aggregate row, then stack() back to one row per column (a 4-scan
    * union of aggregates reads the table four times for nothing). The
    * two entries differ ONLY in the distinct aggregate. */
  private def profileWith(spark: SparkSession, dir: String,
      distinctAgg: Column => Column): DataFrame = {
    val aggs = ProfileCols.flatMap { c =>
      Seq(count(lit(1)).as(s"n_$c"),
        sum(when(col(c).isNull, 1).otherwise(0)).cast("long")
          .as(s"nn_$c"),
        round(min(col(c)), 6).as(s"mn_$c"),
        round(max(col(c)), 6).as(s"mx_$c"),
        distinctAgg(col(c)).as(s"nd_$c"))
    }
    val one = Tables.lineitem(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = ProfileCols.map(c =>
      s"'$c', n_$c, nn_$c, mn_$c, mx_$c, nd_$c").mkString(", ")
    one.selectExpr(s"stack(${ProfileCols.length}, $stackArgs) AS " +
        "(col_name, n, n_null, min_v, max_v, n_distinct)")
      .orderBy(col("col_name"))
  }

  /** Unmemoized plan bodies — ScaleSpec's Expand/no-Expand plan
    * assertions target these (the memoized wrappers below read parquet
    * once built, which would hide the aggregate plan under test). */
  private[graft] def profilePlan(spark: SparkSession, dir: String): DataFrame =
    profileWith(spark, dir, countDistinct(_))
  private[graft] def profileApproxPlan(spark: SparkSession,
      dir: String): DataFrame =
    profileWith(spark, dir, approx_count_distinct(_, 0.02))

  def profile(spark: SparkSession, dir: String): DataFrame =
    // memoized: the v9 entry, v9c's witness baseline and the spec pins
    // share one execution of the Expand-of-scan exact-distinct plan
    graft.util.PlanMemo.memo(spark, "v9_profile", dir)(
      profilePlan(spark, dir))
      .orderBy(col("col_name"))

  /** V9 at 100 TB: the four exact `countDistinct` in one aggregate
    * compile to an Expand ×5 of the scan (every input row quintupled to
    * give each distinct aggregate its own group) — correct but the row
    * volume is 5× the table. This twin rides `approx_count_distinct`
    * (HLL++, no Expand, mergeable); rows-only for the driver, sketch
    * error vs the exact profile pinned in ScaleSpec. */
  def profileApprox(spark: SparkSession, dir: String): DataFrame =
    graft.util.PlanMemo.memo(spark, "v9b_profile_hll", dir)(
      profileApproxPlan(spark, dir))
      .orderBy(col("col_name"))

  private lazy val profileSql: String =
    ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         | round(min($c),6) AS min_v, round(max($c),6) AS max_v,
         | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Composite showcase (TPC-H Q3 shape): selective dim filter →
    * fact join → grouped revenue → top-k. Exercises predicate pushdown on
    * both scan sides, partial aggregation and TakeOrderedAndProject in
    * one query — the canonical "would this plan survive 100x" shape.
    *
    * No broadcast hint on orders: the `o_orderdate < 1998-01-01` filter
    * retains ~97% of the table, so orders is fact-sized and a forced
    * broadcast OOMs at scale. A shuffle join on the key (or whatever AQE
    * picks from runtime stats) is the plan you'd want at 100 TB; AQE will
    * still downgrade to broadcast when the filtered side is genuinely
    * small. PlanSpec pins the absence of a BroadcastExchange here. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < "1998-01-01")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= "1998-01-01")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(round(Exact.sumExact(col("l_extendedprice") *
        (lit(1.0) - col("l_discount"))), 6).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Q5-shape (TPC-H local-supplier volume): the step past c3's
    * star join — a fact-FACT join (lineitem ⋈ orders on the order key)
    * feeding dimension lookups with a CROSS-dimension equality
    * (customer's nation must equal the supplier's: the predicate that
    * only exists after both lookup paths meet). Revenue per
    * (region, nation) over a 3-year order window.
    *
    * Scale: the one expensive exchange is the l⋈o shuffle on the
    * high-cardinality order key; customer joins by another fact-side
    * shuffle on custkey (customer scales with SF — forcing a broadcast
    * there OOMs first, AQE may still downgrade when the filter bites),
    * while supplier/nation/region are genuinely bounded and broadcast.
    * The date filter prunes orders at the SCAN (PushedFilters), so the
    * first shuffle carries only the surviving window. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1999-01-01")
      .select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(Exact.sumExact(col("l_extendedprice") *
        (lit(1.0) - col("l_discount"))), 6).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private lazy val localSupplierSql: String =
    s"""SELECT r_name, n_name,
       | round(${OracleSql.sumExact("l_extendedprice*(1.0-l_discount)")},6)
       |   AS revenue,
       | CAST(count(*) AS BIGINT) AS n_items
       |FROM lineitem
       | JOIN orders   ON l_orderkey = o_orderkey
       | JOIN customer ON o_custkey = c_custkey
       | JOIN supplier ON l_suppkey = s_suppkey
       |              AND c_nationkey = s_nationkey
       | JOIN nation   ON s_nationkey = n_nationkey
       | JOIN region   ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1999-01-01'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q21-shape (TPC-H waiting suppliers): THE correlated-EXISTS
    * showcase — the original nests one EXISTS (another supplier on the
    * same order) and one NOT EXISTS (no OTHER supplier was late)
    * inside the supplier scan; a naive engine re-probes lineitem twice
    * per candidate row. Decorrelated BY CONSTRUCTION: ONE pass over
    * the order's lines computes (distinct suppliers, distinct LATE
    * suppliers) per order, and both existence predicates collapse to
    * `n_supp > 1 AND n_late = 1` on that aggregate; and since n_late=1
    * makes the late supplier unique per qualifying order, min() inside
    * the SAME aggregate recovers its identity — the fact table is
    * scanned ONCE and the double correlation became a single grouped
    * aggregate (the q17 discipline, one step further).
    * "Late" adapts TPC-H's receipt>commit to this schema: shipped more
    * than 60 days after the order date. Finished-orders filter
    * ('F') pushes into the orders scan. Top-100 by (numwait desc,
    * name) compiles to TakeOrderedAndProject. Dimensions broadcast. */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delayed",
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) > 60)
    // n_late = 1 makes the late supplier UNIQUE per qualifying order,
    // so min(late suppkey) recovers its identity inside the same
    // aggregate — no second fact pass, no join back to lines.
    // Two-phase spelling (round 12): the double countDistinct planned
    // as Expand x2 over every fact row + two exchanges of the expanded
    // stream; aggregating to (order, supp) grain first and counting
    // groups computes the identical values — countDistinct(supp) is
    // the number of non-null supp groups, countDistinct(when(delayed,
    // supp)) the number with any delayed line (max(delayed) is
    // null-skipping, like the distinct over when()), min(when(...))
    // distributes over the group max — with no Expand and narrower
    // exchanges. Values and oracle untouched.
    val perPair = lines.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("delayed")).as("d"))
    val perOrder = perPair.groupBy(col("l_orderkey"))
      .agg(sum(when(col("l_suppkey").isNotNull, 1L).otherwise(0L))
          .as("n_supp"),
        sum(when(col("d") && col("l_suppkey").isNotNull, 1L).otherwise(0L))
          .as("n_late"),
        min(when(col("d"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    val waits = perOrder.groupBy(col("late_supp").as("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
    waits
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  private lazy val waitingSuppliersSql: String =
    s"""WITH l AS (
       | SELECT l_orderkey, l_suppkey,
       |  date_diff('day', CAST(o_orderdate AS DATE),
       |            CAST(l_shipdate AS DATE)) > 60 AS delayed
       | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       | WHERE o_orderstatus = 'F'),
       | oa AS (SELECT l_orderkey,
       |   min(CASE WHEN delayed THEN l_suppkey END) AS late_supp
       |  FROM l GROUP BY 1
       |  HAVING count(DISTINCT l_suppkey) > 1
       |     AND count(DISTINCT CASE WHEN delayed THEN l_suppkey END) = 1),
       | w AS (SELECT late_supp AS l_suppkey,
       |   CAST(count(*) AS BIGINT) AS numwait
       |  FROM oa GROUP BY 1)
       |SELECT s_name, n_name, numwait
       |FROM w JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey
       |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  /** Q22-shape (TPC-H global sales opportunity): the scalar-subquery +
    * NOT-EXISTS pattern — customers richer than the positive-balance
    * average who never ordered, rolled up per nation. The scalar
    * subquery is ONE broadcast 1-row aggregate; the threshold compare
    * runs in integer space by cross-multiplication (bal·n_pos >
    * Σbal_pos, DECIMAL(38) — the product leaves Long at ~9e8
    * customers) so no division ever happens; NOT EXISTS is one
    * left_anti hash join against the date-filtered orders slice
    * (the filter pushes into the scan; never a per-row probe); the
    * nation dim broadcasts. Grouping adapts Q22's phone-prefix country
    * code to this schema's nation key, and "never ordered" adapts to
    * "no order since 1998-09-01" — Q22 verbatim is VACUOUS on this
    * generator (every rich customer has some order), and a populated
    * lapsed-customer variant exercises the identical plan shape while
    * giving the hash compare real rows at every SF. */
  def globalSalesOpportunity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    def d(c: Column): Column = c.cast(DecimalType(38, 0))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        Exact.micro(col("c_acctbal")).as("bal_micro"))
    // the SUM rides DECIMAL(38): a raw Long sum wraps at ~1-2e9
    // positive-balance customers — exactly the regime the product
    // below already defends with d() — while the oracle's HUGEINT
    // sum stays exact (round-10 review); same values wherever the
    // Long sum didn't wrap, so the hash is untouched
    val pos = cust.filter(col("bal_micro") > 0L)
      .agg(sum(d(col("bal_micro"))).as("sum_pos"),
        count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(pos))
      .filter(d(col("bal_micro")) * d(col("n_pos")) > d(col("sum_pos")))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1998-09-01")
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        round(Exact.sumExact(col("c_acctbal")), 6).as("totacctbal"))
      .orderBy(col("n_name"))
  }

  private lazy val globalSalesOpportunitySql: String =
    s"""WITH c AS (SELECT c_custkey, c_nationkey, c_acctbal,
       |  CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT)
       |    AS bal_micro
       | FROM customer),
       | p AS (SELECT sum(bal_micro) AS sum_pos,
       |        CAST(count(*) AS BIGINT) AS n_pos
       |       FROM c WHERE bal_micro > 0),
       | r AS (SELECT c.* FROM c, p
       |       WHERE bal_micro::HUGEINT * n_pos > sum_pos::HUGEINT),
       | n AS (SELECT r.c_nationkey, r.c_acctbal FROM r
       |       WHERE NOT EXISTS (SELECT 1 FROM orders o
       |                         WHERE o.o_custkey = r.c_custkey
       |                           AND o.o_orderdate >=
       |                               TIMESTAMP '1998-09-01'))
       |SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
       | round(${OracleSql.sumExact("c_acctbal")}, 6) AS totacctbal
       |FROM n JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q1-shape (TPC-H pricing summary): THE sequential-scan aggregate —
    * one pushed-down date filter, eight aggregates in one partial/final
    * hash-agg pass onto a 6-row group frame. The canonical
    * is-the-scan-path-right probe: wide input, no joins, no windows;
    * at 100 TB the cost is exactly one pass over the pruned columns.
    * Sums/averages ride [[Exact]] decimal micro-units so partition
    * order cannot move a bit. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= "1998-09-02")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(Exact.sumExact(col("l_quantity")), 6).as("sum_qty"),
        round(Exact.sumExact(col("l_extendedprice")), 6).as("sum_base_price"),
        round(Exact.sumExact(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 6).as("sum_disc_price"),
        round(Exact.sumExact(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 6)
          .as("sum_charge"),
        Exact.avgExact(col("l_quantity")).as("avg_qty"),
        Exact.avgExact(col("l_extendedprice")).as("avg_price"),
        Exact.avgExact(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private lazy val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | round(${OracleSql.sumExact("l_quantity")}, 6) AS sum_qty,
       | round(${OracleSql.sumExact("l_extendedprice")}, 6) AS sum_base_price,
       | round(${OracleSql.sumExact("l_extendedprice*(1.0-l_discount)")}, 6)
       |   AS sum_disc_price,
       | round(${OracleSql.sumExact(
            "l_extendedprice*(1.0-l_discount)*(1.0+l_tax)")}, 6) AS sum_charge,
       | ${OracleSql.avgExact("l_quantity")} AS avg_qty,
       | ${OracleSql.avgExact("l_extendedprice")} AS avg_price,
       | ${OracleSql.avgExact("l_discount")} AS avg_disc,
       | CAST(count(*) AS BIGINT) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q17-shape (TPC-H small-quantity revenue): the CORRELATED SCALAR
    * SUBQUERY pattern — "lineitems below 20% of their part's average
    * quantity" — decorrelated by hand to its optimal plan: ONE
    * (partkey)-keyed window computes each part's sum/count in place,
    * so the per-part statistic and the row predicate meet with no
    * aggregate-join-back and no second scan of the fact table (what a
    * naive decorrelation pays). Per-part fan-in is bounded by the
    * schema (~30 lineitems/part at every SF), so the window partitions
    * stay small at any corpus size. The brand filter broadcasts.
    * Exactness: quantities are compared by INTEGER cross-multiplication
    * in micro-units (qty·5·n < Σqty — no division, no float
    * threshold), so both engines admit identical rows. */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // brand = min(p_brand): a DATA-DERIVED pick (broadcast 1-row
    // aggregate, not a literal) so a testdata regeneration that renames
    // brands can never silently make the entry vacuous
    val minBrand = Tables.part(spark, dir)
      .agg(min(col("p_brand")).as("b"))
    val pa = Tables.part(spark, dir)
      .join(broadcast(minBrand), col("p_brand") === col("b"))
      .select(col("p_partkey"))
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
      .withColumn("qm", Exact.micro(col("l_quantity")))
    val w = Window.partitionBy(col("l_partkey"))
    l.withColumn("s", sum(col("qm")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("qm") * 5 * col("n") < col("s"))
      .agg(count(lit(1)).as("n_items"),
        round(Exact.sumExact(col("l_extendedprice")), 6).as("revenue"))
  }

  private lazy val smallQuantitySql: String =
    s"""WITH pa AS (SELECT p_partkey FROM part
       |       WHERE p_brand = (SELECT min(p_brand) FROM part)),
       | l AS (SELECT l_partkey,
       |   CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qm,
       |   l_extendedprice
       |  FROM lineitem JOIN pa ON l_partkey = p_partkey),
       | a AS (SELECT l_partkey, sum(qm) AS s, count(*) AS n
       |       FROM l GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_items,
       | round(${OracleSql.sumExact("l_extendedprice")}, 6) AS revenue
       |FROM l JOIN a USING (l_partkey)
       |WHERE qm * 5 * n < s""".stripMargin

  /** Q18-shape (TPC-H large-volume customers): a grouped HAVING filter
    * on the FACT table acting as its own semi-join reducer — the big
    * aggregate runs FIRST (partial/final hash agg over lineitem), its
    * tiny survivor set (orders whose total quantity > 300: well under
    * 0.1% of orders) then drives the orders→customer lookups, so the
    * expensive table crosses the wire once as an aggregate and never as
    * raw rows. The survivor frame joins orders on the shuffle key it
    * already carries; AQE sees its runtime size and downgrades both
    * lookup joins to broadcast. Top-100 compiles to
    * TakeOrderedAndProject. */
  def largeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(Exact.sumExact(col("l_quantity")), 6).as("total_qty"))
      .filter(col("total_qty") > 300.0)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  private lazy val largeOrdersSql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey,
       |   round(${OracleSql.sumExact("l_quantity")}, 6) AS total_qty
       |  FROM lineitem GROUP BY 1
       |  HAVING round(${OracleSql.sumExact("l_quantity")}, 6) > 300.0)
       |SELECT c_name, c_custkey, o_orderkey,
       | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       | o_totalprice, total_qty
       |FROM big JOIN orders ON o_orderkey = l_orderkey
       |     JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** V10: cardinality estimation — exact distinct (oracle surface) next
    * to HyperLogLog++ (`approx_count_distinct`, the mergeable 100 TB /
    * streaming form). The approx column is engine-specific, so the oracle
    * covers the exact columns and RelationalSpec pins the sketch error. */
  def cardinality(spark: SparkSession, dir: String): DataFrame =
    // memoized: the v10 entry and v10c's witness baseline share one
    // execution of the exact-distinct (Expand x4) aggregate
    graft.util.PlanMemo.memo(spark, "v10_cardinality", dir)(
      Tables.lineitem(spark, dir).agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders")))

  def cardinalityApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("n_parts"),
      approx_count_distinct(col("l_suppkey"), 0.02).as("n_supps"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("n_orders"))

  /** v10c dump path ([[graft.util.Memo.stablePath]]). */
  val HllCountsPath: String = graft.util.Memo.stablePath("hll_counts")

  /** V10c: the HLL++ cardinalities' error vs exact, ORACLE-WITNESSED —
    * the sketch counts are dumped; both engines compare them to their
    * own exact distinct counts and report per-column relative error
    * (exact-integer ratio). */
  def cardinalityError(spark: SparkSession, dir: String): DataFrame = {
    val a = spark.read.parquet(
        graft.util.Memo.dump("hll_counts", dir)(cardinalityApprox(spark, dir)))
      .select(col("n_parts").as("a_p"), col("n_supps").as("a_s"),
        col("n_orders").as("a_o"))
    def m(name: String, ap: Column, ex: Column) =
      struct(lit(name).as("col_name"), ap.as("approx"), ex.as("exact"),
        Exact.ratio6(abs(ap - ex), ex).as("rel_err"))
    cardinality(spark, dir).crossJoin(broadcast(a))
      .select(explode(array(
        m("l_orderkey", col("a_o"), col("n_orders")),
        m("l_partkey", col("a_p"), col("n_parts")),
        m("l_suppkey", col("a_s"), col("n_supps")))).as("r"))
      .select(col("r.col_name"), col("r.approx"), col("r.exact"),
        col("r.rel_err"))
      .orderBy(col("col_name"))
  }

  private lazy val cardinalityErrorSql: String =
    s"""WITH a AS (SELECT n_parts AS a_p, n_supps AS a_s,
       |        n_orders AS a_o
       |       FROM read_parquet('$HllCountsPath/*.parquet')),
       | e AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS e_p,
       |        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS e_s,
       |        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS e_o
       |       FROM lineitem)
       |SELECT col_name, approx, exact, rel_err FROM (
       | SELECT 'l_orderkey' AS col_name, CAST(a_o AS BIGINT) AS approx,
       |  e_o AS exact, ${OracleSql.ratio6("abs(a_o - e_o)", "e_o")}
       |    AS rel_err FROM a, e
       | UNION ALL SELECT 'l_partkey', CAST(a_p AS BIGINT), e_p,
       |  ${OracleSql.ratio6("abs(a_p - e_p)", "e_p")} FROM a, e
       | UNION ALL SELECT 'l_suppkey', CAST(a_s AS BIGINT), e_s,
       |  ${OracleSql.ratio6("abs(a_s - e_s)", "e_s")} FROM a, e)
       |ORDER BY col_name""".stripMargin

  /** Micro-unit freeze of an already-6dp-rounded double — delegates
    * to [[Exact.micro]], THE one spelling (its doc: a scale/rounding
    * tweak must hit every consumer at once; this file carried three
    * private copies — round-10 review). */
  private def micro6(c: Column): Column = Exact.micro(c)
  private def micro6Sql(x: String): String =
    s"CAST(CAST($x AS DECIMAL(18,6)) * 1000000 AS BIGINT)"

  /** t04d / v9c dump paths ([[graft.util.Memo.stablePath]]). */
  val ApproxLatPath: String = graft.util.Memo.stablePath("approx_lat")
  val ProfileHllPath: String = graft.util.Memo.stablePath("profile_hll")

  /** T04d: the approx-percentile twin's error vs exact,
    * ORACLE-WITNESSED — t04b's grouped p50/p90/p99 are dumped; both
    * engines join them to their own exact percentiles and report the
    * worst relative error across groups and percentiles, in exact
    * integer micro-space. */
  def endpointLatenciesError(spark: SparkSession, dir: String): DataFrame = {
    val a = spark.read.parquet(graft.util.Memo.dump("approx_lat", dir)(
        endpointLatenciesApprox(spark, dir)))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("p50_price").as("a50"), col("p90_price").as("a90"),
        col("p99_price").as("a99"))
    def err(ac: Column, ec: Column) =
      Exact.ratio6(abs(micro6(ac) - micro6(ec)), micro6(ec))
    endpointLatencies(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("p50_price"), col("p90_price"), col("p99_price"))
      .join(broadcast(a), Seq("l_returnflag", "l_linestatus"))
      .agg(count(lit(1)).as("n_groups"),
        max(greatest(err(col("a50"), col("p50_price")),
          err(col("a90"), col("p90_price")),
          err(col("a99"), col("p99_price")))).as("max_rel_err"))
  }

  private lazy val endpointLatenciesErrorSql: String = {
    def err(a: String, e: String) = OracleSql.ratio6(
      s"abs(${micro6Sql(a)} - ${micro6Sql(e)})", micro6Sql(e))
    s"""WITH a AS (SELECT l_returnflag, l_linestatus,
       |   p50_price AS a50, p90_price AS a90, p99_price AS a99
       |  FROM read_parquet('$ApproxLatPath/*.parquet')),
       | e AS (SELECT l_returnflag, l_linestatus,
       |   round(quantile_cont(l_extendedprice,0.5),6) AS e50,
       |   round(quantile_cont(l_extendedprice,0.9),6) AS e90,
       |   round(quantile_cont(l_extendedprice,0.99),6) AS e99
       |  FROM lineitem GROUP BY 1, 2)
       |SELECT CAST(count(*) AS BIGINT) AS n_groups,
       | max(greatest(${err("a50", "e50")}, ${err("a90", "e90")},
       |   ${err("a99", "e99")})) AS max_rel_err
       |FROM e JOIN a USING (l_returnflag, l_linestatus)""".stripMargin
  }

  /** V9c: the HLL profile twin's distinct-count error vs exact,
    * ORACLE-WITNESSED — per-column relative error from the dumped v9b
    * report. */
  def profileError(spark: SparkSession, dir: String): DataFrame = {
    val a = spark.read.parquet(
        graft.util.Memo.dump("profile_hll", dir)(profileApprox(spark, dir)))
      .select(col("col_name"), col("n_distinct").as("approx"))
    profile(spark, dir).select(col("col_name"),
        col("n_distinct").as("exact"))
      .join(broadcast(a), Seq("col_name"))
      .select(col("col_name"), col("approx"), col("exact"),
        Exact.ratio6(abs(col("approx") - col("exact")), col("exact"))
          .as("rel_err"))
      .orderBy(col("col_name"))
  }

  private lazy val profileErrorSql: String =
    s"""WITH a AS (SELECT col_name, n_distinct AS approx
       |  FROM read_parquet('$ProfileHllPath/*.parquet')),
       | e AS (SELECT col_name, n_distinct AS exact
       |  FROM ($profileSql))
       |SELECT col_name, CAST(approx AS BIGINT) AS approx,
       | CAST(exact AS BIGINT) AS exact,
       | ${OracleSql.ratio6("abs(approx - exact)", "exact")} AS rel_err
       |FROM e JOIN a USING (col_name)
       |ORDER BY col_name""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("t04d_approx_pct_error",
      "T04d approx-percentile error vs exact, ORACLE-WITNESSED from " +
        "the dumped t04b report (v2d2b convention): worst relative " +
        "error across groups and percentiles in exact micro-space",
      endpointLatenciesError, Some(endpointLatenciesErrorSql)),
    GraftQuery("v9c_profile_error",
      "V9c HLL profile error vs exact, ORACLE-WITNESSED from the " +
        "dumped v9b report: per-column distinct-count relative error",
      profileError, Some(profileErrorSql)),
    GraftQuery("v10c_hll_error",
      "V10c HLL++ cardinality error vs exact, ORACLE-WITNESSED from " +
        "the dumped sketch counts (v2d2b convention) — per-column " +
        "relative error as driver-visible value rows",
      cardinalityError, Some(cardinalityErrorSql)),
    GraftQuery("v10_cardinality",
      "V10 exact distinct-count cardinalities (dedup accounting)",
      cardinality,
      Some("""SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
             | CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
             |FROM lineitem""".stripMargin)),
    GraftQuery("v10b_cardinality_hll",
      "V10 HyperLogLog++ cardinalities (mergeable sketch; rows-only, " +
        "error pinned in ScaleSpec)",
      cardinalityApprox, None),
    GraftQuery("q3_shipping_priority",
      "Composite join+agg+topk showcase (TPC-H Q3 shape): filter pushdown " +
        "both sides, AQE-chosen shuffle join (no forced broadcast — the " +
        "barely-filtered orders side is fact-sized), partial agg, " +
        "TakeOrderedAndProject",
      shippingPriority,
      Some(s"""SELECT o_orderkey, o_orderpriority,
              | round(${OracleSql.sumExact("l_extendedprice*(1.0-l_discount)")},6) AS revenue,
              | CAST(count(*) AS BIGINT) AS n_items
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |WHERE o_orderdate < TIMESTAMP '1998-01-01'
              |  AND l_shipdate >= TIMESTAMP '1998-01-01'
              |GROUP BY 1,2 ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin)),
    GraftQuery("q1_pricing_summary",
      "Q1-shape: the canonical one-pass scan aggregate — pushed-down " +
        "date filter, eight exact aggregates onto a 6-row group frame",
      pricingSummary, Some(pricingSummarySql)),
    GraftQuery("q17_small_quantity",
      "Q17-shape: correlated scalar subquery decorrelated to ONE " +
        "per-part window (no agg-join-back, no second fact scan); " +
        "integer cross-multiplied threshold, broadcast brand filter",
      smallQuantityRevenue, Some(smallQuantitySql)),
    GraftQuery("q21_waiting_suppliers",
      "Q21-SHAPE (adapted, NOT literal TPC-H Q21 — late = " +
        "ship+60d, no nation filter; numbers are not comparable to " +
        "published Q21 results): double correlated EXISTS/NOT EXISTS " +
        "decorrelated by construction — one fact pass computes " +
        "per-order (distinct suppliers, distinct late suppliers), both " +
        "existence predicates collapse to n_supp>1 AND n_late=1; " +
        "dims broadcast, top-100 via TakeOrderedAndProject",
      waitingSuppliers, Some(waitingSuppliersSql)),
    GraftQuery("q22_sales_opportunity",
      "Q22-SHAPE (adapted, NOT literal TPC-H Q22 — 'inactive' = no " +
        "order since 1998-09-01 rather than never-ordered; numbers " +
        "are not comparable to published Q22 results): scalar " +
        "subquery as one broadcast 1-row aggregate, threshold compare " +
        "cross-multiplied in DECIMAL integer space, NOT EXISTS as one " +
        "left_anti hash join, nation rollup — no per-row probes, no " +
        "division",
      globalSalesOpportunity, Some(globalSalesOpportunitySql)),
    GraftQuery("q18_large_orders",
      "Q18-shape: grouped-HAVING semi-reduction on the fact table " +
        "(aggregate first, join the tiny survivor set), customer " +
        "lookup, top-100 TakeOrderedAndProject",
      largeOrders, Some(largeOrdersSql)),
    GraftQuery("q5_local_supplier_volume",
      "Q5-shape multiway join: fact-fact shuffle (lineitem x orders) + " +
        "cross-dimension local-supplier equality + bounded-dim " +
        "broadcasts, revenue per (region, nation) over a pushed-down " +
        "order-date window",
      localSupplierVolume, Some(localSupplierSql)),
    GraftQuery("v9_profile",
      "V9 column profiling: count/nulls/min/max/distinct per column",
      profile, Some(profileSql)),
    GraftQuery("v9b_profile_approx",
      "V9 at 100 TB: HLL++ distinct counts (no Expand of the scan; " +
        "rows-only, error pinned in ScaleSpec)",
      profileApprox, None),
    GraftQuery("t04c_endpoint_latencies_sketch",
      "D1/T4 with the mergeable centroid-digest sketch aggregate " +
        "(TypedImperativeAggregate; rows-only, accuracy in spec)",
      endpointLatenciesSketch, None),
    GraftQuery("t04b_endpoint_latencies_approx",
      "D1/T4 at 100 TB: mergeable percentile_approx sketches (rows-only; " +
        "tolerance vs exact pinned in RelationalSpec)",
      endpointLatenciesApprox, None),
    GraftQuery("t04_endpoint_latencies",
      "D1/T4 grouped multi-agg with exact percentiles (api/service.go:315-363)",
      endpointLatencies, Some(endpointLatenciesSql)),
    GraftQuery("a5_scan_count",
      "A5 full-table scan aggregate (api/service.go:177,707)",
      scanCount,
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
              | ${OracleSql.sumExact("l_quantity")} AS sum_qty
              |FROM lineitem""".stripMargin)),
    GraftQuery("b1_projection",
      "B1 projection + computed scalar (api/service.go:178-185)",
      projection,
      Some("""SELECT l_orderkey, l_linenumber,
             | round(l_extendedprice*(1.0-l_discount),6) AS net_price
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    GraftQuery("c3_dim_join",
      "C3 normalized 3-way equi-join, dims broadcast (api/service.go:1300-1327)",
      dimJoin,
      Some(s"""SELECT r_name, CAST(count(*) AS BIGINT) AS n_orders,
              | round(${OracleSql.sumExact("o_totalprice")},6) AS revenue
              |FROM orders
              |JOIN customer ON o_custkey=c_custkey
              |JOIN nation ON c_nationkey=n_nationkey
              |JOIN region ON n_regionkey=r_regionkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)))
}
