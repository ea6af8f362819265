package graft.operators

import graft._
import graft.dsl.SearchDsl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The search DSL's events-table forms (SURVEY §2.S S3/S4, F5
  * pagination, V5 JSON extraction): the same [[SearchDsl]] predicate
  * builder under the events binder. The T9 endpoint itself is
  * [[graft.spans.TraceService.search]], oracle-checked through
  * [[SpanNativeOps]].
  *
  * Scale notes: search = filter + TakeOrderedAndProject; the JSON probing
  * (`get_json_object`) is codegen'd and runs inside the scan stage.
  * OFFSET pagination is fine at page depths the UI uses (reference default
  * page size 10, api/controller.go:163-166); deep pagination at 100 TB
  * should switch to keyset (ts_us < last_seen) — both forms provided.
  */
object SearchOps extends QueryModule {

  /** S3: generic-key != with De Morgan / absent-key semantics. */
  def genericNeq(spark: SparkSession, dir: String): DataFrame = {
    val pred = SearchDsl.predicate("k!=42", SearchDsl.EventsBinder)
    Tables.events(spark, dir)
      .filter(pred)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** S4: broad OR fallback when the query has no '=' (api/service.go:778-789). */
  def broadFallback(spark: SparkSession, dir: String): DataFrame = {
    val pred = SearchDsl.predicate("purchase", SearchDsl.EventsBinder)
    Tables.events(spark, dir)
      .filter(pred)
      .select(col("event_id"), col("event_type"), col("ts_us"))
      .orderBy(col("event_id"))
  }

  /** F5: dynamic sort field/direction + LIMIT/OFFSET pagination
    * (api/service.go:823-846), keyed deterministically. */
  def paginatedSort(spark: SparkSession, dir: String): DataFrame =
    paginated(spark, dir, sortField = "l_extendedprice", asc = false,
      offset = 100, pageSize = 50)

  /** The library form of F5: caller-chosen sort column/direction + page. */
  def paginated(spark: SparkSession, dir: String, sortField: String,
      asc: Boolean, offset: Int, pageSize: Int): DataFrame = {
    val sortCol = if (asc) col(sortField).asc else col(sortField).desc
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(sortCol, col("l_orderkey"), col("l_linenumber"))
      .offset(offset).limit(pageSize)
  }

  /** F5-at-scale: keyset (cursor) pagination — the deep-pagination form
    * that replaces OFFSET at 100 TB. Cursor = (ts_us DESC, event_id ASC)
    * of the last row of the previous page; the predicate prunes straight
    * at the scan instead of sorting-and-skipping. */
  def keysetSearch(spark: SparkSession, dir: String, lastTs: Long,
      lastId: Long, pageSize: Int): DataFrame =
    Tables.events(spark, dir)
      .filter(col("ts_us") < lastTs ||
        (col("ts_us") === lastTs && col("event_id") > lastId))
      .select(col("event_id"), col("event_type"), col("ts_us"),
        round(col("value"), 6).as("dur"))
      .orderBy(col("ts_us").desc, col("event_id"))
      .limit(pageSize)

  /** V5: JSON property extraction over `events.props`
    * (get_json_object; SURVEY §2.V). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Exact.avgExact(col("k").cast("double")).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("s3_generic_neq",
      "S3 generic-key != with absent-key=true De Morgan semantics (api/service.go:752-771)",
      genericNeq,
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
             |WHERE coalesce(json_extract_string(props,'$.k') <> '42', true)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("s4_broad_fallback",
      "S4 broad OR fallback for unparseable query (api/service.go:778-789)",
      broadFallback,
      Some("""SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events
             |WHERE event_type='purchase' OR props='purchase'
             |ORDER BY event_id""".stripMargin)),
    GraftQuery("f5b_keyset_pagination",
      "F5-at-scale keyset/cursor pagination (replaces OFFSET for deep pages)",
      (s, d) => keysetSearch(s, d, lastTs = 1705708800000000L,
        lastId = 5000L, pageSize = 20),
      Some("""SELECT event_id, event_type, epoch_us(ts) AS ts_us,
             | round(value,6) AS dur
             |FROM events
             |WHERE epoch_us(ts) < 1705708800000000
             |   OR (epoch_us(ts) = 1705708800000000 AND event_id > 5000)
             |ORDER BY ts_us DESC, event_id LIMIT 20""".stripMargin)),
    GraftQuery("f5_paginated_sort",
      "F5 dynamic sort + LIMIT/OFFSET pagination (api/service.go:823-846)",
      paginatedSort,
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |LIMIT 50 OFFSET 100""".stripMargin)),
    GraftQuery("v5_json_extract",
      "V5 JSON property extraction + aggregation over props",
      jsonExtract,
      // parity fixes (round-10 review): TRY_CAST mirrors the Spark
      // side's cast-to-long-then-non-null filter (a non-integer k was
      // dropped by Spark but fatal/counted in DuckDB), and avg_k uses
      // the SAME half-up integer-micro spelling as Exact.avgExact (the
      // previous double round() could land on the other side of a .5
      // micro boundary)
      Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              | ${OracleSql.avgExact(
                   "TRY_CAST(json_extract_string(props,'$.k') AS BIGINT)")}
              |   AS avg_k,
              | max(TRY_CAST(json_extract_string(props,'$$.k') AS BIGINT))
              |   AS max_k
              |FROM events
              |WHERE TRY_CAST(json_extract_string(props,'$$.k') AS BIGINT)
              |  IS NOT NULL
              |GROUP BY 1 ORDER BY 1""".stripMargin)))
}
