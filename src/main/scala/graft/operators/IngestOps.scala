package graft.operators

import graft._
import graft.sinks.JdbcSpanSink
import graft.spans.{OtlpExamples, OtlpIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OTLP ingest as registry entries (SURVEY §2.A A2-A4).
  *
  * a2a3: parse both OTLP request generations from [[OtlpExamples]],
  * flatten, WRITE the flattened span table to a fixed parquet path, and
  * project from that file — so the DuckDB oracle can read the very same
  * parquet and recompute the projection independently (rows+schema+hash
  * check on actual ingested values; value-level parse assertions live in
  * OtlpIngestSpec).
  *
  * a4b: the JDBC sink seam round-trip — spans through
  * [[graft.sinks.JdbcSpanSink]] into embedded Derby and back. The Derby
  * db itself is not DuckDB-readable, so the oracle recomputes the
  * expected SCALAR projection from the same dumped fixture parquet —
  * a genuine independent check that the sink round-trip preserved every
  * scalar column; JSON payload fidelity (attr maps, events) is
  * engine-specific text and is value-asserted in SinkSpec instead.
  */
object IngestOps extends QueryModule {

  /** Path shared by the Spark query and the a2a3/a4b oracle SQL
    * ([[graft.util.Memo.stablePath]]). */
  val FixturePath: String = graft.util.Memo.stablePath("otlp_fixture")

  private def projection(flat: DataFrame): DataFrame =
    flat.select(col("trace_id"), col("span_id"), col("parent_span_id"),
      col("name"), col("scope_id"), col("scope_name"), col("resource_id"),
      col("duration_ns"),
      size(col("events")).as("n_events"),
      size(map_keys(col("resource_attributes"))).as("n_res_attrs"),
      element_at(col("resource_attributes"), "service.name")
        .as("service_name"))
      .orderBy(col("trace_id"), col("span_id"))

  /** Parse the OTLP fixture and dump the flattened table to
    * [[FixturePath]] — the shared ground truth both ingest oracles
    * recompute their expectation from. Written ONCE per process: the
    * contents are identical by construction whichever entry asks first,
    * and a second `mode("overwrite")` write would replace the part file
    * with a new UUID name, breaking any reader that already planned
    * against the old listing (a2a3's plan is built before a4b runs when
    * a caller constructs all registry DataFrames up front). */
  private def dumpFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val flat = OtlpIngest.fromJson(spark.createDataset(OtlpExamples.all))
    // dir-independent fixture (built from OtlpExamples, not testdata) —
    // a constant dir makes the per-process dir guard vacuous, as it
    // should be here
    graft.util.Memo.dump("otlp_fixture", "")(flat)
    flat
  }

  def otlpIngest(spark: SparkSession, dir: String): DataFrame = {
    dumpFixture(spark)
    projection(spark.read.parquet(FixturePath))
  }

  private val otlpIngestSql: String =
    s"""SELECT trace_id, span_id, parent_span_id, name, scope_id,
       | scope_name, resource_id, duration_ns,
       | CAST(len(events) AS INT) AS n_events,
       | CAST(cardinality(resource_attributes) AS INT) AS n_res_attrs,
       | map_extract(resource_attributes,'service.name')[1] AS service_name
       |FROM read_parquet('$FixturePath/*.parquet')
       |ORDER BY trace_id, span_id""".stripMargin

  def jdbcSinkRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE embedded IN-MEMORY database PER PROCESS (Derby keeps every
    // booted db open until shutdown, so a fresh name per run would
    // accumulate heap without bound within a long-lived JVM; the pid
    // suffix keeps concurrent JVMs on one host from colliding on
    // Derby's single-booter lock). The memory: subprotocol is the right
    // test double here — the sink under test is the JDBC write path,
    // and an on-disk Derby spent most of the query's wall-clock
    // creating segment/log files for a 3-row table. The table is
    // dropped before each run within the process; only
    // genuinely-absent-table errors are swallowed — anything else
    // (lock timeout, boot failure) propagates rather than silently
    // appending onto stale rows.
    val db = s"memory:graft_derby_sink_${ProcessHandle.current().pid()}"
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate("DROP TABLE denormalized_span")
    catch {
      case e: java.sql.SQLException
          if e.getSQLState == "42Y55" || e.getSQLState == "42X05" =>
        () // table/view does not exist — first run in this process
    } finally c.close()
    // the very spans the oracle will read back from the fixture parquet
    // — the DuckDB side recomputes the expected scalar projection
    // independently, so rows/schema/hash verify the JDBC round-trip
    // preserved every scalar column (JSON payload fidelity — attr maps,
    // events — is engine-specific text and stays pinned in SinkSpec)
    val spans = dumpFixture(spark)
    // the drop rides a finally: a failure anywhere after boot (lock
    // timeout in writeBatch, a failed collect) previously left the
    // in-memory database booted with its rows resident for the JVM's
    // lifetime — the exact heap-accumulation mode the comment above
    // says this design must avoid (round-10 review)
    val rows =
      try {
        // batch 0 REPLAYED (the at-least-once failure mode foreachBatch
        // exposes) — the sink's contents must still be exactly-once
        val sink = new JdbcSpanSink(url, "denormalized_span", props)
        sink.writeBatch(spans, 0L)
        sink.writeBatch(spans, 0L) // simulated replay after a crash
        val back = JdbcSpanSink.readBack(
            spark, url, "denormalized_span", props)
          .select(col("trace_id"), col("span_id"), col("parent_span_id"),
            col("name"), col("scope_id"), col("scope_name"),
            col("resource_id"), col("duration_ns"))
          .orderBy(col("trace_id"), col("span_id"))
        // materialize the (tiny) round-trip eagerly so the database
        // can be dropped — no heap outlives the run
        (back.collect().toSeq, back.schema)
      } finally {
        try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;drop=true")
        catch {
          case e: java.sql.SQLException if e.getSQLState == "08006" =>
            () // 08006 = single-database drop succeeded (always thrown)
        }
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows._1, 1), rows._2)
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("a2a3_otlp_ingest",
      "A2+A3 OTLP JSON (current+legacy) parse, normalize, flatten; " +
        "flattened table parquet-dumped so the oracle hash-checks it " +
        "(collector/controller.go:45-223, collector/service.go:100-237)",
      otlpIngest, Some(otlpIngestSql)),
    GraftQuery("a4b_jdbc_sink",
      "A4 JDBC sink seam (ClickHouse batch-insert analog, " +
        "utils/utils.go:160-244): spans through the idempotent JDBC " +
        "sink into embedded Derby — batch 0 deliberately replayed, " +
        "contents stay exactly-once; oracle recomputes the scalar " +
        "projection from the dumped fixture parquet (JSON payload " +
        "fidelity pinned in SinkSpec)",
      jdbcSinkRoundTrip, Some(
        s"""SELECT trace_id, span_id, parent_span_id, name, scope_id,
           | scope_name, resource_id, duration_ns
           |FROM read_parquet('$FixturePath/*.parquet')
           |ORDER BY trace_id, span_id""".stripMargin)))
}
