package graft

import graft.streaming.TraceAssembler
import graft.streaming.TraceAssembler.SpanEvent
import org.apache.spark.sql.functions._

/** Extensions registration, stateful streaming trace assembly. */
class AdvancedSpec extends SparkSpec {

  test("GraftExtensions registers dot_product for SQL") {
    // the session factory sets spark.sql.extensions, so the suite is
    // available WITHOUT manual registration (this assert runs before any
    // test in this JVM registers functions by hand)
    assert(spark.conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(spark.sql("SELECT z_value(2, 3) AS z").collect().head.getLong(0)
      === graft.functions.ZOrder.interleave(2, 3))
    // the extension function applies cleanly to a fresh extensions object
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
    // inject into the live session through the same registry mechanism
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      exprs => graft.functions.DotProduct(exprs(0), exprs(1)),
      "built-in")
    val r = spark.sql(
      "SELECT dot_product(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(r === 11.0)
  }

  test("GraftExtensions exposes the full expression suite to SQL") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val reg = classic.sessionState.functionRegistry
    // register THE builders GraftExtensions injects (not copies), so an
    // argument swap or wrong class in the shipped wiring fails here
    GraftExtensions.functions.foreach { case (ident, _, builder) =>
      reg.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
    // each SQL spelling equals its Column-API twin
    import org.apache.spark.sql.functions.lit
    val sqlZ = spark.sql("SELECT z_value(2, 3) AS z").collect().head.getLong(0)
    assert(sqlZ === graft.functions.ZOrder.interleave(2, 3))
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val viaSql = spark.sql(s"SELECT simhash64(shingle_hashes('$txt')) AS h")
      .collect().head.getLong(0)
    val viaCol = spark.range(1).select(
      graft.functions.SimHashFunctions.simhash64(
        graft.functions.ShingleFunctions.shingle_hashes(lit(txt))).as("h"))
      .collect().head.getLong(0)
    assert(viaSql === viaCol)
    val strs = spark.sql(s"SELECT shingle_strings('$txt') AS s")
      .collect().head.getSeq[String](0)
    assert(strs.contains("the quick brown"))
    // wrong arity is a clear error, not an IndexOutOfBounds
    val err = intercept[Exception](spark.sql("SELECT z_value(1) AS z"))
    assert(err.getMessage.contains("z_value expects 2 argument"),
      err.getMessage)
  }

  test("mapGroupsWithState trace status: running summaries per batch") {
    import spark.implicits._
    implicit val s = spark
    val all = SpanFixtures.spans(spark).select(
      col("trace_id"), col("span_id"), col("parent_span_id"), col("name"),
      col("scope_name"), col("start_time_unix_nano"), col("duration_ns"))
      .as[TraceAssembler.SpanEvent].collect().toSeq
    val (batch1, batch2) = all.partition(_.span_id <= "s2")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[TraceAssembler.SpanEvent](spark)
    val q = TraceAssembler.traceStatus(ms.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("status").start()
    try {
      ms.addData(batch1)
      q.processAllAvailable()
      val afterB1 = spark.table("status").as[TraceAssembler.TraceStatus]
        .collect().map(t => t.trace_id -> t.n_spans).toMap
      assert(afterB1("T1") === 2) // s1, s2 arrived
      ms.addData(batch2)
      q.processAllAvailable()
      // latest status row per trace reflects the full span count
      val finalT1 = spark.table("status").as[TraceAssembler.TraceStatus]
        .collect().filter(_.trace_id == "T1").maxBy(_.n_spans)
      assert(finalT1.n_spans === 4)
      assert(finalT1.services === Seq("db", "gateway", "users"))
    } finally q.stop()
  }

  test("trace status timeout: state expires and resets without killing the query") {
    import spark.implicits._
    implicit val s = spark
    val all = SpanFixtures.spans(spark).select(
      col("trace_id"), col("span_id"), col("parent_span_id"), col("name"),
      col("scope_name"), col("start_time_unix_nano"), col("duration_ns"))
      .as[SpanEvent].collect().toSeq
    val Base = 1704067200000000000L
    def sentinel(id: String, offsetNs: Long) = SpanEvent(
      id, "sx", "", "wm", "wm", Base + offsetNs, 1L)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[SpanEvent](spark)
    val q = TraceAssembler.traceStatus(ms.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("status_timeout").start()
    try {
      ms.addData(all)
      q.processAllAvailable()
      // advance the watermark far past every trace's last_start + 60s gap.
      // The pre-fix code then called setTimeoutTimestamp with a timestamp
      // at/behind the watermark on the next invocation and the query died
      // with IllegalArgumentException; it also never removed state.
      ms.addData(sentinel("WMA", 1200L * 1000000000L))
      q.processAllAvailable()
      ms.addData(sentinel("WMB", 2400L * 1000000000L))
      q.processAllAvailable() // timed-out traces emit their closing status
      // T1's state was removed on timeout: a fresh span restarts the
      // count at 1 instead of resuming at 5
      ms.addData(SpanEvent("T1", "s9", "", "late-restart", "fresh",
        Base + 2400L * 1000000000L, 1L))
      q.processAllAvailable()
      val t1 = spark.table("status_timeout")
        .as[TraceAssembler.TraceStatus].collect().filter(_.trace_id == "T1")
      assert(t1.exists(_.n_spans == 4), t1.mkString("\n")) // pre-timeout
      assert(!t1.exists(_.n_spans == 5), t1.mkString("\n")) // no resume
      val restarted = t1.filter(_.services == Seq("fresh"))
      assert(restarted.nonEmpty && restarted.forall(_.n_spans == 1),
        t1.mkString("\n"))
    } finally q.stop()
  }

  test("stateful trace assembly: streaming equals batch twin") {
    import spark.implicits._
    implicit val s = spark
    val spans = SpanFixtures.spans(spark).select(
      col("trace_id"), col("span_id"), col("parent_span_id"), col("name"),
      col("scope_name"), col("start_time_unix_nano"), col("duration_ns"))
      .as[SpanEvent]
    val batch = TraceAssembler.assembleBatch(spans).collect()
      .map(t => t.trace_id -> t).toMap
    assert(batch("T1").n_spans === 4)
    assert(batch("T1").root_name === "GET /users")
    assert(batch("T1").services === Seq("db", "gateway", "users"))
    assert(batch("T2").n_spans === 1)

    // streaming: feed the same spans through a memory stream, advance the
    // event-time watermark with sentinel spans, and compare
    val Base = 1704067200000000000L
    def sentinel(id: String, offsetNs: Long) = SpanEvent(
      id, "sx", "", "wm", "wm", Base + offsetNs, 1L)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[SpanEvent](spark)
    val out = TraceAssembler.assembleTraces(ms.toDS(), gapMs = 60000)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("assembled").start()
    try {
      ms.addData(spans.collect().toSeq)
      q.processAllAvailable()
      // watermark jumps past every fixture deadline (10 min >> 60s gap)
      ms.addData(sentinel("WM1", 600L * 1000000000L))
      q.processAllAvailable()
      // next batch processes the now-expired T1/T2 timeouts
      ms.addData(sentinel("WM2", 1200L * 1000000000L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("assembled").as[TraceAssembler.AssembledTrace]
      .collect().map(t => t.trace_id -> t).toMap
      .filterNot(_._1.startsWith("WM"))
    assert(streamed === batch)
  }
}
