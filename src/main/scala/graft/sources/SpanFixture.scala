package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic OTLP/JSON span-file fixture for the DataSourceV2 span
  * source ([[SpanFileSource]]).
  *
  * Writes, once per (process, dir):
  *  - 24 `spans_h*.json` files — one OTLP `ExportTraceServiceRequest`
  *    per hour of a synthetic day, each carrying one service's spans
  *    (current `scopeSpans` form; the wire shape the reference collector
  *    accepts, collector/controller.go:97-223);
  *  - `_stats.json` — the per-file min/max start time and service set
  *    the source's planner skips files with (the file-level stats a real
  *    deployment keeps in its table catalog, Delta/Iceberg-style);
  *  - `expected.parquet` — the same spans computed CLOSED-FORM in plain
  *    Scala and written through the ordinary parquet writer. This is the
  *    oracle surface: the DuckDB side reads it independently, so a bug
  *    in the source's Jackson parse path cannot leak into its own
  *    expectation.
  *
  * Everything is a pure function of (hour, span index) — no clocks, no
  * randomness — so both engines and every process agree on the bytes.
  */
object SpanFixture {
  /** 2024-01-01T00:00:00Z in nanoseconds — the same epoch the events
    * table opens on (Tables.EventWindow). */
  val BaseNs: Long = 1704067200L * 1000000000L
  val HourNs: Long = 3600L * 1000000000L
  val NFiles = 24
  val SpansPerFile = 5

  /** One expected output row of the source (ids base64 of the raw bytes,
    * the reference store's convention — collector/service.go:273-275). */
  final case class SpanRow(
      trace_id: String, span_id: String, parent_span_id: String,
      name: String, service_name: String, start_ns: Long,
      duration_ns: Long, status_code: String)

  def serviceOf(h: Int): String = s"svc${h % 5}"

  private def hex(v: Long, digits: Int): String =
    ("%0" + digits + "x").format(v)

  private def b64OfHex(s: String): String =
    if (s.isEmpty) ""
    else java.util.Base64.getEncoder.encodeToString(
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)

  /** Closed-form span (h = file hour, i = span index within the file). */
  def rowOf(h: Int, i: Int): SpanRow = {
    val start = BaseNs + h * HourNs + i * 1000000L
    val dur = (i + 1) * 500000L + h * 1000L
    SpanRow(
      trace_id = b64OfHex(hex(h * 100L + 1, 32)),
      span_id = b64OfHex(hex(h * 100L + i + 1, 16)),
      parent_span_id =
        if (i == 0) "" else b64OfHex(hex(h * 100L + 1, 16)),
      name = s"op_$i",
      service_name = serviceOf(h),
      start_ns = start,
      duration_ns = dur,
      status_code = if ((h + i) % 7 == 0) "ERROR" else "OK")
  }

  def allRows: Seq[SpanRow] =
    for (h <- 0 until NFiles; i <- 0 until SpansPerFile)
      yield rowOf(h, i)

  private def fileJson(h: Int): String = {
    val spans = (0 until SpansPerFile).map { i =>
      val start = BaseNs + h * HourNs + i * 1000000L
      val dur = (i + 1) * 500000L + h * 1000L
      val status =
        if ((h + i) % 7 == 0) "STATUS_CODE_ERROR" else "STATUS_CODE_OK"
      s"""{"traceId":"${hex(h * 100L + 1, 32)}",
         |"spanId":"${hex(h * 100L + i + 1, 16)}",
         |"parentSpanId":"${if (i == 0) "" else hex(h * 100L + 1, 16)}",
         |"name":"op_$i",
         |"startTimeUnixNano":"$start",
         |"endTimeUnixNano":"${start + dur}",
         |"status":{"code":"$status"}}""".stripMargin.replace("\n", "")
    }.mkString(",")
    s"""{"resourceSpans":[{"resource":{"attributes":[
       |{"key":"service.name","value":{"stringValue":"${serviceOf(h)}"}}]},
       |"scopeSpans":[{"scope":{"name":"graft-fixture"},
       |"spans":[$spans]}]}]}""".stripMargin.replace("\n", "")
  }

  private def statsJson: String =
    (0 until NFiles).map { h =>
      val starts = (0 until SpansPerFile).map(rowOf(h, _).start_ns)
      s"""{"file":"spans_h$h.json","n_spans":$SpansPerFile,""" +
        s""""min_start_ns":${starts.min},"max_start_ns":${starts.max},""" +
        s""""services":["${serviceOf(h)}"]}"""
    }.mkString("[", ",", "]")

  /** Root of the per-process fixture, interpolated into oracle SQL
    * ([[graft.util.Memo.stablePath]]). */
  val Dir: String = graft.util.Memo.stablePath("spanfiles")

  /** Write JSON files + stats sidecar + expected parquet, once per
    * process (dir-independent: built from code, not testdata). Returns
    * [[Dir]]. */
  def ensure(spark: SparkSession): String = {
    graft.util.Memo.once("spanfiles", "") {
      Files.createDirectories(Paths.get(Dir))
      (0 until NFiles).foreach { h =>
        Files.write(Paths.get(Dir, s"spans_h$h.json"),
          fileJson(h).getBytes(StandardCharsets.UTF_8))
      }
      Files.write(Paths.get(Dir, "_stats.json"),
        statsJson.getBytes(StandardCharsets.UTF_8))
      import spark.implicits._
      spark.createDataset(allRows).toDF()
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$Dir/expected.parquet")
    }
    Dir
  }

  /** The expected rows as a DataFrame (spec convenience). */
  def expected(spark: SparkSession): DataFrame = {
    ensure(spark)
    spark.read.parquet(s"$Dir/expected.parquet")
  }
}
