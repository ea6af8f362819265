package graft

import graft.spans.{OtlpExamples, OtlpIngest, OtlpProto}
import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row

/** Ingest semantics: both OTLP generations, attribute stringification
  * rules (collector/service.go:184-237), id re-encoding, write path. */
class OtlpIngestSpec extends SparkSpec {

  private lazy val flat = {
    import spark.implicits._
    OtlpIngest.fromJson(spark.createDataset(OtlpExamples.all)).cache()
  }

  test("flattens resource→scope→span tree to one row per span") {
    assert(flat.count() === 3)
  }

  test("attribute stringification covers every AnyValue kind") {
    val attrs = flat.filter(flat("scope_name") === "gateway")
      .select("resource_attributes").collect().head
      .getAs[Map[String, String]](0)
    assert(attrs("service.name") === "gateway")
    assert(attrs("count") === "42")
    assert(attrs("ratio") === "0.5")
    assert(attrs("ok") === "true")
    assert(attrs("tags") === "a,b")           // all-string array: comma join
    assert(attrs("mixed") === """["a","1"]""") // mixed array: JSON
    assert(attrs("meta") === """{"k":"v"}""")  // kvlist: JSON
    assert(attrs("blob") === "aGVsbG8=")       // bytes stay base64
  }

  test("hex ids re-encode to base64-of-bytes; empty parent preserved") {
    val r = flat.filter(flat("name") === "GET /users").collect().head
    assert(r.getAs[String]("trace_id") === "CgsMDQ==")
    assert(r.getAs[String]("span_id") === "AQIDBA==")
    assert(r.getAs[String]("parent_span_id") === "")
    val child = flat.filter(flat("name") === "SELECT users").collect().head
    assert(child.getAs[String]("parent_span_id") === "AQIDBA==")
  }

  test("duration materialized; events carry time/name/attr map") {
    val r = flat.filter(flat("name") === "GET /users").collect().head
    assert(r.getAs[Long]("duration_ns") === 100000000L)
    val events = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("events"))
    assert(events.length === 1)
    assert(events.head.getAs[String]("name") === "exception")
    assert(events.head.getAs[Map[String, String]]("attributes")
      .apply("exception.type") === "IOException")
  }

  test("legacy form: library rename, wrapped values, attr merge") {
    val r = flat.filter(flat("scope_name") === "legacy-lib").collect().head
    val res = r.getAs[Map[String, String]]("resource_attributes")
    // service.name exists in BOTH resource attrs ("legacy-svc") and span
    // attrs ("legacy-span-svc"): the Go merge is overwrite/last-wins
    // (controller.go:199-207), so the span value wins — and the merge
    // must not throw under Spark's EXCEPTION map-key dedup default
    // (map_concat of the two maps used to die on exactly this input)
    assert(res("service.name") === "legacy-span-svc")
    assert(res("http.status_code") === "500")    // span attrs merged in
    assert(r.getAs[Map[String, String]]("span_attributes")
      .apply("http.status_code") === "500")
    assert(r.getAs[Map[String, String]]("span_attributes")
      .apply("service.name") === "legacy-span-svc")
  }

  test("transition-era request carrying BOTH span-list fields: " +
    "scopeSpans wins, no legacy attr merge; empty scopeSpans falls " +
    "back to the legacy spans") {
    import spark.implicits._
    // a real migration-era exporter shape: both fields present
    val both = """{"resourceSpans":[{"resource":{"attributes":[
      |{"key":"service.name","value":{"stringValue":"svc-r"}}]},
      |"scopeSpans":[{"scope":{"name":"modern-lib"},"spans":[
      | {"traceId":"0102030405060708090a0b0c0d0e0f10","spanId":"0102030405060708",
      |  "name":"modern-span","startTimeUnixNano":"1","endTimeUnixNano":"2",
      |  "attributes":[{"key":"service.name","value":{"stringValue":"SPAN-OVERRIDE"}}]}]}],
      |"instrumentationLibrarySpans":[{"instrumentationLibrary":{"name":"old-lib"},
      |"spans":[{"traceId":"0102030405060708090a0b0c0d0e0f10","spanId":"1112131415161718",
      | "name":"legacy-span","startTimeUnixNano":"1","endTimeUnixNano":"2"}]}]}]}"""
      .stripMargin.replace("\n", "")
    val rows = OtlpIngest.fromJson(spark.createDataset(Seq(both))).collect()
    // only the scopeSpans span is read, and the legacy attr merge is
    // NOT applied (span attrs must not fold into resource attrs)
    assert(rows.map(_.getAs[String]("name")).toSeq === Seq("modern-span"))
    assert(rows.head.getAs[Map[String, String]]("resource_attributes")
      .apply("service.name") === "svc-r")
    // empty-but-non-null scopeSpans must NOT shadow populated legacy
    // spans (coalesce picked the empty array and dropped every span)
    val emptyScope = both.replace(
      """"scopeSpans":[{"scope":{"name":"modern-lib"},"spans":[""",
      """"scopeSpans":[],"unused":[{"scope":{"name":"modern-lib"},"spans":[""")
    val rows2 =
      OtlpIngest.fromJson(spark.createDataset(Seq(emptyScope))).collect()
    assert(rows2.map(_.getAs[String]("name")).toSeq === Seq("legacy-span"))
  }

  test("repeated keys within one attribute list: last wins, no crash") {
    import spark.implicits._
    // legal on the wire; the Go reference's map assignment last-wins and
    // the protobuf path's Map building does too — the JSON path must not
    // die with DUPLICATE_MAP_KEY under the EXCEPTION dedup default
    val dup =
      """{"resourceSpans":[{"resource":{"attributes":[
        |{"key":"env","value":{"stringValue":"old"}},
        |{"key":"region","value":{"stringValue":"eu"}},
        |{"key":"env","value":{"stringValue":"new"}}
        |]},"scopeSpans":[{"scope":{"name":"s"},"spans":[
        |{"traceId":"aa","spanId":"bb","name":"x",
        | "startTimeUnixNano":"1","endTimeUnixNano":"2",
        | "attributes":[{"key":"k","value":{"stringValue":"v1"}},
        |               {"key":"k","value":{"stringValue":"v2"}}]}
        |]}]}]}""".stripMargin.replace("\n", "")
    val rows = OtlpIngest.fromJson(spark.createDataset(Seq(dup)))
    val row = rows.collect().head
    val res = row.getAs[Map[String, String]]("resource_attributes")
    assert(res("env") === "new")
    assert(res("region") === "eu")
    assert(row.getAs[Map[String, String]]("span_attributes")("k") === "v2")
    // the repeated key sits where it last occurred
    assert(rows.selectExpr("to_json(resource_attributes)").head().getString(0) ===
      """{"region":"eu","env":"new"}""")
  }

  test("scope_id/resource_id: deterministic content-derived UUID format") {
    val uuidRe = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
    val rows = flat.select("scope_name", "scope_id", "resource_id").collect()
    rows.foreach { r =>
      assert(r.getString(1).matches(uuidRe), r.toString)
      assert(r.getString(2).matches(uuidRe), r.toString)
    }
    // same scope -> same id (both gateway spans agree); distinct scopes
    // and distinct resources get distinct ids
    val byScope = rows.groupBy(_.getString(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).distinct }
    assert(byScope.values.forall(_.size == 1))
    assert(byScope("gateway") !== byScope("legacy-lib"))
    assert(rows.map(_.getString(2)).distinct.length === 2) // two resources
    // and the ingest is replay-stable: re-parsing yields identical ids
    import spark.implicits._
    val again = OtlpIngest.fromJson(spark.createDataset(OtlpExamples.all))
      .select("span_id", "scope_id", "resource_id").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    flat.select("span_id", "scope_id", "resource_id").collect().foreach { r =>
      assert(again(r.getString(0)) === (r.getString(1), r.getString(2)))
    }
  }

  test("legacy multi-span resource: one resource_id despite per-span attr merge") {
    import spark.implicits._
    // two spans of ONE resource with different span attrs: the legacy
    // merge folds each span's attrs into resource_attributes, but the
    // resource identity hash must use the pre-merge attrs
    val req =
      """{"resourceSpans":[{"resource":{"attributes":[
        |{"key":"service.name","value":{"Value":{"StringValue":"legacy-svc"}}}
        |]},
        |"instrumentationLibrarySpans":[{"instrumentationLibrary":{"name":"ll"},
        |"spans":[
        |{"traceId":"aa","spanId":"01","name":"a",
        | "startTimeUnixNano":"1","endTimeUnixNano":"2",
        | "attributes":[{"key":"http.status_code","value":{"Value":{"IntValue":"200"}}}]},
        |{"traceId":"aa","spanId":"02","name":"b",
        | "startTimeUnixNano":"1","endTimeUnixNano":"2",
        | "attributes":[{"key":"http.status_code","value":{"Value":{"IntValue":"500"}}}]}
        |]}]}]}""".stripMargin.replace("\n", "")
    val rows = OtlpIngest.fromJson(spark.createDataset(Seq(req)))
      .select("span_id", "resource_id", "resource_attributes").collect()
    assert(rows.length === 2)
    assert(rows.map(_.getString(1)).distinct.length === 1,
      "spans of one resource must share a resource_id")
    // while the merged resource_attributes still differ per span (legacy
    // last-wins semantics are unchanged)
    val merged = rows.map(_.getAs[Map[String, String]](2))
    assert(merged(0)("http.status_code") !== merged(1)("http.status_code"))
  }

  test("minimal span: absent optional fields default sanely") {
    import spark.implicits._
    val minimal =
      """{"resourceSpans":[{"scopeSpans":[{"spans":[
        |{"traceId":"ff","spanId":"ee","name":"bare",
        | "startTimeUnixNano":"1","endTimeUnixNano":"2"}]}]}]}"""
        .stripMargin.replace("\n", "")
    val row = OtlpIngest.fromJson(spark.createDataset(Seq(minimal)))
      .collect().head
    assert(row.getAs[String]("parent_span_id") === "")
    assert(row.getAs[Int]("flags") === 0)
    assert(row.getAs[String]("scope_name") === null)
    assert(row.getAs[String]("resource_schema_url") === "")
    assert(row.getAs[Map[String, String]]("resource_attributes") === Map())
    assert(row.getAs[Map[String, String]]("span_attributes") === Map())
    assert(row.getSeq[Any](row.fieldIndex("events")) === Seq())
    assert(row.getAs[Long]("duration_ns") === 1L)
  }

  /** `docs` ingested by [[OtlpIngest.fromJson]] and, written one per
    * line, through [[StreamingOps.streamOtlpJson]]: (side, run). */
  private def sides(docs: Seq[String]): Seq[(String, () => Array[Row])] = {
    import spark.implicits._
    val in = SparkSpec.tempDir("otlp-json-in")
    Files.writeString(Paths.get(s"$in/docs.json"), docs.mkString("", "\n", "\n"))
    Seq(
      "batch" -> (() => OtlpIngest.fromJson(spark.createDataset(docs)).collect()),
      "stream" -> (() => StreamingOps.runToBatchAppend(spark,
        StreamingOps.streamOtlpJson(spark, in).drop("start_ts"),
        s"otlp_json_${System.nanoTime()}").collect()))
  }

  private def batchAndStream(docs: Seq[String]): Seq[(String, Array[Row])] =
    sides(docs).map { case (side, run) => side -> run() }

  /** One current-form request holding one span with the given fields
    * after its ids and name. */
  private def oneSpan(fields: String, scope: String = "\"scope\":{\"name\":\"s\"},"): String =
    s"""{"resourceSpans":[{"scopeSpans":[{$scope"spans":[
       |{"traceId":"aa","spanId":"bb","name":"x"$fields}]}]}]}"""
      .stripMargin.replace("\n", "")

  private def spanAttrs(values: (String, String)*): String =
    oneSpan(values.map { case (k, v) => s"""{"key":"$k","value":$v}""" }
      .mkString(""","startTimeUnixNano":"1","endTimeUnixNano":"2","attributes":[""", ",", "]"))

  test("a malformed document among good ones yields no rows and no error") {
    val docs = Seq(OtlpExamples.current, """{"resourceSpans":[{"scopeSpans":[""",
      OtlpExamples.legacy)
    for ((side, rows) <- batchAndStream(docs))
      assert(rows.map(_.getAs[String]("name")).sorted.toSeq ===
        Seq("GET /users", "POST /orders", "SELECT users"), side)
  }

  test("intValue reads as a JSON number and as a string") {
    val doc = spanAttrs("num" -> """{"intValue":42}""", "str" -> """{"intValue":"42"}""")
    for ((side, rows) <- batchAndStream(Seq(doc))) {
      val attrs = rows.head.getAs[Map[String, String]]("span_attributes")
      assert(attrs === Map("num" -> "42", "str" -> "42"), side)
    }
  }

  test("doubleValue renders like Java's Double.toString") {
    val doc = spanAttrs("half" -> """{"doubleValue":0.5}""",
      "tiny" -> """{"doubleValue":1e-7}""", "huge" -> """{"doubleValue":1e21}""")
    for ((side, rows) <- batchAndStream(Seq(doc))) {
      val attrs = rows.head.getAs[Map[String, String]]("span_attributes")
      assert(attrs === Map("half" -> "0.5", "tiny" -> "1.0E-7", "huge" -> "1.0E21"),
        side)
    }
  }

  test("single-quoted documents and unquoted NaN/Infinity doubles give rows") {
    val docs = Seq(
      "{'resourceSpans':[{'scopeSpans':[{'spans':[{'traceId':'aa','spanId':'bb'," +
        "'name':'quoted','attributes':[{'key':'k','value':{'stringValue':'say \"hi\"'}}]}]}]}]}",
      spanAttrs("nan" -> """{"doubleValue":NaN}""", "ninf" -> """{"doubleValue":-Infinity}"""))
    for ((side, rows) <- batchAndStream(docs)) {
      val byName = rows.map(r => r.getAs[String]("name") ->
        r.getAs[Map[String, String]]("span_attributes")).toMap
      assert(byName === Map("quoted" -> Map("k" -> "say \"hi\""),
        "x" -> Map("nan" -> "NaN", "ninf" -> "-Infinity")), side)
    }
  }

  test("non-hex and odd-length ids pass through unchanged") {
    val doc = """{"resourceSpans":[{"scopeSpans":[{"spans":[
      |{"traceId":"trace-xyz","spanId":"abc","parentSpanId":"0A0B",
      | "name":"x","startTimeUnixNano":"1","endTimeUnixNano":"2"}]}]}]}"""
      .stripMargin.replace("\n", "")
    for ((side, rows) <- batchAndStream(Seq(doc))) {
      val r = rows.head
      assert(r.getAs[String]("trace_id") === "trace-xyz", side)
      assert(r.getAs[String]("span_id") === "abc", side)
      assert(r.getAs[String]("parent_span_id") === "Cgs=", side) // even hex
    }
  }

  test("absent scope and library names give a null scope_name") {
    val docs = Seq(
      oneSpan("", scope = ""),
      oneSpan("", scope = "\"scope\":{},"),
      """{"resourceSpans":[{"instrumentationLibrarySpans":[
        |{"spans":[{"spanId":"cc","name":"legacy"}]}]}]}"""
        .stripMargin.replace("\n", ""))
    for ((side, rows) <- batchAndStream(docs)) {
      assert(rows.length === 3, side)
      rows.foreach(r => assert(r.getAs[String]("scope_name") === null, side))
      assert(rows.map(_.getAs[String]("scope_id")).distinct.length === 1, side)
    }
  }

  test("absent flags and events read as 0 and an empty list") {
    val doc = oneSpan(""","startTimeUnixNano":"5","endTimeUnixNano":"9"""")
    for ((side, rows) <- batchAndStream(Seq(doc))) {
      val r = rows.head
      assert(r.getAs[Int]("flags") === 0, side)
      assert(r.getSeq[Row](r.fieldIndex("events")) === Seq(), side)
      assert(r.getAs[Long]("duration_ns") === 4L, side)
    }
  }

  test("a bad time value fails a batch, naming it; a stream drops and counts it") {
    def chain(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    // (document, the value the batch error names): a non-numeric time and
    // an end − start past int64
    val bad = Seq(
      oneSpan(""","startTimeUnixNano":"abc","endTimeUnixNano":"2"""") -> "'abc'",
      oneSpan(""","startTimeUnixNano":"-1","endTimeUnixNano":"9223372036854775807"""") ->
        "'9223372036854775807'")
    for ((doc, named) <- bad) {
      val runs = sides(Seq(OtlpExamples.current, doc, OtlpExamples.legacy)).toMap
      val e = intercept[Exception](runs("batch")())
      assert(chain(e).contains(named), chain(e))
      val dropped = OtlpProto.droppedMessages.get
      val rows = runs("stream")()
      assert(rows.map(_.getAs[String]("name")).sorted.toSeq ===
        Seq("GET /users", "POST /orders", "SELECT users"))
      assert(OtlpProto.droppedMessages.get - dropped === 1)
    }
  }

  test("A4 write path: date-partitioned parquet round-trips") {
    val dir = SparkSpec.tempDir("graft-spans")
    OtlpIngest.writeSpans(flat, dir)
    val back = OtlpIngest.readSpans(spark, dir)
    assert(back.count() === 3)
    assert(back.columns.contains("date"))
    assert(back.select("date").distinct().count() === 1)
  }

  test("date partitioning prunes the scan for time-ranged queries") {
    import org.apache.spark.sql.functions._
    val dir = SparkSpec.tempDir("graft-prune")
    // two batches a year apart -> two date partitions
    OtlpIngest.writeSpans(flat, dir)
    OtlpIngest.writeSpans(
      flat.withColumn("start_time_unix_nano",
          col("start_time_unix_nano") + expr("31536000000000000L"))
        .withColumn("end_time_unix_nano",
          col("end_time_unix_nano") + expr("31536000000000000L")), dir)
    val all = OtlpIngest.readSpans(spark, dir)
    assert(all.select("date").distinct().count() === 2)
    val pruned = all.filter(col("date") === "2024-01-01")
    val classic = pruned.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val scan = classic.queryExecution.executedPlan.toString
    // partition filter present => only one date directory is read
    assert(scan.contains("PartitionFilters"), scan)
    assert(pruned.count() === 3)
  }
}
