package graft

import graft.spans.{OtlpExamples, OtlpIngest}
import graft.streaming.StreamingOps
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Streaming semantics: OTLP file-stream ingest end-to-end, windowed
  * aggregation parity with batch, session_window parity with the batch
  * sessionizer. */
class StreamingSpec extends SparkSpec {

  test("OTLP JSON stream -> watermark -> foreachBatch span store") {
    val in = SparkSpec.tempDir("otlp-in")
    val store = SparkSpec.tempDir("span-store")
    val ckpt = SparkSpec.tempDir("ckpt")
    Files.writeString(java.nio.file.Paths.get(s"$in/req1.json"),
      OtlpExamples.current + "\n" + OtlpExamples.legacy + "\n")
    val stream = StreamingOps.streamOtlpJson(spark, in)
    val q = StreamingOps.writeToSpanStore(stream, store, ckpt)
    q.awaitTermination(60000)
    val back = OtlpIngest.readSpans(spark, store)
    assert(back.count() === 3)
    assert(back.filter(col("scope_name") === "legacy-lib").count() === 1)
    assert(back.columns.contains("date"))
  }

  test("Kafka value-column decode: connector row shape -> span rows") {
    // the exact schema spark-sql-kafka emits; the connector jar itself
    // is not in this sandbox, so the decode half is pinned against a
    // hand-built frame of that shape (a MemoryStream/batch frame and a
    // kafka frame are indistinguishable to fromKafkaValues)
    import org.apache.spark.sql.types._
    val kafkaSchema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType),
      StructField("topic", StringType), StructField("partition", IntegerType),
      StructField("offset", LongType), StructField("timestamp", TimestampType),
      StructField("timestampType", IntegerType)))
    val payload = OtlpProtoSpec.exampleRequestBytes
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(null, payload, "otlp-spans", 0, 0L,
        new java.sql.Timestamp(0L), 0))
    val kafkaShaped = spark.createDataFrame(rows, kafkaSchema)
    val spans = StreamingOps.fromKafkaValues(kafkaShaped)
    assert(spans.columns.contains("start_ts"))
    val got = spans.collect()
    assert(got.length === 1)
    assert(got.head.getAs[String]("trace_id") === "CgsMDQ==")
    assert(got.head.getAs[Long]("duration_ns") === 100000000L)
  }

  test("pre-split drive source: split copy row-identical to the table") {
    // round 13: every streaming drive reads a multi-file re-layout of
    // its single-file table (scan parallelism, guide §2.5/§6). The
    // copy must hold EXACTLY the table's rows — same schema, same
    // multiset — and actually be split (>1 part file at sf0.01). The
    // split needs a session at least two wide.
    assume(spark.sparkContext.defaultParallelism > 1,
      "a one-core session never splits")
    val dir = "/root/testdata/sf0.01"
    for (t <- Seq("events", "documents", "embeddings")) {
      val split = StreamingOps.splitCopyPath(spark, dir, t)
      assert(split.isDefined, s"$t at sf0.01 should re-layout")
      val nFiles = new java.io.File(split.get).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(nFiles > 1, s"$t split into $nFiles files")
      val orig = Tables.table(spark, dir, t)
      val copy = spark.read.parquet(split.get)
      assert(copy.schema === orig.schema)
      assert(copy.count() === orig.count())
      assert(copy.exceptAll(orig).isEmpty, s"$t: copy has extra rows")
      assert(orig.exceptAll(copy).isEmpty, s"$t: copy lost rows")
    }
    // a table below one split unit gets no copy at all
    assert(StreamingOps.splitCopyPath(spark, sf0001, "region").isEmpty)
  }

  test("one scratch root: the local dir, the warehouse and a drive's " +
    "checkpoint lie under TempArtifacts.fastBase") {
    import java.nio.file.Paths
    val base = Paths.get(graft.util.TempArtifacts.fastBase)
    def under(p: String): Boolean =
      Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath)
        .normalize.startsWith(base)
    val local = spark.sparkContext.getConf.getOption("spark.local.dir")
    assert(local.exists(under), s"spark.local.dir $local outside $base")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assert(under(warehouse), s"warehouse $warehouse outside $base")
    val key = "spark.sql.streaming.checkpointLocation"
    val name = s"scratch_root_${System.nanoTime()}"
    var root = ""
    StreamingOps.runForeachBatch(spark,
        StreamingOps.tableStream(spark, sf0001, "region"), name) {
      (_, _) => root = spark.conf.get(key)
    }
    assert(new java.io.File(s"$root/$name/offsets").isDirectory,
      s"no checkpoint written under $root")
    assert(under(root), s"checkpoint root $root outside $base")
    assert(spark.conf.getOption(key).isEmpty, "drive leaked its root")
  }

  test("streaming windowed counts equal batch group-by") {
    val streamed = StreamingOps.streamingCounts(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf0001)
      .groupBy(expr("ts_s div 3600 * 3600").as("b"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("streaming p90 sketch series tracks the exact batch series") {
    val streamed = StreamingOps.streamingQuantileSeries(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // exact per-bucket p90 over the same 172800 s epoch-aligned grid
    val exact = Tables.events(spark, sf0001)
      .groupBy(expr("ts_s div 172800 * 172800").as("b"))
      .agg(percentile(col("value"), lit(0.9)).as("p90"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.keySet === exact.keySet) // no empty buckets at sf0.001
    streamed.foreach { case (b, v) =>
      val e = exact(b)
      assert(math.abs(v - e) / math.max(math.abs(e), 1e-9) < 0.02,
        s"bucket $b: sketch $v vs exact $e")
    }
  }

  test("st3/st4 sentinel drive is a FILE stream, executor-side") {
    // the stateful entries must be driven by a file source (nothing
    // corpus-sized on the driver) — the old MemoryStream drive
    // collected n/4 event rows to feed addData. lastDriveSource is the
    // documented test-only seam exposing the final progress's source.
    val assembled = StreamingOps.streamingTraceAssembly(spark, sf0001)
    assert(StreamingOps.lastDriveSource.contains("FileStreamSource"),
      s"st3 drive source was '${StreamingOps.lastDriveSource}'")
    // and the drive still computes the right thing: every sampled
    // trace present exactly once, span counts equal the batch rollup
    val exact = Tables.events(spark, sf0001)
      .filter(pmod(col("event_id"), lit(4)) === 0)
      .groupBy(col("user_id").cast("string").as("trace_id"))
      .agg(count(lit(1)).cast("int").as("n_spans"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val got = assembled.select("trace_id", "n_spans")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === exact)

    val status = StreamingOps.streamingTraceStatus(spark, sf0001)
    assert(StreamingOps.lastDriveSource.contains("FileStreamSource"),
      s"st4 drive source was '${StreamingOps.lastDriveSource}'")
    assert(status.count() === exact.size.toLong)
  }

  test("st23 streaming erasure gate equals the v70 downdate " +
    "row-for-row, and the gate demonstrably removes the erased users") {
    val stream = graft.operators.CdcOps
      .streamingErasureGate(spark, sf0001).collect()
    val batch = graft.operators.CdcOps
      .erasureDowndate(spark, sf0001).collect()
    assert(stream.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    // the gate must have dropped exactly the erased users' rows
    val gatedN = stream.map(_.getAs[Long]("n")).sum
    val allN = Tables.events(spark, sf0001).count()
    val erasedN = Tables.events(spark, sf0001)
      .filter(pmod(col("user_id"),
        lit(graft.operators.CdcOps.EraseModulus.toLong)) === 0).count()
    assert(erasedN > 0, "the fixture must contain erased users")
    assert(gatedN === allN - erasedN)
  }

  test("st24 dedup state is watermark-scoped (evictable on unbounded " +
    "sources): EventTimeWatermark + DeduplicateWithinWatermark in plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{DeduplicateWithinWatermark, EventTimeWatermark}
    val plan = graft.dedup.DedupOps.nearDupGatePlan(spark, sf0001)
      .queryExecution.analyzed
    assert(plan.collect { case e: EventTimeWatermark => e }.nonEmpty,
      "st24 must watermark its dedup state")
    assert(plan.collect {
      case d: DeduplicateWithinWatermark => d }.nonEmpty,
      "st24 must dedup WITHIN the watermark, not with unbounded state")
  }

  test("session_window matches batch gap sessionization") {
    val stream = StreamingOps.eventsStream(spark, sf0001)
    val sessions = StreamingOps.runToBatch(spark,
      StreamingOps.sessionWindows(stream, "event_ts", "user_id"),
      s"sess_${System.nanoTime()}")
    val nStreaming = sessions.agg(count(lit(1))).collect().head.getLong(0)
    val nEvents = sessions.agg(sum("n_events")).collect().head.getLong(0)
    val batch = graft.operators.SessionOps.sessionize(spark, sf0001)
    assert(nStreaming === batch.count())
    assert(nEvents === Tables.events(spark, sf0001).count())
  }
}
