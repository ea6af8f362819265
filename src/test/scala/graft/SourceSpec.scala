package graft

import graft.sources.{SourceOps, SpanFileSource, SpanFixture}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In, IsNotNull, LessThan}

/** The DataSourceV2 span source (sources/SpanFileSource.scala): parse
  * correctness against the closed-form fixture, file skipping from
  * sidecar stats, column pruning reaching the reader, and the
  * stats-prune-never-decide safety property. */
class SourceSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString

  private def source() =
    SpanFileSource.read(spark, SpanFixture.ensure(spark))

  test("full scan == the closed-form expected rows, all 8 columns") {
    val got = source().orderBy("span_id").collect()
    val want = SpanFixture.expected(spark).orderBy("span_id").collect()
    assert(got.length == SpanFixture.NFiles * SpanFixture.SpansPerFile)
    assert(got.toSeq == want.toSeq)
  }

  test("pushdown opens only the stats-surviving files (2/24 in plan)") {
    val df = SourceOps.dsv2Pushdown(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("files=2/24"), p)
    assert(p.contains("EqualTo(service_name,svc2)"), p)
  }

  test("stats prune, never decide: pruned == unpruned under every " +
    "pushed predicate") {
    val full = SpanFixture.expected(spark)
      .filter(col("service_name") === SourceOps.PushService &&
        col("start_ns") < SourceOps.PushMaxNs)
      .select("span_id", "name", "start_ns", "duration_ns", "status_code")
      .orderBy("start_ns").collect()
    val pushed = SourceOps.dsv2Pushdown(spark, sf0001).collect()
    assert(pushed.toSeq == full.toSeq)
    // a time-only bound (crosses many files) also stays exact
    val cut = SpanFixture.BaseNs + 5 * SpanFixture.HourNs
    val a = source().filter(col("start_ns") < cut)
      .select("span_id").orderBy("span_id").collect()
    val b = SpanFixture.expected(spark).filter(col("start_ns") < cut)
      .select("span_id").orderBy("span_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("a9 runtime filtering: the join's DynamicPruning key set " +
    "reaches the scan and prunes 24 -> 9 files") {
    SpanFileSource.lastRuntimePrune = None
    val df = SourceOps.dsv2RuntimeFilter(spark, sf0001)
    // the planned (pre-execution) scan must carry the runtime-filter
    // subquery — dynamic pruning is a plan-time decision
    val planned = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert(planned.toLowerCase.contains("dynamicpruning"), planned)
    val got = df.collect()
    // the scan's filter() ran and pruned to exactly the files whose
    // sidecar service set intersects {svc1, svc4}: h%5 in {1,4} over
    // h=0..23 -> 9 files
    assert(SpanFileSource.lastRuntimePrune === Some((24, 9)))
    // filtered == closed-form (runtime stats prune, never decide)
    val want = SpanFixture.expected(spark)
      .filter(col("service_name").isin("svc1", "svc4"))
      .groupBy(col("service_name"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("duration_ns")).as("total_dur_ns"))
      .orderBy(col("service_name")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.map(r => (r.getAs[String]("service_name"),
      r.getAs[Long]("n_spans"), r.getAs[Long]("total_dur_ns"))).toSeq
      === want.toSeq)
  }

  test("runtime filter() is conservative: a key set with no stats " +
    "match keeps zero files, a full set keeps all") {
    SpanFileSource.lastRuntimePrune = None
    val dim = spark.createDataFrame(Seq(Tuple1("svcX")))
      .toDF("service_name")
    val n = source().join(broadcast(dim), Seq("service_name")).count()
    assert(n === 0L)
    // if DPP fired, it must have pruned everything (0 files opened);
    // if the planner chose not to inject it, the join still answers 0
    SpanFileSource.lastRuntimePrune.foreach { case (b, a) =>
      assert(b === 24 && a === 0)
    }
  }

  test("sidecar stats reach the cost model: a narrowed scan reports " +
    "its pruned rowCount and a small size, and an un-hinted join " +
    "broadcasts it") {
    val narrowed = source()
      .filter(col("service_name") === SourceOps.PushService &&
        col("start_ns") < SourceOps.PushMaxNs)
      .select(col("span_id"), col("duration_ns"))
    // read the scan RELATION's stats (the default size-only visitor
    // drops rowCount above the leaf when CBO is off)
    val leaf = narrowed.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.collectLeaves().head
    val st = leaf.stats
    // 2 surviving files x 5 spans (filters re-applied above the scan,
    // so the SCAN's row count is the files' total)
    assert(st.rowCount.exists(_.toLong == 10L), st)
    assert(st.sizeInBytes > 0 && st.sizeInBytes < 10000, st)
    // un-hinted join against the expected table: the planner must pick
    // a broadcast join (the reported size is far under the threshold);
    // without estimateStatistics a V2 relation defaults to
    // defaultSizeInBytes and this plan goes sort-merge
    val other = SpanFixture.expected(spark)
      .select(col("span_id"), col("name"))
    val p = plan(narrowed.join(other, Seq("span_id")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("column pruning reaches the reader: ReadSchema carries only the " +
    "requested columns") {
    val df = source().select(col("name"), col("duration_ns"))
    df.collect()
    val p = plan(df)
    assert(p.contains("columns=[name, duration_ns]"), p)
    assert(!p.contains("trace_id"), p)
  }

  test("skippability classifier: stats-evaluable shapes only") {
    assert(SpanFileSource.skippable(EqualTo("service_name", "svc0")))
    assert(SpanFileSource.skippable(LessThan("start_ns", 5L)))
    assert(SpanFileSource.skippable(
      In("service_name", Array[Any]("a", "b"))))
    assert(!SpanFileSource.skippable(EqualTo("name", "op_0")))
    assert(!SpanFileSource.skippable(IsNotNull("service_name")))
    assert(!SpanFileSource.skippable(GreaterThan("duration_ns", 5L)))
  }

  test("mightMatch is conservative on unknown shapes and exact on " +
    "bounds") {
    val s = SpanFileSource.FileStat("f", 5L, 100L, 200L, Set("svc1"))
    assert(SpanFileSource.mightMatch(s, EqualTo("service_name", "svc1")))
    assert(!SpanFileSource.mightMatch(s, EqualTo("service_name", "svc2")))
    assert(SpanFileSource.mightMatch(s, GreaterThan("start_ns", 199L)))
    assert(!SpanFileSource.mightMatch(s, GreaterThan("start_ns", 200L)))
    assert(SpanFileSource.mightMatch(s, LessThan("start_ns", 101L)))
    assert(!SpanFileSource.mightMatch(s, LessThan("start_ns", 100L)))
    assert(SpanFileSource.mightMatch(s, IsNotNull("whatever")))
  }

  test("an empty required schema still yields one row per span " +
    "(count(*) pushdown shape)") {
    assert(source().count() ==
      SpanFixture.NFiles.toLong * SpanFixture.SpansPerFile)
  }

  test("aggregate pushdown answers count/min/max from the sidecar " +
    "with zero files opened") {
    val df = SourceOps.dsv2AggStats(spark, sf0001)
    val row = df.collect().head
    val p = plan(df)
    assert(p.contains("GraftSpanStatsAgg files=0/24"), p)
    val want = SpanFixture.expected(spark)
      .agg(count(lit(1)), min(col("start_ns")), max(col("start_ns")))
      .collect().head
    assert(row.getLong(0) == want.getLong(0))
    assert(row.getLong(1) == want.getLong(1))
    assert(row.getLong(2) == want.getLong(2))
  }

  test("aggregate over an EMPTY sidecar dir declines the pushdown and " +
    "returns SQL's empty-table answer (count 0, min/max NULL)") {
    // collector started, nothing ingested: stats list is empty — a
    // pushed min over it would have to fabricate a non-nullable value
    // (it previously threw empty.min at planning)
    val d = SparkSpec.tempDir("graft_empty_src")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "_stats.json"), "[]".getBytes("UTF-8"))
    val df = SpanFileSource.read(spark, d)
      .agg(count(lit(1)), min(col("start_ns")), max(col("start_ns")))
    val row = df.collect().head
    assert(plan(df).contains("GraftSpanScan"), plan(df))
    assert(row.getLong(0) === 0L)
    assert(row.isNullAt(1) && row.isNullAt(2))
  }

  test("grouped or filtered aggregates fall back to the row scan") {
    val grouped = source().groupBy(col("service_name")).count()
    grouped.collect()
    assert(plan(grouped).contains("GraftSpanScan"), plan(grouped))
    val filtered = source()
      .filter(col("service_name") === "svc0").agg(count(lit(1)))
    val n = filtered.collect().head.getLong(0)
    assert(plan(filtered).contains("GraftSpanScan"), plan(filtered))
    // svc0 serves hours 0,5,10,15,20 -> 5 files x 5 spans
    assert(n == 25L)
    // an unservable aggregate (min of a non-stats column) also falls back
    val other = source().agg(min(col("duration_ns")))
    other.collect()
    assert(plan(other).contains("GraftSpanScan"), plan(other))
  }

  test("micro-batch stream: 8-file admission paces the fixture into 3 " +
      "batches, offsets round-trip through JSON, final state == batch") {
    val d = SpanFixture.ensure(spark)
    val q = spark.readStream
      .format(classOf[SpanFileSource].getName)
      .option("maxFilesPerTrigger", "8")
      .load(d)
      .groupBy(col("service_name")).agg(count(lit(1)).as("n_spans"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("a8_spec_stream").start()
    try q.processAllAvailable() finally q.stop()
    // 24 fixture files / 8 per trigger = 3 data-carrying batches; the
    // engine may append an empty no-new-data batch at the tail
    val dataBatches = q.recentProgress
      .filter(_.numInputRows > 0)
    assert(dataBatches.length === 3,
      q.recentProgress.map(p => p.numInputRows).mkString(","))
    // each admitted batch carries exactly 8 files x 5 spans
    assert(dataBatches.forall(_.numInputRows ===
      8L * SpanFixture.SpansPerFile),
      dataBatches.map(_.numInputRows).mkString(","))
    val got = spark.table("a8_spec_stream")
      .orderBy("service_name").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = source().groupBy(col("service_name"))
      .agg(count(lit(1)).as("n_spans")).orderBy("service_name").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want, "finite stream must equal the batch rollup")
    // offsets surface through the progress API in their JSON form —
    // the final committed end offset is the full 24-file listing
    // (deserializeOffset round-tripped it every trigger to get here)
    val lastEnd = q.recentProgress.flatMap(p =>
      p.sources.map(_.endOffset)).last
    assert(lastEnd.contains("\"filesSeen\":24"), lastEnd)
  }

  /** Copy the span fixture into a writable temp dir. */
  private def copyFixture(): String = {
    val src = java.nio.file.Paths.get(SpanFixture.ensure(spark))
    val dst = java.nio.file.Paths.get(SparkSpec.tempDir("graft-stream-dir"))
    java.nio.file.Files.list(src).forEach { f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName))
    }
    dst.toString
  }

  /** Clone an existing fixture file (and its stats entry) under a new
    * name, so the directory "grows" the way a collector grows it. */
  private def appendFile(dir: String, newName: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.copy(p.resolve("spans_h0.json"),
      p.resolve(newName))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val stats = mapper.readTree(p.resolve("_stats.json").toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val entry = stats.get(0)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    entry.put("file", newName)
    stats.add(entry)
    java.nio.file.Files.write(p.resolve("_stats.json"),
      mapper.writeValueAsBytes(stats))
  }

  test("stream admits files appended mid-run (the listing refreshes " +
      "per trigger); a file arriving INSIDE the seen prefix fails " +
      "loudly instead of silently re-indexing") {
    val dir = copyFixture()
    val q = spark.readStream
      .format(classOf[SpanFileSource].getName)
      .option("maxFilesPerTrigger", "8")
      .load(dir)
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("a8_grow_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("a8_grow_stream").collect()(0).getLong(0) ===
        SpanFixture.NFiles.toLong * SpanFixture.SpansPerFile)
      // collector drops one more file, named to sort AFTER the prefix
      appendFile(dir, "spans_z0.json")
      q.processAllAvailable()
      assert(spark.table("a8_grow_stream").collect()(0).getLong(0) ===
        (SpanFixture.NFiles + 1).toLong * SpanFixture.SpansPerFile,
        "the appended file must be admitted by a later trigger")
      // a file sorting BEFORE the consumed range shifts every positional
      // offset: the prefix fingerprint must refuse to continue
      appendFile(dir, "spans_a0.json")
      val ex = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
        appendFile(dir, "spans_z9.json") // new data so a trigger fires
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c =>
        c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("changed after being read")),
        causes(ex).map(_.toString).mkString(" | "))
    } finally q.stop()
  }
}
