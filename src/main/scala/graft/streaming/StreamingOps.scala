package graft.streaming

import graft._
import graft.spans.OtlpIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming surface (SURVEY §1.5, §7 PR 5). The reference's
  * "streaming" is push-based micro-batching by accident — each OTLP POST
  * becomes one ClickHouse batch insert (collector/service.go:176,
  * utils/utils.go:169-240) with no watermark or late-data policy. Here the
  * same pipeline is an actual streaming job: file/Kafka source of OTLP
  * JSON or protobuf → the SAME per-partition OtlpIngest decoder
  * (stateless, so batch/stream agnostic) → watermark → sink; monitoring
  * series become windowed streaming aggregations. An undecodable request
  * is dropped and counted (`OtlpProto.droppedMessages`) rather than
  * failing the micro-batch, which would replay and fail forever.
  *
  * Late data: spans arriving later than the watermark delay are dropped
  * from streaming aggregates (the reference silently keeps them because
  * every query rescans the table — SURVEY §1.5); the batch operators over
  * the stored table retain that retroactive behavior.
  *
  * Scratch: the registry drives re-derive their input on every run, so
  * their checkpoints recover nothing across processes. Each drive
  * checkpoints under a fresh [[graft.util.Memo.path]] root, and the
  * split copies of its input tables are per-process
  * [[graft.util.ArtifactCache]] artifacts: both lie under
  * [[graft.util.TempArtifacts.fastBase]] and are deleted at exit.
  */
object StreamingOps extends QueryModule {

  /** A1-streaming: OTLP/JSON request stream (one JSON document per line)
    * → flattened span rows with event-time column and watermark. */
  def streamOtlpJson(spark: SparkSession, inputDir: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    watermarked(OtlpIngest.fromJson(spark.readStream.text(inputDir).as[String]),
      watermarkDelay)
  }

  /** Span rows with the `start_ts` event-time column and its watermark,
    * for every OTLP source. */
  private def watermarked(spans: DataFrame, delay: String): DataFrame =
    spans
      .withColumn("start_ts",
        timestamp_micros(expr("start_time_unix_nano div 1000")))
      .withWatermark("start_ts", delay)

  /** A4-streaming: append each micro-batch to the date-partitioned span
    * store via foreachBatch — the exact write path batch ingest uses. */
  def writeToSpanStore(spans: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    // delegates to the ONE sink seam (this was a verbatim copy of
    // streamTo + ParquetSpanSink — round-10 review); the watermark
    // column is dropped HERE, by the layer that added it
    graft.sinks.SpanSinks.streamTo(spans.drop("start_ts"),
      new graft.sinks.ParquetSpanSink(path), checkpoint)

  /** A1-streaming, protobuf branch: a binary-file stream of serialized
    * ExportTraceServiceRequest payloads (the shape a Kafka value column
    * has) decoded per micro-batch through the wire decoder. */
  def streamOtlpProtobuf(spark: SparkSession, inputDir: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    // binaryFile's fixed schema must be stated explicitly for streaming
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val raw = spark.readStream.format("binaryFile").schema(binarySchema)
      .option("pathGlobFilter", "*.pb").load(inputDir)
      .select(col("content")).as[Array[Byte]]
    watermarked(graft.spans.OtlpProto.fromProtobuf(raw), watermarkDelay)
  }

  /** A1-streaming, Kafka branch: `format("kafka")` reader feeding the
    * SAME decode path as the binary-file stream — the only difference
    * between the two sources is where the `value: binary` column comes
    * from. The connector jar (spark-sql-kafka-0-10) is not shipped in
    * this build's classpath — verified unobtainable in-sandbox: absent
    * from /opt/spark/jars and every local ivy/coursier/maven cache, and
    * the build resolves offline (COURSIER_MODE=offline, zero egress) so
    * no vendoring path exists (re-verified rounds 10-12; round 12 also
    * re-probed the media codecs for v7's decode stub — PIL/cv2/javacv
    * all absent). This is therefore compile-checked
    * wiring; the decode half ([[fromKafkaValues]]) is specced against
    * the exact (key, value, topic, partition, offset, timestamp) row
    * shape the connector emits, proving plug-compatibility. */
  def streamOtlpKafka(spark: SparkSession, bootstrapServers: String,
      topic: String, watermarkDelay: String = "10 minutes"): DataFrame =
    fromKafkaValues(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load(),
      watermarkDelay)

  /** Kafka-shaped rows (`value: binary` + source metadata columns) →
    * flattened watermarked span rows via the protobuf wire decoder.
    * Works on a batch frame (`spark.read.format("kafka")`) and a
    * streaming one; a corrupt value fails the batch and is dropped and
    * counted by the stream, as for every OTLP source. */
  def fromKafkaValues(kafkaRows: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = kafkaRows.sparkSession
    import spark.implicits._
    watermarked(graft.spans.OtlpProto.fromProtobuf(
      kafkaRows.select(col("value")).as[Array[Byte]]), watermarkDelay)
  }

  /** D7-streaming: tumbling-window span/event counts. */
  def windowedCounts(stream: DataFrame, tsCol: String,
      windowLength: String): DataFrame =
    stream.groupBy(window(col(tsCol), windowLength))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("bucket_s"), col("n"))

  /** V6-streaming: gap-based sessionization via session_window — the
    * streaming twin of SessionOps.sessionize. */
  def sessionWindows(stream: DataFrame, tsCol: String, userCol: String,
      gap: String = "30 minutes"): DataFrame =
    stream.groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol),
        unix_timestamp(col("session_window.start")).as("start_s"),
        unix_timestamp(col("session_window.end")).as("end_s"),
        col("n_events"))

  /** Split unit for [[tableStream]]'s re-layout: ~16 KiB of parquet
    * per file — small enough that every driver SF's hot tables split
    * to [[SplitCap]] width (sf0.001's documents still get 3 files),
    * large enough that a sub-unit table builds no copy at all. */
  private val SplitUnitBytes = 16L << 10

  /** Width ceiling for the re-layout. NOT a local-core tuning: each
    * extra file costs per-batch reader setup (footer read, filter
    * pushdown init, one task's scheduling) in EVERY micro-batch, while
    * the parallel gain saturates once the per-row map work is spread —
    * a 13-run 3-arm A/B (off / 8 / session-width=32, elementwise
    * floors, OPTIMIZATION_r13.md) measured 8 strictly dominating both
    * 1 and 32 at BOTH bench widths' file sizes. Deployment inputs
    * never enter the copy branch at all, so this caps only the toy
    * re-layout. */
  private val SplitCap = 8L

  /** Files to re-lay `bytes` of parquet out as: one per split unit, at
    * most [[SplitCap]] and the session width, at least 1. Both split
    * sources ([[splitCopyPath]] and the sentinel drives' frame) size
    * their copy here. */
  private def splitWidth(spark: SparkSession, bytes: Long): Int =
    math.max(1L, math.min(math.min(SplitCap,
      spark.sparkContext.defaultParallelism.toLong),
      bytes / SplitUnitBytes)).toInt

  /** [[tableStream]] never copies an input above this: a single file
    * this large carries many row groups and splits on its own; it is
    * only the toy single-row-group shape that needs the re-layout. */
  private val MaxSplitCopyBytes = 1L << 30

  /** Streaming source over a registry table, PRE-SPLIT for micro-batch
    * scan parallelism (guide §2.5/§6 — the round-12 verdict's top
    * item): the driver testdata ships each table as ONE
    * single-row-group parquet file, so a micro-batch scan planned over
    * it is a single task and all per-row work a drive fuses into the
    * scan stage runs on ONE core, at any session width. The drive
    * source is each entry's own input prep (the stdrive_frame
    * convention), so the table is re-laid out once per process and
    * (dir, width) as a multi-file [[graft.util.ArtifactCache]] copy,
    * and every drive streams the split copy: same rows, schema and
    * values — only file boundaries change, and every registry drive is
    * an aggregation or ends in an explicit orderBy, so outputs are
    * identical. All files
    * are present before `start()`, so batch structure is unchanged
    * (one data micro-batch). Scale-adaptive by construction: the
    * target is derived from input size and session parallelism, and a
    * deployment-scale input (many row groups / many files) never
    * enters the copy branch — it splits on its own. */
  def tableStream(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    val schema = Tables.table(spark, dir, table).schema
    splitCopyPath(spark, dir, table) match {
      case Some(split) => spark.readStream.schema(schema).parquet(split)
      case None => spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
    }
  }

  /** The split copy's path, building it on first use — None when the
    * input doesn't need (or shouldn't get) a re-layout. Package-private
    * so StreamingSpec can pin the copy row-identical to the table. */
  private[graft] def splitCopyPath(spark: SparkSession, dir: String,
      table: String): Option[String] = {
    val f = new java.io.File(s"$dir/$table.parquet")
    val target =
      if (!f.isFile || f.length() > MaxSplitCopyBytes) 1
      else splitWidth(spark, f.length())
    if (target <= 1) None
    else Some(graft.util.ArtifactCache.cached(
      s"stsrc_$table-n$target", dir) { p =>
      spark.read.parquet(f.getPath).repartition(target)
        .write.mode("overwrite").parquet(p)
    })
  }

  /** Events parquet as a file stream (schema must be supplied up front in
    * streaming reads). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // normalizeTsNs dispatches on the static schema, so it composes with
    // a streaming frame exactly as with a batch one.
    Tables.withEpochCols(
        Tables.normalizeTsNs(tableStream(spark, dir, "events")))
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
  }

  /** Size the state store to the stream for the duration of `body`: a
    * streaming query fixes its state-store partition count at start from
    * shuffle.partitions, and 32 partitions of per-batch state files are
    * pure machinery overhead at registry volume (a real deployment sizes
    * this to keys/throughput). Must wrap `start()` — the conf is read at
    * query planning, not per batch. */
  private def withStreamSizedShuffle[A](spark: SparkSession, n: Int)(
      body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    // No-data micro-batches exist to advance the watermark so state can
    // EVICT and append-mode windowed aggs can EMIT closed windows. No
    // drive routed through here is in that class: complete-mode aggs
    // re-emit their whole state on every data batch, and the append
    // drives are stateless gates, inner stream-stream joins, or
    // dropDuplicates — all of which emit on the DATA batch and use the
    // watermark only for eviction. On these finite registry drives the
    // extra empty batch is pure fixed cost (one more offset-log write,
    // state-store commit and plan execution per query), so skip it.
    // The two flatMapGroupsWithState entries (st3/st4) advance their
    // watermark with sentinel DATA files and do not pass through this
    // wrapper's sink helpers' no-data dependence either way.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // Checkpoints (offset log, commit log, state-store deltas) are
    // per-process scratch here: these finite drives re-derive their
    // input on every run, so nothing needs to recover a query after
    // the process exits. Each drive gets a fresh Memo.path root, under
    // the one scratch root and deleted at exit (Spark does not clean a
    // query's checkpoint under a configured root on stop). Fresh per
    // DRIVE: under a root each query checkpoints at <root>/<queryName>,
    // and a REUSED query name (a8's is pid-stable across a bench's two
    // runs) would resume its committed offsets and replay nothing —
    // silently emptying the second run's result. A production
    // deployment keeps its checkpoint on durable storage.
    val prevCkpt = spark.conf.getOption(
      "spark.sql.streaming.checkpointLocation")
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      graft.util.Memo.path("graft_ckpt"))
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      prevCkpt match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.checkpointLocation", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.checkpointLocation")
      }
    }
  }

  /** Run a finite streaming plan to completion and return the final
    * result as a batch DataFrame (memory sink). Aggregations use
    * complete mode; non-aggregating plans (stream-stream joins) must
    * use append — complete requires an aggregation, and a join's
    * matched rows are final once emitted. */
  def runToBatch(spark: SparkSession, agg: DataFrame, name: String,
      mode: String = "complete", shufflePartitions: Int = 2): DataFrame = {
    withStreamSizedShuffle(spark, shufflePartitions) {
      val q = agg.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    // detach the result from the memory sink's temp view and DROP the
    // view: every drive registers a unique nanoTime-suffixed name, so
    // undropped sink tables (some corpus-shaped) would accumulate in
    // driver memory for the JVM's lifetime (round-10 review). The
    // localCheckpoint blocks are released by the bench's between-entry
    // hygiene like every other materialized frame.
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name): Unit
    out
  }

  /** [[runToBatch]] in append mode, for non-aggregating plans.
    * `shufflePartitions` sizes the drive's shuffles AND state stores
    * (read at query start): 2 suits the tiny-state gates; a drive
    * whose batch is join-compute-bound (st24's band join + shingle
    * intersect) buys real parallelism with a few more near-free
    * state stores. */
  def runToBatchAppend(spark: SparkSession, df: DataFrame,
      name: String, shufflePartitions: Int = 2): DataFrame =
    runToBatch(spark, df, name, "append", shufflePartitions)

  /** Run a finite stream to completion through `foreachBatch` — the
    * per-micro-batch serving-loop shape (st21b): the caller's function
    * sees each micro-batch as a plain DataFrame and may run arbitrary
    * batch dataflow (pruned reads, joins, writes). Same state-store
    * sizing discipline and fresh checkpoint root as [[runToBatch]]. */
  def runForeachBatch(spark: SparkSession, df: DataFrame, name: String)(
      fn: (DataFrame, Long) => Unit): Unit =
    withStreamSizedShuffle(spark, 2) {
      val q = df.writeStream
        .foreachBatch { (b: DataFrame, id: Long) => fn(b, id) }
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }

  /** ST6: streaming quantile series — the streaming twin of T14/D8.
    * Exact percentiles are HOLISTIC (Spark rejects them in streaming
    * aggregations), which is precisely what the mergeable
    * [[graft.functions.QuantileSketchAgg]] exists for: O(compression)
    * state per window, associative merges across micro-batches, same
    * operator in batch and streaming. Buckets are the reference's
    * range/15 step (172800 s), epoch-aligned like T14's. Rows-only
    * entry — sketch output is approximate by design; tolerance vs the
    * exact batch series is pinned in StreamingSpec. */
  def streamingQuantileSeries(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("event_ts"), "172800 seconds"))
      .agg(graft.functions.QuantileSketch
        .percentile_sketch(col("value"), 0.9).as("p90"))
      .select(unix_timestamp(col("window.start")).as("bucket_s"),
        round(col("p90"), 6).as("p90"))
    runToBatch(spark, agg, s"st6_pseries_${System.nanoTime()}")
      .orderBy(col("bucket_s"))
  }

  /** ST6b: the EXACT half of the streaming percentile series. Per-bucket
    * count and the decimal-exact mean are ALGEBRAIC — mergeable across
    * micro-batches with O(1) state per window — so unlike the holistic
    * p90 (which must ride the sketch, st6) they equal the batch
    * aggregate on finite input and carry a full DuckDB oracle: the
    * streaming series surface gets a hash-checked row like st1-st5,
    * and only the genuinely-approximate column stays rows-only. */
  def streamingSeriesExact(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("event_ts"), "172800 seconds"))
      .agg(count(lit(1)).as("n"),
        Exact.avgExact(col("value")).as("avg_v"))
      .select(unix_timestamp(col("window.start")).as("bucket_s"),
        col("n"), col("avg_v"))
    runToBatch(spark, agg, s"st6b_series_${System.nanoTime()}")
      .orderBy(col("bucket_s"))
  }

  /** ST7: streaming exact dedup — V1's hash-groupBy arriving as a
    * stream: one state row per distinct (source, text hash), with the
    * representative (min doc_id) and the duplicate count maintained
    * incrementally. min/count are algebraic, so the finite-stream
    * result equals the batch group-by exactly — full oracle. At 100 TB
    * the state is one row per DISTINCT document (not per document):
    * the streaming form of the dedup ledger a continuously-ingesting
    * corpus maintains. Keyed by (source, hash) rather than hash alone
    * so the output is arrival-order-independent. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val agg = docs
      .groupBy(col("source"), md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
    runToBatch(spark, agg, s"st7_dedup_${System.nanoTime()}")
      .orderBy(col("source"), col("keep_id"))
  }

  /** ST8: stream-stream as-of-style join — purchases joined to the
    * same user's views from the preceding hour, both sides arriving as
    * streams. THE canonical Structured Streaming join: the time-bound
    * condition plus the watermarks is what lets the engine DROP view
    * state older than (purchase watermark − 1 h) instead of buffering
    * both streams forever — state is bounded by one hour of views per
    * user however long the job runs. Inner join in append mode; on
    * finite input the result equals the batch join exactly, so it
    * carries a full DuckDB oracle like st1-st5/st7. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = eventsStream(spark, dir)
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts_us").as("p_ts_us"), col("event_ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = base.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts_us").as("v_ts_us"), col("event_ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val joined = purchases.join(views,
      col("v_user") === col("p_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_id").as("purchase_id"), col("p_user").as("user_id"),
        col("p_ts_us").as("purchase_ts_us"), col("v_id").as("view_id"),
        col("v_ts_us").as("view_ts_us"))
    runToBatchAppend(spark, joined, s"st8_ssjoin_${System.nanoTime()}")
      .orderBy(col("purchase_id"), col("view_id"))
  }

  /** ST9: BOUNDED-STATE streaming dedup — `dropDuplicatesWithinWatermark`
    * keyed on event_id over a deliberately duplicated stream (the events
    * stream unioned with itself: every row arrives twice). st7's exact
    * ledger holds one state row per distinct key FOREVER — right for a
    * dedup ledger, wrong for an infinite keyspace; this is the other
    * regime: state is dropped once the watermark passes a key's event
    * time, so an unbounded stream holds only a watermark-window of keys
    * — the at-least-once-source dedup step of a production ingest. On
    * this finite input every duplicate arrives inside the window, so the
    * result equals batch DISTINCT exactly and carries a full oracle. */
  def streamingDedupBounded(spark: SparkSession, dir: String): DataFrame = {
    val once = eventsStream(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts_us"),
        col("event_ts"))
    val deduped = once.unionByName(once)
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"), col("ts_us"))
    runToBatch(spark, deduped, s"st9_dedup_${System.nanoTime()}", "append")
      .orderBy(col("event_id"))
  }

  /** ST1: the registry entry — streaming hourly event counts, run to
    * completion over the events file stream. The result equals the batch
    * group-by, so it IS oracle-checkable: streaming and batch semantics
    * agree on finite input. */
  def streamingCounts(spark: SparkSession, dir: String): DataFrame = {
    val counts = windowedCounts(eventsStream(spark, dir), "event_ts", "1 hour")
    runToBatch(spark, counts, s"st1_counts_${System.nanoTime()}")
      .orderBy(col("bucket_s"))
  }

  /** ST2: streaming session windows, run to completion — equals the
    * batch gap-sessionization on finite input (session_window end =
    * last event + gap), so it is oracle-checkable too. */
  def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionWindows(eventsStream(spark, dir), "event_ts",
      "user_id")
    runToBatch(spark, sess, s"st2_sessions_${System.nanoTime()}")
      .orderBy(col("user_id"), col("start_s"))
  }

  /** Events mapped to span shape for the stateful-operator entries:
    * trace = user, start on a µs basis (so DuckDB's ns→µs truncation
    * can't diverge), deterministic 1-in-4 sample — the stateful path is
    * exercised identically (all traces, fewer spans) at a quarter of
    * the micro-batch volume. BOTH st3/st4 oracles mirror the predicate
    * and this projection exactly. A batch FRAME — the drive below keeps
    * it executor-side end to end. */
  private def sampledSpanFrame(spark: SparkSession,
      dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(pmod(col("event_id"), lit(4)) === 0)
      .select(
        col("user_id").cast("string").as("trace_id"),
        col("event_id").cast("string").as("span_id"),
        lit("").as("parent_span_id"),
        col("event_type").as("name"),
        col("event_type").as("scope_name"),
        expr("ts div 1000").as("start_time_unix_nano"), // µs basis
        floor(col("value")).cast("long").as("duration_ns"))

  /** Test-only seam: the source description of the last sentinel-file
    * drive, read from the query's final progress — StreamingSpec pins
    * that the stateful entries are driven by a FILE source (executor
    * side), not a driver-materialized MemoryStream. Never read by
    * production code. */
  private[graft] var lastDriveSource: String = ""

  /** Drive a stateful operator over the sampled span stream with two
    * sentinel batches pushing the watermark past every gap deadline
    * (timeouts fire one batch AFTER the watermark passes them), then
    * return the memory-sink table with sentinel traces dropped.
    *
    * The drive is a FILE stream, not a MemoryStream: the sampled frame
    * is written executor-side as one parquet file (one file ⇒ all real
    * spans land in micro-batch 1, the same batch structure the old
    * MemoryStream drive had), the query starts against the directory,
    * and each sentinel is appended as a new FILE between
    * `processAllAvailable()` calls — discovery order guarantees the
    * sentinels arrive in later micro-batches. Nothing corpus-sized ever
    * touches the driver: the sentinels are two constant 1-row frames,
    * and `maxUs` is a 1-row aggregate. The state store is sized to the
    * stream for the run (32 partitions × 3 micro-batches of state files
    * is pure machinery at this volume). */
  private def runWithSentinels(spark: SparkSession, name: String,
      outputMode: String, dir: String)(
      op: org.apache.spark.sql.Dataset[TraceAssembler.SpanEvent] =>
        DataFrame): DataFrame = {
    import spark.implicits._
    // The quarter-corpus dump + its 1-row max aggregate are pure INPUT
    // PREP, identical for every drive over one dir — build them once
    // per process (ArtifactCache) instead of per drive (st3 and st4
    // each drove it twice under the bench's min-of-2: 4 writes of the
    // same file). Each drive still gets a FRESH stream dir (sentinel
    // files from a previous drive must not pollute batch 1), with the
    // immutable dump HARDLINKED in — per-drive cost drops to one
    // link(2) call. The max is consumed HERE, baking the two sentinel
    // files, so no drive re-reads the dump to place its sentinels.
    // split like [[tableStream]] (the quarter sample keeps ~1/4 of the
    // events bytes): all data files are present before start(), so the
    // real spans still all land in micro-batch 1 — only the batch-1
    // scan's task count changes
    val nSplit = {
      val ef = new java.io.File(s"$dir/events.parquet")
      if (!ef.isFile) 1 else splitWidth(spark, ef.length() / 4)
    }
    val prep = graft.util.ArtifactCache.cached(
        s"stdrive_frame-n$nSplit", dir) { p =>
      sampledSpanFrame(spark, dir).repartition(nSplit)
        .write.mode("overwrite").parquet(p)
      val mx = spark.read.parquet(p)
        .agg(coalesce(max(col("start_time_unix_nano")), lit(0L)))
        .first().getLong(0)
      // The two 1-row sentinel FILES are per-dir constants too (they
      // depend only on mx), so they are baked here once and HARDLINKED
      // into each drive's stream dir between batches — each drive
      // previously ran a full 1-row parquet write JOB per sentinel
      // (~0.15 s × 2 × 2 bench runs, pure machinery). The ".sentinel"
      // leaf name keeps the initial data-link loop (which links
      // "*.parquet") from shipping them into batch 1.
      def bake(fname: String, id: String, offsetUs: Long): Unit = {
        val tmp = s"$p/_tmp_$fname"
        Seq(TraceAssembler.SpanEvent(
            id, "sx", "", "wm", "wm", mx + offsetUs, 1L)).toDF()
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(p, fname)): Unit
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(tmp))
      }
      bake("wm1.sentinel", "WM1", 100000000000L)
      bake("wm2.sentinel", "WM2", 200000000000L)
    }
    // one fresh exit-deleted dir per run, holding links to the shared
    // dump
    val streamDir = graft.util.Memo.path("graft_stdrive")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(streamDir))
    new java.io.File(prep).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(streamDir, f.getName), f.toPath): Unit
      }
    // Empty input still needs the sentinel batches to run (and then be
    // filtered) so the caller gets an empty frame with the right
    // schema. Dropping a sentinel = one link(2) call to the baked file.
    def sentinel(fname: String): Unit =
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(streamDir, fname),
        java.nio.file.Paths.get(prep, fname)): Unit
    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[
        TraceAssembler.SpanEvent]].schema)
      .parquet(streamDir).as[TraceAssembler.SpanEvent]
    val out = op(src)
    withStreamSizedShuffle(spark, 2) {
      val q = out.writeStream.outputMode(outputMode).format("memory")
        .queryName(name).start()
      try {
        q.processAllAvailable() // batch 1: the data file
        sentinel("wm1.sentinel")
        q.processAllAvailable() // batch 2: watermark passes the deadlines
        sentinel("wm2.sentinel")
        q.processAllAvailable() // batch 3: the timeouts fire
        lastDriveSource = Option(q.lastProgress)
          .flatMap(p => p.sources.headOption).map(_.description)
          .getOrElse("")
      } finally q.stop()
    }
    spark.table(name).filter(!col("trace_id").startsWith("WM"))
  }

  /** ST3: the custom-state trace assembler (flatMapGroupsWithState +
    * event-time timeouts) as an ORACLE-CHECKED entry. On finite input
    * the result equals a per-trace batch rollup, which DuckDB recomputes
    * independently: the stateful streaming path itself is
    * driver-verified, like st1/st2. */
  def streamingTraceAssembly(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runWithSentinels(spark, s"st3_assembled_${System.nanoTime()}",
      "append", dir)(
      ds => TraceAssembler.assembleTraces(ds, gapMs = 60000).toDF())
      .select(col("trace_id"), col("n_spans"), col("root_name"),
        array_join(col("services"), ",").as("services_csv"),
        col("start_ns").as("start_us"),
        col("total_duration_ns").as("total_duration_us"))
      .orderBy(col("trace_id"))
  }

  /** ST4: the mapGroupsWithState running-status operator, oracle-checked
    * like ST3. Update mode emits a row per trace per batch; the FINAL
    * status per trace (all spans seen — one batch here — or the closing
    * emission on timeout) has the max n_spans, so a max_by collapse
    * yields a deterministic frame DuckDB recomputes as a plain rollup. */
  def streamingTraceStatus(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    runWithSentinels(spark, s"st4_status_${System.nanoTime()}",
      "update", dir)(
      ds => TraceAssembler.traceStatus(ds, watermarkDelay = "1 second")
        .toDF())
      .groupBy(col("trace_id"))
      .agg(max(col("n_spans")).as("n_spans"),
        max_by(array_join(col("services"), ","), col("n_spans"))
          .as("services_csv"),
        max(col("last_start_ns")).as("last_start_us"))
      .orderBy(col("trace_id"))
  }

  /** ST5: the Misra-Gries heavy-hitters summary as STREAMING state —
    * mergeable, so it drops into a complete-mode streaming aggregation
    * unchanged; on this column cardinality ≤ k keeps it exact, hence
    * oracle-checkable like st1/st2. */
  def streamingHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.FreqSketch.freq_sketch
    val agg = eventsStream(spark, dir)
      .agg(freq_sketch(col("event_type")).as("top"))
    runToBatch(spark, agg, s"st5_hh_${System.nanoTime()}")
      .select(explode(col("top")).as("hh"))
      .select(col("hh.item").as("event_type"), col("hh.est").as("n"),
        col("hh.err_bound").as("err_bound"))
      .orderBy(col("n").desc, col("event_type"))
  }

  /** ST11: SLIDING-window streaming counts — 2 h windows advancing
    * every hour, completing the window-regime coverage (st1 tumbling,
    * st2 session, st6 tumbling-sketch): each event feeds exactly
    * window/slide = 2 state rows, so state is bounded at 2× the
    * tumbling equivalent and merges are algebraic — the finite-stream
    * result equals the batch double-bucketing, hence a full oracle. */
  def streamingSlidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("event_ts"), "7200 seconds", "3600 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("bucket_s"), col("n"))
    runToBatch(spark, agg, s"st11_slide_${System.nanoTime()}")
      .orderBy(col("bucket_s"))
  }

  /** ST10: stream-static join — the purchase stream enriched with a
    * STATIC per-user profile (historical view counts read from the
    * batch table). The third of Structured Streaming's join regimes
    * next to st8's stream-stream and the stream-side lookups: the
    * static side is a bounded batch plan re-evaluated per micro-batch
    * and BROADCAST (it is dimension-sized), so the unbounded stream
    * side never shuffles and no join state accumulates at all —
    * enrichment against reference data is exactly this shape at any
    * scale. Left join keeps never-viewed purchasers with n_views=0. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: the static profile would re-aggregate the events
    // table every micro-batch (broadcast sides re-execute per batch);
    // bounded by the user domain — it is the broadcast side already
    val userViews = Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_views"))
      .localCheckpoint()
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val joined = purchases
      .join(org.apache.spark.sql.functions.broadcast(userViews),
        Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        coalesce(col("n_views"), lit(0L)).as("n_views"))
    runToBatchAppend(spark, joined, s"st10_ssj_${System.nanoTime()}")
      .orderBy(col("event_id"))
  }

  /** ST12: streaming drift monitor — v35's distribution-shift check
    * arriving as a stream: the per-(day, type, bin) value histogram is
    * maintained INCREMENTALLY (counts are algebraic — O(windows × bins)
    * state rows, bounded by the DOMAIN since the bin grid is fixed),
    * and the read side turns the materialized histogram into each day's
    * total-variation distance against the static full-corpus reference
    * shares. Stateful accumulation in the stream, stateless alert
    * arithmetic over the (days × bins)-bounded sink table — the split a
    * production feed monitor uses, and why no second streaming
    * aggregation is needed. Integer micro-unit math identical to v35's;
    * (day, type) groups are emitted only when the day observed that
    * type (a 0-count group has no shares to compare). Counts are
    * algebraic, so the finite-stream histogram equals the batch one —
    * full oracle. */
  def streamingDrift(spark: SparkSession, dir: String): DataFrame = {
    val bin = floor(col("value") / 25.0).cast("int").as("bin")
    val hist = eventsStream(spark, dir)
      .groupBy(window(col("event_ts"), "86400 seconds"),
        col("event_type"), bin)
      .agg(count(lit(1)).as("nd"))
      .select(unix_timestamp(col("window.start")).as("day_s"),
        col("event_type"), col("bin"), col("nd"))
    val daily = runToBatch(spark, hist, s"st12_drift_${System.nanoTime()}")
    val ref = Tables.events(spark, dir)
      .groupBy(col("event_type"), bin)
      .agg(count(lit(1)).as("nr"))
    // day frame from the DOMAIN (the sink table's fixed attribute ids
    // would make a days-from-daily self-join unresolvable); (day, type)
    // groups the stream never observed are dropped by the ndt>0 guard —
    // a 0-count group has no shares to compare
    val days = spark.range(EventWindow.StartS, EventWindow.EndS, 86400L)
      .toDF("day_s")
    val grid = days.crossJoin(ref)
      .join(daily, Seq("day_s", "event_type", "bin"), "left")
      .withColumn("nd", coalesce(col("nd"), lit(0L)))
    val wd = Window.partitionBy(col("day_s"), col("event_type"))
    grid
      .withColumn("ndt", sum(col("nd")).over(wd))
      .withColumn("nrt", sum(col("nr")).over(wd))
      .filter(col("ndt") > 0)
      .withColumn("d", abs(
        Exact.intDiv(col("nd") * 1000000L + shiftright(col("ndt"), 1),
          col("ndt")) -
        Exact.intDiv(col("nr") * 1000000L + shiftright(col("nrt"), 1),
          col("nrt"))))
      .groupBy(col("day_s"), col("event_type"))
      .agg(max(col("ndt")).as("n_day"),
        (sum(col("d")).cast("double") / 2000000.0).as("tvd"))
      .orderBy(col("day_s"), col("event_type"))
  }

  private lazy val streamingDriftSql: String = {
    val pm = OracleSql.ratio6Micro("nd", "ndt")
    val qm = OracleSql.ratio6Micro("nr", "nrt")
    s"""WITH h AS (
       |  SELECT (epoch_us(ts)//1000000)//86400*86400 AS day_s, event_type,
       |   CAST(floor(value / 25.0) AS INT) AS bin, count(*) AS nd
       |  FROM events GROUP BY 1, 2, 3),
       | r AS (
       |  SELECT event_type, CAST(floor(value / 25.0) AS INT) AS bin,
       |   count(*) AS nr
       |  FROM events GROUP BY 1, 2),
       | g AS (
       |  SELECT d.day_s, r.event_type, r.bin, r.nr, coalesce(h.nd, 0) AS nd
       |  FROM (SELECT unnest(range(${EventWindow.StartS},
       |                            ${EventWindow.EndS}, 86400)) AS day_s) d
       |  CROSS JOIN r
       |  LEFT JOIN h ON h.day_s = d.day_s AND h.event_type = r.event_type
       |   AND h.bin = r.bin),
       | s AS (
       |  SELECT day_s, event_type, nd, nr,
       |   sum(nd) OVER (PARTITION BY day_s, event_type) AS ndt,
       |   sum(nr) OVER (PARTITION BY day_s, event_type) AS nrt
       |  FROM g)
       |SELECT day_s, event_type, CAST(max(ndt) AS BIGINT) AS n_day,
       | CAST(sum(abs(($pm) - ($qm))) AS DOUBLE) / 2000000.0 AS tvd
       |FROM s WHERE ndt > 0 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** ST13: streaming expectations — v37's quality gate arriving as a
    * stream: per-day violation counts for the row-level checks
    * (null / range / set-membership), maintained as ONE windowed
    * conditional-sum aggregate (algebraic — O(days) state rows), then
    * reshaped read-side into the per-(day, check) report with strict
    * pass flags. The continuous version of the batch gate: a feed
    * outage shows up as the first red day instead of a failed nightly
    * job. Counts are algebraic → finite-stream = batch → full oracle. */
  def streamingExpectations(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("event_ts"), "86400 seconds"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1).otherwise(0)).as("b_null"),
        sum(when(col("value") < 0 || col("value") > 400, 1).otherwise(0))
          .as("b_range"),
        sum(when(!col("event_type")
          .isin("click", "view", "purchase", "signup", "error"), 1)
          .otherwise(0)).as("b_type"))
      .select(unix_timestamp(col("window.start")).as("day_s"),
        col("n"), col("b_null"), col("b_range"), col("b_type"))
    val daily = runToBatch(spark, agg, s"st13_exp_${System.nanoTime()}")
    def chk(name: String, bad: org.apache.spark.sql.Column) =
      struct(lit(name).as("chk"), bad.cast("long").as("n_bad"))
    daily.select(col("day_s"), col("n").cast("long").as("n_checked"),
      explode(array(
        chk("type_in_set", col("b_type")),
        chk("value_in_range_0_400", col("b_range")),
        chk("value_not_null", col("b_null")))).as("r"))
      .select(col("day_s"), col("r.chk").as("chk"), col("n_checked"),
        col("r.n_bad").as("n_bad"))
      .withColumn("pass", when(col("n_bad") === 0, 1).otherwise(0))
      .orderBy(col("day_s"), col("chk"))
  }

  private lazy val streamingExpectationsSql: String =
    s"""WITH d AS (
       |  SELECT (epoch_us(ts)//1000000)//86400*86400 AS day_s,
       |   count(*) AS n,
       |   sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS b_null,
       |   sum(CASE WHEN value < 0 OR value > 400 THEN 1 ELSE 0 END)
       |     AS b_range,
       |   sum(CASE WHEN event_type NOT IN
       |     ('click','view','purchase','signup','error')
       |     THEN 1 ELSE 0 END) AS b_type
       |  FROM events GROUP BY 1),
       | c AS (
       |  SELECT day_s, 'type_in_set' AS chk, n, b_type AS n_bad FROM d
       |  UNION ALL
       |  SELECT day_s, 'value_in_range_0_400', n, b_range FROM d
       |  UNION ALL
       |  SELECT day_s, 'value_not_null', n, b_null FROM d)
       |SELECT day_s, chk, CAST(n AS BIGINT) AS n_checked,
       | CAST(n_bad AS BIGINT) AS n_bad,
       | CAST(CASE WHEN n_bad = 0 THEN 1 ELSE 0 END AS INT) AS pass
       |FROM c ORDER BY day_s, chk""".stripMargin

  /** ST14: streaming vocabulary ledger — v42's growth curve as a
    * stream, over word BIGRAMS (the unigram vocabulary of this corpus
    * saturates in the first batch; the bigram space keeps growing, so
    * the curve is informative): documents EXPLODE to bigrams inside
    * the stream and the state is one row per DISTINCT bigram
    * (first-seen batch + occurrence count, both algebraic — st7's
    * dedup-ledger regime over an exploded key), so the ledger grows
    * with the vocabulary, not the corpus. Read side turns the
    * materialized ledger into the per-batch novelty curve. Bigram
    * spelling shared with v27. Finite-stream = batch → full oracle. */
  def streamingVocabLedger(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val ledger = docs.filter(col("text").isNotNull)
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        graft.functions.BigramFunctions.bigrams(col("w"))).as("bigram"))
      .withColumn("batch", expr("doc_id div 50"))
      .groupBy(col("bigram"))
      .agg(min(col("batch")).as("fb"), count(lit(1)).as("occ"))
    val mat = runToBatch(spark, ledger, s"st14_vocab_${System.nanoTime()}")
    mat.groupBy(col("fb").as("batch"))
      .agg(count(lit(1)).as("n_new"), sum(col("occ")).as("occ_new"))
      .withColumn("vocab_cum", sum(col("n_new")).over(
        Window.orderBy(col("batch"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("batch"))
  }

  private lazy val streamingVocabSql: String =
    s"""WITH d AS (
       |  SELECT doc_id // 50 AS batch, string_split(lower(text), ' ') AS w
       |  FROM documents
       |  WHERE text IS NOT NULL AND len(string_split(lower(text), ' ')) >= 2),
       | bg AS (
       |  SELECT batch, unnest(list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i + 1])) AS bigram
       |  FROM d),
       | fs AS (SELECT bigram, min(batch) AS fb, count(*) AS occ
       |        FROM bg GROUP BY 1)
       |SELECT fb AS batch, CAST(count(*) AS BIGINT) AS n_new,
       | CAST(sum(occ) AS BIGINT) AS occ_new,
       | CAST(sum(count(*)) OVER (ORDER BY fb
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |   AS vocab_cum
       |FROM fs GROUP BY 1 ORDER BY 1""".stripMargin

  /** ST15: streaming model scoring — the embeddings table replayed as
    * a stream and scored against a FIXED trained model (the v47 seed
    * centroids, built batch-side and broadcast into every micro-batch:
    * the stream-static enrichment every online feature pipeline runs —
    * "assign each arriving vector to its cluster"). Assignment is
    * [[graft.sim.ClusterOps.assign]]'s in-row argmin — per-row, no
    * state — and the per-cluster (count, inertia) rollup is ALGEBRAIC,
    * so state is O(k) and the finite stream equals the batch
    * aggregate, which IS the DuckDB oracle
    * ([[graft.sim.ClusterOps.seedScoreSql]]). At 100 TB/day this is
    * the monitoring surface for representation drift in arriving data:
    * inertia-per-cluster rising means the model no longer fits the
    * stream. */
  def streamingClusterAssign(spark: SparkSession, dir: String): DataFrame = {
    val stream = tableStream(spark, dir, "embeddings")
    val pts = graft.sim.ClusterOps.pointsOf(stream)
    // localCheckpoint: the broadcast centroid table re-executes per
    // micro-batch otherwise (bounded: K rows)
    val cents = graft.sim.ClusterOps.seedCentroids(spark, dir)
      .localCheckpoint()
    val agg = graft.sim.ClusterOps.assign(pts, cents)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("inertia"))
    runToBatch(spark, agg, s"st15_cluster_${System.nanoTime()}")
      .select(col("cid").as("cluster"), col("n"), col("inertia"))
      .orderBy(col("cluster"))
  }

  /** st6c dump path ([[graft.util.Memo.stablePath]]). */
  val SketchSeriesPath: String = graft.util.Memo.stablePath("sketch_series")

  /** ST6c: the streaming p90 sketch's error vs the exact batch
    * percentile, ORACLE-WITNESSED — st6's series is dumped; both
    * engines join it to their own exact per-bucket p90 and report the
    * worst relative error in exact micro-space (buckets with a
    * positive exact p90). The last approximate surface in the registry
    * gains a driver-visible quality value. */
  def streamingSketchError(spark: SparkSession, dir: String): DataFrame = {
    graft.util.Memo.dump("sketch_series", dir)(
      streamingQuantileSeries(spark, dir))
    def micro6(c: org.apache.spark.sql.Column) =
      (c.cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
        .cast("long")
    val a = spark.read.parquet(SketchSeriesPath)
      .select(col("bucket_s"), micro6(col("p90")).as("am"))
    val e = Tables.events(spark, dir)
      .withColumn("bucket_s", expr("ts_s - ts_s % 172800"))
      .groupBy(col("bucket_s"))
      .agg(round(percentile(col("value"), lit(0.9)), 6).as("p90"))
      .select(col("bucket_s"), micro6(col("p90")).as("em"))
    e.join(a, Seq("bucket_s"))
      .filter(col("em") > 0)
      .agg(count(lit(1)).as("n_buckets"),
        max(Exact.ratio6(abs(col("am") - col("em")), col("em")))
          .as("max_rel_err"))
  }

  private lazy val streamingSketchErrorSql: String = {
    val micro = (x: String) =>
      s"CAST(CAST($x AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    s"""WITH a AS (SELECT bucket_s, ${micro("p90")} AS am
       |  FROM read_parquet('$SketchSeriesPath/*.parquet')),
       | e AS (SELECT (epoch_us(ts)//1000000) -
       |         (epoch_us(ts)//1000000) % 172800 AS bucket_s,
       |        ${micro("round(quantile_cont(value,0.9),6)")} AS em
       |  FROM events GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       | max(${OracleSql.ratio6("abs(am - em)", "em")}) AS max_rel_err
       |FROM e JOIN a USING (bucket_s) WHERE em > 0""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("st6c_streaming_sketch_error",
      "ST6c streaming p90 sketch error vs the exact batch percentile, " +
        "ORACLE-WITNESSED from the dumped st6 series (v2d2b " +
        "convention): worst per-bucket relative error in micro-space",
      streamingSketchError, Some(streamingSketchErrorSql)),
    GraftQuery("st15_streaming_cluster_assign",
      "ST15 streaming model scoring: embedding stream assigned to the " +
        "broadcast seed centroids in-row (stream-static, stateless " +
        "per row), per-cluster count+inertia as an algebraic O(k) " +
        "aggregate — finite stream == the batch seed-score oracle",
      streamingClusterAssign, Some(graft.sim.ClusterOps.seedScoreSql)),
    GraftQuery("st14_streaming_vocab",
      "ST14 streaming vocabulary ledger: one algebraic state row per " +
        "distinct word bigram (first-seen batch + occurrences) from an " +
        "exploded document stream; read side derives the novelty curve",
      streamingVocabLedger, Some(streamingVocabSql)),
    GraftQuery("st13_streaming_expectations",
      "ST13 streaming data-quality gate: per-day violation counts for " +
        "the v37 row checks as ONE windowed conditional-sum aggregate " +
        "(algebraic, O(days) state), reshaped read-side into per-check " +
        "pass/fail rows",
      streamingExpectations, Some(streamingExpectationsSql)),
    GraftQuery("st12_streaming_drift",
      "ST12 streaming drift monitor: incrementally-maintained daily " +
        "value histogram (algebraic, domain-bounded state) + read-side " +
        "TVD vs the static reference shares — v35's streaming twin",
      streamingDrift, Some(streamingDriftSql)),
    GraftQuery("st11_streaming_sliding_counts",
      "ST11 sliding-window streaming counts (2h window, 1h slide): " +
        "each event in exactly 2 windows, algebraic merges — equals " +
        "the batch double-bucketing on finite input",
      streamingSlidingCounts,
      Some("""WITH e AS (SELECT epoch_us(ts)//1000000 AS s FROM events),
             | b AS (SELECT unnest([(s//3600)*3600 - 3600,
             |                      (s//3600)*3600]) AS bucket_s FROM e)
             |SELECT bucket_s, CAST(count(*) AS BIGINT) AS n
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("st10_stream_static_join",
      "ST10 stream-static enrichment join: purchase stream x broadcast " +
        "per-user batch profile — zero join state, stream side never " +
        "shuffles; equals the batch join on finite input",
      streamStaticJoin,
      Some("""WITH v AS (SELECT user_id, count(*) AS n_views
             |          FROM events WHERE event_type = 'view' GROUP BY 1)
             |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
             | CAST(coalesce(v.n_views, 0) AS BIGINT) AS n_views
             |FROM events e LEFT JOIN v ON e.user_id = v.user_id
             |WHERE e.event_type = 'purchase'
             |ORDER BY e.event_id""".stripMargin)),
    GraftQuery("st5_streaming_heavy_hitters",
      "ST5 mergeable heavy-hitters summary as streaming state " +
        "(complete mode) == batch sketch == exact counts",
      streamingHeavyHitters,
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             | CAST(0 AS BIGINT) AS err_bound
             |FROM events GROUP BY 1 ORDER BY n DESC, event_type""".stripMargin)),
    GraftQuery("st4_streaming_trace_status",
      "ST4 mapGroupsWithState live trace status (update mode + timeout " +
        "expiry) collapsed to final states == batch rollup",
      streamingTraceStatus,
      Some("""SELECT CAST(user_id AS VARCHAR) AS trace_id,
             | CAST(count(*) AS INT) AS n_spans,
             | array_to_string(list_sort(list_distinct(list(event_type))), ',')
             |   AS services_csv,
             | max(epoch_us(ts)) AS last_start_us
             |FROM events WHERE event_id % 4 = 0 GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("st3_streaming_trace_assembly",
      "ST3 stateful streaming trace assembly (flatMapGroupsWithState, " +
        "event-time timeouts, sentinel-driven watermark) == batch rollup",
      streamingTraceAssembly,
      Some("""WITH s AS (
             |  SELECT CAST(user_id AS VARCHAR) AS trace_id,
             |   CAST(event_id AS VARCHAR) AS span_id, event_type,
             |   epoch_us(ts) AS start_us,
             |   CAST(floor(value) AS BIGINT) AS dur
             |  FROM events WHERE event_id % 4 = 0),
             | roots AS (
             |  SELECT trace_id, event_type AS root_name,
             |   row_number() OVER (PARTITION BY trace_id
             |     ORDER BY start_us, span_id) AS rk
             |  FROM s)
             |SELECT s.trace_id, CAST(count(*) AS INT) AS n_spans,
             | any_value(r.root_name) AS root_name,
             | array_to_string(list_sort(list_distinct(list(s.event_type))), ',')
             |   AS services_csv,
             | min(s.start_us) AS start_us,
             | max(s.start_us + s.dur) - min(s.start_us) AS total_duration_us
             |FROM s JOIN roots r ON s.trace_id = r.trace_id AND r.rk = 1
             |GROUP BY s.trace_id
             |ORDER BY s.trace_id""".stripMargin)),
    GraftQuery("st2_streaming_sessions",
      "V6-streaming session_window sessionization via Structured " +
        "Streaming - equals the batch lag-gap form on finite input",
      streamingSessions,
      Some("""WITH m AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             |    THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
             | s AS (
             |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
             |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
             |  FROM m)
             |SELECT user_id, min(ts_us)//1000000 AS start_s,
             | max(ts_us)//1000000 + 1800 AS end_s,
             | CAST(count(*) AS BIGINT) AS n_events
             |FROM s GROUP BY user_id, session_idx
             |ORDER BY user_id, start_s""".stripMargin)),
    GraftQuery("st1_streaming_counts",
      "D7-streaming tumbling-window counts via Structured Streaming " +
        "(memory sink, complete mode) — equals the batch group-by",
      streamingCounts,
      Some("""SELECT (epoch_us(ts)//1000000)//3600*3600 AS bucket_s,
             | CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("st6_streaming_pseries",
      "D8-streaming p90 series via the mergeable quantile sketch " +
        "(exact percentiles are holistic and cannot stream; rows-only " +
        "- tolerance vs the exact batch series pinned in StreamingSpec; " +
        "the exact count/avg half is oracle-checked as st6b)",
      streamingQuantileSeries, None),
    GraftQuery("st7_streaming_dedup",
      "V1-streaming exact dedup ledger: one state row per distinct " +
        "(source, text hash) with representative + dup count, " +
        "incrementally maintained — equals the batch group-by",
      streamingDedup,
      Some("""SELECT source, md5(text) AS text_hash,
             | min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
             |FROM documents GROUP BY 1,2
             |ORDER BY source, keep_id""".stripMargin)),
    GraftQuery("st8_stream_stream_join",
      "W1-streaming stream-stream join: purchases x same-user views " +
        "from the preceding hour, watermark-bounded state on both " +
        "sides — equals the batch time-bound join",
      streamStreamJoin,
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
             |                  epoch_us(ts) AS ts_us FROM events)
             |SELECT p.event_id AS purchase_id, p.user_id,
             |       p.ts_us AS purchase_ts_us, v.event_id AS view_id,
             |       v.ts_us AS view_ts_us
             |FROM e p JOIN e v
             |  ON p.event_type = 'purchase' AND v.event_type = 'view'
             | AND v.user_id = p.user_id
             | AND v.ts_us <= p.ts_us
             | AND v.ts_us >= p.ts_us - 3600000000
             |ORDER BY purchase_id, view_id""".stripMargin)),
    GraftQuery("st9_streaming_dedup_bounded",
      "V1-streaming BOUNDED-state dedup: dropDuplicatesWithinWatermark " +
        "on a stream that delivers every event twice — state lives one " +
        "watermark window, not forever (st7's ledger is the other " +
        "regime); equals batch DISTINCT on finite input",
      streamingDedupBounded,
      Some("""SELECT DISTINCT event_id, event_type, epoch_us(ts) AS ts_us
             |FROM events
             |ORDER BY event_id""".stripMargin)),
    GraftQuery("st6b_streaming_series_exact",
      "D8/D9-streaming exact half of the bucket series: algebraic " +
        "count + decimal-exact avg stream-merge exactly, so the " +
        "streaming series carries a full oracle row",
      streamingSeriesExact,
      Some(s"""SELECT (epoch_us(ts)//1000000)//172800*172800 AS bucket_s,
              | CAST(count(*) AS BIGINT) AS n,
              | ${OracleSql.avgExact("value")} AS avg_v
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)))
}
