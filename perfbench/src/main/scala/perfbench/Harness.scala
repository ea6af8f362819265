package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** A measured value with its unit and sample count, printed by name. */
final case class Metric(value: Double, unit: String, n: Long)

/** What one workload run reports: every metric it measured (end-to-end
  * and per-layer, by name), and the operation counts behind `fail_frac`. */
final case class Outcome(metrics: Map[String, Metric], attempted: Long,
    failed: Long, failures: Seq[String])

object Stats {
  /** Linear-interpolated quantile of unsorted samples. */
  def q(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Settings every workload shares. */
final case class Config(workload: String, seed: Long, seconds: Int,
    traced: Boolean, root: File, outDir: File, cores: Int)

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing $k"))
    val cores = kv.get("--cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val cfg = Config(arg("--workload"), arg("--seed").toLong,
      arg("--seconds").toInt, arg("--trace") == "1",
      new File(arg("--root")), new File(arg("--out")), cores)
    val run: (SparkSession, Config, Tracer) => Outcome = cfg.workload match {
      case "trace_api" => TraceApiWorkload.run
      case "registry_batch" => RegistryWorkload.run
      case w => usage(s"unknown workload $w")
    }
    cfg.outDir.mkdirs()
    val cpu0 = Host.cpuJiffies()
    val t0 = System.nanoTime()
    val spark = Session.create(cfg.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, cfg.traced)
    val outcome = run(spark, cfg, tracer)
    val traceOut = new File(cfg.outDir, "spans")
    if (cfg.traced) {
      Store.write(spark, tracer.spans(cfg.workload, Map(
        "workload" -> cfg.workload, "seed" -> cfg.seed.toString)), traceOut.getPath, 1)
    }
    tracer.close()
    val rssMb = Host.peakRssMb()
    val cpu1 = Host.cpuJiffies()
    val measured = outcome.metrics ++ Map(
      "peak_rss_mb" -> Metric(rssMb, "MB", 1),
      "session_s" -> Metric(sessionS, "s", 1),
      // CPU time the hypervisor gave to other guests while this run was
      // up: a run with a high share was measured on a contended host
      "host_steal_pct" -> Metric(
        100.0 * (cpu1.steal - cpu0.steal) / math.max(1L, cpu1.total - cpu0.total), "%", 1),
      "fail_frac" -> Metric(
        outcome.failed.toDouble / math.max(1L, outcome.attempted), "ratio",
        outcome.attempted))
    // the traced run's own end-to-end figures: minus the untraced run's,
    // they give the tracing overhead
    val tracedCopies =
      if (!cfg.traced) Map.empty[String, Metric]
      else Seq("p50_ms", "work_per_s", "cpu_ms_per_op", "work_cpu_s", "run_cpu_s").flatMap(k =>
        measured.get(k).map(s"traced_$k" -> _)).toMap
    val all = measured ++ tracedCopies
    val host = Host.describe(spark, cfg.cores)
    spark.stop()
    val report = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload),
      "seed" -> cfg.seed.toString,
      "seconds" -> cfg.seconds.toString,
      "trace" -> (if (cfg.traced) "1" else "0"),
      "host" -> Json.obj(host.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "failures" -> outcome.failures.take(20).map(Json.str).mkString("[", ", ", "]"),
      "metrics" -> Json.obj(all.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value),
          "unit" -> Json.str(m.unit), "n" -> m.n.toString))
      }),
      "spans" -> (if (cfg.traced) Json.str(traceOut.getPath) else "null")))
    val f = new File(cfg.outDir, "report.json")
    java.nio.file.Files.write(f.toPath, report.getBytes("UTF-8"))
    all.toSeq.sortBy(_._1).foreach { case (k, m) =>
      println(f"  $k%-44s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}")
    }
    outcome.failures.take(20).foreach(x => println(s"  FAILED $x"))
    println(s"perfbench: report ${f.getPath}")
  }
}

object Session {
  /** A fresh local session with the library's required settings; all
    * scratch (warehouse, shuffle, block manager) stays under the run's
    * own `java.io.tmpdir`. */
  def create(cores: Int): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    graft.GraftSession.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/spark-local")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Host {
  final case class Jiffies(total: Long, steal: Long)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used, all threads. Time the hypervisor
    * gives to other guests is not in it. */
  def cpuNs(): Long = os.getProcessCpuTime
  def cpuS(): Double = cpuNs() / 1e9

  /** CPU time of the JIT compiler threads, from /proc (10 ms ticks).
    * The JVM runs with a fixed set of them, so none exits and takes its
    * time along. */
  def jitCpuNs(): Long = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** Machine-wide CPU time from /proc/stat: all states, and steal. */
  def cpuJiffies(): Jiffies = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Jiffies(f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** The JVM's resident-set high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def describe(spark: SparkSession, cores: Int): Map[String, String] = {
    val shm = new File("/dev/shm")
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "local_n" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "fast_base" -> graft.util.TempArtifacts.fastBase,
      "tmpdir" -> sys.props("java.io.tmpdir"),
      "dev_shm_mb" -> (if (shm.isDirectory) (shm.getTotalSpace >> 20).toString else "absent"),
      "spark" -> spark.version,
      "java" -> sys.props("java.version"))
  }
}

/** Span rows in the stored form, written through the library's
  * ingest writer (date-partitioned parquet). */
object Store {
  def rows(spans: Seq[GSpan]): Seq[Row] = spans.map { s =>
    Row(Ids.stored(s.traceId), Ids.stored(s.spanId), Ids.stored(s.parentId),
      0, s.name, s.startNs, s.endNs, s.endNs - s.startNs, null, s.service,
      null, "", Map("service.name" -> s.service, "host.name" -> s.host),
      s.attrs.toMap,
      s.exceptionEvent.toSeq.map { case (t, n, as) => Row(t, n, as.toMap) })
  }

  def frame(spark: SparkSession, spans: Seq[GSpan], parts: Int): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows(spans), parts),
      graft.spans.SpanSchema.schema)
    graft.spans.OtlpIngest.withDerivedIds(df)
      .select(graft.spans.SpanSchema.columns.map(col): _*)
  }

  def write(spark: SparkSession, spans: Seq[GSpan], path: String, parts: Int): Unit =
    graft.spans.OtlpIngest.writeSpans(frame(spark, spans, parts), path)

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }
}

/** Per-layer numbers every workload reports for its operations, so one
  * traced run of any workload fills the same names. */
object Layers {
  def common(recs: Seq[OpRec], aggs: Map[Long, OpAgg]): Map[String, Metric] = {
    val n = math.max(1, recs.size).toDouble
    def per(f: OpRec => Double) = Metric(recs.map(f).sum / n, "ms", recs.size)
    def agg(f: OpAgg => Double, unit: String) =
      Metric(recs.flatMap(r => aggs.get(r.id)).map(f).sum / n, unit, recs.size)
    val read = recs.flatMap(r => aggs.get(r.id)).map(_.recordsRead).sum.toDouble
    Map(
      "op_construct_ms" -> per(_.constructMs),
      "op_plan_ms" -> per(_.planMs),
      "op_exec_ms" -> per(_.execMs),
      "op_jobs" -> agg(_.jobs.toDouble, "count"),
      "op_tasks" -> agg(_.tasks.toDouble, "count"),
      "op_task_cpu_ms" -> agg(_.cpuMs, "ms"),
      "op_sched_delay_ms" -> agg(_.schedMs, "ms"),
      "op_gc_ms" -> agg(_.gcMs, "ms"),
      "op_shuffle_write_kb" -> agg(_.shuffleWrite / 1024.0, "KB"),
      "op_rows_read_per_row_out" -> Metric(
        read / math.max(1L, recs.map(_.rowsOut).sum), "ratio", recs.size))
  }

  /** Copy each workload-specific metric under its shared name. */
  def withAliases(m: Map[String, Metric], aliases: Map[String, String]): Map[String, Metric] =
    m ++ aliases.flatMap { case (alias, src) => m.get(src).map(alias -> _) }
}
