package graft

import graft.util.Memo
import org.apache.spark.sql.SparkSession

/** Session factory with the configs every graft entry point (Verify, Bench,
  * tests) needs. Mirrors the reference's fixed runtime knobs
  * (reference db/clickhouse.go:13-27 — timeouts/compression are ClickHouse's;
  * our equivalents are Spark conf) and the oracle-parity requirements:
  * UTC session, ns-as-long parquet reads, shuffle partitions sized to cores
  * rather than the 200 default.
  */
object GraftSession {
  /** THE graft session: every entry point (Verify, Bench, the mains,
    * the tests) builds through here, so a conf added to
    * [[requiredConfs]] takes effect everywhere at once. Only the
    * session-shaped extras — width, app name, scratch dirs, UI — are
    * spelled here. The warehouse and `spark.local.dir` (shuffle,
    * broadcast and block-manager files) are fresh [[graft.util.Memo.path]]
    * dirs under [[graft.util.TempArtifacts.fastBase]], deleted at exit.
    * Cluster deployments set their own; `SPARK_LOCAL_DIRS`, when set,
    * takes precedence over `spark.local.dir` in Spark itself. */
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            appName: String = "graft"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", Memo.path("graft_warehouse"))
      .config("spark.local.dir", Memo.path("graft_local"))
      .config("spark.ui.enabled", "false")
    requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Configs to apply when someone else builds the session (the
    * benchmark harness). `spark.sql.extensions` is a static conf, so
    * the custom SQL functions and the FuseDotProduct optimizer rule
    * install on EVERY graft session, not just test sessions that
    * register them by hand.
    *
    * The two codegen settings make each generated class compile once
    * per process. At Spark 4.1 defaults Janino recompiled classes it
    * had already compiled, and each recompile is new bytecode for the
    * JIT. Counted with `CodegenMetrics` in the perfbench workloads on
    * a 4-core host:
    *  - `spark.sql.artifact.isolation.enabled=false`: with isolation
    *    on, every session — including the clone each streaming query
    *    runs in — gets its own executor class loader, and the codegen
    *    cache is keyed on (class loader, source), so each session
    *    recompiles every class its tasks run. Graft adds no session
    *    artifacts, so tasks can use the process class loader.
    *    `ClassNotFoundException`s per `registry_batch` run fall from
    *    17k to 4.3k.
    *  - `spark.sql.codegen.cache.maxEntries=600` (static; default
    *    100): one 5-entry `registry_batch` pass already evicted. The
    *    largest working set measured is 282 distinct classes (one
    *    `trace_api` run; `registry_batch` compiles 182), so 600 is
    *    about twice that. It stays a bound: `TraceService` inlines
    *    each request's time window, about 35 new classes per 20
    *    requests, and the cache evicts those once it is full instead
    *    of growing metaspace and the JIT code cache without limit.
    * Neither suffices alone. Isolation off alone still recompiles
    * 23–45 classes per registry warm pass and ~560 per `trace_api`
    * run; the larger cache alone still recompiles 16 per warm pass.
    * Together: 0 per registry warm pass (was 36–59), 31–38 per
    * `trace_api` round (was 122–127), and `work_cpu_s` on `trace_api`
    * fell 20%. Plans, jobs and tasks are unchanged;
    * CodegenSpec pins the mechanism. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "600")

  /** Query timeout — the analog of the reference's ClickHouse
    * `max_execution_time: 60` ceiling (db/clickhouse.go:20-22): run the
    * action in a job group and cancel the group when the deadline
    * passes. Returns None on timeout. */
  def runWithTimeout[T](spark: SparkSession, timeoutSeconds: Long,
      groupId: String)(action: => T): Option[T] = {
    val sc = spark.sparkContext
    sc.setJobGroup(groupId, s"graft timeout ${timeoutSeconds}s",
      interruptOnCancel = true)
    val canceller = new Thread(() => {
      try {
        Thread.sleep(timeoutSeconds * 1000)
        // AndFutureJobs: an AQE query runs one job per stage, and a
        // deadline firing BETWEEN stage jobs would make the plain
        // cancelJobGroup a no-op — the remaining stages then run
        // arbitrarily past the ceiling (round-10 review)
        sc.cancelJobGroupAndFutureJobs(groupId)
      } catch { case _: InterruptedException => () }
    })
    canceller.setDaemon(true)
    canceller.start()
    // cancellation can surface WRAPPED (awaitResult and friends put
    // the cancelled job in the cause chain) — walk it instead of
    // trusting the top message
    def cancelled(t: Throwable, depth: Int = 8): Boolean =
      t != null && depth > 0 &&
        ((t.isInstanceOf[org.apache.spark.SparkException] &&
          t.getMessage != null && t.getMessage.contains("cancelled")) ||
          cancelled(t.getCause, depth - 1))
    try Some(action)
    catch { case e: Throwable if cancelled(e) => None }
    finally {
      canceller.interrupt()
      sc.clearJobGroup()
    }
  }
}
