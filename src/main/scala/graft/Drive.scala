package graft

import graft.util.Force
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one entry runner. Bench, Verify, ScaleBench, Explain, StreamProf
  * and the Tier-1 registry sweep all select entries through
  * [[selected]] and run each one through [[run]], so the filter, the
  * materialising action, the cache release and the stopped-context
  * check exist once. */
object Drive {

  /** What one run of one entry did. `rows` is what the action returned
    * (an action that only writes returns 0), None when the build or the
    * action threw; `fault` is the message of what threw. `stopped`
    * is true when the run left the SparkContext stopped: every later
    * run in this process then fails, so callers name this entry.
    * `constructNs` and `executeNs` are the wall time of the build and
    * of the action. `cpuNs` is the JVM's process CPU time over both: in
    * local mode every task, JIT and GC thread runs in this JVM, so it
    * covers the entry's whole cost, and unlike wall time it leaves out
    * what the host gave to other work. */
  final case class Result(rows: Option[Long], fault: Option[String],
      stopped: Boolean, constructNs: Long, executeNs: Long, cpuNs: Long) {
    /** The fault and the stop, as one line; None for a clean run. */
    def problem: Option[String] = {
      val ps = fault.toSeq ++ Option.when(stopped)("stopped the SparkContext")
      if (ps.isEmpty) None else Some(ps.mkString("; "))
    }
  }

  /** Whether `SPARK_GRAFT_ONLY` (comma-separated substrings, for local
    * iteration; unset runs everything) selects `label`. */
  def picks(label: String): Boolean =
    only.isEmpty || only.exists(label.contains)

  private lazy val only: Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq).getOrElse(Nil)

  /** The registry entries [[picks]] selects, in registry order. */
  def selected: Seq[GraftQuery] = SparkEntry.all.filter(q => picks(q.id))

  /** Builds the frame, runs `act` on it, then releases what the entry
    * left behind: CacheManager entries (operators `cache()` for
    * intra-query reuse) and persistent RDDs (`localCheckpoint` pins
    * block-manager memory until the ContextCleaner gets to it). Round
    * 5 measured one entry's leftovers slowing the next by up to 18x.
    * Safe between entries: every cross-entry memo hands over a parquet
    * path, never a persisted frame.
    *
    * The default action is [[Force.rows]], not `count()`: a count lets
    * Catalyst prune computed columns and drop joins, so a column that
    * throws still passes it. */
  def run(spark: SparkSession, build: SparkSession => DataFrame,
      act: DataFrame => Long = Force.rows): Result = {
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    var t1 = -1L
    val (rows, fault) =
      try {
        val df = build(spark)
        t1 = System.nanoTime()
        (Some(act(df)), None)
      } catch { case e: Throwable =>
        (None, Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    val t2 = System.nanoTime()
    val cpu = processCpuNs() - c0
    if (t1 < 0) t1 = t2
    val stopped = spark.sparkContext.isStopped
    if (!stopped) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    Result(rows, fault, stopped, t1 - t0, t2 - t1, cpu)
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used, all threads. */
  private def processCpuNs(): Long = os.getProcessCpuTime
}
