package graft.util

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one driver-side memo store: every shared artifact the engine
  * builds once and reuses across queries (exact baselines, IVF builds,
  * vocabularies, scrub-ledger broadcasts, Bloom bytes, stored indexes,
  * witness dumps and fixtures) lives in this map, keyed by (session or
  * none, kind, dir), and every artifact path is minted here.
  *
  *  - Build once: `computeIfAbsent` only ALLOCATES an inert FutureTask;
  *    the build runs outside the map's bin lock via `FutureTask.run()`
  *    (a no-op for every caller but the first), and every caller gets
  *    the identical value. A build may call the memo for a DIFFERENT
  *    key (the codes→codebooks chain does); only a dependency CYCLE
  *    could block, and the dependency graph is a DAG by construction.
  *  - Retry after failure: a failed build is evicted, so the next
  *    caller rebuilds, and the caller sees the build's own exception,
  *    not the ExecutionException wrapper.
  *  - Sweep dead sessions: keys whose session is stopped can never be
  *    asked for again (a recreated session rebuilds under its own key),
  *    but a strong reference would pin the dead session graph for the
  *    JVM's lifetime, so they are dropped on entry. The map holds one
  *    entry per shared artifact, so the sweep costs nothing.
  *  - Count builds: [[BuildCounters]] is incremented once per build,
  *    under `s"$kind:$dir"`, and never on a hit.
  *
  * Two path shapes, both under [[TempArtifacts.fastBase]]. [[path]] is
  * a fresh exit-deleted directory per call, and it is the only place
  * scratch is placed: stored artifacts, the session's `spark.local.dir`
  * and warehouse, each streaming drive's checkpoint root and the
  * layout rewrites' scratch. Nothing in it outlives the process.
  * [[stablePath]] is `fastBase/graft_<name>_<pid>`, the same for
  * the whole process: the witness dumps and fixtures written there are
  * named in oracle SQL. They are exit-deleted too, except in a process
  * that called [[keepStablePaths]] (Verify: `tools/check.py` runs the
  * oracle SQL in DuckDB after the Verify JVM has exited, and deletes
  * nothing). The pid keeps two runners on one host from overwriting
  * each other's dump mid-read. [[once]] writes such an artifact once
  * per process. */
object Memo {
  private final case class Key(session: Option[SparkSession], kind: String,
      dir: String)

  private val entries = new ConcurrentHashMap[Key, FutureTask[Any]]()
  private val seq = new AtomicLong()
  private val pid = ProcessHandle.current().pid()
  @volatile private var keepStable = false

  /** The value `build` returns for (session, kind, dir), built at most
    * once while it succeeds. `session = None` scopes the entry to the
    * process. `counted = false` is for entries that are not artifact
    * builds (a lock) or that count their own builds. */
  def apply[V](session: Option[SparkSession], kind: String, dir: String,
      counted: Boolean = true)(build: => V): V = {
    entries.keySet.removeIf(_.session.exists(_.sparkContext.isStopped))
    val key = Key(session, kind, dir)
    val task = entries.computeIfAbsent(key, _ => new FutureTask[Any](() => {
      if (counted) BuildCounters.inc(s"$kind:$dir")
      build
    }))
    task.run()
    try task.get().asInstanceOf[V]
    catch {
      case e: ExecutionException =>
        entries.remove(key, task)
        throw e.getCause
    }
  }

  /** What `write` returns, run once per process for the artifact
    * `name` built from the data in `dir` (a process-scoped entry, so it
    * keeps the build-once, wait-for-the-writer and retry-after-failure
    * rules above). A second write would swap part files under readers
    * that already planned against the first, so every caller in the
    * process must name the same `dir` (every runner uses one SF per
    * process): a different `dir` fails and leaves the first artifact
    * untouched. Counted under `s"once:$name:$dir"`. */
  def once[V](name: String, dir: String)(write: => V): V = {
    val (first, value) = apply(None, s"once:$name", "", counted = false) {
      BuildCounters.inc(s"once:$name:$dir")
      (dir, write)
    }
    require(first == dir,
      s"$name is per-process: written from $first, now asked for $dir")
    value
  }

  /** `df` written [[once]] per process as one parquet file at
    * [[stablePath]]`(name)` (the witness-dump shape); returns the path. */
  def dump(name: String, dir: String)(df: => DataFrame): String = {
    val p = stablePath(name)
    once(name, dir)(df.coalesce(1).write.mode("overwrite").parquet(p))
    p
  }

  /** `fastBase/graft_<name>_<pid>`: stable for the process, deleted at
    * exit unless [[keepStablePaths]] was called first. */
  def stablePath(name: String): String = {
    val p = s"${TempArtifacts.fastBase}/graft_${name}_$pid"
    if (keepStable) p else TempArtifacts.register(p)
  }

  /** Keep every [[stablePath]] asked for from now on after the JVM
    * exits, for a reader that runs after it. */
  def keepStablePaths(): Unit = keepStable = true

  /** A fresh artifact path `fastBase/<name>_<pid>_<seq>`, registered for
    * exit-time cleanup BEFORE the caller writes it, so a JVM kill
    * cannot leak a partial directory. The pid + process-wide sequence
    * suffix means two builds never share a path (no 32-bit hash to
    * collide), and a rebuild from a second session writes a new
    * directory instead of overwriting part files under readers that a
    * prior session already planned. */
  def path(name: String): String =
    TempArtifacts.register(
      s"${TempArtifacts.fastBase}/${name}_${pid}_${seq.incrementAndGet()}")
}
