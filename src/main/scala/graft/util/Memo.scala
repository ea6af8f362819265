package graft.util

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** The one driver-side memo store: every shared artifact the engine
  * builds once and reuses across queries (exact baselines, IVF builds,
  * vocabularies, scrub-ledger broadcasts, Bloom bytes, stored indexes)
  * lives in this map, keyed by (session or none, kind, dir).
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
  *    under `s"$kind:$dir"`, and never on a hit. */
object Memo {
  private final case class Key(session: Option[SparkSession], kind: String,
      dir: String)

  private val entries = new ConcurrentHashMap[Key, FutureTask[Any]]()
  private val seq = new AtomicLong()

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

  /** Forget every entry whose kind starts with `kindPrefix`. */
  private[util] def forget(kindPrefix: String): Unit =
    entries.keySet.removeIf(_.kind.startsWith(kindPrefix)): Unit

  /** A fresh artifact path `fastBase/<name>_<pid>_<seq>`, registered for
    * exit-time cleanup BEFORE the caller writes it, so a JVM kill
    * cannot leak a partial directory. The pid + process-wide sequence
    * suffix means two builds never share a path (no 32-bit hash to
    * collide), and a rebuild from a second session writes a new
    * directory instead of overwriting part files under readers that a
    * prior session already planned. */
  def path(name: String): String =
    TempArtifacts.register(s"${TempArtifacts.fastBase}/${name}_" +
      s"${ProcessHandle.current().pid()}_${seq.incrementAndGet()}")
}
