package graft.util

/** Per-key build counters for the shared-artifact memo store
  * ([[Memo]], and through it PlanMemo and ArtifactCache) — the round-8
  * regression triage instrument: a shared artifact (inverted index,
  * IVF build, memoized exact baseline, scrub-ledger broadcast) must
  * build ONCE per process no matter how many registry entries consume
  * it. A count of 2+ for one key means some entry is paying a rebuild
  * the memo was supposed to absorb — exactly the failure class
  * suspected behind the r8 v2d2/v19/v27 bench deltas. BuildCountSpec
  * drives the touched entry set twice and asserts every key built at
  * most once.
  *
  * Counting happens INSIDE the memo's build, so a hit never increments
  * and a concurrent double-build (if the memo's build-once rule were
  * broken) shows up as a count of 2 — the counter doubles as a
  * concurrency regression tripwire.
  */
object BuildCounters {
  private val counts = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()

  def inc(key: String): Unit =
    counts.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()

  def count(key: String): Int = {
    val c = counts.get(key); if (c == null) 0 else c.get()
  }

  /** All keys with their counts — the spec sweeps this for any key
    * that built more than once. */
  def snapshot: Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.map { case (k, v) => k -> v.get() }.toMap
  }
}
