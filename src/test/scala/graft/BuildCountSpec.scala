package graft

import graft.util.BuildCounters

/** Round-8 regression triage pin: the bench deltas on v2d2/v19/v27/st17
  * landed in the same round that grew DedupOps +903 and RankOps +356
  * lines, so the prime suspect was shared-build behavior — a registry
  * entry paying a REBUILD of an artifact (inverted index, IVF build,
  * memoized baseline) that ArtifactCache / PlanMemo / ivfBuild were
  * supposed to absorb. This spec drives the touched entry set twice in
  * one process and pins, via [[graft.util.BuildCounters]] (incremented
  * inside each cache's build critical section):
  *  1. no shared-artifact key builds more than once across the set, and
  *  2. the SECOND full drive triggers ZERO builds of any kind —
  *     every artifact the set needs was already resident.
  * Either failing identifies the exact key (and so the exact cache and
  * entry) that regressed, turning a bench delta into a named defect. */
class BuildCountSpec extends SparkSpec {

  test("regressed entry set: every shared artifact builds once, " +
      "second drive builds nothing") {
    // the four regressed entries + every sibling sharing their
    // artifacts (ivfBuild: v3 family + v2d2*; inv_index/incr_index:
    // v19 family; shingle/scrub ledgers: st17's static side)
    val names = Seq(
      "v2d2_embedding_neardup_ivf", "v2d2b_ivf_recall",
      "v3b_ivf_topk", "v3b2_ivf_stored", "v3b3_ivf_topk_recall",
      "v3c_knn_join",
      "v19_bm25_search", "v19b_bm25_stored_index", "v19c_bm25_incremental",
      "v27_rare_bigrams",
      "v18j_ivfpq_incremental",
      "st17_streaming_decontamination")
    val entries = names.map(n => n -> SparkEntry.queries(n))
    // each drive fully materialises its entry (Drive.run's default
    // action), so a build a count() would prune away is counted too
    def drive(pass: String): Unit = entries.foreach { case (n, fn) =>
      val r = Drive.run(spark, fn(_, sf0001))
      assert(r.problem.isEmpty && r.rows.exists(_ >= 0),
        s"$pass drive of $n: $r")
    }

    val before = BuildCounters.snapshot
    drive("first")
    val afterFirst = BuildCounters.snapshot

    val doubled = afterFirst.filter { case (k, v) =>
      v - before.getOrElse(k, 0) > 1 }
    assert(doubled.isEmpty,
      s"shared artifacts built MORE THAN ONCE in one drive: $doubled")

    drive("second")
    val afterSecond = BuildCounters.snapshot
    val rebuilt = afterSecond.filter { case (k, v) =>
      v - afterFirst.getOrElse(k, 0) > 0 }
    assert(rebuilt.isEmpty,
      s"second drive REBUILT artifacts a warm process should reuse: $rebuilt")
  }

  test("counter instrument itself counts builds, not hits") {
    val key = s"bcs_probe_${System.nanoTime()}"
    assert(BuildCounters.count(s"memo:$key:$sf0001") === 0)
    import spark.implicits._
    def frame = Seq((1L, "a")).toDF("id", "v")
    graft.util.PlanMemo.memo(spark, key, sf0001)(frame).count()
    graft.util.PlanMemo.memo(spark, key, sf0001)(frame).count()
    assert(BuildCounters.count(s"memo:$key:$sf0001") === 1)
  }
}
