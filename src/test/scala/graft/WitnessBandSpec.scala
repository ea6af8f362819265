package graft

/** Table-driven quality bands for EVERY oracle-witnessed approximate
  * path (the round-6 witness suite): each witness entry's value row
  * must sit inside its pinned band, so a recall/error regression (a
  * degraded nprobe, a broken sketch merge, a winnowing bug) turns a
  * test red BEFORE the driver publishes the drifted number. The bands
  * live in ONE place here — previously they were scattered across
  * per-module specs and prose.
  *
  * Runs at sf0.001: each witness dump is written once per process
  * ([[graft.util.Memo.once]]) and the whole test JVM (the registry
  * sweep included) binds them to sf0.001 — a second dir would trip the
  * per-process guard by design.
  * Measured values r7 at sf0.001 (and sf0.01, driver SF) are noted per
  * row; bands leave honest slack, not 10x margins.
  */
class WitnessBandSpec extends SparkSpec {

  /** (entry id, metric column, min allowed, max allowed). For
    * multi-row witnesses (per-column error reports) EVERY row must
    * sit inside the band. */
  private val bands: Seq[(String, String, Double, Double)] = Seq(
    // approx-percentile worst group error: 0.0032 sf0.001 / 0.0004 sf0.01
    ("t04d_approx_pct_error", "max_rel_err", 0.0, 0.02),
    // HLL profile distinct errors: max 0.02 at both SFs (2% sketch eps)
    ("v9c_profile_error", "rel_err", 0.0, 0.05),
    // HLL cardinality errors: max 0.005 sf0.001 / 0.0095 sf0.01
    ("v10c_hll_error", "rel_err", 0.0, 0.05),
    // per-bucket HLL series worst error: 0.0 sf0.001 / 0.0061 sf0.1
    ("t20c_hll_series_error", "max_rel_err", 0.0, 0.02),
    // streaming p90 sketch worst bucket: 0.0 sf0.001 / 0.0035 sf0.1
    ("st6c_streaming_sketch_error", "max_rel_err", 0.0, 0.02),
    // SimHash-vs-Jaccard cross-method agreement: 0.929 / 0.906
    ("v2c2_simhash_agreement", "agreement", 0.75, 1.0),
    // multi-probe IVF candidate recall: 1.0 / 0.92-0.95
    ("v2d2b_ivf_recall", "recall", 0.85, 1.0),
    // IVF top-10 probe recall: 0.9 both SFs
    ("v3b3_ivf_topk_recall", "recall_at_10", 0.8, 1.0),
    // int8-code top-10 recall: 1.0 / 0.9
    ("v18c_quantized_recall", "recall_at_10", 0.8, 1.0),
    // winnowed-fingerprint coverage: 0.964 sf0.001 (one sub-47-char
    // pair legitimately missed — the guarantee starts at k+b-1) / 1.0
    ("v22c_winnow_coverage", "coverage", 0.9, 1.0),
    // sampled-query kNN-join macro recall@5 at the r7-tuned nprobe=12:
    // 0.93 at sf0.1 (0.79 at the old nprobe=8 — the curve is in the
    // SimilarityOps.knnJoin scaladoc)
    ("v3c2_knn_recall", "recall_at_5", 0.85, 1.0),
    // PQ ADC distance inflation: 1.07/1.06/1.14 at sf0.001/0.01/0.1
    // (set recall saturates low under distance concentration — the
    // PqOps scaladoc — so the band rides the inflation metric)
    ("v18g_pq_recall", "dist_inflation", 1.0, 1.3),
    // ranking-quality witnesses (r8): nDCG@10, integer-rational DCG.
    // BM25 vs lexical grades: 0.847 sf0.001 / 0.716 sf0.01 / 0.831 sf0.1
    ("v64a_ndcg_bm25", "ndcg", 0.6, 1.0),
    // hashed-cosine (HashDim=16) vs exact word-vector grades:
    // 0.613 / 0.571 / 0.870
    ("v64b_ndcg_hashed", "ndcg", 0.4, 1.0),
    // RRF fused vs lexical grades (dense arm dilutes by design):
    // 0.413 / 0.598 / 0.546
    ("v64c_ndcg_rrf", "ndcg", 0.25, 0.9),
    // Kendall tau fused-vs-BM25-arm: -0.067 sf0.001 / 0.2 sf0.01 /
    // 1.0 sf0.1 — band is sf0.001's neighborhood
    ("v64d_rrf_tau", "tau", -0.5, 0.5))

  bands.foreach { case (id, metric, lo, hi) =>
    test(s"$id: $metric in [$lo, $hi] at sf0.001") {
      val rows = SparkEntry.queries(id)(spark, sf0001).collect()
      assert(rows.nonEmpty, s"$id returned no value row")
      rows.foreach { r =>
        val v = r.getAs[Double](metric)
        assert(v >= lo && v <= hi,
          s"$id $metric = $v outside [$lo, $hi] — the approximate " +
            "path's quality regressed (or the band needs a documented " +
            "retune)")
      }
    }
  }
}
