package graft.dedup

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Audits + composed DAGs (round-9 split of DedupOps — pure move):
  * split-leakage audit and repair, the composed streaming ingest DAG,
  * substring/winnowing duplicate detection with their dumps, the
  * threshold sweep, and the shared exact-pair oracle CTE. Mixed into
  * [[DedupOps]].
  */
private[dedup] trait DedupAudit { self: DedupOps.type =>
  /** V75: split-leakage audit — the eval-integrity check every paper
    * that reports a test score implicitly claims (Dodge et al. 2021's
    * C4 finding: benchmark data leaks through near-dups, not just
    * exact copies): how many near-dup pairs STRADDLE the v28
    * train/val/test assignment? A train doc whose near-dup sits in
    * test inflates the test score without any exact duplication. One
    * pass: the memoized v2a pair frame joins each side's split label
    * (the EXACT v28 spelling, shared — [[graft.nlp.MixOps
    * .splitAssign]]), pairs canonicalize to (least, greatest), and the
    * rollup lands on the dense 6-combination grid with the cross-split
    * flag. Scale: pair-frame-sized work + two broadcast-able label
    * joins; no new pair mining. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.nlp.MixOps.splitAssign.as("sp"))
    val si = s.select(col("doc_id").as("i"), col("sp").as("sp_i"))
    val sj = s.select(col("doc_id").as("j"), col("sp").as("sp_j"))
    val agg = ngramJaccard(spark, dir)
      .join(si, Seq("i")).join(sj, Seq("j"))
      .withColumn("split_a", least(col("sp_i"), col("sp_j")))
      .withColumn("split_b", greatest(col("sp_i"), col("sp_j")))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("jaccard")).as("max_jaccard"))
    val combos = Seq("test" -> "test", "test" -> "train", "test" -> "val",
      "train" -> "train", "train" -> "val", "val" -> "val")
    val grid = spark.range(1)
      .select(explode(array(combos.map { case (a, b) =>
        struct(lit(a).as("split_a"), lit(b).as("split_b"))
      }: _*)).as("c"))
      .select(col("c.split_a").as("split_a"), col("c.split_b").as("split_b"))
    grid.join(broadcast(agg), Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("max_jaccard"),
        (col("split_a") =!= col("split_b")).as("cross_split"))
      .orderBy(col("split_a"), col("split_b"))
  }

  private[dedup] lazy val splitLeakageSql: String =
    s"""WITH pr AS (SELECT i, j, jaccard FROM ($jaccardPairsSql)),
       | sp AS (SELECT doc_id, ${graft.nlp.MixOps.splitAssignSql} AS sp
       |        FROM documents),
       | cl AS (SELECT least(a.sp, b.sp) AS split_a,
       |         greatest(a.sp, b.sp) AS split_b, pr.jaccard
       |   FROM pr JOIN sp a ON a.doc_id = pr.i
       |   JOIN sp b ON b.doc_id = pr.j),
       | ag AS (SELECT split_a, split_b,
       |         CAST(count(*) AS BIGINT) AS n_pairs,
       |         max(jaccard) AS max_jaccard
       |   FROM cl GROUP BY 1, 2),
       | grid AS (SELECT * FROM (VALUES
       |   ('test','test'), ('test','train'), ('test','val'),
       |   ('train','train'), ('train','val'), ('val','val'))
       |   AS g(split_a, split_b))
       |SELECT g.split_a, g.split_b,
       | CAST(coalesce(ag.n_pairs, 0) AS BIGINT) AS n_pairs,
       | ag.max_jaccard, g.split_a <> g.split_b AS cross_split
       |FROM grid g LEFT JOIN ag USING (split_a, split_b)
       |ORDER BY 1, 2""".stripMargin

  /** V76: eval-protection scrub — v75's REPAIR step: the audit counts
    * leaks, this operator removes them. Policy: the eval sets (val,
    * test) are authoritative — a TRAIN document with a near-dup in
    * either is quarantined (dropped from the training corpus), so the
    * shipped eval scores stay meaningful without re-drawing the split
    * (re-drawing would invalidate every historical score — the reason
    * production pipelines scrub train, not eval). Output: every doc
    * with its split, the keep/quarantine action, and the smallest
    * eval doc it leaked to. Same cost shape as v75: pair-frame work +
    * label joins, no new mining. */
  def splitScrub(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.nlp.MixOps.splitAssign.as("split"))
    val pairs = ngramJaccard(spark, dir).select(col("i"), col("j"))
    val sym = pairs.unionByName(
      pairs.select(col("j").as("i"), col("i").as("j")))
    val leaks = sym
      .join(s.select(col("doc_id").as("i"), col("split").as("sp_i")),
        Seq("i"))
      .join(s.select(col("doc_id").as("j"), col("split").as("sp_j")),
        Seq("j"))
      .filter(col("sp_i") === "train" && col("sp_j") =!= "train")
      .groupBy(col("i").as("doc_id"))
      .agg(min(col("j")).as("leak_to"))
    s.join(leaks, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        when(col("leak_to").isNotNull, "quarantine").otherwise("keep")
          .as("action"),
        col("leak_to"))
      .orderBy(col("doc_id"))
  }

  private[dedup] lazy val splitScrubSql: String =
    s"""WITH pr AS (SELECT i, j FROM ($jaccardPairsSql)),
       | sym AS (SELECT i, j FROM pr UNION ALL SELECT j AS i, i AS j FROM pr),
       | sp AS (SELECT doc_id, ${graft.nlp.MixOps.splitAssignSql} AS sp
       |        FROM documents),
       | lk AS (SELECT sym.i AS doc_id, min(sym.j) AS leak_to
       |   FROM sym JOIN sp a ON a.doc_id = sym.i
       |   JOIN sp b ON b.doc_id = sym.j
       |   WHERE a.sp = 'train' AND b.sp <> 'train'
       |   GROUP BY 1)
       |SELECT sp.doc_id, sp.sp AS split,
       | CASE WHEN lk.leak_to IS NOT NULL THEN 'quarantine'
       |      ELSE 'keep' END AS action,
       | lk.leak_to
       |FROM sp LEFT JOIN lk USING (doc_id)
       |ORDER BY sp.doc_id""".stripMargin

  /** ST25: the composed STREAMING INGEST DAG — the gate chain a
    * production crawler actually runs on every arriving document, as
    * ONE streaming plan (v66 is the batch curation composition; this
    * is the ingest-time sibling): exact-dup against the ledger's
    * content hashes → near-dup against the stored LSH band index
    * (st24's probe) → benchmark membership / shingle-containment
    * decontamination (v16's gate against one broadcast benchmark row)
    * → duplicated-span scrub (st19's in-row machinery) for the docs
    * that survive. Per arriving doc: the first-failing-gate verdict
    * and, for kept docs, the scrub report (removed words + cleaned
    * md5). Every signal is computed in-row or against a static
    * artifact; the only state is the per-arriving-doc aggregation that
    * folds the 8 band probes back to one row — O(ingest batch), never
    * O(corpus). Reuses one spelling per gate (normHash, bandHashCols,
    * shingles, withInRowScrub), so the composition CANNOT drift from
    * the individual operators it composes. */
  def streamingIngestDag(spark: SparkSession, dir: String): DataFrame = {
    val docsB = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val ledgerDocs = docsB.filter(col("doc_id") % 3 =!= 0)
    // memoized like the band index below: the exact-dup hash ledger
    // and the benchmark shingle row are per-dir statics every drive
    // (and the bench's second run) would otherwise recompute
    val exLedger = graft.util.PlanMemo.memo(spark, "st25_ex_ledger",
      dir)(ledgerDocs
        .select(TextCanon.normHash.as("norm_hash")).distinct()
        .withColumn("ex_flag", lit(1)))
    val bandIndex = graft.util.PlanMemo.memo(spark, "v20c_band_index",
      dir)(bandedBuckets(signatures(ledgerDocs)))
      .select(col("doc_id").as("j"), col("band_idx"), col("band_hash"))
    val ledgerSets = graft.util.PlanMemo.memo(spark, "st24_ledger_sets",
      dir)(ledgerDocs.select(col("doc_id"), shingles.as("sh"))
        .withColumn("sz", size(col("sh"))))
      .select(col("doc_id").as("j"), col("sh").as("sh_j"),
        col("sz").as("sz_j"))
    // round 11: bench shingles as a plain broadcast + compiled in-row
    // probe (SetHitCount) — the 1-row array + per-row array_intersect
    // rebuilt the bench hash set per document and measured 587× at
    // ×100 (the slice co-grows with the corpus); see benchShinglesBc
    val benchBc = benchShinglesBc(spark, dir)
    // scrub stage dispatched on ledger size (the st19 convention): the
    // in-row broadcast probe while the dup-window ledger fits, the
    // v20b Bloom + keyed-join shape beyond — mid-stream that fallback
    // runs the whole per-doc DAG per micro-batch via foreachBatch
    // (every stage here is per-document, so batch-union equals the
    // streaming plan).
    val fits = scrubLedgerFitsBroadcast(spark, dir)
    val scrubStage: DataFrame => DataFrame =
      if (fits) { df => withInRowScrub(df, scrubLedgerBroadcast(spark, dir)) }
      else { df => scrubViaLedgerJoin(spark, dir, df) }
    def planOver(docs: DataFrame): DataFrame = {
      val enriched = scrubStage(docs
        .filter(col("text").isNotNull && col("doc_id") % 3 === 0)
        .withColumn("w", split(lower(col("text")), " "))
        .withColumn("norm_hash", TextCanon.normHash)
        .withColumn("sh_i", shingles)
        .withColumn("sz_i", size(col("sh_i")))
        .withColumn("sig", graft.functions.MinHashFunctions.minhash_sig(
          graft.functions.ShingleFunctions.shingle_hashes(col("text")),
          coefs, Prime))
        .withColumn("bm", pmod(col("doc_id"), lit(97)) === 0)
        .withColumn("contam", Exact.ratio6(
          graft.functions.SetHitCount.set_hit_count(col("sh_i"), benchBc),
          col("sz_i"))))
        .join(exLedger, Seq("norm_hash"), "left")
    val cand = enriched
      .select(Seq(col("doc_id"), col("ex_flag"), col("bm"), col("contam"),
        col("n_removed"), col("clean_hash"), col("sh_i"), col("sz_i")) ++
        (0 until NumPerm).map(k => col("sig").getItem(k).as(s"m$k")): _*)
      .select(col("doc_id"), col("ex_flag"), col("bm"), col("contam"),
        col("n_removed"), col("clean_hash"), col("sh_i"), col("sz_i"),
        posexplode(array(bandHashCols: _*)).as(Seq("band_idx", "band_hash")))
      .join(bandIndex, Seq("band_idx", "band_hash"), "left")
      .join(ledgerSets, Seq("j"), "left")
      .withColumn("inter",
        size(array_intersect(col("sh_i"), col("sh_j"))))
      .withColumn("jac", Exact.ratio6(col("inter"),
        col("sz_i") + col("sz_j") - col("inter")))
    val perDoc = cand.groupBy(col("doc_id"))
      .agg(first(col("ex_flag")).as("ex_flag"), first(col("bm")).as("bm"),
        first(col("contam")).as("contam"),
        first(col("n_removed")).as("n_rm"),
        first(col("clean_hash")).as("ch"),
        max(when(col("jac") >= Tau, 1).otherwise(0)).as("near_hit"))
    val kept = col("ex_flag").isNull && col("near_hit") === 0 &&
      !col("bm") && col("contam") < ContamTau
      perDoc.select(col("doc_id"),
        when(col("ex_flag").isNotNull, "exact_dup")
          .when(col("near_hit") === 1, "near_dup")
          .when(col("bm"), "benchmark")
          .when(col("contam") >= ContamTau, "contaminated")
          .otherwise("kept").as("verdict"),
        when(kept, col("n_rm")).as("n_removed"),
        when(kept, col("ch")).as("clean_hash"))
    }
    val stream = graft.streaming.StreamingOps
      .tableStream(spark, dir, "documents")
    if (fits)
      graft.streaming.StreamingOps.runToBatch(spark, planOver(stream),
          s"st25_ingest_${System.nanoTime()}")
        .orderBy(col("doc_id"))
    else {
      val out = graft.util.Memo.path("graft_st25_fb")
      graft.streaming.StreamingOps.runForeachBatch(spark, stream,
        s"st25_ingest_${System.nanoTime()}") { (b, _) =>
        planOver(b).write.mode("append").parquet(out)
      }
      spark.read.parquet(out).orderBy(col("doc_id"))
    }
  }

  private[dedup] lazy val streamingIngestDagSql: String =
    s"""WITH pr AS (SELECT i, j, jaccard FROM ($jaccardPairsSql)),
       | nd AS (SELECT DISTINCT i FROM (
       |   SELECT i, j FROM pr UNION ALL SELECT j AS i, i AS j FROM pr)
       |  WHERE i % 3 = 0 AND j % 3 <> 0),
       | exh AS (SELECT DISTINCT ${OracleSql.normHashText} AS nh
       |  FROM documents WHERE text IS NOT NULL AND doc_id % 3 <> 0),
       | tt AS (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents WHERE text IS NOT NULL),
       | ss AS (SELECT doc_id, $shinglesSql AS sh FROM tt),
       | bl AS (SELECT list(DISTINCT shingle) AS bench FROM (
       |   SELECT unnest(sh) AS shingle FROM ss WHERE doc_id % 97 = 0)),
       | $scrubWindowCtes,
       | sg AS (SELECT h, min(doc_id) AS keep_doc, count(*) AS n_occ
       |        FROM so GROUP BY 1),
       | sp AS (SELECT DISTINCT so.doc_id,
       |          unnest(range(so.s, so.s + $ScrubWindow)) AS p
       |  FROM so JOIN sg USING (h)
       |  WHERE sg.n_occ >= 2 AND so.doc_id > sg.keep_doc),
       | sr AS (SELECT doc_id, count(*) AS n_removed,
       |         list(p ORDER BY p) AS ps
       |        FROM sp GROUP BY 1),
       | scrub AS (SELECT sd.doc_id,
       |    CAST(coalesce(sr.n_removed, 0) AS BIGINT) AS n_removed,
       |    md5(coalesce(array_to_string(
       |      CASE WHEN sr.ps IS NULL THEN sd.w
       |           ELSE list_filter(sd.w,
       |                  (x, i) -> NOT list_contains(sr.ps, i)) END,
       |      ' '), '')) AS clean_hash
       |   FROM sd LEFT JOIN sr USING (doc_id)),
       | flg AS (SELECT d.doc_id,
       |    (${OracleSql.normHashText} IN (SELECT nh FROM exh)) AS ex_hit,
       |    (d.doc_id IN (SELECT i FROM nd)) AS near_hit,
       |    (d.doc_id % 97 = 0) AS bm,
       |    ${OracleSql.ratio6("len(list_intersect(ss.sh, bl.bench))",
            "len(ss.sh)")} AS contam
       |  FROM documents d JOIN ss USING (doc_id) CROSS JOIN bl
       |  WHERE d.text IS NOT NULL AND d.doc_id % 3 = 0)
       |SELECT f.doc_id,
       | CASE WHEN ex_hit THEN 'exact_dup' WHEN near_hit THEN 'near_dup'
       |      WHEN bm THEN 'benchmark'
       |      WHEN contam >= $ContamTau THEN 'contaminated'
       |      ELSE 'kept' END AS verdict,
       | CASE WHEN NOT ex_hit AND NOT near_hit AND NOT bm
       |       AND contam < $ContamTau THEN sc.n_removed END AS n_removed,
       | CASE WHEN NOT ex_hit AND NOT near_hit AND NOT bm
       |       AND contam < $ContamTau THEN sc.clean_hash END AS clean_hash
       |FROM flg f JOIN scrub sc USING (doc_id)
       |ORDER BY f.doc_id""".stripMargin

  /** v20c oracle: the symmetric closure of the v2a exact pair frame,
    * restricted to (incoming, ledger) pairs — only as expensive as the
    * v2a oracle the driver already runs. */
  private[dedup] lazy val incrementalNearDupSql: String =
    s"""WITH pr AS (SELECT i, j, jaccard FROM ($jaccardPairsSql)),
       | sym AS (SELECT i, j, jaccard FROM pr
       |         UNION ALL SELECT j, i, jaccard FROM pr),
       | f AS (SELECT i, j, jaccard FROM sym
       |       WHERE i % 3 = 0 AND j % 3 <> 0),
       | b AS (SELECT i, min(j) AS dup_of FROM f GROUP BY 1),
       | g AS (SELECT b.i, b.dup_of, f.jaccard
       |       FROM b JOIN f ON f.i = b.i AND f.j = b.dup_of),
       | inc AS (SELECT doc_id FROM documents
       |         WHERE text IS NOT NULL AND doc_id % 3 = 0)
       |SELECT inc.doc_id, g.dup_of IS NOT NULL AS is_dup,
       | g.dup_of, g.jaccard
       |FROM inc LEFT JOIN g ON g.i = inc.doc_id
       |ORDER BY inc.doc_id""".stripMargin

  /** V22 window length (chars) and the boilerplate ceiling: windows
    * shared by more than [[MaxDocsPerWindow]] docs are boilerplate
    * (license headers, templates) — at corpus scale one such window
    * would explode the pair join quadratically, and dedup-by-pair is
    * the wrong tool for it anyway (a frequency report is). */
  val WindowChars = 40
  val MaxDocsPerWindow = 100
  val MinSharedWindows = 5

  /** Distinct 40-char sliding windows per doc (stride 1 — every
    * position; exact detection). Dedup happens in the hash aggregate
    * AFTER the explode, not via per-row array_distinct: the aggregate's
    * map-side partial pass dedupes before the shuffle just the same
    * (equal wall time measured at sf0.1), without array_distinct's
    * O(windows²) string compares per document — the form that stays
    * linear when documents grow long. */
  private[dedup] def charWindows(spark: SparkSession, dir: String,
      k: Int): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull && length(col("text")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, length(text)-$k), " +
          s"i -> substring(text, i+1, $k))")).as("win"))
      .distinct()

  /** Shared pair tail for V22/V22b: admit windows in 2..maxDocs docs,
    * self-join on the window, count shared windows per (i<j) pair.
    * The cache is a registry-SF convenience (three consumers of one
    * explode); at corpus scale the window/fingerprint table is
    * materialized once to storage instead — the v19b/v3b2
    * build-at-ingest pattern — and the three consumers read it. */
  private[dedup] def windowPairs(wins: DataFrame, maxDocs: Int,
      minShared: Int): DataFrame = {
    val w = wins.cache()
    val admissible = w.groupBy(col("win"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, maxDocs))
      .select(col("win"))
    val adm = w.join(admissible, Seq("win"))
    val a = adm.select(col("doc_id").as("i"), col("win"))
    val b = adm.select(col("doc_id").as("j"), col("win"))
    a.join(b, Seq("win")).filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("i"), col("j"))
  }

  /** V22: substring-level duplicate detection — the third dedup
    * granularity next to whole-doc exact (V1) and near-dup (V2): doc
    * pairs sharing ≥ [[MinSharedWindows]] distinct 40-char character
    * windows, i.e. verbatim copied spans that whole-doc hashing misses
    * and shingle-Jaccard underweights. Stride-1 windows make detection
    * EXACT (any shared ≥40-char span is found); the frequency ceiling
    * bounds the pair join against boilerplate windows. This is the
    * VERIFY-grade baseline; [[substringDupsWinnowed]] is the
    * fingerprint-sampled scale path. */
  def substringDups(spark: SparkSession, dir: String,
      minShared: Int = MinSharedWindows): DataFrame =
    // memoized: the v22 entry and v22c's witness baseline share one
    // execution of the stride-1 plan per process (minShared spelled
    // into the key — specs probe non-default thresholds)
    graft.util.PlanMemo.memo(spark, s"v22_substr_$minShared", dir)(
      substringDupsPlan(spark, dir, minShared))
      .orderBy(col("i"), col("j"))

  private[graft] def substringDupsPlan(spark: SparkSession, dir: String,
      minShared: Int): DataFrame =
    windowPairs(charWindows(spark, dir, WindowChars),
      MaxDocsPerWindow, minShared)

  /** V22b: the scale path — winnowing (the MOSS fingerprint scheme):
    * per doc, hash every window and keep one ARGMIN per sliding run of
    * `b` consecutive windows (min over struct(hash,pos,win), start-of-
    * run windows included so short docs still fingerprint). Guarantee:
    * two docs sharing a span of ≥ k+b-1 chars share at least one
    * selected fingerprint — the b-run of identical hashes inside the
    * shared span selects the same argmin in both docs (hash ties break
    * by RELATIVE position inside the aligned span, identically on both
    * sides). Density is ~2/(b+1) of stride-1, so the shuffle shrinks
    * ~4× at b=8 while pairs sharing a 47+-char span are still found;
    * engine-hash-dependent selection ⇒ rows-only, guarantees pinned in
    * ExtendedOpsSpec (planted shared span + subset-of-exact). The
    * boilerplate ceiling here counts FINGERPRINT occurrences, which
    * are ≤ the stride-1 doc-counts — so for a window whose full
    * doc-count straddles the ceiling (> maxDocs docs, ≤ maxDocs of
    * them selecting it as a fingerprint) the winnowed path can admit
    * what the exact path excluded; subset-of-exact therefore holds
    * exactly for windows clear of the ceiling (the spec fixtures are),
    * and at the boundary the disagreement is confined to boilerplate
    * the exact path deliberately suppressed. */
  def substringDupsWinnowed(spark: SparkSession, dir: String, b: Int = 8,
      minShared: Int = 2): DataFrame =
    // memoized: the v22b entry and v22c's dump side share one execution
    graft.util.PlanMemo.memo(spark, s"v22b_winnow_${b}_$minShared", dir)(
      substringDupsWinnowedPlan(spark, dir, b, minShared))
      .orderBy(col("i"), col("j"))

  private[graft] def substringDupsWinnowedPlan(spark: SparkSession,
      dir: String, b: Int = 8, minShared: Int = 2): DataFrame = {
    val k = WindowChars
    // The whole winnowing runs IN-ROW (one codegen projection): build
    // the (hash, pos, win) structs once per document, take the argmin
    // of every b-length slice, dedupe the selections — and only THEN
    // explode. The earlier form posexploded every position into a
    // per-doc sort window, shipping every stride-1 window (40-char
    // string included) through a full shuffle+sort just to throw
    // ~b/(b+1) of them away; here nothing leaves the row until the
    // ~2/(b+1)-density fingerprint set exists, so the one shuffle in
    // the pair tail carries ONLY fingerprints. The single-element
    // `transform(array(...), hs -> ...)` binds the struct array once
    // per row (a let-binding — inlining it into the slice lambda would
    // rebuild it per position, O(n²)). Tail slices shorter than b
    // (start-of-run positions near the end) still select, exactly like
    // the old rowsBetween(current, b-1) frame.
    val fingerprints = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && length(col("text")) >= k)
      .select(col("doc_id"), expr(
        s"transform(sequence(0, length(text)-$k), " +
          s"i -> substring(text, i+1, $k))").as("wins"))
      .select(col("doc_id"), explode(expr(
        s"""transform(array(transform(wins,
           |   (w, i) -> named_struct('h', xxhash64(w), 'p', i, 'w', w))),
           |  hs -> array_distinct(transform(
           |    transform(sequence(1, size(hs)), p -> array_min(slice(hs, p, $b))),
           |    s -> s.w)))[0]""".stripMargin)).as("win"))
    windowPairs(fingerprints, MaxDocsPerWindow, minShared)
  }

  private[dedup] val substringSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |      WHERE text IS NOT NULL AND length(text) >= $WindowChars),
       | w0 AS (SELECT doc_id, unnest([substr(text, i, $WindowChars)
       |          for i in generate_series(1, length(text)-${WindowChars - 1})]) AS win
       |        FROM d),
       | w AS (SELECT DISTINCT doc_id, win FROM w0),
       | nd AS (SELECT win FROM (SELECT win, count(*) AS c FROM w GROUP BY 1) t
       |        WHERE c BETWEEN 2 AND $MaxDocsPerWindow),
       | p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
       |       FROM (SELECT w.doc_id, w.win FROM w JOIN nd USING (win)) a
       |       JOIN (SELECT w.doc_id, w.win FROM w JOIN nd USING (win)) b
       |         ON a.win = b.win AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT i, j, CAST(n_shared AS BIGINT) AS n_shared
       |FROM p WHERE n_shared >= $MinSharedWindows
       |ORDER BY i, j""".stripMargin

  private[dedup] val incrementalSql: String =
    s"""WITH d AS (SELECT doc_id, source,
      |        ${OracleSql.normHashText} AS norm_hash
      |       FROM documents WHERE text IS NOT NULL),
      | inc AS (SELECT * FROM d WHERE doc_id % 3 = 0),
      | ex AS (SELECT norm_hash FROM d WHERE doc_id % 3 <> 0)
      |SELECT doc_id, source, norm_hash FROM inc
      |WHERE norm_hash NOT IN (SELECT norm_hash FROM ex)
      |ORDER BY doc_id""".stripMargin

  /** Mirrors [[graft.functions.ShingleHashes]]'s window rule exactly,
    * INCLUDING docs under 3 words: the engine emits one whole-text
    * shingle there (max(n-2, 1) windows, each clipped to the array),
    * and the previous `w[i]||' '||w[i+1]||' '||w[i+2]` spelling went
    * NULL out of range so list_distinct dropped it — an empty oracle
    * shingle set for short docs, silently diverging every
    * Jaccard-based oracle on them (round-10 review; the slice form is
    * verified element-identical for >=3-word docs). */
  private[graft] val shinglesSql =
    """list_distinct([array_to_string(w[i:least(i+2, len(w))], ' ')
      | for i in generate_series(1, greatest(len(w)-2, 1))])""".stripMargin
      .replace("\n", " ")

  /** Exact shingle-Jaccard pair SQL — the oracle for BOTH v2a and v2b:
    * v2b's banded candidate generation feeds the same exact-Jaccard
    * verify stage, so its output equals v2a's exactly when LSH recall
    * is 1.0. Recall is probabilistic in general but deterministic per
    * corpus (fixed permutation seeds), and on the test corpus it IS 1.0
    * — verified pair-for-pair at sf0.001/0.01/0.1 (28/25/256 pairs) and
    * pinned against the fixture in DedupSpec. At a scale where a banded
    * miss appears, this oracle would catch exactly that recall loss,
    * which is the honest thing to measure. */
  /** v2c2 / v22c dump paths ([[graft.util.Memo.stablePath]]). */
  val SimhashPairsPath: String = graft.util.Memo.stablePath("simhash_pairs")
  val WinnowPairsPath: String = graft.util.Memo.stablePath("winnow_pairs")

  /** V2c2: cross-method agreement of the SimHash path,
    * ORACLE-WITNESSED — the share of exact Jaccard≥τ near-dup pairs
    * the hamming≤7 pigeonhole join also flags. SimHash approximates
    * COSINE of the shingle multiset, not Jaccard, so this is a
    * cross-method agreement rate (not a recall against its own
    * target); it is exactly the number a curation owner needs before
    * swapping v2a's quadratic join for v2c's linear one. */
  def simhashOverlap(spark: SparkSession, dir: String): DataFrame = {
    overlapAgainstDump(spark, graft.util.Memo.dump("simhash_pairs", dir)(
        simhashDedup(spark, dir).select(col("i"), col("j"))),
      ngramJaccard(spark, dir).select(col("i"), col("j")),
      Seq("i", "j"), "agreement")
  }

  private[dedup] lazy val simhashOverlapSql: String =
    s"""WITH x AS (SELECT i, j FROM ($jaccardPairsSql)),
       | c AS (SELECT i, j FROM read_parquet('$SimhashPairsPath/*.parquet')),
       | h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM x
       |       WHERE EXISTS (SELECT 1 FROM c WHERE c.i=x.i AND c.j=x.j)),
       | t AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM x)
       |SELECT n_hit, n_exact,
       | ${OracleSql.ratio6("n_hit", "n_exact")} AS agreement
       |FROM h, t""".stripMargin

  /** V22c: coverage of the winnowed fingerprint path,
    * ORACLE-WITNESSED — the share of exact stride-1 substring-dup
    * pairs (v22) the MOSS-sampled path (v22b) also reports. The
    * winnowing guarantee says spans ≥ k+b−1 chars are always caught;
    * this value row shows what that means on the live corpus, judged
    * independently by both engines every round. */
  def winnowCoverage(spark: SparkSession, dir: String): DataFrame = {
    overlapAgainstDump(spark, graft.util.Memo.dump("winnow_pairs", dir)(
        substringDupsWinnowed(spark, dir).select(col("i"), col("j"))),
      substringDups(spark, dir).select(col("i"), col("j")),
      Seq("i", "j"), "coverage")
  }

  private[dedup] lazy val winnowCoverageSql: String =
    s"""WITH x AS (SELECT i, j FROM ($substringSql)),
       | c AS (SELECT i, j FROM read_parquet('$WinnowPairsPath/*.parquet')),
       | h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM x
       |       WHERE EXISTS (SELECT 1 FROM c WHERE c.i=x.i AND c.j=x.j)),
       | t AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM x)
       |SELECT n_hit, n_exact,
       | ${OracleSql.ratio6("n_hit", "n_exact")} AS coverage
       |FROM h, t""".stripMargin

  /** V73 sweep grid: the τ range a curation owner actually debates.
    * Starts at [[Tau]] (0.5) because the memoized v2a pair frame is
    * already filtered there — every grid point ≥ τ₀ reuses it for
    * free; a sweep below τ₀ would need a re-mined pair frame. */
  private[graft] val SweepTaus = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** V73: dedup threshold sweep — the aggressiveness curve behind the
    * "where do we set τ?" decision: for each candidate Jaccard
    * threshold, the flagged pair count, the number of distinct
    * documents touched, and their corpus share. One pass over the
    * MEMOIZED v2a pair frame (already mined once per process): each
    * pair explodes into the bounded 5-point grid IN-ROW and filters by
    * `jaccard >= tau` — no new pair join, no window; the aggregates
    * land on the 5-row grid frame. The double compare is safe
    * cross-engine: both sides derive jaccard as micro/1e6 (identical
    * IEEE doubles) and the grid literals are the same doubles. Scale:
    * the pair frame is the τ₀-filtered near-dup set (corpus-sublinear
    * by construction); ×5 in-row replication is free. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val flagged = ngramJaccard(spark, dir)
      .withColumn("tau", explode(array(SweepTaus.map(lit): _*)))
      .filter(col("jaccard") >= col("tau"))
    val nPairs = flagged.groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = flagged
      .select(col("tau"), explode(array(col("i"), col("j"))).as("d"))
      .groupBy(col("tau"))
      .agg(countDistinct(col("d")).as("n_docs"))
    val grid = spark.range(1)
      .select(explode(array(SweepTaus.map(lit): _*)).as("tau"))
    val total = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_total"))
    grid.join(broadcast(nPairs), Seq("tau"), "left")
      .join(broadcast(nDocs), Seq("tau"), "left")
      .crossJoin(broadcast(total))
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        Exact.ratio6(coalesce(col("n_docs"), lit(0L)), col("n_total"))
          .as("docs_share"))
      .orderBy(col("tau"))
  }

  private[dedup] lazy val thresholdSweepSql: String =
    s"""WITH p AS (SELECT i, j, jaccard FROM ($jaccardPairsSql)),
       | taus AS (SELECT unnest([${SweepTaus.mkString(", ")}]) AS tau),
       | f AS (SELECT tau, i, j FROM taus, p WHERE jaccard >= tau),
       | np AS (SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs
       |        FROM f GROUP BY 1),
       | nd AS (SELECT tau, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
       |        FROM (SELECT tau, unnest([i, j]) AS d FROM f) GROUP BY 1),
       | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
       |SELECT t.tau,
       | CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       | CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs,
       | ${OracleSql.ratio6("coalesce(nd.n_docs, 0)", "n_total")}
       |   AS docs_share
       |FROM taus t LEFT JOIN np USING (tau) LEFT JOIN nd USING (tau), tot
       |ORDER BY t.tau""".stripMargin

  private[dedup] val jaccardPairsSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       | s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
       | p AS (SELECT a.doc_id i, b.doc_id j,
       |   ${OracleSql.ratio6("len(list_intersect(a.sh,b.sh))",
             "len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))")} AS jaccard
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |SELECT i, j, jaccard FROM p WHERE jaccard >= 0.5
       |ORDER BY i, j""".stripMargin

}
