package graft.dedup

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Removal-grade scrubbing + decontamination (round-9 split of
  * DedupOps — pure move): V67 repeated-span scrub, V69 benchmark
  * scrub, V16/V16b (semantic) decontamination and their streaming
  * gates, plus the IVF near-dup candidate path that shares the v3
  * build. Mixed into [[DedupOps]].
  */
private[dedup] trait DedupScrub { self: DedupOps.type =>
  // ---- V67: exact repeated-span SCRUBBING (the removal operator) ----

  /** Span-scrub window width (words). Production exact-substring dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better") removes repeats of ~50 BPE tokens found via suffix
    * arrays; fixed-width word windows give the same removal decision
    * for any repeat ≥ W words, in plain dataflow. */
  val ScrubWindow = 8

  /** (doc_id, s, h): every [[ScrubWindow]]-word window's 1-based start
    * and md5 hash over a (doc_id, w) frame — THE window spelling (
    * lowercase words, single-space join, md5 of the W-word slice)
    * shared by v67, st19's ledger and v69 (review finding, round 8:
    * independent copies would let a tokenization tweak silently turn
    * another scrub into a no-op). st19's stream side keeps the IN-ROW
    * expression twin of this spelling; DuckDB side:
    * [[scrubWindowCtes]]. */
  private[dedup] def scrubWindows(d: DataFrame): DataFrame = {
    val W = ScrubWindow
    d.filter(size(col("w")) >= W)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (W - 1))).as("s"))
      .select(col("doc_id"), col("s"),
        md5(array_join(slice(col("w"), col("s"), lit(W)), " ")).as("h"))
  }

  /** DuckDB spelling of the `sd`/`so` window CTEs behind
    * [[scrubWindows]]. */
  private[dedup] lazy val scrubWindowCtes: String = {
    val W = ScrubWindow
    s"""sd AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |  FROM documents WHERE text IS NOT NULL),
       | so AS (SELECT doc_id, s,
       |   md5(array_to_string(list_slice(w, s, s + ${W - 1}), ' ')) AS h
       |  FROM (SELECT doc_id, w,
       |          unnest(range(1, len(w) - ${W - 2})) AS s
       |        FROM sd WHERE len(w) >= $W))""".stripMargin
  }

  /** V67: the fourth dedup granularity completed — v1 removes whole
    * duplicate DOCS, v2f near-dup docs, v50 semantic neighbors, v22
    * only DETECTS copied spans; this operator REMOVES them. Every
    * [[ScrubWindow]]-word window occurring in ≥ 2 documents is
    * scrubbed from every document EXCEPT the lowest-doc_id holder
    * (keep-first, the v1/v50 convention): a word is dropped when any
    * duplicated window covering it belongs to a later doc. Output is
    * the per-doc scrub report with the cleaned text witnessed by md5 —
    * the operator that turns v22's findings into training data.
    *
    * Scale shape: one explode to (doc, start, window-hash) rows, one
    * hash-keyed aggregate for (first holder, occurrence count), one
    * hash-keyed join back, one doc-keyed aggregate of removed
    * positions, rebuild in-row — all linear in corpus token count, no
    * pair join anywhere (the hash aggregate replaces the suffix
    * array). */
  def spanScrub(spark: SparkSession, dir: String): DataFrame = {
    val W = ScrubWindow
    val d = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    // ONE pass over the exploded windows (round 13): the per-hash
    // aggregate carries each occurrence (doc_id, s) through the single
    // h-keyed exchange it pays anyway, so the old shape's SECOND
    // scan+explode+md5 of every window (occ consumed by both the
    // groupBy and the join probe side) and the join itself disappear.
    // (doc_id > keep_doc) alone ≡ (n_occ >= 2 && doc_id > keep_doc):
    // an occurrence above the minimum implies a second occurrence, and
    // a window occurring only in the keeper doc has none above it.
    val starts = scrubWindows(d)
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_doc"),
        collect_list(struct(col("doc_id"), col("s"))).as("occs"))
      .select(col("keep_doc"), explode(col("occs")).as("o"))
      .filter(col("o.doc_id") > col("keep_doc"))
      .select(col("o.doc_id").as("doc_id"), col("o.s").as("s"))
    // covered positions folded IN-ROW per doc: the doc-keyed exchange
    // carries one row per scrubbed WINDOW (start only), not the W
    // exploded positions the old explode+distinct shuffled (8x the
    // rows and an extra exchange for the distinct). array_distinct ∘
    // flatten ∘ sequence reproduces the exploded-distinct set exactly.
    val removed = starts
      .groupBy(col("doc_id"))
      .agg(collect_list(col("s")).as("ss"))
      .select(col("doc_id"),
        array_sort(array_distinct(flatten(transform(col("ss"),
          x => sequence(x.cast("long"),
            x.cast("long") + lit((W - 1).toLong)))))).as("ps"))
      .select(col("doc_id"), size(col("ps")).cast("long").as("n_removed"),
        col("ps"))
    d.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).as("n_words"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        md5(array_join(
          when(col("ps").isNull, col("w")).otherwise(
            filter(col("w"), (_, i) =>
              !array_contains(col("ps"), i.cast("long") + 1L))),
          " ")).as("clean_hash"))
      .orderBy(col("doc_id"))
  }

  private[dedup] lazy val spanScrubSql: String = {
    val W = ScrubWindow
    s"""WITH $scrubWindowCtes,
       | sg AS (SELECT h, min(doc_id) AS keep_doc, count(*) AS n_occ
       |        FROM so GROUP BY 1),
       | sp AS (SELECT DISTINCT so.doc_id, unnest(range(so.s, so.s + $W))
       |          AS p
       |  FROM so JOIN sg USING (h)
       |  WHERE sg.n_occ >= 2 AND so.doc_id > sg.keep_doc),
       | sr AS (SELECT doc_id, count(*) AS n_removed,
       |         list(p ORDER BY p) AS ps
       |        FROM sp GROUP BY 1)
       |SELECT sd.doc_id, CAST(len(sd.w) AS INT) AS n_words,
       | CAST(coalesce(sr.n_removed, 0) AS BIGINT) AS n_removed,
       | md5(coalesce(array_to_string(CASE WHEN sr.ps IS NULL THEN sd.w
       |   ELSE list_filter(sd.w,
       |          (x, i) -> NOT list_contains(sr.ps, i)) END,
       |   ' '), '')) AS clean_hash
       |FROM sd LEFT JOIN sr USING (doc_id)
       |ORDER BY sd.doc_id""".stripMargin
  }

  /** The %97 benchmark slice's DISTINCT shingles as a Spark broadcast,
    * for the compiled in-row containment probe
    * ([[graft.functions.SetHitCount]]) — round-11 ScaleBench finding:
    * the 1-row bench-ARRAY crossJoin + array_intersect spelling
    * rebuilt the bench hash set per document (O(|bench|)/row), and the
    * fixture's bench slice co-grows with the corpus, so st25 measured
    * 587× at ×100. The broadcast is bounded by the same
    * benchmarks-are-small contract as v16's semi-join side; memoized
    * per (session, dir). Shared by st17 and the st25 ingest DAG (their slices explode to
    * the same distinct set — null-text docs contribute no shingles
    * either way). */
  private[dedup] def benchShinglesBc(spark: SparkSession, dir: String):
      org.apache.spark.broadcast.Broadcast[Array[String]] =
    graft.util.Memo(Some(spark), "bench_shingles_bc", dir) {
      spark.sparkContext.broadcast(
        graft.util.PlanMemo.memo(spark, "bench_shingles", dir)(
          shingleSets(spark, dir)
            .filter(pmod(col("doc_id"), lit(97)) === 0)
            .select(explode(col("sh")).as("shingle")).distinct())
          .collect().map(_.getString(0)))
    }

  /** The stored (window-hash → first-holder) dup-window ledger — the
    * artifact BOTH probe shapes read (in-row broadcast below the size
    * bound, Bloom + keyed join above it). */
  private[dedup] def scrubLedgerStored(spark: SparkSession,
      dir: String): DataFrame =
    graft.util.PlanMemo.memo(spark, "st19_ledger", dir) {
      scrubWindows(
        Tables.documents(spark, dir).filter(col("text").isNotNull)
          .select(col("doc_id"), split(lower(col("text")), " ").as("w")))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keep_doc"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= 2)
        .select(col("h"), col("keep_doc"))
    }

  /** Dup-window count of the stored ledger, memoized per (session,
    * dir) — one count job decides the probe shape for every consumer
    * in the process. */
  private[dedup] def scrubLedgerCount(spark: SparkSession,
      dir: String): Long =
    graft.util.Memo(Some(spark), "scrub_count", dir) {
      scrubLedgerStored(spark, dir).count()
    }

  /** Broadcast bound for the in-row scrub ledger, in dup WINDOWS: the
    * flat (32-hex-hash, long) pairs run ~100 B/entry materialized, so
    * 1M windows ≈ 100 MB on the driver and per executor — the same
    * budget as the BFS frontier bound (TraceService). Above it the
    * probe switches automatically to the v20b shape
    * ([[scrubViaLedgerJoin]]): until round 10 this fallback was
    * documented in SCALING.md "Honest limits" but not wired. */
  private[dedup] val ScrubLedgerBroadcastMax: Long = 1000000L

  /** Test seam: force the bound down so the fixture exercises the
    * fallback path (DedupSpec pins both shapes bit-identical). */
  @volatile private[graft] var scrubLedgerMaxOverride: Option[Long] = None
  private[dedup] def scrubLedgerMax: Long =
    scrubLedgerMaxOverride.getOrElse(ScrubLedgerBroadcastMax)

  /** True when (session, dir)'s ledger fits the in-row broadcast. */
  private[graft] def scrubLedgerFitsBroadcast(spark: SparkSession,
      dir: String): Boolean =
    scrubLedgerCount(spark, dir) <= scrubLedgerMax

  /** ST19: STREAMING span scrub — v67 as an ingest-time gate (copied
    * spans removed before a document lands), the st17 convention for
    * the span granularity: the duplicated-window LEDGER (hash →
    * first-holder doc id, only hashes occurring ≥ 2×) is computed
    * batch-side, folded into ONE broadcast map row (localCheckpointed
    * — broadcast sides re-execute per micro-batch), and each arriving
    * document scrubs itself IN-ROW: window hashes looked up in the
    * map, covered positions flattened/deduped, words rebuilt. A
    * stateless append map, so the finite stream equals batch v67 and
    * SHARES its oracle. At a ledger too large for one map row, the
    * v20b Bloom runtime filter is the membership probe (candidates
    * then pay a keyed join). */
  /** The duplicated-window ledger as a Spark BROADCAST of the flat
    * (window-hash → first-holder) pairs — a stored artifact (PlanMemo
    * materializes the (h, keep_doc) table; a production corpus
    * maintains its dup-window ledger ingest-side and consumers read
    * it), collected once per (session, dir) and shipped to executors
    * through the broadcast machinery rather than as a one-row column.
    * Round-9 scale history (SCALING.md): the 256-bucket one-row map
    * probed per window ran interpreted at ~200 µs/window, and ANY
    * column form drags the multi-MB array through every joined row's
    * fallback materialization — the broadcast + compiled expression
    * ([[graft.functions.ScrubReport]]) removes both terms. The driver
    * collect is bounded by the same "ledger fits in memory" contract
    * the broadcast itself asserts; beyond ~1M dup windows the v20b
    * Bloom runtime filter + keyed join is the right membership probe
    * (see the st19 docstring). Shared by st19 and the st25 ingest
    * DAG. */
  private[dedup] def scrubLedgerBroadcast(spark: SparkSession,
      dir: String):
      org.apache.spark.broadcast.Broadcast[Array[(String, Long)]] =
    graft.util.Memo(Some(spark), "scrub_bc", dir) {
      spark.sparkContext.broadcast(
        scrubLedgerStored(spark, dir).collect()
          .map(r => (r.getString(0), r.getLong(1))))
    }

  /** The over-the-broadcast-bound scrub probe — v20b's runtime-filter
    * shape applied to windows: a Bloom of the ledger's window hashes
    * (Catalyst BloomFilterAggregate, ~1.2 GB per 10⁹ windows — always
    * shippable) screens every window in-row; only the might-contain
    * fraction pays the exact keyed join against the STORED ledger
    * (never collected to the driver), Bloom false positives die in the
    * join, covered positions fold per doc, and the clean text is
    * rebuilt in-row. Output is bit-identical to
    * [[withInRowScrub]]/[[graft.functions.ScrubReport]] (DedupSpec
    * pins it on the fixture with a forced-low bound): same window
    * spelling ([[scrubWindows]]), same keep-first rule, same md5
    * rebuild. Appends n_words / n_removed / clean_hash like
    * withInRowScrub; passthrough columns preserved. */
  private[graft] def scrubViaLedgerJoin(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val W = ScrubWindow
    val stored = scrubLedgerStored(spark, dir)
    // the sketch depends only on (session, dir): memoized so the
    // streaming fallbacks (st19/st25 over the bound) pay the full-
    // ledger aggregation ONCE, not once per micro-batch (round-10
    // review finding — the scrub_bc memo applied to the bytes)
    val bfBytes = graft.util.Memo(Some(spark), "scrub_bloom", dir) {
      BloomSketch.bloomBytes(stored, col("h"),
        math.max(1L, scrubLedgerCount(spark, dir)))
    }
    val wins = scrubWindows(df.select(col("doc_id"), col("w")))
    val candidates =
      if (bfBytes == null) wins.filter(lit(false)) // empty ledger
      else wins.filter(BloomSketch.mightContain(bfBytes, col("h")))
    val ps = candidates
      .join(stored.hint("shuffle_hash"), Seq("h"))
      .filter(col("keep_doc") < col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(W - 1))).as("p"))
      .groupBy(col("doc_id"))
      // collect_set dedups overlapping windows; ps stays ≤ |w| ints
      .agg(sort_array(collect_set(col("p"))).as("ps"))
    df.join(ps, Seq("doc_id"), "left")
      .withColumn("n_words", size(col("w")))
      .withColumn("n_removed", when(col("ps").isNull, lit(0L))
        .otherwise(size(col("ps")).cast("long")))
      // word index i is 0-based, ledger positions 1-based (the slice
      // convention) — the HOF filter runs interpreted but only the
      // dup-hit docs carry a non-null ps, and the rebuild itself is
      // O(|w|·|ps|) on exactly those docs
      .withColumn("clean_hash", md5(array_join(
        when(col("ps").isNull, col("w"))
          .otherwise(filter(col("w"),
            (x, i) => not(array_contains(col("ps"), i + 1)))), " ")))
      .drop("ps")
  }

  /** Size-dispatched batch scrub: the in-row broadcast probe while the
    * ledger fits ([[ScrubLedgerBroadcastMax]]), the Bloom + keyed-join
    * shape beyond — the automatic switch round 9 documented but did
    * not wire. */
  private[graft] def scrubDispatch(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame =
    if (scrubLedgerFitsBroadcast(spark, dir))
      withInRowScrub(df, scrubLedgerBroadcast(spark, dir))
    else scrubViaLedgerJoin(spark, dir, df)

  /** In-row scrub over a frame carrying (doc_id, w): appends n_words /
    * n_removed / clean_hash computed in ONE compiled JVM pass per
    * document ([[graft.functions.ScrubReport]] — window md5s via
    * MessageDigest, broadcast ledger as a java HashMap, O(1) probe per
    * window). FunctionsSpec pins the expression bit-identical to the
    * composable SQL spelling, so st19/st25 keep sharing v67's oracle.
    * One spelling for st19 and st25. */
  private[dedup] def withInRowScrub(df: DataFrame,
      ledger: org.apache.spark.broadcast.Broadcast[
        Array[(String, Long)]]): DataFrame =
    df.withColumn("sr", graft.functions.ScrubFunctions.scrub_report(
        col("w"), col("doc_id"), ledger, ScrubWindow))
      .withColumn("n_words", col("sr.n_words"))
      .withColumn("n_removed", col("sr.n_removed"))
      .withColumn("clean_hash", col("sr.clean_hash"))
      .drop("sr")

  def streamingSpanScrub(spark: SparkSession, dir: String): DataFrame = {
    // pre-split source: the per-row scrub work spreads across the
    // micro-batch's file splits — no round-robin exchange needed
    val stream = graft.streaming.StreamingOps
      .tableStream(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val outCols = Seq(col("doc_id"), col("n_words"), col("n_removed"),
      col("clean_hash"))
    if (scrubLedgerFitsBroadcast(spark, dir)) {
      val scrubbed =
        withInRowScrub(stream, scrubLedgerBroadcast(spark, dir))
          .select(outCols: _*)
      graft.streaming.StreamingOps.runToBatchAppend(spark, scrubbed,
          s"st19_scrub_${System.nanoTime()}")
        .orderBy(col("doc_id"))
    } else {
      // Over the broadcast bound the gate runs per MICRO-BATCH through
      // foreachBatch: each arriving batch is a plain DataFrame, so it
      // pays the v20b Bloom + keyed-join scrub against the stored
      // ledger — the scrub is per-document and stateless across
      // batches, so the union of batch outputs equals the batch scrub
      // (the in-row path's own equivalence argument, unchanged).
      val out = graft.util.Memo.path("graft_st19_fb")
      graft.streaming.StreamingOps.runForeachBatch(spark, stream,
        s"st19_scrub_${System.nanoTime()}") { (b, _) =>
        scrubViaLedgerJoin(spark, dir, b).select(outCols: _*)
          .write.mode("append").parquet(out)
      }
      spark.read.parquet(out).orderBy(col("doc_id"))
    }
  }

  // ---- V69: benchmark span SCRUBBING (decontamination as removal) ----

  /** V69: window-level benchmark decontamination — the REMOVAL form of
    * v16's gate. v16 DROPS a document whose shingle containment against
    * the pooled benchmark crosses a threshold; below that threshold a
    * contaminated span still ships to the trainer verbatim. This
    * operator instead removes every [[ScrubWindow]]-word window of a
    * corpus document that also occurs anywhere in the benchmark — eval
    * answers cut out of the training text itself, the document kept.
    * The benchmark here is the `doc_id % 7 == 0` slice, denser than
    * v16's `% 97`: the sparse slice shares no 8-word window with the
    * corpus at the test SFs, so the removal branch would go untested. Output is the per-corpus-doc scrub
    * report (word count, removed-word count, cleaned-text md5), zero-hit
    * docs included, so the oracle pins both the removals AND the
    * untouched complement.
    *
    * Scale shape: the benchmark's distinct window hashes broadcast
    * (benchmarks are small by definition — v16's argument); the corpus
    * side is one linear explode → broadcast LEFT SEMI probe → one
    * doc-keyed aggregate of covered positions → in-row rebuild. No
    * corpus-vs-corpus join, no keep-first ordering (the benchmark is
    * always the holder), linear in corpus token count. */
  def benchmarkScrub(spark: SparkSession, dir: String): DataFrame = {
    val W = ScrubWindow
    val d = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val bench = scrubWindows(d.filter(pmod(col("doc_id"), lit(7)) === 0))
      .select(col("h")).distinct()
    val corpus = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    // doc-keyed exchange carries one row per hit WINDOW (start only);
    // covered positions expand + dedup IN-ROW (the round-13 v67
    // treatment: the old explode+distinct shuffled W x the rows plus
    // an extra exchange for the distinct).
    val removed = scrubWindows(corpus)
      .join(broadcast(bench), Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("s")).as("ss"))
      .select(col("doc_id"),
        array_sort(array_distinct(flatten(transform(col("ss"),
          x => sequence(x.cast("long"),
            x.cast("long") + lit((W - 1).toLong)))))).as("ps"))
      .select(col("doc_id"), size(col("ps")).cast("long").as("n_removed"),
        col("ps"))
    corpus.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).as("n_words"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        md5(array_join(
          when(col("ps").isNull, col("w")).otherwise(
            filter(col("w"), (_, i) =>
              !array_contains(col("ps"), i.cast("long") + 1L))),
          " ")).as("clean_hash"))
      .orderBy(col("doc_id"))
  }

  private[dedup] lazy val benchmarkScrubSql: String = {
    val W = ScrubWindow
    s"""WITH $scrubWindowCtes,
       | bh AS (SELECT DISTINCT h FROM so WHERE doc_id % 7 = 0),
       | sp AS (SELECT DISTINCT so.doc_id, unnest(range(so.s, so.s + $W))
       |          AS p
       |  FROM so JOIN bh USING (h) WHERE so.doc_id % 7 <> 0),
       | sr AS (SELECT doc_id, count(*) AS n_removed,
       |         list(p ORDER BY p) AS ps
       |        FROM sp GROUP BY 1)
       |SELECT sd.doc_id, CAST(len(sd.w) AS INT) AS n_words,
       | CAST(coalesce(sr.n_removed, 0) AS BIGINT) AS n_removed,
       | md5(coalesce(array_to_string(CASE WHEN sr.ps IS NULL THEN sd.w
       |   ELSE list_filter(sd.w,
       |          (x, i) -> NOT list_contains(sr.ps, i)) END,
       |   ' '), '')) AS clean_hash
       |FROM sd LEFT JOIN sr USING (doc_id)
       |WHERE sd.doc_id % 7 <> 0
       |ORDER BY sd.doc_id""".stripMargin
  }

  /** V2d2: the candidates+verify twin of [[embeddingNearDup]] — multi-probe
    * IVF cells (each vector assigned to its `nprobe` nearest of `nlist`
    * centroids), candidate pairs share a probed cell, exact cosine verify
    * touches candidates only. This is the 100 TB SHAPE (one shuffle on
    * cell id, in-cell pair products); on this data at τ=0.4 its recall vs
    * the exact join is ≈0.92-0.95 (pinned in DedupSpec) because the
    * threshold sits inside a continuous background — at true near-dup
    * thresholds the same plan is both sub-quadratic AND recall≈1. */
  def embeddingNearDupIvf(spark: SparkSession, dir: String,
      nlist: Int = 16, nprobe: Int = 4,
      tau: Double = 0.4): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    // the SAME Lloyd-refined index the v3 queries use (one iteration),
    // from the shared per-process build — candidate generation and ANN
    // probing share one notion of "cell" AND one build
    val (e, cents, _) =
      graft.sim.SimilarityOps.ivfBuild(spark, dir, nlist, 1)
    val probed =
      graft.sim.SimilarityOps.multiProbeAssign(e, cents, nprobe, nlist)
    // Verify IN-CELL (round-10 x100 fix): the previous shape deduped
    // candidate pairs FIRST and then joined the vectors back on — two
    // more shuffles whose rows carry a 64-dim vector each (~50 GB of
    // exchange at x100; it filled the disk). Here the vectors ride the
    // ONE cell-keyed exchange of n*nprobe probe rows (~0.5 GB at
    // x100), the cosine is computed inside the pair-join stage, the
    // tau filter shrinks the survivors BEFORE the distinct, and the
    // distinct dedups multi-cell pairs on slim (i, j, cos) rows. A
    // pair shared by several probed cells recomputes its dot product
    // (bounded by nprobe), which is far cheaper than re-shuffling
    // every candidate with vectors attached. Same pairs, same values.
    val x = probed.select(col("cent_id"), col("vec_id").as("i"),
      col("v").as("v_i"), col("nrm").as("n_i"))
    val y = probed.select(col("cent_id"), col("vec_id").as("j"),
      col("v").as("v_j"), col("nrm").as("n_j"))
    // hash join beats SMJ on the nlist-key cell join (no sort needed)
    x.join(y.hint("shuffle_hash"), Seq("cent_id"))
      .filter(col("i") < col("j"))
      .withColumn("cos", round(
        dot_product(col("v_i"), col("v_j")) / (col("n_i") * col("n_j")), 6))
      .filter(col("cos") >= tau)
      .select(col("i"), col("j"), col("cos"))
      .distinct() // a pair may share several probed cells
      .orderBy(col("i"), col("j"))
  }

  /** V16: benchmark decontamination — the training-data op that keeps
    * eval answers out of the corpus: flag every corpus document whose
    * 3-word-shingle set is contained in the POOLED benchmark shingle
    * set above `tau`. The benchmark here is the deterministic
    * `doc_id % 97 == 0` slice standing in for an external eval table
    * (tiny relative to the corpus, as real benchmarks are).
    *
    * Scale shape: the benchmark's distinct shingles broadcast (a few
    * million strings at worst — benchmarks are small by definition);
    * the corpus side is one linear explode → broadcast LEFT SEMI probe
    * → one shuffle on doc_id for the hit count. No corpus-vs-corpus
    * join anywhere, so it stays linear in corpus size. */
  def decontaminate(spark: SparkSession, dir: String,
      tau: Double = ContamTau): DataFrame = {
    val sets = shingleSets(spark, dir)
    decontamOf(sets, pmod(col("doc_id"), lit(97)) === 0, tau)
  }

  /** The shared decontam dataflow: pooled distinct shingles of the
    * `isBench` slice broadcast, complement probed. One body for v16,
    * v16c, and (via [[contaminationAgg]]) the cross-dir form — a
    * tau/shingle change hits every variant at once (round-12 review). */
  private def decontamOf(sets: DataFrame, isBench: Column,
      tau: Double): DataFrame =
    contaminationAgg(
      sets.filter(!isBench),
      sets.filter(isBench)
        .select(explode(col("sh")).as("shingle")).distinct(),
      tau)

  /** The decontam aggregation tail over an explicit (corpus, bench
    * shingles) pair. */
  private def contaminationAgg(corpus: DataFrame, bench: DataFrame,
      tau: Double): DataFrame =
    corpus
      .select(col("doc_id"), col("sz"), explode(col("sh")).as("shingle"))
      .join(broadcast(bench), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"), col("sz"))
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("contamination", Exact.ratio6(col("n_hit"), col("sz")))
      .filter(col("contamination") >= tau)
      .select(col("doc_id"), col("sz").as("n_shingles"), col("n_hit"),
        col("contamination"))
      .orderBy(col("doc_id"))

  /** [[decontaminate]] with the benchmark taken from a SEPARATE dir —
    * the real deployment shape (the benchmark is an external
    * fixed-size eval set, not a slice that grows with the corpus).
    * ScaleBench measures this form to substantiate the linear-scan
    * claim: the per-doc cost is O(|sh| + |bench|), so only a FIXED
    * benchmark keeps the total linear in corpus size (SCALING.md —
    * the v16 fixture's co-growing slice measured 46.5× at ×100). */
  def decontaminateAgainst(spark: SparkSession, corpusDir: String,
      benchDir: String, tau: Double = ContamTau): DataFrame =
    contaminationAgg(
      shingleSets(spark, corpusDir)
        .filter(pmod(col("doc_id"), lit(97)) =!= 0),
      shingleSets(spark, benchDir)
        .filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(explode(col("sh")).as("shingle")).distinct(),
      tau)

  /** V16c: [[decontaminate]] with the benchmark slice held at a FIXED
    * size — `doc_id % 97 == 0 AND doc_id < `[[FixedBenchCeil]] (six
    * ids at every SF), the st21c convention applied to decontam: the
    * registry v16's `% 97` slice CO-GROWS with the corpus, so its ×100
    * ScaleBench row reads 46.5× even though the per-doc plan is
    * linear; this graded twin pins the deployment shape (external
    * fixed-size eval set) where the same plan measures ≲ linear
    * (SCALING.md `v16[fixed benchmark]`: 23.1× at ×100 — IO-dominated
    * sub-linear). Corpus side = everything NOT in the benchmark
    * (ids ≥ the ceiling with `% 97 == 0` are ordinary corpus docs
    * here, unlike v16 — the benchmark is a closed external set). */
  def decontaminateFixedBench(spark: SparkSession, dir: String,
      tau: Double = ContamTau): DataFrame =
    decontamOf(shingleSets(spark, dir),
      pmod(col("doc_id"), lit(97)) === 0 &&
        col("doc_id") < FixedBenchCeil,
      tau)

  /** One oracle CTE chain for both decontam variants — `benchPred` is
    * the only thing that differs (round-12 review: the v16c chain was
    * a near-verbatim copy). Callers are lazy vals: this interpolates
    * shinglesSql, declared LATER in this object — a plain val caller
    * would capture null at construction time (object vals initialize
    * in declaration order) and silently emit `null AS sh`. */
  private def decontamSqlFor(benchPred: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       | s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
       | bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s
       |           WHERE $benchPred),
       | c AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM s
       |       WHERE NOT ($benchPred)),
       | h AS (SELECT doc_id, sz, count(*) AS n_hit FROM c
       |       WHERE shingle IN (SELECT shingle FROM bench) GROUP BY 1,2)
       |SELECT doc_id, CAST(sz AS INT) AS n_shingles,
       | CAST(n_hit AS BIGINT) AS n_hit,
       | ${OracleSql.ratio6("n_hit", "sz")} AS contamination
       |FROM h
       |WHERE ${OracleSql.ratio6("n_hit", "sz")} >= $ContamTau
       |ORDER BY doc_id""".stripMargin

  private[dedup] lazy val decontaminateFixedSql: String =
    decontamSqlFor(s"doc_id % 97 = 0 AND doc_id < $FixedBenchCeil")

  private[dedup] lazy val decontaminateSql: String =
    decontamSqlFor("doc_id % 97 = 0")

  /** V16b: SEMANTIC decontamination — v16's embedding-space sibling
    * (and the modern pipeline's second line of defense: paraphrased or
    * translated eval material shares no shingles but sits next to the
    * benchmark in embedding space). Flag every corpus vector whose
    * cosine to ANY benchmark vector (the same deterministic
    * `vec_id % 97` slice convention as v16's doc slice) reaches `tau`.
    *
    * Scale shape: the benchmark embeddings fold into ONE broadcast row
    * of structs (benchmarks are small by definition — the assignSub /
    * v47 centroid-bundle convention) and the per-vector max cosine is
    * computed IN-ROW (transform + array_max over the bundle): one
    * linear corpus scan, ZERO extra shuffle, no corpus-vs-corpus join. */
  def semanticDecontaminate(spark: SparkSession, dir: String,
      tau: Double = 0.3): DataFrame =
    semanticDecontamOf(spark, dir,
      pmod(col("vec_id"), lit(97)) === 0, tau)

  /** The shared semantic-decontam dataflow — one body for v16b and
    * its fixed-benchmark twin, `isBench` the only difference
    * (round-12 review). */
  private def semanticDecontamOf(spark: SparkSession, dir: String,
      isBench: Column, tau: Double): DataFrame = {
    val e = graft.sim.SimilarityOps.withNorm(Tables.embeddings(spark, dir))
    val benchRow = e.filter(isBench)
      .agg(array_sort(collect_list(struct(col("vec_id").as("bid"),
        col("v").as("bv"), col("nrm").as("bn")))).as("bs"))
    e.filter(!isBench)
      .crossJoin(broadcast(benchRow))
      .withColumn("cs", transform(col("bs"), b =>
        round(graft.sim.SimilarityOps.dot(col("v"), b.getField("bv")) /
          (col("nrm") * b.getField("bn")), 6)))
      .select(col("vec_id"),
        size(filter(col("cs"), _ >= tau)).cast("long").as("n_bench_hits"),
        array_max(col("cs")).as("max_bench_cos"))
      .filter(col("max_bench_cos") >= tau)
      .orderBy(col("vec_id"))
  }

  /** [[semanticDecontaminate]] with the benchmark slice held at the
    * same FIXED size as [[decontaminateFixedBench]] (`vec_id % 97 == 0
    * AND vec_id < `[[FixedBenchCeil]]): the broadcast bundle is
    * CONSTANT-width under corpus blow-up, so the in-row max-cosine
    * scan is O(1) per vector instead of O(corpus/97) — the term that
    * makes the registry v16b read super-linear at ×100. Feeds v66b. */
  def semanticDecontaminateFixedBench(spark: SparkSession, dir: String,
      tau: Double = 0.3): DataFrame =
    semanticDecontamOf(spark, dir,
      pmod(col("vec_id"), lit(97)) === 0 &&
        col("vec_id") < FixedBenchCeil,
      tau)

  private[dedup] val semanticDecontaminateSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |       CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
       | b AS (SELECT * FROM e WHERE vec_id % 97 = 0),
       | c AS (SELECT * FROM e WHERE vec_id % 97 <> 0),
       | s AS (SELECT c.vec_id,
       |   round(list_dot_product(c.v, b.v)/(c.nrm*b.nrm), 6) AS cos
       |  FROM c, b)
       |SELECT vec_id,
       | CAST(count(*) FILTER (WHERE cos >= 0.3) AS BIGINT) AS n_bench_hits,
       | max(cos) AS max_bench_cos
       |FROM s GROUP BY 1 HAVING max(cos) >= 0.3
       |ORDER BY vec_id""".stripMargin

  /** ST17: STREAMING decontamination — v16 as an ingest-time gate
    * (catch eval contamination before a document ever lands in the
    * corpus) in the st15/st16 train-batch/serve-streaming convention:
    * the pooled benchmark shingles are computed batch-side (a static
    * eval table in production), folded into one broadcast row, and each
    * arriving document's containment is computed IN-ROW over its own
    * shingle set — a stateless append-mode map, so the finite stream
    * equals the batch decontaminate and SHARES v16's oracle unchanged.
    * (At a benchmark too large for array_contains scans, the v20b
    * Bloom runtime filter is the drop-in membership probe.) */
  def streamingDecontaminate(spark: SparkSession, dir: String,
      tau: Double = 0.05): DataFrame = {
    // round 11: the bench set rides a PLAIN broadcast probed by the
    // compiled SetHitCount (built once per JVM) — the previous 1-row
    // array + per-row array_intersect rebuilt the bench hash set per
    // document, quadratic once the fixture slice co-grows (see
    // benchShinglesBc). Same n_hit values; the memo behind the
    // broadcast still spares the per-batch corpus re-scan.
    val benchBc = benchShinglesBc(spark, dir)
    // pre-split source (round 13): the micro-batch inherits the FILE
    // partitioning, so splitting the source spreads the per-row
    // shingle+intersect work across cores WITHOUT the round-robin
    // exchange (and its sort-before-repartition) the round-11 fix paid
    val stream = graft.streaming.StreamingOps
      .tableStream(spark, dir, "documents")
    val scored = stream
      .filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id"), shingles.as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .withColumn("n_hit",
        graft.functions.SetHitCount.set_hit_count(col("sh"), benchBc)
          .cast("long"))
      .withColumn("contamination", Exact.ratio6(col("n_hit"), col("sz")))
      .filter(col("contamination") >= tau)
      .select(col("doc_id"), col("sz").as("n_shingles"), col("n_hit"),
        col("contamination"))
    graft.streaming.StreamingOps.runToBatchAppend(spark, scored,
        s"st17_decon_${System.nanoTime()}")
      .orderBy(col("doc_id"))
  }

}
