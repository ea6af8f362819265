package graft.dedup

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ledger / incremental maintenance (round-9 split of DedupOps —
  * pure move): dup clusters + components, dedup apply, incremental
  * exact/Bloom/near-dup refresh against stored ledgers and band
  * indexes, the streaming near-dup gate, and the IVF recall dump.
  * Mixed into [[DedupOps]].
  */
private[dedup] trait DedupLedger { self: DedupOps.type =>
  /** Path for the dumped IVF pair set, referenced by the v2d2b oracle
    * SQL ([[graft.util.Memo.stablePath]]). The pairs DEPEND on the data
    * dir, so a second dir in the same process would silently compare
    * recall against the wrong dump — [[graft.util.Memo.once]] fails
    * loudly instead. */
  val IvfPairsPath: String = graft.util.Memo.stablePath("ivf_pairs")

  /** Shared tail of every oracle-witnessed quality metric (v2d2b,
    * v2c2, v22c, and SimilarityOps' v3b3/v18c): ONE pass over the
    * exact plan with a left join against the (tiny) dumped approximate
    * result marking hits, one aggregate for both counts, the ratio in
    * exact integer space. */
  private[graft] def overlapAgainstDump(spark: SparkSession,
      dumpPath: String, exact: DataFrame, keys: Seq[String],
      metric: String): DataFrame = {
    val stored = spark.read.parquet(dumpPath).withColumn("h", lit(1))
    exact.join(broadcast(stored), keys, "left")
      .agg(coalesce(sum(coalesce(col("h"), lit(0))), lit(0))
        .cast("long").as("n_hit"),
        count(lit(1)).as("n_exact"))
      .select(col("n_hit"), col("n_exact"),
        Exact.ratio6(col("n_hit"), col("n_exact")).as(metric))
  }

  /** V2d2b: the recall of the IVF candidate path, ORACLE-WITNESSED —
    * not just spec-pinned. The engine dumps its verified IVF pairs to
    * parquet; Spark computes |ivf ∩ exact| / |exact| from its own two
    * plans, and the DuckDB oracle recomputes the SAME number from the
    * dump plus its own independent exact-pair SQL (the v2d oracle). A
    * hash match means an independent engine agrees on exactly which
    * pairs the candidate path found and missed — the driver sees the
    * candidate quality as a value row every round. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    // build the candidate plan only when the dump actually happens —
    // embeddingNearDupIvf is EAGER (the Lloyd refinement
    // localCheckpoints), so hoisting it out of the by-name dump would
    // re-run the full IVF build on every call just to discard it
    graft.util.Memo.dump("ivf_pairs", dir)(
      embeddingNearDupIvf(spark, dir,
        graft.sim.SimilarityOps.adaptiveNlist(spark, dir))
        .select(col("i"), col("j")))
    // ONE pass over the exact pairs: a left join against the (tiny)
    // dumped candidate set marks hits, and a single aggregate counts
    // both totals — the previous two-action form (semi-join count +
    // separate total count) executed the O(N²) exact pair plan twice
    val stored = spark.read.parquet(IvfPairsPath).withColumn("h", lit(1))
    embeddingNearDup(spark, dir).select(col("i"), col("j"))
      .join(broadcast(stored), Seq("i", "j"), "left")
      // outer coalesce: sum over ZERO rows (no exact pairs at all) is
      // NULL where the oracle's count(*) yields 0
      .agg(coalesce(sum(coalesce(col("h"), lit(0))), lit(0))
        .cast("long").as("n_hit"),
        count(lit(1)).as("n_exact"))
      .select(col("n_hit"), col("n_exact"),
        Exact.ratio6(col("n_hit"), col("n_exact")).as("recall"))
  }

  private[dedup] val ivfRecallSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |       CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
       |x AS (SELECT a.vec_id AS i, b.vec_id AS j
       |      FROM e a JOIN e b ON a.vec_id < b.vec_id
       |      WHERE round(list_dot_product(a.v, b.v)/(a.nrm*b.nrm),6) >= 0.4),
       |c AS (SELECT i, j FROM read_parquet('$IvfPairsPath/*.parquet')),
       |h AS (SELECT count(*) AS n_hit FROM x
       |      WHERE EXISTS (SELECT 1 FROM c WHERE c.i=x.i AND c.j=x.j)),
       |t AS (SELECT count(*) AS n_exact FROM x)
       |SELECT CAST(n_hit AS BIGINT) AS n_hit,
       | CAST(n_exact AS BIGINT) AS n_exact,
       | ${OracleSql.ratio6("n_hit", "n_exact")} AS recall
       |FROM h, t""".stripMargin

  /** V2e: duplicate-cluster assignment — connected components over the
    * near-dup pair graph (the step that turns pairs into "keep one per
    * cluster" decisions). The pair graph after near-dup filtering is tiny
    * relative to the corpus (25 pairs from 5k docs here; the same ratio
    * holds for real corpora), so up to [[LocalEdgeLimit]] edges the
    * components are solved with driver-side union-find in one pass.
    * Beyond that, distributed min-label propagation takes over:
    * O(diameter) joins, each a linear shuffle (the GraphX-free
    * large-scale shape). Both paths yield min-reachable-id labels. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramJaccard(spark, dir).select(col("i"), col("j")).cache()
    // Both paths fully consume `pairs` before returning (local path
    // collects; distributed path ends on a localCheckpoint with severed
    // lineage), so the cache can be released here rather than pinning
    // the pair blocks until session end for library callers.
    try {
      if (pairs.count() <= LocalEdgeLimit) localComponents(spark, pairs)
      else distributedComponents(pairs)
    } finally pairs.unpersist()
  }

  val LocalEdgeLimit = 1000000L

  private[graft] def localComponents(spark: SparkSession,
      pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    // iterative find with two-pass path compression: union-by-min-id can
    // chain linearly (ordering, not rank, picks the root), and a
    // recursive find would blow the driver stack near LocalEdgeLimit
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // min id becomes the root, matching the label-propagation result
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    verts.map(v => (v, find(v))).toSeq
      .toDF("doc_id", "cluster_id").orderBy(col("doc_id"))
  }

  /** Iteration ceiling for min-label propagation — a SAFETY bound, not a
    * convergence knob: propagation needs O(graph diameter) rounds, and a
    * pair graph with diameter beyond this is not a dedup cluster shape.
    * Hitting it raises instead of silently returning unconverged labels. */
  private[dedup] val MaxLabelIters = 100

  private[graft] def distributedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("j").as("i"), col("i").as("j")))
      .cache()
    val vertices = edges.select(col("i")).distinct()
    // localCheckpoint severs lineage (each iteration otherwise nests the
    // previous plan — stack/planning blowup on long chains); superseded
    // label frames are unpersisted so the loop holds ONE labels frame of
    // executor memory, not `iter` of them.
    var labels = vertices.withColumn("label", col("i")).localCheckpoint()
    var changed = 1L
    var iter = 0
    // finally (not just the happy path) releases `edges` — and, on the
    // non-convergence raise, the last checkpointed labels frame — so a
    // long-lived session doesn't leak executor storage when the ceiling
    // trips.
    try {
      while (changed > 0) {
        if (iter >= MaxLabelIters)
          throw new IllegalStateException(
            s"connected components did not converge in $MaxLabelIters " +
              "iterations — pair-graph diameter is pathological for dedup")
        val viaNeighbor = edges
          .join(labels.withColumnRenamed("i", "j")
            .withColumnRenamed("label", "nl"), Seq("j"))
          .groupBy(col("i")).agg(min(col("nl")).as("nmin"))
        val next = labels.join(viaNeighbor, Seq("i"), "left")
          .select(col("i"),
            least(col("label"), coalesce(col("nmin"), col("label")))
              .as("label"))
          .localCheckpoint() // eager: materializes before the old frame goes
        changed = next.join(labels.withColumnRenamed("label", "old"), Seq("i"))
          .filter(col("label") =!= col("old")).count()
        labels.unpersist()
        labels = next
        iter += 1
      }
    } finally {
      edges.unpersist()
      if (changed > 0) labels.unpersist() // failure exit: result frame unused
    }
    labels.select(col("i").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** V2f: apply the dedup decision — keep only cluster representatives
    * (min doc_id per near-dup cluster) plus all unclustered docs. A
    * left_anti join against the non-representative side: the canonical
    * "materialize the cleaned corpus" step after pair-finding. */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val dropIds = dupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(dropIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** V72: quality-aware dedup apply — v2f's keeper rule upgraded to
    * what production pipelines actually do: within a near-dup cluster,
    * keep the HIGHEST-QUALITY member (v4b score, [[graft.nlp.TextOps
    * .qualityMicro]] — the same integer micro spelling the quality
    * gate runs), not the lowest id; ties break to the lower id so the
    * decision stays deterministic. The dropped near-dups leave by the
    * same left_anti shape as v2f.
    *
    * Scale shape: the cluster frame is pair-graph-sized (tiny relative
    * to the corpus — the v2e argument), so the per-cluster argmax
    * window runs over it, never over the corpus; quality joins in
    * doc-keyed; the corpus pays one left_anti hash join. */
  def qualityDedupApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("sc").desc, col("doc_id"))
    val drops = dupClusters(spark, dir)
      .join(graft.nlp.TextOps.qualityMicro(spark, dir), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") > 1)
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  private[dedup] lazy val qualityDedupApplySql: String = {
    import graft.nlp.TextOps.{markerSql, wordsSql}
    s"""WITH RECURSIVE
       | t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       | s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
       | p AS (SELECT a.doc_id i, b.doc_id j
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE ${OracleSql.ratio6("len(list_intersect(a.sh,b.sh))",
            "len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))")} >= 0.5),
       | e AS (SELECT i, j FROM p UNION SELECT j AS i, i AS j FROM p),
       | reach(a, b) AS (
       |   SELECT i AS a, i AS b FROM e
       |   UNION
       |   SELECT r.a, e.j FROM reach r JOIN e ON r.b = e.i),
       | cl AS (SELECT a AS doc_id, min(b) AS cluster_id
       |        FROM reach GROUP BY a),
       | q0 AS (SELECT doc_id,
       |   len($wordsSql) AS nw,
       |   len(list_distinct($wordsSql)) AS nd,
       |   ${markerSql("en")} AS sm
       |  FROM documents WHERE text IS NOT NULL),
       | q AS (SELECT doc_id, ${OracleSql.ratio6Micro(
            "(least(nw,100)*nw*40 + (sm+nd)*3000)", "nw*10000")} AS sc
       |       FROM q0),
       | k AS (SELECT cl.doc_id,
       |   row_number() OVER (PARTITION BY cl.cluster_id
       |     ORDER BY q.sc DESC, cl.doc_id) AS rk
       |  FROM cl JOIN q USING (doc_id)),
       | drops AS (SELECT doc_id FROM k WHERE rk > 1)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |ORDER BY doc_id""".stripMargin
  }

  /** The V20 corpus split: `incoming` (doc_id%3==0) arriving against the
    * `existing` accumulated ledger (the rest) — derived deterministically
    * from the one documents table so the oracle states the identical
    * construction. */
  private[dedup] def splitCorpus(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        TextCanon.normHash.as("norm_hash"))
    (docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0))
  }

  /** V20: incremental dedup — the docs of an incoming batch whose
    * normalized content is NOT already in the existing ledger: one
    * left_anti hash join on the content hash, the canonical exact form
    * (linear shuffle both sides). */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val (inc, ex) = splitCorpus(spark, dir)
    newDocsExact(inc, ex)
  }

  /** Core of V20 on explicit (incoming, existing) frames, both carrying
    * (doc_id, source, norm_hash) — spec-reachable with crafted overlap. */
  private[graft] def newDocsExact(inc: DataFrame, ex: DataFrame): DataFrame =
    inc.join(ex.select(col("norm_hash")), Seq("norm_hash"), "left_anti")
      .select(col("doc_id"), col("source"), col("norm_hash"))
      .orderBy(col("doc_id"))

  /** V20b: IDENTICAL semantics through the runtime-filter shape Spark's
    * own InjectRuntimeFilter uses: a Bloom filter of the ledger's hashes
    * (built with Catalyst's `BloomFilterAggregate`, probed with codegen'd
    * `might_contain` — no UDF) splits incoming into definitely-new rows,
    * which SKIP the join entirely, and the small might-contain candidate
    * fraction, which alone pays the exact anti-join — false positives
    * are removed there, so the output is exact and shares v20's oracle.
    * At 100 TB the ledger dwarfs each incoming batch; the filter costs
    * one linear pass + a driver-held sketch (~1.2 GB per 10⁹ ledger keys
    * at these parameters — broadcastable), and the anti-join's probe
    * side shrinks from the full batch to dup-rate + fpp of it. Pair
    * with a hash-bucketed ledger layout (v17) and the ledger side of
    * the residual join needs no shuffle either. */
  def incrementalDedupBloom(spark: SparkSession, dir: String,
      expectedItems: Long = 1000000L): DataFrame = {
    val (inc, ex) = splitCorpus(spark, dir)
    newDocsBloom(inc, ex, expectedItems)
  }

  /** Core of V20b on explicit frames; `expectedItems` sizes the sketch
    * (8 bits/item here ≈ 2% fpp at capacity). */
  private[graft] def newDocsBloom(inc: DataFrame, ex: DataFrame,
      expectedItems: Long = 1000000L): DataFrame = {
    val bfBytes = BloomSketch.bloomBytes(ex, col("norm_hash"),
      expectedItems)
    val sel = Seq(col("doc_id"), col("source"), col("norm_hash"))
    // empty ledger: the aggregate evals to null, and a null filter
    // bloom would drop EVERY row on both branches — the exact answer
    // is "everything is new", no probe needed
    if (bfBytes == null) return inc.select(sel: _*).orderBy(col("doc_id"))
    val might = BloomSketch.mightContain(bfBytes, col("norm_hash"))
    val definiteNew = inc.filter(not(might)).select(sel: _*)
    val candidates = inc.filter(might)
      .join(ex.select(col("norm_hash")), Seq("norm_hash"), "left_anti")
      .select(sel: _*)
    definiteNew.unionByName(candidates).orderBy(col("doc_id"))
  }

  /** V20c: incremental NEAR-dup — v20's arriving-batch question asked at
    * v2b's granularity: which incoming docs are Jaccard-≥τ near-dups of
    * something ALREADY IN the accumulated ledger, without ever pairing
    * the ledger with itself. The ledger's LSH band buckets are a STORED
    * index (memoized parquet — the v19b/v18i ingest-artifact
    * convention): the probe is (incoming bands) ⋈ (stored bands) —
    * O(delta·Bands + matching buckets), never O(ledger²) — and exact
    * Jaccard verification touches candidate pairs only, so the output
    * is exact given candidate recall (1.0 on this corpus, the pinned
    * v2b property; at a scale where banding misses, the miss rate is
    * exactly what v2b's oracle measures). Output: every incoming doc
    * with its dup flag, the smallest matching ledger id, and that
    * match's Jaccard. */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val inc = docs.filter(col("doc_id") % 3 === 0)
    val ledgerBands = graft.util.PlanMemo.memo(spark, "v20c_band_index",
      dir)(bandedBuckets(signatures(docs.filter(col("doc_id") % 3 =!= 0))))
    val cands = bandedBuckets(signatures(inc))
      .select(col("doc_id").as("i"), col("band_idx"), col("band_hash"))
      .join(ledgerBands.select(col("doc_id").as("j"), col("band_idx"),
        col("band_hash")), Seq("band_idx", "band_hash"))
      .select(col("i"), col("j")).distinct()
    // struct-min picks the smallest ledger id WITH its jaccard (field
    // order makes the comparison lexicographic on j first)
    val best = verifyJaccard(cands, shingleSets(spark, dir))
      .groupBy(col("i"))
      .agg(min(struct(col("j"), col("jaccard"))).as("b"))
      .select(col("i").as("doc_id"), col("b.j").as("dup_of"),
        col("b.jaccard").as("jaccard"))
    inc.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** ST24: streaming near-dup gate — v20c at ingest time: each ARRIVING
    * document is probed against the ledger's stored LSH band index the
    * moment it lands, emitting every verified (arriving doc, ledger
    * doc, Jaccard) decision for the downstream dedup apply. The MinHash
    * signature is computed IN-ROW on the stream (the fused one-pass
    * [[graft.functions.MinHashSig]] expression — no explode/groupBy,
    * stateless per row) through the SAME permutation coefficients and
    * band-hash spelling as the stored index, so stream probe and batch
    * index cannot disagree on a bucket; candidates join the two static
    * frames (band index, ledger shingle sets), verify exact Jaccard
    * in-row, and dedupe multi-band hits with a WATERMARK-SCOPED
    * dropDuplicatesWithinWatermark. Append mode end-to-end.
    *
    * Bounded state (round-10 fix of the round-9 advice carry-over):
    * a doc's multi-band duplicate hits all surface in the one
    * micro-batch that reads its file (posexplode of one input row),
    * so deduping within an arrival-time watermark is output-identical
    * to the unscoped dropDuplicates this used before — but the state
    * store now EVICTS seen pairs once the watermark passes, so the
    * same plan is safe on a genuinely unbounded source instead of
    * carrying a "finite streams only" contract. The arrival column is
    * the batch timestamp (current_timestamp is batch-constant in
    * micro-batch mode), used only for eviction and dropped from the
    * output. StreamingSpec pins the DeduplicateWithinWatermark +
    * EventTimeWatermark nodes in the plan. */
  def streamingNearDupGate(spark: SparkSession, dir: String): DataFrame = {
    val verified = nearDupGatePlan(spark, dir)
    graft.streaming.StreamingOps.runToBatchAppend(spark, verified,
        s"st24_neardup_${System.nanoTime()}")
      .orderBy(col("doc_id"), col("dup_of"))
  }

  /** The st24 streaming plan itself (test seam: StreamingSpec asserts
    * the bounded-state shape on the unstarted frame). */
  private[graft] def nearDupGatePlan(spark: SparkSession,
      dir: String): DataFrame = {
    val ledger = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && col("doc_id") % 3 =!= 0)
    val ledgerBands = graft.util.PlanMemo.memo(spark, "v20c_band_index",
      dir)(bandedBuckets(signatures(ledger)))
      .select(col("doc_id").as("j"), col("band_idx"), col("band_hash"))
    val ledgerSets = graft.util.PlanMemo.memo(spark, "st24_ledger_sets",
      dir)(ledger.select(col("doc_id"), shingles.as("sh"))
        .withColumn("sz", size(col("sh"))))
      .select(col("doc_id").as("j"), col("sh").as("sh_j"),
        col("sz").as("sz_j"))
    val probes = graft.streaming.StreamingOps
      .tableStream(spark, dir, "documents")
      .filter(col("text").isNotNull && col("doc_id") % 3 === 0)
      // same zero-shingle guard as the batch signatures(): a <3-word
      // doc must not probe with an all-sentinel signature
      .filter(size(graft.functions.ShingleFunctions
        .shingle_hashes(col("text"))) > 0)
      .withColumn("sig", graft.functions.MinHashFunctions.minhash_sig(
        graft.functions.ShingleFunctions.shingle_hashes(col("text")),
        coefs, Prime))
      .select(Seq(col("doc_id").as("i"), shingles.as("sh_i")) ++
        (0 until NumPerm).map(k => col("sig").getItem(k).as(s"m$k")): _*)
      .withColumn("sz_i", size(col("sh_i")))
      .select(col("i"), col("sh_i"), col("sz_i"),
        posexplode(array(bandHashCols: _*)).as(Seq("band_idx", "band_hash")))
    probes
      .join(ledgerBands, Seq("band_idx", "band_hash"))
      .join(ledgerSets, Seq("j"))
      .withColumn("inter",
        size(array_intersect(col("sh_i"), col("sh_j"))))
      .withColumn("jaccard", Exact.ratio6(col("inter"),
        col("sz_i") + col("sz_j") - col("inter")))
      .filter(col("jaccard") >= Tau)
      .select(col("i").as("doc_id"), col("j").as("dup_of"), col("jaccard"))
      .withColumn("arrival", current_timestamp())
      .withWatermark("arrival", "10 seconds")
      .dropDuplicatesWithinWatermark("doc_id", "dup_of")
      .drop("arrival")
  }

  private[dedup] lazy val streamingNearDupSql: String =
    s"""WITH pr AS (SELECT i, j, jaccard FROM ($jaccardPairsSql)),
       | sym AS (SELECT i, j, jaccard FROM pr
       |         UNION ALL SELECT j, i, jaccard FROM pr)
       |SELECT i AS doc_id, j AS dup_of, jaccard FROM sym
       |WHERE i % 3 = 0 AND j % 3 <> 0
       |ORDER BY 1, 2""".stripMargin

}
