package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Exact, GraftQuery, OracleSql, QueryModule, Tables}

/** Product quantization (V18d-g) — the storage format large-corpus ANN
  * actually ships: split each vector into [[M]] subspaces, k-means each
  * subspace to a [[Ksub]]-entry codebook, store each vector as M
  * sub-codes (here 8 × 6 bits = 6 bytes against 256 bytes of float32 —
  * ~43× compression; production corpora use 8-bit codebooks, Ksub
  * scales with corpus size), and answer queries by Asymmetric Distance
  * Computation: one (sub, code) → distance lookup table of M·Ksub
  * entries per query, so a scan touches codes + a broadcast LUT and
  * never the raw vectors. The natural companion of the IVF cell layout
  * (v3b: route to cells, PQ: distances inside them) and the int8
  * scalar path (v18: 4×; PQ: ~43×).
  *
  * Quality on THIS corpus (v18g, both numbers oracle-derived): the
  * synthetic vectors have no cluster structure and pairwise distances
  * concentrate (the true top-10 margin is ~0.2% of the distance), so
  * set-recall@10 is inherently low for ANY codebook size (numpy sweep:
  * 0.0/0.2/0.4 at Ksub 16/64/256) — which is why the witness ALSO
  * reports distance inflation (Σ true distance of the ADC picks over
  * Σ of the exact picks): ~1.14 here, i.e. the quantized search's ten
  * picks are ~14% farther than the perfect ten while a random ten
  * would be ~50% farther — the number that actually characterizes
  * ADC quality under concentration.
  *
  * Everything is oracle-grade exact (the v47 discipline): micro-unit
  * integer coordinates, integer squared-L2, signed half-up centroid
  * means, argmin ties to the lowest code id — DuckDB reruns the
  * identical per-subspace Lloyd unroll and hash-matches codebook
  * profiles, per-vector codes, the ADC top-k AND its recall against
  * the exact top-k (no dump needed: both sides derive in-engine).
  *
  * Scale shape: training/encoding is ONE dataflow for all M subspaces
  * (subspace id is a key, not a loop) — per Lloyd round one broadcast
  * of the M·Ksub×SubDims codebook bundle (1 KiB-scale) plus one
  * (sub, cid, dim)-keyed partial-agg shuffle; encoding is the same
  * broadcast + in-row argmin with zero extra shuffle; the ADC query
  * is codes ⋈ broadcast(LUT) + one vec_id-keyed partial agg into a
  * TakeOrderedAndProject. Overflow bounds at these micro-units
  * (|x| ≤ ~6e5): per-sub d ≤ 8·(1.2e6)² ≈ 1.2e13, ADC sums ≤ 1e14,
  * inertia safe to ~7e5 members per (sub, cell) — beyond that switch
  * the sums to DECIMAL (the refineCentroids spelling).
  */
object PqOps extends QueryModule {

  /** Subspace count × dims per subspace = the 64-dim embedding. */
  val M = 8
  val SubDims = 8
  /** Codebook size per subspace — 6-bit codes (~n/30 members per cell
    * at this corpus size; 256 at production scale). */
  val Ksub = 64
  /** Unrolled Lloyd iterations (PQ codebooks converge fast; a fixed
    * small unroll keeps the oracle expressible as chained CTEs). */
  val Iters = 2

  /** (vec_id, xm64) — full micro-unit vectors. */
  private def base(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), ClusterOps.microVec(col("embedding"))
        .as("xm64"))

  /** (vec_id, sub, xm[SubDims]) — one row per (vector, subspace), all
    * M slices built in ONE in-row transform + posexplode. */
  private def subPoints(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir)
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${M - 1}), " +
          s"s -> slice(xm64, s * $SubDims + 1, $SubDims))")))
      .toDF("vec_id", "sub", "xm")

  /** The trained codebooks collected (512 rows, ~32 KB) and shipped
    * as a Spark broadcast for the compiled assign/encode expressions
    * ([[graft.functions.PqAssign]]/[[graft.functions.PqCodes]]) — the
    * ScrubReport convention: never a column, so no per-row payload
    * copies; each Lloyd iteration broadcasts its fresh codebooks. */
  private def collectCodebooks(cents: DataFrame): org.apache.spark
      .broadcast.Broadcast[Array[(Int, Long, Array[Long])]] = {
    val spark = cents.sparkSession
    val rows = cents.select(col("sub"), col("cid"), col("cm")).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Long](2).toArray))
    spark.sparkContext.broadcast(rows)
  }

  /** Assignment is a compiled in-row argmin over the row's own
    * subspace (ties to the lowest code id, mirroring the oracle's
    * ORDER BY d, cid) — round 9: the previous composable spelling
    * (filter/transform/zip_with/aggregate over a one-row codebook
    * bundle) ran interpreted at ~400 µs/vector; PqSpec and the v18
    * oracle chain pin the compiled form bit-identical. */
  private def assignSub(pts: DataFrame, cents: DataFrame): DataFrame = {
    val bc = collectCodebooks(cents)
    pts.withColumn("best",
        graft.functions.PqFunctions.pq_assign(col("xm"), col("sub"), bc, M))
      .select(col("vec_id"), col("sub"),
        col("best.cid").as("cid"), col("best.d").as("d"))
  }

  /** Lloyd update over all subspaces at once: one (sub, cid, dim)
    * partial-agg shuffle, k-row-scale output localCheckpointed (the
    * v47 lineage discipline). The update re-joins xm from pts by
    * (vec_id): assignSub's output deliberately drops the vectors so
    * the memoized code table stays 4 narrow columns. */
  private def update(pts: DataFrame, assigned: DataFrame): DataFrame =
    assigned.join(pts, Seq("vec_id", "sub"))
      .select(col("sub"), col("cid"), posexplode(col("xm")))
      .toDF("sub", "cid", "dim", "x")
      .groupBy(col("sub"), col("cid"), col("dim"))
      .agg(Exact.signedDivRound(sum(col("x")), count(lit(1))).as("mu"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("mu")))), s => s.getField("mu")).as("cm"))
      .localCheckpoint()

  /** The trained codebooks (sub, cid, cm) — memoized to parquet per
    * process ([[graft.util.PlanMemo]]): four registry entries consume
    * one training run, which is also the honest layout (codebooks are
    * trained once at ingest and stored). */
  private def codebooks(spark: SparkSession, dir: String): DataFrame =
    graft.util.PlanMemo.memo(spark, "v18d_pq_codebooks", dir) {
      val pts = subPoints(spark, dir).localCheckpoint()
      var cents = pts.filter(col("vec_id") < Ksub)
        .select(col("sub"), col("vec_id").as("cid"), col("xm").as("cm"))
      for (_ <- 1 to Iters) cents = update(pts, assignSub(pts, cents))
      cents
    }

  /** The encoded corpus (vec_id, sub, cid, d) — the stored code table. */
  private def codes(spark: SparkSession, dir: String): DataFrame = {
    // resolve the codebook memo BEFORE entering this memo's build (a
    // memo-in-memo call is legal but keeps the lock held longer)
    val cb = codebooks(spark, dir)
    graft.util.PlanMemo.memo(spark, "v18e_pq_codes", dir)(
      assignSub(subPoints(spark, dir), cb))
  }

  /** V18d: PQ codebook training profile — per (sub, cid): member
    * count, inertia (Σ squared micro-L2 to the codebook entry) and the
    * centroid coordinate sum as the codebook witness. */
  def pqTrain(spark: SparkSession, dir: String): DataFrame = {
    val stats = codes(spark, dir).groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("inertia"))
    val witness = codebooks(spark, dir).select(col("sub"), col("cid"),
      expr("aggregate(cm, CAST(0 AS BIGINT), (acc, v) -> acc + v)")
        .as("c_sum"))
    stats.join(witness, Seq("sub", "cid"))
      .select(col("sub"), col("cid"), col("n"), col("inertia"),
        col("c_sum"))
      .orderBy(col("sub"), col("cid"))
  }

  /** V18e: the encoded corpus witnessed per vector — code_sum (Σ of
    * the M sub-codes) and code_pack (the literal 48-bit packed PQ code:
    * Σ cid·2^(6·sub) — exactly the 6 bytes a production code table
    * stores per vector). Two independent integer checksums = the code
    * arrays agree bit-for-bit across engines (the v18 convention). */
  def pqEncode(spark: SparkSession, dir: String): DataFrame =
    codes(spark, dir).groupBy(col("vec_id"))
      .agg(sum(col("cid")).as("code_sum"),
        sum(expr("cid * shiftleft(CAST(1 AS BIGINT), 6 * sub)"))
          .as("code_pack"))
      .orderBy(col("vec_id"))

  /** ADC scores against the query (vec_id = [[queryId]]): the M·Ksub
    * lookup table is built once from the codebooks and broadcast; the
    * scan touches only the code table. */
  private val queryId = 0L

  private def adcScores(spark: SparkSession, dir: String): DataFrame = {
    val q = subPoints(spark, dir).filter(col("vec_id") === queryId)
      .select(col("sub"), col("xm").as("qm"))
    val lut = codebooks(spark, dir).join(broadcast(q), Seq("sub"))
      .select(col("sub"), col("cid"), expr(
        "aggregate(zip_with(cm, qm, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("ld"))
    codes(spark, dir).filter(col("vec_id") =!= queryId)
      .join(broadcast(lut), Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(sum(col("ld")).as("adc_d"))
  }

  /** V18f: ADC top-10 — nearest neighbours by the quantized distance.
    * Deterministic integers end-to-end, so unlike most ANN surfaces
    * this approximate QUERY PATH itself carries a full oracle. */
  def pqAdcTopK(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    adcScores(spark, dir)
      .orderBy(col("adc_d"), col("vec_id"))
      .limit(k)

  private val trueDistExpr =
    "aggregate(zip_with(xm64, qm, (a, b) -> (a - b) * (a - b)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** V18g: ADC quality vs the exact full-precision micro-L2 top-10 —
    * BOTH set recall@10 and distance inflation (Σ true distance of the
    * ADC picks / Σ of the exact picks, exact-integer ratio): under the
    * distance concentration of this corpus the set metric saturates
    * low while inflation cleanly quantifies how much farther the
    * quantized search's picks land (see the module scaladoc). No dump
    * needed (the v2d2b convention's simpler cousin): both sides are
    * deterministic, so each engine derives both itself and the driver
    * hash-checks the agreement. */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val b = base(spark, dir)
    val q = b.filter(col("vec_id") === queryId)
      .select(col("xm64").as("qm"))
    val pqIds = pqAdcTopK(spark, dir).select(col("vec_id"))
    // true (not ADC) distances of the ADC picks — 10 rows
    val pqSum = pqIds.join(b, Seq("vec_id")).crossJoin(broadcast(q))
      .agg(sum(expr(trueDistExpr)).as("pq_sum"))
    val exact = b.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("d", expr(trueDistExpr))
      .orderBy(col("d"), col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("d"))
    exact.join(broadcast(pqIds.withColumn("h", lit(1))),
        Seq("vec_id"), "left")
      .agg(coalesce(sum(coalesce(col("h"), lit(0))), lit(0))
        .cast("long").as("n_hit"),
        count(lit(1)).as("n_exact"),
        sum(col("d")).as("ex_sum"))
      .crossJoin(broadcast(pqSum))
      .select(col("n_hit"), col("n_exact"),
        Exact.ratio6(col("n_hit"), col("n_exact")).as("recall_at_10"),
        // distance sums reach ~1e15 micro² — ratio6's ×1e6 would
        // overflow Long, so both sides shed 12 bits first (identical
        // integer shift in both engines; 9+ significant digits remain
        // for a 6dp ratio)
        Exact.ratio6(shiftright(col("pq_sum"), 12),
          shiftright(col("ex_sum"), 12)).as("dist_inflation"))
  }

  /** Cells probed by the v18h coarse router. */
  val NCell = 2

  /** V18h: IVF-PQ — the complete modern ANN serving path composed from
    * two oracle-grade halves: v47's exact k-means is the COARSE
    * quantizer (route the query to its [[NCell]] nearest of K=8 cells
    * by exact integer L2), and the ADC scan runs ONLY over the probed
    * cells' code-table rows. At scale the code table is stored
    * partitioned by cell id (the v3b2 layout), so the semi-join below
    * becomes partition pruning and a query touches NCell/K of the
    * codes plus one broadcast LUT — the FAISS IVFPQ architecture as a
    * Spark dataflow. Every stage (cell map, codebooks, routing, ADC
    * ranks) is integer-exact, so the whole composition hash-checks
    * against DuckDB running BOTH Lloyd unrolls in one WITH chain. */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = 10,
      ncell: Int = NCell): DataFrame = {
    val q = ClusterOps.pointsOf(Tables.embeddings(spark, dir))
      .filter(col("vec_id") === queryId).select(col("xm"))
    val probed = ClusterOps.finalCentroids(spark, dir)
      .crossJoin(broadcast(q))
      .withColumn("d", expr(
        "aggregate(zip_with(cm, xm, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .orderBy(col("d"), col("cid"))
      .limit(ncell)
      .select(col("cid"))
    val cand = ClusterOps.finalAssign(spark, dir)
      .join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"))
    adcScores(spark, dir)
      .join(cand, Seq("vec_id"), "left_semi")
      .orderBy(col("adc_d"), col("vec_id"))
      .limit(k)
  }

  private lazy val ivfPqTopKSql: String =
    s"""${ClusterOps.lloydChainSql},
       | ${pqCtes("p")},
       | ${adcCtes("p")},
       | qpt AS (SELECT xm FROM pts WHERE vec_id = $queryId),
       | qd AS (SELECT c.cid,
       |   CAST(list_sum(list_transform(range(1, len(c.cm) + 1),
       |     k -> (c.cm[k] - q.xm[k]) * (c.cm[k] - q.xm[k]))) AS BIGINT)
       |     AS d
       |  FROM c${ClusterOps.Iters} c, qpt q),
       | probed AS (SELECT cid FROM qd ORDER BY d, cid LIMIT $NCell),
       | cand AS (SELECT vec_id FROM fa
       |   WHERE cid IN (SELECT cid FROM probed) AND vec_id <> $queryId)
       |SELECT s.vec_id, s.adc_d FROM psc s JOIN cand USING (vec_id)
       |ORDER BY adc_d, vec_id LIMIT 10""".stripMargin

  /** Stateless in-row PQ encode of any embeddings-shaped frame (batch
    * OR streaming) against the broadcast codebook bundle: all M
    * sub-codes argmin'd inside one row (slices built inline), then the
    * two integer checksums — no explode, no per-vector state, so the
    * streaming twin runs in APPEND mode with zero aggregation state.
    * No exchange of its own: st16 streams the split copy of
    * [[graft.streaming.StreamingOps.tableStream]], so each
    * micro-batch's scan is already one task per split file. NOTE Spark
    * SQL's `arr[i]` is 0-based (element_at is the 1-based form). */
  private def encodeInRow(df: DataFrame, cents: DataFrame): DataFrame = {
    // broadcast codebooks + compiled PqCodes (round 9): the previous
    // form crossJoined a one-row bundle and argmin'd through
    // interpreted higher-order functions (~400 µs/vector measured at
    // the x10 blow-up); the broadcast also stops a streaming df from
    // re-aggregating the bundle every micro-batch
    val bc = collectCodebooks(cents)
    df.select(col("vec_id"),
        ClusterOps.microVec(col("embedding")).as("xm64"))
      .withColumn("codes",
        graft.functions.PqFunctions.pq_codes(col("xm64"), bc, M, SubDims))
      .select(col("vec_id"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (acc, v) -> acc + v)")
          .as("code_sum"),
        expr(s"aggregate(transform(sequence(0, ${M - 1}), " +
          "s -> codes[s] * shiftleft(CAST(1 AS BIGINT), 6 * s)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("code_pack"))
  }

  /** ST16: streaming PQ encoding — the embeddings table replayed as a
    * stream and encoded in-row against the batch-trained codebooks
    * (the st15 train-batch/serve-streaming convention, now for the
    * storage format itself: an ingest pipeline compresses arriving
    * vectors to codes before they ever land). Stateless append-mode
    * map, so the finite stream equals the batch encode and shares
    * v18e's oracle unchanged. */
  def streamingPqEncode(spark: SparkSession, dir: String): DataFrame = {
    val stream = graft.streaming.StreamingOps
      .tableStream(spark, dir, "embeddings")
    val enc = encodeInRow(stream, codebooks(spark, dir))
    graft.streaming.StreamingOps.runToBatchAppend(spark, enc,
        s"st16_pq_${System.nanoTime()}")
      .orderBy(col("vec_id"))
  }

  /** Write the IVF-PQ index as storage: the code table joined with the
    * v47 cell map, parquet-PARTITIONED BY cell — the literal layout
    * v18h's scaladoc promises — plus the codebooks and coarse
    * centroids beside it. A stored probe then reads NCell of K code
    * directories (partition pruning, pinned in PqSpec): query cost
    * scales with ncell/K of the codes, never the corpus. */
  def writeIvfPqIndex(spark: SparkSession, dir: String,
      indexPath: String): Unit =
    writeIvfPqIndex(spark, dir, indexPath, ClusterOps.K)

  /** [[writeIvfPqIndex]] at ANY coarse cell count — the adaptive-K
    * build: the PQ half (codebooks, code table) is coarse-independent
    * and unchanged; only the cell map and the stored coarse-centroid
    * table come from [[ClusterOps.coarseAt]]. coarseK == K is the
    * oracle-replayed v47 chain verbatim. */
  def writeIvfPqIndex(spark: SparkSession, dir: String,
      indexPath: String, coarseK: Int): Unit = {
    val (fin, cents) = ClusterOps.coarseAt(spark, dir, coarseK)
    val cells = fin.select(col("vec_id"), col("cid").as("cell"))
    codes(spark, dir).join(cells, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/codes")
    codebooks(spark, dir).write.mode("overwrite")
      .parquet(s"$indexPath/codebooks")
    cents.write.mode("overwrite")
      .parquet(s"$indexPath/coarse")
  }

  /** Coarse cell count sized to the corpus — the
    * [[SimilarityOps.adaptiveNlist]] pattern applied to the PQ coarse
    * quantizer (round-9 SCALING.md named it as THE remaining
    * production lever in the serving path): cells of ~250 vectors
    * (sf0.1's 2000/8), floor [[ClusterOps.K]], so candidates/query
    * (= ncell/K of the corpus) stay constant as the corpus grows
    * instead of growing linearly with it. EXACTLY K=8 at every driver
    * SF (n <= 2000), so the 12 PQ-family oracles and every stored
    * fixture replay the K=8 Lloyd chain untouched; the adaptation —
    * and with it the hierarchical two-level assignment above 256
    * cells — engages only beyond test scale. */
  def adaptiveCoarseK(spark: SparkSession, dir: String): Int =
    graft.util.Memo(Some(spark), "coarseK", dir) {
      math.min(math.max(ClusterOps.K.toLong,
        Tables.embeddings(spark, dir).count() / 250L),
        Int.MaxValue.toLong).toInt
    }

  /** Write the IVF-PQ index INCREMENTALLY: base generation = the 90%
    * `vec_id % 10 != 0` slice, delta = the 10% append encoded with the
    * SAME (shared, fixed) codebooks and coarse centroids as the base —
    * the FAISS `add()` file-layout contract: new code files land in
    * the existing cell partitioning and no base file is rewritten
    * (require below), so the merged probe equals the full index probe
    * bit-for-bit and v18h's oracle pins that the append
    * lost/duplicated nothing. Honesty note: the shared artifacts here
    * come from the corpus-wide training the other v18 entries memoize,
    * so what this entry PROVES is append-completeness under fixed
    * artifacts — the encode/route functions are deterministic given a
    * codebook bundle, so the same plan holds verbatim when the bundle
    * was trained on yesterday's corpus (true no-retrain maintenance);
    * a base-only-trained twin would need its own filtered Lloyd-unroll
    * oracle and is deliberately out of scope. */
  def writeIvfPqIncremental(spark: SparkSession, dir: String,
      indexPath: String): Unit = {
    val cells = ClusterOps.finalAssign(spark, dir)
      .withColumnRenamed("cid", "cell")
    val all = codes(spark, dir).join(cells, Seq("vec_id"))
    all.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/codes")
    val baseFiles =
      graft.util.ArtifactCache.parquetListing(s"$indexPath/codes")
    all.filter(pmod(col("vec_id"), lit(10)) === 0)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$indexPath/codes")
    val after =
      graft.util.ArtifactCache.parquetListing(s"$indexPath/codes")
    require(baseFiles.forall { case (f, len) =>
      after.get(f).contains(len) },
      "delta append rewrote base code files")
    codebooks(spark, dir).write.mode("overwrite")
      .parquet(s"$indexPath/codebooks")
    ClusterOps.finalCentroids(spark, dir).write.mode("overwrite")
      .parquet(s"$indexPath/coarse")
  }

  /** Point-lookup of one vector in exact micro units (the b6-style
    * pushed-down source read) — how a stored-index query obtains its
    * vector when it does not arrive with the request. */
  def microQueryVector(spark: SparkSession, dir: String,
      vecId: Long): Array[Long] =
    Tables.embeddings(spark, dir).filter(col("vec_id") === vecId)
      .select(ClusterOps.microVec(col("embedding")).as("xm"))
      .head.getSeq[Long](0).toArray

  /** V18i: the stored probe — route on the tiny coarse-centroid table,
    * read ONLY the probed cell partitions of the code table, ADC via a
    * LUT built from the stored codebooks against the externally-
    * supplied query vector. Same integers as [[ivfPqTopK]] (pinned in
    * PqSpec), so it shares v18h's oracle. */
  def ivfPqTopKStored(spark: SparkSession, indexPath: String,
      qm: Array[Long], k: Int = 10, ncell: Int = NCell,
      excludeVecId: Long = -1L): DataFrame = {
    val qFull = typedLit(qm.toSeq)
    val probedIds = spark.read.parquet(s"$indexPath/coarse")
      .withColumn("d", aggregate(zip_with(col("cm"), qFull,
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v))
      .orderBy(col("d"), col("cid"))
      .limit(ncell)
      .select(col("cid"))
      .collect().map(_.getLong(0)) // ncell ids -> partition pruning
    val qSubs = typedLit(qm.grouped(SubDims).map(_.toSeq).toSeq)
    val lut = spark.read.parquet(s"$indexPath/codebooks")
      .withColumn("qm", element_at(qSubs, col("sub") + 1))
      .withColumn("ld", aggregate(zip_with(col("cm"), col("qm"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v))
      .select(col("sub"), col("cid"), col("ld"))
    spark.read.parquet(s"$indexPath/codes")
      .filter(col("cell").isin(probedIds: _*))
      .filter(col("vec_id") =!= excludeVecId)
      .join(broadcast(lut), Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(sum(col("ld")).as("adc_d"))
      .orderBy(col("adc_d"), col("vec_id"))
      .limit(k)
  }

  /** Query-workload slice for [[streamingAnnServe]]: every 89th vector
    * stands in for an external query stream (6-23 queries across the
    * test SFs; a real workload arrives from outside the corpus). */
  val ServeModulus = 89

  /** ST21: streaming ANN SERVING against the stored IVF-PQ index — the
    * missing end of the train-batch/serve-streaming story: st15 scores
    * a stream against a model, st16 compresses a stream INTO the index
    * format; this entry answers QUERIES from a stream against the
    * index. Per arriving query, entirely in-row: the coarse route
    * (top-[[NCell]] cells by exact micro-L2 against the broadcast
    * coarse-centroid bundle, ties to the lower cell id) and the ADC
    * lookup table (all M·Ksub squared sub-distances against the
    * broadcast codebook bundle). The query then explodes to its
    * bounded (cell) × (sub, cid) LUT rows — ncell·M·Ksub ≈ 1k rows per
    * query, never corpus-scale — and ONE stream-static equi-join on
    * (cell, sub, cid) against the stored cell-partitioned code table
    * scores every candidate; the per-(query, candidate) ADC sum is an
    * algebraic streaming aggregate. Top-k ranks on the read side over
    * the ≤(queries × probed-cell-candidates) result.
    *
    * Scale: the joins and aggregates are all keyed; state is bounded
    * by queries-in-flight × candidates-in-probed-cells (the IVF
    * contract: ncell/K of the corpus), and the static side is the
    * same parquet layout v18i partition-prunes — a production server
    * resolves the probed-cell union per micro-batch and prunes to it
    * (the v18i collect), which this plan omits only because cells
    * arrive data-dependent inside one streaming query. Integer-exact
    * end to end, so the full chain (both Lloyd unrolls + routing + ADC
    * + ranking) carries a DuckDB oracle. */
  /** The arriving-query route + LUT frame shared by st21/st21b:
    * (qid, cell, sub, cid, ld) — each query's coarse route and full
    * ADC lookup table built entirely in-row against the broadcast
    * bundles (localCheckpointed — broadcast sides re-execute every
    * micro-batch otherwise, the st15/st16 lesson), then exploded to
    * its bounded ncell·M·Ksub rows. */
  private def serveQueryFrame(spark: SparkSession, dir: String,
      idx: String, ncell: Int,
      queryBound: Long = Long.MaxValue): DataFrame = {
    // coarse centroids + codebooks collected once per call (8 + 512
    // tiny rows from the stored index) and shipped as Spark broadcasts
    // for the compiled route+LUT expression (round 9 — the previous
    // one-row-bundle crossJoin + interpreted transform/aggregate trees
    // ran ~34 ms per arriving query, the serving path's request cost;
    // [[graft.functions.PqRouteLut]] reproduces the exact
    // array_sort(struct(d, cid)) route rule and (sub, cid) LUT order)
    val coarseBc = spark.sparkContext.broadcast(
      spark.read.parquet(s"$idx/coarse")
        .select(col("cid"), col("cm")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)))
    val cbBc = spark.sparkContext.broadcast(
      spark.read.parquet(s"$idx/codebooks")
        .select(col("sub"), col("cid"), col("cm")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray)))
    val src = graft.streaming.StreamingOps
      .tableStream(spark, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(ServeModulus)) === 0)
    // st21c's FIXED query slice: an id bound on top of the modulus
    // keeps the query COUNT constant as the corpus grows (the
    // v16[fixed benchmark] convention made a registry entry) — guarded
    // so st21/st21b plans are byte-identical to prior rounds
    (if (queryBound == Long.MaxValue) src
     else src.filter(col("vec_id") < queryBound))
      // pre-split source: the in-row route/LUT work spreads across the
      // micro-batch's file splits without a round-robin exchange
      .select(col("vec_id").as("qid"),
        ClusterOps.microVec(col("embedding")).as("xm64"))
      .select(col("qid"),
        explode(graft.functions.PqFunctions.pq_route_lut(
          col("xm64"), coarseBc, cbBc, ncell, SubDims)).as("r"))
      .select(col("qid"), col("r.cell").as("cell"),
        col("r.sub").as("sub"), col("r.cid").as("cid"),
        col("r.ld").as("ld"))
  }

  /** Shared read-side tail: per-query top-k over the served scores. */
  private def rankTopK(res: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_d"), col("vec_id"))
    res.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id"), col("adc_d"))
      .orderBy(col("qid"), col("rnk"))
  }

  def streamingAnnServe(spark: SparkSession, dir: String, k: Int = 10,
      ncell: Int = NCell): DataFrame =
    streamingAnnServeAgainst(spark, dir, dir, k, ncell)

  /** [[streamingAnnServe]] with the query stream and the stored index
    * taken from SEPARATE dirs — the deployment serving shape for
    * ScaleBench (the `v16[fixed benchmark]` convention): a real
    * serving loop has a roughly CONSTANT query rate while the indexed
    * corpus grows, so its scale row should hold the query set fixed.
    * The registry st21 entry co-grows both (its query set is a modulus
    * slice of the same table), which compounds two linear factors —
    * queries × per-query candidates — into a quadratic fixture
    * artifact at blow-up factors; this twin isolates the corpus
    * dimension. The per-query candidate term (ncell/K of the corpus)
    * is closed by `coarseK` (round 10): pass
    * [[adaptiveCoarseK]] to hold candidates/query constant as the
    * corpus grows — the default stays K=8 because the 12 PQ-family
    * oracles replay the K=8 Lloyd chain verbatim, and every driver SF
    * resolves adaptiveCoarseK to exactly 8 anyway. */
  private[graft] def streamingAnnServeAgainst(spark: SparkSession,
      queryDir: String, corpusDir: String, k: Int = 10,
      ncell: Int = NCell, coarseK: Int = ClusterOps.K,
      queryBound: Long = Long.MaxValue): DataFrame = {
    val kind =
      if (coarseK == ClusterOps.K) "ivfpq_index" else s"ivfpq_index-ck$coarseK"
    val idx = graft.util.ArtifactCache.cached(kind, corpusDir)(
      writeIvfPqIndex(spark, corpusDir, _, coarseK))
    val q = serveQueryFrame(spark, queryDir, idx, ncell, queryBound)
    val codes = spark.read.parquet(s"$idx/codes")
      .select(col("vec_id"), col("sub"), col("cid"),
        col("cell").cast("long").as("cell"))
    val scored = q.join(codes, Seq("cell", "sub", "cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("ld")).as("adc_d"))
    rankTopK(graft.streaming.StreamingOps.runToBatch(spark, scored,
      s"st21_serve_${System.nanoTime()}"), k)
  }

  /** Executed plan of the most recent st21b per-batch code scan — a
    * documented TEST-ONLY seam (the SpanScan.lastRuntimePrune
    * convention) so PqSpec can pin that the pruned serving loop
    * actually partition-prunes. */
  @volatile private[graft] var lastServePlan: String = ""

  /** ST21b: the PRUNED streaming serving loop — st21's scaladoc notes
    * that a production server resolves the probed-cell union per
    * micro-batch and reads only those partitions; this entry makes
    * that claim CODE (the v50-salt lesson: a scale argument that
    * lives only in documentation regresses silently). Each
    * micro-batch of queries runs through `foreachBatch`: the batch's
    * probed-cell union collects driver-side (bounded: ≤ ncell ×
    * batch-queries ids — the v18i collect), the code table is read
    * with those cells as LITERAL partition filters (PartitionFilters,
    * pinned via [[lastServePlan]]), and the batch join + ADC
    * aggregate run as plain bounded batch dataflow appended to the
    * result store. A query is ONE input row, so its LUT rows never
    * span micro-batches and per-batch aggregation is complete —
    * identical integers to st21, same oracle. */
  def streamingAnnServePruned(spark: SparkSession, dir: String,
      k: Int = 10, ncell: Int = NCell): DataFrame = {
    val idx = graft.util.ArtifactCache.cached("ivfpq_index", dir)(
      writeIvfPqIndex(spark, dir, _))
    val q = serveQueryFrame(spark, dir, idx, ncell)
    val outPath = graft.util.Memo.path("graft_st21b")
    // seed the result store with the empty frame so a workload with no
    // queries reads back empty exactly like st21's memory sink (review
    // finding, round 8: an all-empty run otherwise had no path to read)
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val seedSchema = StructType(Seq(StructField("qid", LongType),
      StructField("vec_id", LongType), StructField("adc_d", LongType)))
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), seedSchema)
      .write.mode("overwrite").parquet(outPath)
    graft.streaming.StreamingOps.runForeachBatch(spark, q,
      s"st21b_serve_${System.nanoTime()}") { (batch, _) =>
      // the route+LUT frame feeds both the cell collect and the join:
      // persist so the in-row serving work runs once per batch, not
      // twice (review finding, round 8)
      val b = batch.persist()
      try {
        val cells = b.select(col("cell")).distinct()
          .collect().map(_.getLong(0)) // bounded: ncell ids per query
        if (cells.nonEmpty) {
          val codes = spark.read.parquet(s"$idx/codes")
            .filter(col("cell").isin(cells: _*))
            .select(col("vec_id"), col("sub"), col("cid"),
              col("cell").cast("long").as("cell"))
          val scored = b.join(codes, Seq("cell", "sub", "cid"))
            .filter(col("vec_id") =!= col("qid"))
            .groupBy(col("qid"), col("vec_id"))
            .agg(sum(col("ld")).as("adc_d"))
          lastServePlan = scored
            .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
            .queryExecution.executedPlan.toString
          scored.write.mode("append").parquet(outPath)
        }
      } finally b.unpersist()
    }
    rankTopK(spark.read.parquet(outPath), k)
  }

  /** Fixed-query-slice bound for st21c: the modulus slice capped at a
    * CONSTANT id bound, so the query count stays fixed (6 queries)
    * while the indexed corpus grows — the deployment serving shape
    * ScaleBench measures as `st21[fixed queries, adaptive K]`, here as
    * a driver-graded oracle entry. 500 = the sf0.001 corpus size, so
    * the slice is identical at every driver SF. */
  private[graft] val FixedServeBound = 500L

  private lazy val annServeSql: String = annServeSqlFor(
    s"vec_id % $ServeModulus = 0")

  private lazy val annServeFixedqSql: String = annServeSqlFor(
    s"vec_id % $ServeModulus = 0 AND vec_id < $FixedServeBound")

  private def annServeSqlFor(queryPred: String): String =
    s"""${ClusterOps.lloydChainSql},
       | ${pqCtes("p")},
       | sq AS (SELECT vec_id AS qid, xm FROM pts
       |        WHERE $queryPred),
       | sqd AS (SELECT q.qid, c.cid,
       |   CAST(list_sum(list_transform(range(1, len(c.cm) + 1),
       |     k -> (c.cm[k] - q.xm[k]) * (c.cm[k] - q.xm[k]))) AS BIGINT)
       |     AS d
       |  FROM c${ClusterOps.Iters} c, sq q),
       | sprobed AS (SELECT qid, cid FROM sqd
       |   QUALIFY row_number() OVER (PARTITION BY qid
       |     ORDER BY d, cid) <= $NCell),
       | spq AS (SELECT vec_id AS qid, sub, xm AS qm FROM ppts
       |         WHERE $queryPred),
       | slut AS (SELECT q.qid, c.sub, c.cid,
       |   CAST(list_sum(list_transform(range(1, len(c.cm) + 1),
       |     k -> (c.cm[k] - q.qm[k]) * (c.cm[k] - q.qm[k]))) AS BIGINT)
       |     AS ld
       |  FROM pc$Iters c JOIN spq q ON q.sub = c.sub),
       | ssc AS (SELECT p.qid, f.vec_id, CAST(sum(l.ld) AS BIGINT)
       |           AS adc_d
       |  FROM pfa f
       |  JOIN fa a ON a.vec_id = f.vec_id
       |  JOIN sprobed p ON p.cid = a.cid
       |  JOIN slut l ON l.qid = p.qid AND l.sub = f.sub
       |    AND l.cid = f.cid
       |  WHERE f.vec_id <> p.qid
       |  GROUP BY 1, 2),
       | sr AS (SELECT qid, vec_id, adc_d,
       |   row_number() OVER (PARTITION BY qid ORDER BY adc_d, vec_id)
       |     AS rnk FROM ssc)
       |SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, adc_d
       |FROM sr WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  // ---- oracle SQL: the per-subspace Lloyd unroll (lloydChainSql
  // generalized: every CTE carries `sub` in its keys) ----

  /** CTE name prefix `x`: the standalone entries use "", v18h prefixes
    * with "p" so the PQ chain composes with ClusterOps.lloydChainSql
    * (whose names pts/c0../fa would otherwise collide) in one WITH. */
  private def iterSql(x: String, i: Int): String =
    s"""${x}d$i AS (SELECT p.vec_id, p.sub, p.xm, c.cid,
       |   CAST(list_sum(list_transform(range(1, len(p.xm) + 1),
       |     k -> (p.xm[k] - c.cm[k]) * (p.xm[k] - c.cm[k]))) AS BIGINT) AS d
       |  FROM ${x}pts p JOIN ${x}c${i - 1} c ON c.sub = p.sub),
       | ${x}a$i AS (SELECT vec_id, sub, xm, cid FROM ${x}d$i
       |   QUALIFY row_number() OVER (PARTITION BY vec_id, sub
       |     ORDER BY d, cid) = 1),
       | ${x}u$i AS (SELECT sub, cid, dim,
       |   ${OracleSql.signedDivRound("sum(x)", "count(*)")} AS mu
       |  FROM (SELECT sub, cid, unnest(xm) AS x,
       |          unnest(range(1, len(xm) + 1)) AS dim FROM ${x}a$i)
       |  GROUP BY sub, cid, dim),
       | ${x}c$i AS (SELECT sub, cid,
       |   list(CAST(mu AS BIGINT) ORDER BY dim) AS cm
       |  FROM ${x}u$i GROUP BY sub, cid)""".stripMargin

  /** base → subspace points → c0 → unrolled iterations → final
    * assignment `fa` (vec_id, sub, cid, d) — the CTE LIST (no WITH),
    * so callers can splice it after other chains. */
  private def pqCtes(x: String): String = {
    val iters = (1 to Iters).map(iterSql(x, _)).mkString(",\n ")
    s"""${x}b AS (SELECT vec_id, ${ClusterOps.microVecSql} AS xm64
       |           FROM embeddings),
       | ${x}subs AS (SELECT unnest(range($M)) AS sub),
       | ${x}pts AS (SELECT vec_id, sub,
       |   list_slice(xm64, sub * $SubDims + 1, sub * $SubDims + $SubDims)
       |     AS xm
       |  FROM ${x}b, ${x}subs),
       | ${x}c0 AS (SELECT sub, vec_id AS cid, xm AS cm FROM ${x}pts
       |        WHERE vec_id < $Ksub),
       | $iters,
       | ${x}fd AS (SELECT p.vec_id, p.sub, c.cid,
       |   CAST(list_sum(list_transform(range(1, len(p.xm) + 1),
       |     k -> (p.xm[k] - c.cm[k]) * (p.xm[k] - c.cm[k]))) AS BIGINT) AS d
       |  FROM ${x}pts p JOIN ${x}c$Iters c ON c.sub = p.sub),
       | ${x}fa AS (SELECT vec_id, sub, cid, d FROM ${x}fd
       |   QUALIFY row_number() OVER (PARTITION BY vec_id, sub
       |     ORDER BY d, cid) = 1)""".stripMargin
  }

  private lazy val pqChainSql: String = "WITH " + pqCtes("")

  private lazy val pqTrainSql: String =
    s"""$pqChainSql,
       | st AS (SELECT sub, cid, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(d) AS BIGINT) AS inertia FROM fa GROUP BY 1, 2),
       | wt AS (SELECT sub, cid, CAST(list_sum(cm) AS BIGINT) AS c_sum
       |        FROM c$Iters)
       |SELECT CAST(sub AS INT) AS sub, cid, n, inertia, c_sum
       |FROM st JOIN wt USING (sub, cid) ORDER BY sub, cid""".stripMargin

  private lazy val pqEncodeSql: String =
    s"""$pqChainSql
       |SELECT vec_id, CAST(sum(cid) AS BIGINT) AS code_sum,
       | CAST(sum(cid * (CAST(1 AS BIGINT) << (6 * sub))) AS BIGINT)
       |   AS code_pack
       |FROM fa GROUP BY 1 ORDER BY vec_id""".stripMargin

  private def adcCtes(x: String): String =
    s"""${x}q AS (SELECT sub, xm AS qm FROM ${x}pts
       |          WHERE vec_id = $queryId),
       | ${x}lut AS (SELECT c.sub, c.cid,
       |   CAST(list_sum(list_transform(range(1, len(c.cm) + 1),
       |     k -> (c.cm[k] - q.qm[k]) * (c.cm[k] - q.qm[k]))) AS BIGINT)
       |     AS ld
       |  FROM ${x}c$Iters c JOIN ${x}q q ON q.sub = c.sub),
       | ${x}sc AS (SELECT f.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc_d
       |  FROM ${x}fa f JOIN ${x}lut l ON l.sub = f.sub AND l.cid = f.cid
       |  WHERE f.vec_id <> $queryId GROUP BY 1)""".stripMargin

  private lazy val adcSql: String = adcCtes("")

  private lazy val pqAdcTopKSql: String =
    s"""$pqChainSql,
       | $adcSql
       |SELECT vec_id, adc_d FROM sc ORDER BY adc_d, vec_id
       |LIMIT 10""".stripMargin

  private lazy val pqRecallSql: String =
    s"""$pqChainSql,
       | $adcSql,
       | pq AS (SELECT vec_id FROM sc ORDER BY adc_d, vec_id LIMIT 10),
       | qf AS (SELECT xm64 AS qm FROM b WHERE vec_id = $queryId),
       | ex AS (SELECT bb.vec_id,
       |   CAST(list_sum(list_transform(range(1, len(bb.xm64) + 1),
       |     k -> (bb.xm64[k] - q.qm[k]) * (bb.xm64[k] - q.qm[k])))
       |     AS BIGINT) AS d
       |  FROM b bb, qf q WHERE bb.vec_id <> $queryId
       |  ORDER BY d, vec_id LIMIT 10),
       | pd AS (SELECT CAST(sum(
       |     CAST(list_sum(list_transform(range(1, len(bb.xm64) + 1),
       |       k -> (bb.xm64[k] - q.qm[k]) * (bb.xm64[k] - q.qm[k])))
       |       AS BIGINT)) AS BIGINT) AS pq_sum
       |  FROM b bb JOIN pq ON pq.vec_id = bb.vec_id, qf q),
       | ed AS (SELECT CAST(sum(d) AS BIGINT) AS ex_sum FROM ex),
       | h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM ex
       |       WHERE EXISTS (SELECT 1 FROM pq WHERE pq.vec_id = ex.vec_id)),
       | t AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex)
       |SELECT n_hit, n_exact,
       | ${OracleSql.ratio6("n_hit", "n_exact")} AS recall_at_10,
       | ${OracleSql.ratio6("(pq_sum >> 12)", "(ex_sum >> 12)")}
       |   AS dist_inflation
       |FROM h, t, pd, ed""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v18d_pq_train",
      "V18d product-quantization codebook training (M=8 subspaces, " +
        "Ksub=64, 2 unrolled integer-micro Lloyd rounds in ONE " +
        "dataflow — subspace is a key, not a loop): per-(sub, code) " +
        "size/inertia/centroid witness, hash-identical across engines",
      pqTrain, Some(pqTrainSql)),
    GraftQuery("v18e_pq_encode",
      "V18e PQ encoding: each vector as M 6-bit sub-codes, witnessed " +
        "by code_sum + the literal packed 48-bit code (~43x smaller " +
        "than float32) — broadcast codebooks, in-row argmin, zero " +
        "extra shuffle",
      pqEncode, Some(pqEncodeSql)),
    GraftQuery("v18f_pq_adc_topk",
      "V18f ADC top-10: asymmetric distance via a broadcast M*Ksub " +
        "lookup table over the code table only — integer-exact, so " +
        "the approximate query path itself is fully oracled",
      (s, d) => pqAdcTopK(s, d), Some(pqAdcTopKSql)),
    GraftQuery("v18h_ivfpq_topk",
      "V18h IVF-PQ: v47's exact k-means as the coarse quantizer " +
        "(route to NCell=2 of 8 cells by integer L2) + ADC over only " +
        "the probed cells' codes — the FAISS IVFPQ architecture as a " +
        "Spark dataflow, hash-checked end-to-end by DuckDB running " +
        "both Lloyd unrolls in one chain; at scale the code table is " +
        "cell-partitioned so probing is partition pruning",
      (s, d) => ivfPqTopK(s, d), Some(ivfPqTopKSql)),
    GraftQuery("v18i_ivfpq_stored",
      "V18i stored IVF-PQ: code table parquet-partitioned by v47 " +
        "cell, probe routes on the coarse centroids and reads ONLY " +
        "the probed cell partitions (pruning + equality with v18h " +
        "pinned in PqSpec) — shares v18h's oracle",
      (s, d) => {
        val idx = graft.util.ArtifactCache.cached("ivfpq_index", d)(
          writeIvfPqIndex(s, d, _))
        ivfPqTopKStored(s, idx, microQueryVector(s, d, queryId),
          excludeVecId = queryId)
      }, Some(ivfPqTopKSql)),
    GraftQuery("v18j_ivfpq_incremental",
      "V18j incrementally-maintained IVF-PQ: the 10% delta appended " +
        "as new code files into the existing cell partitioning under " +
        "shared fixed codebooks/centroids (the FAISS add() file-" +
        "layout contract; base files provably untouched) — merged " +
        "probe == the full index probe, shares v18h's oracle",
      (s, d) => {
        val idx = graft.util.ArtifactCache.cached("ivfpq_incr", d)(
          writeIvfPqIncremental(s, d, _))
        ivfPqTopKStored(s, idx, microQueryVector(s, d, queryId),
          excludeVecId = queryId)
      }, Some(ivfPqTopKSql)),
    GraftQuery("st16_streaming_pq_encode",
      "ST16 streaming PQ encode: arriving vectors compressed in-row " +
        "against broadcast batch-trained codebooks (train-batch/" +
        "serve-streaming for the storage format itself) — stateless " +
        "append map, finite stream == batch encode, shares v18e's " +
        "oracle",
      streamingPqEncode, Some(pqEncodeSql)),
    GraftQuery("st21_streaming_ann_serve",
      "ST21 streaming ANN serving: a query stream answered against " +
        "the stored IVF-PQ index — in-row coarse route + ADC LUT " +
        "from broadcast bundles, one (cell,sub,cid) stream-static " +
        "equi-join against the cell-partitioned code table, algebraic " +
        "per-(query,candidate) ADC sums, read-side top-10 — the full " +
        "approximate serving path integer-exact and DuckDB-oracled",
      (s, d) => streamingAnnServe(s, d), Some(annServeSql)),
    GraftQuery("st21c_streaming_ann_fixedq",
      "ST21c the DEPLOYMENT serving shape driver-graded: a FIXED " +
        "6-query slice (modulus + constant id bound) served against " +
        "the adaptiveCoarseK-built stored index — the configuration " +
        "whose x100 ScaleBench row is ~2x (constant queries, constant " +
        "candidates/query); adaptiveCoarseK == 8 at every driver SF, " +
        "so the oracle replays the shared K=8 Lloyd chain",
      (s, d) => streamingAnnServeAgainst(s, d, d,
        coarseK = adaptiveCoarseK(s, d), queryBound = FixedServeBound),
      Some(annServeFixedqSql)),
    GraftQuery("st21b_streaming_ann_pruned",
      "ST21b the PRUNED streaming serving loop: each micro-batch's " +
        "probed-cell union resolves driver-side (bounded collect, the " +
        "v18i convention) and the code read carries literal partition " +
        "filters — per-query cost is ncell/K of the index however " +
        "large the corpus; identical integers to st21, same oracle",
      (s, d) => streamingAnnServePruned(s, d), Some(annServeSql)),
    GraftQuery("v18g_pq_recall",
      "V18g ADC quality vs the exact top-10: set recall@10 AND " +
        "distance inflation (true distance of the ADC picks over the " +
        "exact picks — the metric that survives distance " +
        "concentration), derived in-engine by BOTH engines (no dump) " +
        "and driver-hashed",
      pqRecall, Some(pqRecallSql)))
}
