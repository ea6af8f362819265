package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Exact, GraftQuery, OracleSql, QueryModule, Tables}

/** Clustering over the embeddings table — the operator family behind
  * IVF cell maps (v3b), SemDeDup pruning (v50) and cluster-balanced
  * data mixing. [[SimilarityOps.refineCentroids]] already runs a
  * cosine Lloyd refinement *inside* the IVF build, but (like every ANN
  * component) its output is engine-hash-specific and therefore
  * rows-only. This module is the missing oracle-grade half: a k-means
  * whose every step is exact integer arithmetic mirrored in DuckDB, so
  * cluster sizes, inertia and the centroids themselves are
  * hash-witnessed by both engines — the v36b/v19b "keep the scale twin
  * on the oracle" convention applied to clustering itself.
  */
object ClusterOps extends QueryModule {

  /** k and the unrolled Lloyd iteration count (v29-pagerank convention:
    * a fixed unroll keeps the oracle expressible as chained CTEs). */
  val K = 8
  val Iters = 3

  /** float → double (exact) → DECIMAL(18,6) (half-up, identical in both
    * engines) → integer micro-units. The per-element form of
    * [[Exact.microSum]]'s cast chain. */
  private[graft] def microVec(c: Column): Column =
    transform(c, v =>
      (v.cast("double").cast(DecimalType(18, 6)) * 1000000).cast("long"))

  private[graft] val microVecSql =
    "list_transform(embedding, v -> " +
      "CAST(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT))"

  /** (vec_id, xm: array<long>) — micro-unit points, from any
    * embeddings-shaped frame (batch or streaming: the projection is
    * per-row). */
  private[graft] def pointsOf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), microVec(col("embedding")).as("xm"))

  private def points(spark: SparkSession, dir: String): DataFrame =
    pointsOf(Tables.embeddings(spark, dir))

  /** Exact squared-L2 distance between the point row's `xm` and the
    * lambda-bound centroid `c.cm`, as a single in-row fold. Magnitude:
    * |x|≤1e6 micro ⇒ (a−b)² ≤ 4e12, ×64 dims ≤ 2.6e14 ≪ 2⁶³. */
  private val distExpr =
    "aggregate(zip_with(xm, c.cm, (a, b) -> (a - b) * (a - b)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** All centroids folded into ONE row (k × dims longs — bytes, not
    * data): assignment can then run as a broadcast + pure in-row argmin
    * with ZERO shuffle, instead of the point×centroid join + per-point
    * re-group a naive form pays per iteration. */
  private def bundle(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(col("cid"), col("cm"))))
      .as("cs"))

  /** Per point: (cid, d) of the nearest centroid — a compiled in-row
    * argmin ([[graft.functions.PqAssign]] with one full-width
    * "subspace") against the centroids shipped as a Spark broadcast;
    * ties break to the LOWEST centroid id, identically to the
    * oracle's `ORDER BY d, cid` (the expression iterates cids
    * ascending with a strict `<`). Round 9: the previous composable
    * `array_min(transform(cs, ...))` spelling ran interpreted per
    * point (the SCALING.md HOF class); the v47 HUGEINT oracle chain
    * pins the compiled form bit-identical. */
  private[graft] def assign(pts: DataFrame, cents: DataFrame): DataFrame = {
    val spark = cents.sparkSession
    val bc = spark.sparkContext.broadcast(
      cents.select(col("cid"), col("cm")).collect()
        .map(r => (0, r.getLong(0), r.getSeq[Long](1).toArray)))
    pts.withColumn("best",
        graft.functions.PqFunctions.pq_assign(col("xm"), lit(0), bc, 1))
      .select(col("vec_id"), col("xm"),
        col("best.cid").as("cid"), col("best.d").as("d"))
  }

  /** Lloyd update: per-(cluster, dim) mean in micro-units, half-away-
    * from-zero ([[Exact.signedDivRound]] — embedding coordinates go
    * negative, so the unsigned +n/2 form would floor-vs-truncate apart
    * across engines). One (cid, dim)-keyed shuffle whose partial pass
    * reduces to ≤ k×dims rows per task — the only shuffle an iteration
    * pays. A cluster that loses every member drops out (mirrored by the
    * oracle's GROUP BY). localCheckpoint caps lineage: each k-row
    * centroid frame is re-read by the next assignment, and an uncut
    * chain re-evaluates the whole unroll exponentially (the
    * refineCentroids discipline). */
  private def update(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("xm")))
      .toDF("cid", "dim", "x")
      .groupBy(col("cid"), col("dim"))
      .agg(Exact.signedDivRound(sum(col("x")), count(lit(1))).as("mu"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("mu")))), s => s.getField("mu")).as("cm"))
      .localCheckpoint()

  /** V47: exact k-means (k=8, 3 unrolled Lloyd iterations, seeded from
    * the first k vec_ids). Output is the per-cluster profile — size,
    * inertia (Σ squared micro-distance) and the centroid coordinate sum
    * as a centroid witness — all integers, hash-compared with DuckDB
    * running the identical unroll. Scale: per iteration one broadcast
    * of k×dims longs + one (cid,dim) partial-agg shuffle; points are
    * never re-grouped or re-shuffled. Micro-unit sums bound ~9e12
    * points per cluster before Long overflow — beyond that the update
    * switches to DECIMAL sums (the refineCentroids spelling). */
  /** The shared Lloyd run, memoized ([[graft.util.PlanMemo]]): v47,
    * v53, v50b and v18h all consume one training run per process —
    * centroids first (the full iteration chain), then the final
    * assignment derived from the stored centroids. Returns (final
    * assignment (vec_id, xm, cid, d), final centroids (cid, cm)). */
  private def lloyd(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val cents = graft.util.PlanMemo.memo(spark, "v47_cents", dir) {
      val pts = points(spark, dir)
      var c = pts.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("xm").as("cm"))
      for (_ <- 1 to Iters) c = update(assign(pts, c))
      c
    }
    val fin = graft.util.PlanMemo.memo(spark, "v47_assign", dir)(
      assign(points(spark, dir), cents))
    (fin, cents)
  }

  /** Final centroids only — the coarse quantizer v18h routes through. */
  private[graft] def finalCentroids(spark: SparkSession,
      dir: String): DataFrame = lloyd(spark, dir)._2

  def kmeans(spark: SparkSession, dir: String): DataFrame = {
    val (fin, cents) = lloyd(spark, dir)
    val stats = fin.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("inertia"))
    val witness = cents.select(col("cid"),
      expr("aggregate(cm, CAST(0 AS BIGINT), (acc, v) -> acc + v)")
        .as("c_sum"))
    stats.join(witness, Seq("cid"))
      .select(col("cid").as("cluster"), col("n"), col("inertia"),
        col("c_sum"))
      .orderBy(col("cluster"))
  }

  private def iterSql(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""d$i AS (SELECT p.vec_id, p.xm, c.cid,
       |   CAST(list_sum(list_transform(range(1, len(p.xm) + 1),
       |     k -> (p.xm[k] - c.cm[k]) * (p.xm[k] - c.cm[k]))) AS BIGINT) AS d
       |  FROM pts p CROSS JOIN $prev c),
       | a$i AS (SELECT vec_id, xm, cid FROM d$i
       |   QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
       | u$i AS (SELECT cid, dim,
       |   ${OracleSql.signedDivRound("sum(x)", "count(*)")} AS mu
       |  FROM (SELECT cid, unnest(xm) AS x,
       |          unnest(range(1, len(xm) + 1)) AS dim FROM a$i)
       |  GROUP BY cid, dim),
       | c$i AS (SELECT cid, list(CAST(mu AS BIGINT) ORDER BY dim) AS cm
       |  FROM u$i GROUP BY cid)""".stripMargin
  }

  /** The final (vec_id, cid) assignment of the shared Lloyd run — the
    * unsupervised block map v50b's SemDeDup composition consumes. */
  private[graft] def finalAssign(spark: SparkSession, dir: String): DataFrame =
    lloyd(spark, dir)._1.select(col("vec_id"), col("cid"))

  /** Flat coarse assignment stays exact (every centroid evaluated by
    * the compiled in-row argmin) up to this many centroids — ALIASED
    * to [[SimilarityOps.HierNlistThreshold]] (not re-defined) so the
    * IVF and PQ families can never silently diverge on the flat/hier
    * switchover if the threshold is retuned. Far above K=8, so every
    * PQ-family oracle sees the flat path bit-for-bit. */
  private[graft] def HierCoarseThreshold: Int =
    SimilarityOps.HierNlistThreshold

  /** Group-layer probes per point on the hierarchical path — aliased
    * to [[SimilarityOps.GroupsProbed]] for the same reason: 2 of
    * ~sqrt(k) groups keeps Voronoi-boundary misses rare at ~2*sqrt(k)
    * evaluated centroids per point. */
  private[graft] def CoarseGroupsProbed: Int = SimilarityOps.GroupsProbed

  /** Nearest-centroid assignment at ANY centroid count, zero-shuffle
    * either way. Flat up to [[HierCoarseThreshold]] centroids —
    * IDENTICAL to [[assign]]. Above it, the two-level path: the k
    * centroids are k-means'd driver-side into ~sqrt(k) GROUPS (k rows
    * of metadata — bytes, the FAISS train-coarse-on-sample regime),
    * each point routes to its `probes` nearest group-centroids
    * (compiled [[graft.functions.PqAssignTop]], O(g) per point) and
    * argmins over ONLY those groups' centroids (compiled
    * [[graft.functions.PqAssign]] with the group id as the
    * candidate-list selector) — ~2*sqrt(k) evaluated centroids per
    * point instead of k, all in-row: no explode, no shuffle, no join.
    * Ties break (d, cid) ascending in every layer, matching the flat
    * rule. Approximate exactly like [[SimilarityOps.hierCandidates]]
    * (a point near a group boundary can land in its second-best cell);
    * probing ALL groups recovers the flat assignment bit-for-bit —
    * pinned in CoarseSpec. */
  private[graft] def assignAt(pts: DataFrame, cents: DataFrame, k: Int,
      probes: Int = CoarseGroupsProbed): DataFrame = {
    if (k <= HierCoarseThreshold) assign(pts, cents)
    else {
      val spark = cents.sparkSession
      val arr = cents.select(col("cid"), col("cm")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
      val (gCents, centGroup) = trainGroups(spark, cents, arr)
      val g = gCents.length
      val p = math.min(math.max(1, probes), g)
      val gBc = spark.sparkContext.broadcast(
        gCents.map { case (gid, gm) => (0, gid, gm) })
      val byGroupBc = spark.sparkContext.broadcast(
        arr.zipWithIndex.map { case ((cid, cm), i) =>
          (centGroup(i), cid, cm) })
      import graft.functions.PqFunctions.{pq_assign, pq_assign_top}
      val routed = pts.withColumn("gs",
        pq_assign_top(col("xm"), lit(0), gBc, 1, p))
      val bs = (0 until p).map { i =>
        pq_assign(col("xm"),
          element_at(col("gs"), i + 1).getField("cid").cast("int"),
          byGroupBc, g)
      }
      val best = if (bs.length == 1) bs.head else least(bs: _*)
      routed.withColumn("best", best)
        .select(col("vec_id"), col("xm"),
          col("best.cid").as("cid"), col("best.d").as("d"))
    }
  }

  /** Cap on the rows the DRIVER-side group-mean Lloyd iterates over —
    * round-10 SCALING.md "Remaining bound": training the group layer
    * over the full k-row centroid table was the last non-distributed
    * O(k^1.5·d) term in the ANN stack. Above the cap the group means
    * train on a deterministic stride sample of ≤4096 centroids (the
    * FAISS train-coarse-on-sample regime — group means are a routing
    * heuristic, not part of any exact contract) and the k-centroid →
    * group assignment itself runs as ONE Spark job through the
    * compiled [[graft.functions.PqAssign]] argmin. At or below the cap
    * (every driver SF and CoarseSpec's k=300 fixture) the whole chain
    * is the original driver-side path, bit for bit. */
  private[graft] val GroupTrainSampleMax = 4096

  /** Test seam: force the sample cap down so specs/ScaleBench exercise
    * the sampled-training + distributed-assignment path at fixture
    * scale (the scrubLedgerMaxOverride convention). */
  @volatile private[graft] var groupTrainMaxOverride: Option[Int] = None
  private def groupTrainMax: Int =
    groupTrainMaxOverride.getOrElse(GroupTrainSampleMax)

  /** Groups the k coarse centroids into ceil(sqrt(k)) clusters (seeded
    * from the first sqrt(k) by cid, 2 integer Lloyd iterations,
    * half-away-from-zero means — the [[update]] arithmetic in plain
    * Scala). Returns the non-empty group centroids with DENSE ids
    * 0..g-1 plus each input centroid's group index — empty groups are
    * dropped so every probed group carries candidates and the in-row
    * argmin never goes null. Deterministic: pure integer arithmetic
    * over a cid-sorted array; the sampled/distributed path above
    * [[GroupTrainSampleMax]] is equally deterministic (stride sample
    * by cid order; [[graft.functions.PqAssign]] replays the exact
    * strict-< lowest-id argmin of the local loop). `centsDf` is the
    * same table `cents` was collected from — the distributed final
    * assignment scans it instead of looping on the driver. */
  private def trainGroups(spark: SparkSession, centsDf: DataFrame,
      cents: Array[(Long, Array[Long])])
      : (Array[(Long, Array[Long])], Array[Int]) = {
    val k = cents.length
    val g0 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val dims = cents.head._2.length
    // deterministic stride sample caps the driver-side Lloyd: every
    // ceil(k/max)-th centroid in cid order, ≤ GroupTrainSampleMax rows
    val stride = math.max(1,
      math.ceil(k.toDouble / groupTrainMax).toInt)
    val train: Array[Array[Long]] =
      if (stride == 1) cents.map(_._2)
      else Array.range(0, k, stride).map(i => cents(i)._2)
    val n = train.length
    var gm = Array.tabulate(math.min(g0, n))(i => train(i).clone())
    def sqd(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    def divRound(s: Long, n: Long): Long =
      if (s >= 0) (s + n / 2) / n else -((-s + n / 2) / n)
    def assignOne(cm: Array[Long]): Int = {
      var bd = Long.MaxValue; var bg = 0; var j = 0
      while (j < gm.length) {
        val d = sqd(cm, gm(j))
        if (d < bd) { bd = d; bg = j }
        j += 1
      }
      bg
    }
    val trainAsg = new Array[Int](n)
    for (_ <- 1 to 2) {
      var i = 0
      while (i < n) { trainAsg(i) = assignOne(train(i)); i += 1 }
      val sums = Array.fill(gm.length, dims)(0L)
      val cnts = new Array[Long](gm.length)
      i = 0
      while (i < n) {
        val s = sums(trainAsg(i)); val cm = train(i)
        var d = 0
        while (d < dims) { s(d) += cm(d); d += 1 }
        cnts(trainAsg(i)) += 1
        i += 1
      }
      gm = gm.indices.map { j =>
        if (cnts(j) == 0) gm(j)
        else Array.tabulate(dims)(d => divRound(sums(j)(d), cnts(j)))
      }.toArray
    }
    // the group ids handed out must match the group centroids the
    // points will route against: one final assignment of ALL k
    // centroids to the POST-update means. Driver loop at/below the
    // sample cap (the original path, bit-identical); ONE distributed
    // argmin job above it — the term SCALING.md carried as the last
    // driver-side bound
    val asg: Array[Int] =
      if (stride == 1) cents.map(c => assignOne(c._2))
      else {
        val gmBc = spark.sparkContext.broadcast(
          gm.zipWithIndex.map { case (m, j) => (0, j.toLong, m) })
        val gid = centsDf
          .select(col("cid"), graft.functions.PqFunctions
            .pq_assign(col("cm"), lit(0), gmBc, 1)
            .getField("cid").as("gid"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1).toInt)).toMap
        val out = cents.map { case (cid, _) => gid(cid) }
        gmBc.destroy()
        out
      }
    // drop empty groups, re-index dense
    val used = asg.distinct.sorted
    val remap = used.zipWithIndex.toMap
    val outCents = used.map(j => (remap(j).toLong, gm(j)))
    (outCents, asg.map(remap))
  }

  /** The coarse quantizer chain at ANY cell count — the adaptive-K
    * seam the PQ serving family routes through
    * ([[graft.sim.PqOps.adaptiveCoarseK]]): k == [[K]] is the shared
    * v47 Lloyd run VERBATIM (same memo, same integers — every
    * PQ-family oracle replays it), any other k trains its own chain
    * (first-k seeding, [[Iters]] rounds) with the assignment routed
    * through [[assignAt]] — flat and exact through 256 cells,
    * two-level above. Returns (final assignment (vec_id, xm, cid, d),
    * final centroids (cid, cm)), memoized per (k, dir). */
  private[graft] def coarseAt(spark: SparkSession, dir: String,
      k: Int): (DataFrame, DataFrame) =
    if (k == K) lloyd(spark, dir)
    else {
      val cents = graft.util.PlanMemo.memo(spark, s"coarse_cents_k$k", dir) {
        val pts = points(spark, dir)
        var c = pts.filter(col("vec_id") < k)
          .select(col("vec_id").as("cid"), col("xm").as("cm"))
        for (_ <- 1 to Iters) c = update(assignAt(pts, c, k))
        c
      }
      val fin = graft.util.PlanMemo.memo(spark, s"coarse_assign_k$k", dir)(
        assignAt(points(spark, dir), cents, k))
      (fin, cents)
    }

  /** The WITH-chain shared by every oracle that consumes the Lloyd
    * run: pts → c0 → 3 iterations → final assignment `fa`. */
  private[graft] lazy val lloydChainSql: String = {
    val iters = (1 to Iters).map(iterSql).mkString(",\n ")
    s"""WITH pts AS (SELECT vec_id, $microVecSql AS xm FROM embeddings),
       | c0 AS (SELECT vec_id AS cid, xm AS cm FROM pts WHERE vec_id < $K),
       | $iters,
       | df AS (SELECT p.vec_id, c.cid,
       |   CAST(list_sum(list_transform(range(1, len(p.xm) + 1),
       |     k -> (p.xm[k] - c.cm[k]) * (p.xm[k] - c.cm[k]))) AS BIGINT) AS d
       |  FROM pts p CROSS JOIN c$Iters c),
       | fa AS (SELECT vec_id, cid, d FROM df
       |   QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1)""".stripMargin
  }

  private lazy val kmeansSql: String =
    s"""$lloydChainSql,
       | st AS (SELECT cid, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(d) AS BIGINT) AS inertia FROM fa GROUP BY cid),
       | wt AS (SELECT cid, CAST(list_sum(cm) AS BIGINT) AS c_sum
       |        FROM c$Iters)
       |SELECT st.cid AS cluster, n, inertia, c_sum
       |FROM st JOIN wt USING (cid) ORDER BY cluster""".stripMargin

  /** The deterministic seed model (first [[K]] vec_ids as centroids)
    * from the batch table — the "trained model" a streaming scorer
    * broadcasts into every micro-batch (st15). */
  private[graft] def seedCentroids(spark: SparkSession,
      dir: String): DataFrame =
    points(spark, dir).filter(col("vec_id") < K)
      .select(col("vec_id").as("cid"), col("xm").as("cm"))

  /** Oracle for scoring the corpus against the SEED centroids (the
    * zero-iteration assignment): per-cluster size + inertia. Shared by
    * st15's driver oracle — finite stream == this batch aggregate. */
  private[graft] lazy val seedScoreSql: String =
    s"""WITH pts AS (SELECT vec_id, $microVecSql AS xm FROM embeddings),
       | c0 AS (SELECT vec_id AS cid, xm AS cm FROM pts WHERE vec_id < $K),
       | d1 AS (SELECT p.vec_id, c.cid,
       |   CAST(list_sum(list_transform(range(1, len(p.xm) + 1),
       |     k -> (p.xm[k] - c.cm[k]) * (p.xm[k] - c.cm[k]))) AS BIGINT) AS d
       |  FROM pts p CROSS JOIN c0 c),
       | a1 AS (SELECT vec_id, cid, d FROM d1
       |   QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1)
       |SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n,
       | CAST(sum(d) AS BIGINT) AS inertia
       |FROM a1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** V74: centroid silhouette — the clustering-quality witness the
    * v47 family lacks: inertia says how tight clusters are, not
    * whether points sit closer to a NEIGHBOR cluster. Per point, the
    * simplified (centroid-based) silhouette on squared micro
    * distances: a = d(own centroid), b = min over other centroids,
    * s = (b − a) / max(a, b) ∈ [−1, 1] — s < 0 is a misassigned
    * point. Exact: s in micro units via DECIMAL(38) signed half-away
    * division ((b−a)·10⁶ overflows Long at d ~ 2.6e14); per-cluster
    * mean exact over the micro sum. Scale: b is a pure in-row argmin
    * over the broadcast k-centroid bundle (zero shuffle — the v47
    * assignment shape); the rollup is one k-row aggregate. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column): Column = c.cast(DecimalType(38, 0))
    val (fin, cents) = lloyd(spark, dir)
    val withB = fin.crossJoin(broadcast(bundle(cents)))
      .withColumn("b", expr("array_min(transform(" +
        s"filter(cs, c -> c.cid != cid), c -> $distExpr))"))
    val sil = withB.withColumn("sm",
      when(greatest(col("d"), col("b")) === 0, lit(0L))
        .otherwise(Exact.signedDivRoundDec(
          (dec(col("b")) - dec(col("d"))) * 1000000L,
          dec(greatest(col("d"), col("b")))).cast("long")))
    sil.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        (Exact.signedDivRound(sum(col("sm")), count(lit(1)))
          .cast("double") / 1000000.0).as("mean_sil"),
        sum(when(col("sm") < 0, 1L).otherwise(0L)).as("n_misassigned"))
      .select(col("cid").as("cluster"), col("n"), col("mean_sil"),
        col("n_misassigned"))
      .orderBy(col("cluster"))
  }

  private lazy val silhouetteSql: String =
    s"""$lloydChainSql,
       | bd AS (SELECT df.vec_id, min(df.d) AS b
       |   FROM df JOIN fa USING (vec_id) WHERE df.cid <> fa.cid
       |   GROUP BY 1),
       | sil AS (SELECT fa.vec_id, fa.cid,
       |    CASE WHEN greatest(fa.d, bd.b) = 0 THEN 0
       |         ELSE ${OracleSql.signedDivRound(
              "(bd.b::HUGEINT - fa.d::HUGEINT) * 1000000",
              "greatest(fa.d, bd.b)::HUGEINT")} END AS sm
       |   FROM fa JOIN bd USING (vec_id))
       |SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n,
       | CAST(${OracleSql.signedDivRound("sum(sm)", "count(*)")}
       |   AS DOUBLE) / 1000000.0 AS mean_sil,
       | CAST(sum(CASE WHEN sm < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_misassigned
       |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin

  /** V53 per-cluster quota. */
  val Quota = 25

  /** Deterministic engine-independent pseudo-random score for the
    * coreset draw: an LCG on vec_id (NOT xxhash64/md5 — those are
    * engine-hash-specific and would force the entry off the oracle).
    * vec_id ≤ ~8×10⁹ keeps the product below 2⁶³ in both engines. */
  private val lcgExpr = "(vec_id * 1103515245 + 12345) % 2147483648"

  /** V53: cluster-balanced coreset — the downstream consumer of v47
    * (the composition SemDeDup-style curation actually runs: cluster,
    * then draw evenly per cluster so the subset keeps representation
    * coverage instead of mirroring the cluster-size skew). Per final
    * cluster, the [[Quota]] members with the smallest LCG score.
    *
    * The draw is answered by the NATIVE [[graft.plans.TopKPerKey]]
    * operator: per-key bounded heaps, partial before the one hash
    * exchange (which carries ≤ quota×clusters×partitions rows, never
    * the corpus), final after — no sort, no rank column in flight. The
    * rank the contract exposes is recovered by a window over the
    * ≤ quota×clusters survivors. Fully oracle-checked: the LCG makes
    * the draw engine-independent, so DuckDB reproduces the exact
    * member set from its own Lloyd run. */
  def balancedCoreset(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (fin, _) = lloyd(spark, dir)
    val scored = fin.select(col("cid"), col("vec_id"),
      expr(lcgExpr).as("h"))
    val kept = graft.plans.TopKPerKey.topK(scored,
      Seq("cid"), Seq("h", "vec_id"), Quota)
    kept.withColumn("rk", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("h"), col("vec_id"))))
      .select(col("cid").as("cluster"), col("rk"), col("vec_id"))
      .orderBy(col("cluster"), col("rk"))
  }

  private lazy val coresetSql: String =
    s"""$lloydChainSql,
       | sel AS (SELECT cid, vec_id, $lcgExpr AS h FROM fa),
       | r AS (SELECT cid, vec_id,
       |   row_number() OVER (PARTITION BY cid ORDER BY h, vec_id) AS rk
       |  FROM sel)
       |SELECT cid AS cluster, CAST(rk AS INT) AS rk, vec_id
       |FROM r WHERE rk <= $Quota ORDER BY cluster, rk""".stripMargin

  /** Per-(label, dim) micro-unit centroid — v39's projection, but with
    * the signed mean (affinity works on raw per-label centroids whose
    * coordinate sums go negative). */
  private def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(microVec(col("embedding"))))
      .toDF("label", "dim", "x")
      .groupBy(col("label"), col("dim"))
      .agg(Exact.signedDivRound(sum(col("x")), count(lit(1))).as("mu"))

  /** V51: label affinity matrix — pairwise cosine between per-label
    * centroids, the curation readout that tells you which label pairs
    * share representation space (merge candidates / confusion risk)
    * before any training run. Exactness: integer-micro centroids,
    * exact integer dot products (|μ|≤1e6 ⇒ Σμaμb ≤ 64e12 ≪ 2⁶³), one
    * IEEE-correctly-rounded sqrt per side. Scale: ONE (label,dim)
    * partial-agg shuffle over the corpus; everything after runs on
    * labels×dims rows (bounded — 640 here), pairs on labels² — the
    * v39 domain-bounded-frame discipline. */
  /** V79 imbalance bar: a class more than 2× off its uniform share
    * flags (the conventional "needs reweighting/resampling" line the
    * v52/v48 rebalancers then act on). */
  val BalanceFactor = 2L

  /** V79: class-balance audit — the label-distribution check a
    * supervised (or classifier-filtered) pipeline runs before
    * training: per label, count, exact share, deviation from the
    * uniform share, and a flag when the class sits more than
    * [[BalanceFactor]]× off uniform in either direction. All integer
    * cross-multiplication (n·k vs total — no division decides a
    * flag); one keyed partial-agg shuffle onto the bounded label
    * frame; k and total ride a broadcast 1-row aggregate. */
  def classBalance(spark: SparkSession, dir: String): DataFrame =
    classBalanceReadout(Tables.embeddings(spark, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("n")))

  /** The share/deviation/flag readout over a (label, n) count frame —
    * one spelling for the batch audit and its streaming twin (st27),
    * which supplies the counts from streaming aggregation state. */
  private def classBalanceReadout(perLabel: DataFrame): DataFrame = {
    val totals = perLabel.agg(sum(col("n")).as("total"),
      count(lit(1)).as("k"))
    perLabel.crossJoin(broadcast(totals))
      .select(col("label"), col("n"),
        Exact.ratio6(col("n"), col("total")).as("share"),
        Exact.ratio6(abs(col("n") * col("k") - col("total")),
          col("total")).as("uniform_dev"),
        (col("n") * col("k") > col("total") * BalanceFactor ||
          col("n") * col("k") * BalanceFactor < col("total"))
          .as("imbalanced"))
      .orderBy(col("label"))
  }

  /** ST27: the class-balance audit SERVED LIVE — label skew is an
    * ingest property (one upstream labeler outage skews the stream
    * long before a batch audit runs): per-label counts as algebraic
    * streaming aggregation state (O(labels) rows), the
    * share/deviation/flag readout on the final bounded state through
    * the SAME [[classBalanceReadout]] spelling — shares v79's
    * oracle. */
  def streamingClassBalance(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.streaming.StreamingOps.runToBatch(spark,
      graft.streaming.StreamingOps.tableStream(spark, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("n")),
      s"st27_balance_${System.nanoTime()}")
    classBalanceReadout(counts)
  }

  private lazy val classBalanceSql: String =
    s"""WITH p AS (SELECT label, CAST(count(*) AS BIGINT) AS n
       |           FROM embeddings GROUP BY 1),
       | t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
       |        CAST(count(*) AS BIGINT) AS k FROM p)
       |SELECT label, n,
       | ${OracleSql.ratio6("n", "total")} AS share,
       | ${OracleSql.ratio6("abs(n * k - total)", "total")} AS uniform_dev,
       | (n * k > total * $BalanceFactor
       |  OR n * k * $BalanceFactor < total) AS imbalanced
       |FROM p, t ORDER BY label""".stripMargin

  def labelAffinity(spark: SparkSession, dir: String): DataFrame = {
    val m = labelCentroids(spark, dir).localCheckpoint()
    val norms = m.groupBy(col("label"))
      .agg(sum(col("mu") * col("mu")).as("dd"))
    val a = m.select(col("label").as("label_a"), col("dim"),
      col("mu").as("mua"))
    val b = m.select(col("label").as("label_b"), col("dim"),
      col("mu").as("mub"))
    a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("mua") * col("mub")).as("dab"))
      .join(broadcast(norms.select(col("label").as("label_a"),
        col("dd").as("daa"))), Seq("label_a"))
      .join(broadcast(norms.select(col("label").as("label_b"),
        col("dd").as("dbb"))), Seq("label_b"))
      .select(col("label_a"), col("label_b"),
        round(col("dab").cast("double") /
          (sqrt(col("daa").cast("double")) *
            sqrt(col("dbb").cast("double"))), 6).as("cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  private lazy val labelAffinitySql: String =
    s"""WITH x AS (SELECT label,
       |   unnest($microVecSql) AS x,
       |   unnest(range(1, len(embedding) + 1)) AS dim
       |  FROM embeddings),
       | m AS (SELECT label, dim,
       |   CAST(${OracleSql.signedDivRound("sum(x)", "count(*)")} AS BIGINT)
       |     AS mu
       |  FROM x GROUP BY 1, 2),
       | nn AS (SELECT label, CAST(sum(mu * mu) AS BIGINT) AS dd
       |        FROM m GROUP BY 1),
       | p AS (SELECT a.label AS label_a, b.label AS label_b,
       |         CAST(sum(a.mu * b.mu) AS BIGINT) AS dab
       |       FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label
       |       GROUP BY 1, 2)
       |SELECT label_a, label_b,
       | round(CAST(dab AS DOUBLE) /
       |   (sqrt(CAST(na.dd AS DOUBLE)) * sqrt(CAST(nb.dd AS DOUBLE))), 6)
       |   AS cos
       |FROM p JOIN nn na ON p.label_a = na.label
       |       JOIN nn nb ON p.label_b = nb.label
       |ORDER BY label_a, label_b""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v47_kmeans",
      "V47 exact k-means (k=8, 3 unrolled Lloyd iterations, integer-" +
        "micro L2, signed half-up means): per-cluster size/inertia/" +
        "centroid witness, hash-identical across engines — the oracle-" +
        "grade sibling of the IVF build's cosine Lloyd (v3b)",
      kmeans, Some(kmeansSql)),
    GraftQuery("v74_silhouette",
      "V74 centroid silhouette: per-cluster mean (b-a)/max(a,b) over " +
        "squared micro distances + misassigned-point count — the " +
        "clustering-quality witness inertia can't give; b is an " +
        "in-row argmin over the broadcast centroid bundle, zero extra " +
        "shuffle, DECIMAL-exact signed division",
      silhouette, Some(silhouetteSql)),
    GraftQuery("v53_balanced_coreset",
      "V53 cluster-balanced coreset over the v47 clusters: per-cluster " +
        "quota drawn by an engine-independent LCG, answered by the " +
        "native TopKPerKey operator (bounded heaps astride one " +
        "exchange) — fully oracle-checked including the draw",
      balancedCoreset, Some(coresetSql)),
    GraftQuery("v79_class_balance",
      "V79 class-balance audit: per-label count, exact share, " +
        "deviation from uniform, and a 2x-off-uniform imbalance flag " +
        "— integer cross-multiplied, one keyed agg onto the bounded " +
        "label frame, broadcast totals",
      classBalance, Some(classBalanceSql)),
    GraftQuery("st27_streaming_class_balance",
      "ST27 the class-balance audit served live: per-label counts as " +
        "algebraic streaming aggregation state, the share/deviation/" +
        "flag readout on the final bounded state through v79's own " +
        "spelling — shares its oracle",
      streamingClassBalance, Some(classBalanceSql)),
    GraftQuery("v51_label_affinity",
      "V51 label affinity matrix: pairwise cosine between per-label " +
        "integer-micro centroids (exact dots, IEEE sqrt) — which label " +
        "pairs share representation space; one (label,dim) shuffle, " +
        "then bounded frames only",
      labelAffinity, Some(labelAffinitySql)))
}
