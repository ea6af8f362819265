package graft.sim

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** V68: in-engine PCA — the dominant principal direction of the
  * embedding cloud and its explained-variance share, as EXACT dataflow
  * (the v47-Lloyd / v61-Cramer convention extended to a spectral
  * method). The share of total variance on the top component is the
  * standard embedding-ANISOTROPY / representation-collapse diagnostic:
  * a healthy encoder spreads variance across directions; a collapsing
  * one concentrates it (share → 1), and a drifting pipeline moves the
  * dominant DIRECTION — both are numbers a curation pipeline should
  * watch per ingest batch.
  *
  * Exactness: the covariance numerators are integer micro-unit sums
  * (one (k)-keyed partial-agg shuffle over in-row product arrays), the
  * matrix entries are half-up integer divisions by n, and the power
  * iteration runs a FIXED [[PowerIters]] max-norm steps — each step's
  * vector is rescaled to ±1e6 with [[Exact.signedDivRoundDec]], so
  * every intermediate is an integer both engines agree on; DuckDB
  * replays the identical unroll in HUGEINT. The reported eigenvalue is
  * the Rayleigh quotient of the step-[[PowerIters]] vector — a
  * deterministic statistic whether or not the iteration has fully
  * converged (with d=64 and a real spectral gap, 12 steps are far
  * past stationary at these SFs).
  *
  * Scale shape: ONE corpus pass (d² products per row — the obvious
  * upper-triangle halving is left explicit for readability) into a
  * d²-key aggregate; everything after lives on 1-row frames, each
  * iteration step localCheckpointed (the v60 bounded-frame unroll
  * convention — keeps the expression tree flat). Magnitude budget:
  * C entries ≈ n·Var·1e12/n ≲ 1e15 at these SFs; the mat-vec products
  * stay ≈ 1e22 (DECIMAL 38 / HUGEINT), and the Rayleigh quotient fits
  * the Long that IntegralDivide returns. A 1e9-row corpus pre-divides
  * C by a larger constant — same plan.
  */
object PcaOps extends QueryModule {

  /** Embedding dimensionality of the corpus (checked at runtime by the
    * element_at arithmetic — a wrong D nulls out and the oracle catches
    * it). */
  val D = 64

  /** Fixed power-iteration step count, unrolled in both engines. */
  val PowerIters = 12

  private val dec38 = DecimalType(38, 0)

  /** One matrix-vector step + max-norm rescale on a 1-row frame with
    * columns `cm` (flat row-major d² longs) and `v` (d longs). Every
    * step materializes (localCheckpoint): chaining steps symbolically
    * was MEASURED slower (5.0 s → 8.1 s at sf0.1) — the m-inside-v
    * reference re-inlines the mat-vec and evaluation duplicates. */
  private def powerStep(row: DataFrame, step: Int): DataFrame = {
    val ys = transform(sequence(lit(0), lit(D - 1)), i =>
      aggregate(sequence(lit(0), lit(D - 1)), lit(0).cast(dec38),
        (acc, j) => acc +
          element_at(col("cm"), (i * D + j + 1).cast("int")).cast(dec38) *
          element_at(col("v"), (j + 1).cast("int")).cast(dec38)))
    val next = row.withColumn("ys", ys)
      .withColumn("m",
        greatest(array_max(transform(col("ys"), y => abs(y))),
          lit(1).cast(dec38)))
      .withColumn("v", transform(col("ys"), y =>
        Exact.signedDivRoundDec(y * 1000000L, col("m"))))
      .drop("ys", "m")
    next.localCheckpoint()
  }

  /** The 1-row (n, cm) covariance frame: numerators n·Σxy − Σx·Σy per
    * (i,j), half-up divided by n. */
  private[graft] def covRow(spark: SparkSession, dir: String): DataFrame = {
    // spread: the source is one parquet file = one task, and the d²
    // in-row products are interpreted HOF work (measured ~2 s ->
    // sub-second at sf0.1 once spread)
    val pts = graft.util.Spread.toCores(
      ClusterOps.pointsOf(Tables.embeddings(spark, dir)))
    // in-row d² product array → one (k)-keyed partial-agg shuffle
    val prods = pts.select(posexplode(flatten(transform(col("xm"),
        xi => transform(col("xm"), xj => xi * xj)))))
      .groupBy(col("pos").as("k"))
      .agg(sum(col("col").cast(dec38)).as("s"))
    val sums = pts.select(posexplode(col("xm")))
      .groupBy(col("pos").as("k"))
      .agg(sum(col("col").cast(dec38)).as("s"))
    val n1 = pts.agg(count(lit(1)).as("n"))
    val sxyRow = prods.agg(array_sort(collect_list(
      struct(col("k"), col("s")))).as("a"))
      .select(transform(col("a"), e => e.getField("s")).as("sxy"))
    val sxRow = sums.agg(array_sort(collect_list(
      struct(col("k"), col("s")))).as("a"))
      .select(transform(col("a"), e => e.getField("s")).as("sx"))
    n1.crossJoin(broadcast(sxyRow)).crossJoin(broadcast(sxRow))
      .select(col("n"), transform(sequence(lit(0), lit(D * D - 1)), k =>
        Exact.signedDivRoundDec(
          col("n").cast(dec38) *
            element_at(col("sxy"), (k + 1).cast("int")) -
          element_at(col("sx"),
            (Exact.intDiv(k, lit(D)) + 1).cast("int")).cast(dec38) *
          element_at(col("sx"),
            (pmod(k, lit(D)) + 1).cast("int")).cast(dec38),
          col("n").cast(dec38))).as("cm"))
  }

  /** The trained artifact — one row (n, cm, v): covariance + the
    * step-[[PowerIters]] principal direction, MEMOIZED to stored
    * parquet per (process, dir) (the codebooks/probe convention: a
    * fitted model is computed once and stored, not re-derived per
    * consumer — v68 and v68b both read it). */
  private[graft] def principalRow(spark: SparkSession,
      dir: String): DataFrame =
    graft.util.PlanMemo.memo(spark, "v68_principal", dir) {
      val start = covRow(spark, dir)
        .withColumn("v", transform(sequence(lit(0), lit(D - 1)), i =>
          when(i === 0, 1000000L).otherwise(0L)))
        .localCheckpoint()
      // each step is a 1-row job whose cost is the Janino compile of
      // its (always fresh) plan, not the arithmetic — run the unroll
      // interpreted; values are identical, only the eval mode changes
      val prevCg = spark.conf.get("spark.sql.codegen.wholeStage")
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        (1 to PowerIters).foldLeft(start)(powerStep)
      } finally spark.conf.set("spark.sql.codegen.wholeStage", prevCg)
    }

  /** V68: the entry — one row: n, trace, the Rayleigh eigenvalue of
    * the step-12 vector, the explained-variance share (anisotropy),
    * and the direction itself (micro units, CSV-witnessed). */
  def embeddingPca(spark: SparkSession, dir: String): DataFrame = {
    val last = principalRow(spark, dir)
    val ys = transform(sequence(lit(0), lit(D - 1)), i =>
      aggregate(sequence(lit(0), lit(D - 1)), lit(0).cast(dec38),
        (acc, j) => acc +
          element_at(col("cm"), (i * D + j + 1).cast("int")).cast(dec38) *
          element_at(col("v"), (j + 1).cast("int")).cast(dec38)))
    def dotVs(a: Column, b: Column): Column =
      aggregate(sequence(lit(0), lit(D - 1)), lit(0).cast(dec38),
        (acc, i) => acc +
          element_at(a, (i + 1).cast("int")).cast(dec38) *
          element_at(b, (i + 1).cast("int")).cast(dec38))
    last.withColumn("ys", ys)
      .withColumn("lambda_c",
        Exact.signedDivRoundDec(dotVs(col("v"), col("ys")),
          dotVs(col("v"), col("v"))))
      .withColumn("trace_c",
        aggregate(sequence(lit(0), lit(D - 1)), lit(0).cast(dec38),
          (acc, i) => acc +
            element_at(col("cm"), (i * D + i + 1).cast("int"))
              .cast(dec38)).cast("long"))
      .select(col("n"), col("trace_c"), col("lambda_c"),
        Exact.ratio6Dec(col("lambda_c"), col("trace_c")).as("ev_share"),
        concat_ws(",", transform(col("v"), _.cast("string")))
          .as("v_csv"),
        aggregate(transform(col("v"), x => abs(x)), lit(0L),
          (acc, x) => acc + x).as("v_l1"))
  }

  /** V68b: per-source drift along the dominant axis — every vector's
    * coordinate on the stored principal direction (one broadcast row,
    * in-row integer dot: |v·x| ≤ d·1e6·|x| fits Long), rolled up per
    * source via the documents join (vec_id = doc_id). The number a
    * curation pipeline tracks per ingest source: a source whose mean
    * coordinate runs away from the corpus is feeding the drift v68's
    * share detects. */
  def pcaSourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val vRow = principalRow(spark, dir).select(col("v"))
    val pts = graft.util.Spread.toCores(
      ClusterOps.pointsOf(Tables.embeddings(spark, dir)))
    val proj = pts.crossJoin(broadcast(vRow))
      .select(col("vec_id"),
        aggregate(sequence(lit(0), lit(D - 1)), lit(0L), (acc, i) =>
          acc + element_at(col("v"), (i + 1).cast("int")) *
            element_at(col("xm"), (i + 1).cast("int"))).as("coord"))
    val srcs = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    proj.join(srcs, Seq("vec_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vecs"),
        Exact.signedDivRound(sum(col("coord")), count(lit(1)))
          .as("mu_coord"),
        min(col("coord")).as("min_coord"),
        max(col("coord")).as("max_coord"))
      .orderBy(col("source"))
  }

  /** ST20: the spectral model SERVED on a stream — arriving vectors'
    * coordinates on the stored v68 axis (broadcast 1-row model,
    * in-row dot: stateless), per-source drift rollup maintained as an
    * algebraic complete-mode aggregate (sum/count/min/max are
    * mergeable; the exact mean derives read-side), the st15/st16/st18
    * train-batch/serve-streaming convention for the PCA model.
    * Finite stream == batch v68b, so it SHARES its oracle. */
  def streamingPcaDrift(spark: SparkSession, dir: String): DataFrame = {
    val vRow = principalRow(spark, dir).select(col("v"))
      .localCheckpoint() // broadcast sides re-execute per micro-batch
    val stream = graft.streaming.StreamingOps
      .tableStream(spark, dir, "embeddings")
    val proj = ClusterOps.pointsOf(stream)
      .crossJoin(broadcast(vRow))
      .select(col("vec_id"),
        aggregate(sequence(lit(0), lit(D - 1)), lit(0L), (acc, i) =>
          acc + element_at(col("v"), (i + 1).cast("int")) *
            element_at(col("xm"), (i + 1).cast("int"))).as("coord"))
    // NOT checkpointed: the source map is corpus-sized (pinning it in
    // block storage would be worse than the per-batch 2-column scan
    // the pushed projection costs)
    val srcs = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val agg = proj.join(srcs, Seq("vec_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("coord")).as("sum_c"),
        min(col("coord")).as("min_coord"),
        max(col("coord")).as("max_coord"))
    graft.streaming.StreamingOps.runToBatch(spark, agg,
        s"st20_pca_${System.nanoTime()}")
      .select(col("source"), col("n_vecs"),
        Exact.signedDivRound(col("sum_c"), col("n_vecs")).as("mu_coord"),
        col("min_coord"), col("max_coord"))
      .orderBy(col("source"))
  }

  // ---- oracle SQL: the identical unroll in HUGEINT ----

  private def sdr(num: String, den: String): String =
    s"CASE WHEN ($num) < 0 THEN -((-($num) + ($den) // 2) // ($den)) " +
      s"ELSE (($num) + ($den) // 2) // ($den) END"

  private def stepSql(k: Int): String =
    s"""y$k AS (SELECT n, cm,
       |  list_transform(range(0, $D), i ->
       |    list_sum(list_transform(range(0, $D), j ->
       |      CAST(cm[i * $D + j + 1] AS HUGEINT) * v[j + 1]))) AS ys
       | FROM it${k - 1}),
       | m$k AS (SELECT n, cm, ys,
       |  greatest(list_max(list_transform(ys, y -> abs(y))),
       |           CAST(1 AS HUGEINT)) AS m
       | FROM y$k),
       | it$k AS (SELECT n, cm,
       |  list_transform(ys, y -> ${sdr("y * 1000000", "m")}) AS v
       | FROM m$k)""".stripMargin

  /** The full unroll as a CTE LIST ending in `fin(n, cm, v, ys)` —
    * spliced by both entries' oracles. */
  private lazy val pcaCtes: String = {
    val steps = (1 to PowerIters).map(stepSql).mkString(",\n ")
    s"""pts AS (SELECT vec_id, ${ClusterOps.microVecSql} AS xm
       |             FROM embeddings),
       | pp AS (SELECT k, sum(CAST(p AS HUGEINT)) AS s FROM (
       |    SELECT unnest(range(0, ${D * D})) AS k,
       |      unnest(flatten(list_transform(xm, xi ->
       |        list_transform(xm, xj -> xi * xj)))) AS p
       |    FROM pts) GROUP BY 1),
       | px AS (SELECT k, sum(CAST(x AS HUGEINT)) AS s FROM (
       |    SELECT unnest(range(0, $D)) AS k, unnest(xm) AS x FROM pts)
       |   GROUP BY 1),
       | srow AS (SELECT (SELECT count(*) FROM pts) AS n,
       |   (SELECT list(s ORDER BY k) FROM pp) AS sxy,
       |   (SELECT list(s ORDER BY k) FROM px) AS sx),
       | crow AS (SELECT n, list_transform(
       |     list_transform(range(0, ${D * D}), k ->
       |       n * sxy[k + 1] - sx[k // $D + 1] * sx[k % $D + 1]),
       |     x -> ${sdr("x", "n")}) AS cm
       |  FROM srow),
       | it0 AS (SELECT n, cm,
       |   list_transform(range(0, $D), i ->
       |     CAST(CASE WHEN i = 0 THEN 1000000 ELSE 0 END AS HUGEINT))
       |     AS v
       |  FROM crow),
       | $steps,
       | fin AS (SELECT n, cm, v,
       |   list_transform(range(0, $D), i ->
       |     list_sum(list_transform(range(0, $D), j ->
       |       CAST(cm[i * $D + j + 1] AS HUGEINT) * v[j + 1]))) AS ys
       |  FROM it$PowerIters)""".stripMargin
  }

  private lazy val pcaSql: String =
    s"""WITH $pcaCtes,
       | agg AS (SELECT n,
       |   list_sum(list_transform(range(0, $D), i ->
       |     CAST(cm[i * $D + i + 1] AS HUGEINT))) AS trace_c,
       |   list_sum(list_transform(range(0, $D), i ->
       |     CAST(v[i + 1] AS HUGEINT) * ys[i + 1])) AS vy,
       |   list_sum(list_transform(range(0, $D), i ->
       |     CAST(v[i + 1] AS HUGEINT) * v[i + 1])) AS vv,
       |   array_to_string(v, ',') AS v_csv,
       |   list_sum(list_transform(v, x -> abs(x))) AS v_l1
       |  FROM fin)
       |SELECT CAST(n AS BIGINT) AS n, CAST(trace_c AS BIGINT) AS trace_c,
       | CAST(${sdr("vy", "vv")} AS BIGINT) AS lambda_c,
       | ${OracleSql.ratio6Huge(sdr("vy", "vv"), "trace_c")} AS ev_share,
       | v_csv, CAST(v_l1 AS BIGINT) AS v_l1
       |FROM agg""".stripMargin

  private lazy val driftSql: String =
    s"""WITH $pcaCtes,
       | proj AS (SELECT p.vec_id,
       |   list_sum(list_transform(range(0, $D), i ->
       |     CAST(f.v[i + 1] AS HUGEINT) * p.xm[i + 1])) AS coord
       |  FROM pts p, fin f),
       | j AS (SELECT d.source, proj.coord
       |       FROM proj JOIN documents d ON d.doc_id = proj.vec_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_vecs,
       | CAST(${OracleSql.signedDivRound("sum(coord)", "count(*)")}
       |   AS BIGINT) AS mu_coord,
       | CAST(min(coord) AS BIGINT) AS min_coord,
       | CAST(max(coord) AS BIGINT) AS max_coord
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v68_embedding_pca",
      "V68 in-engine PCA: dominant principal direction + explained-" +
        "variance share of the embedding cloud (the anisotropy/" +
        "representation-collapse diagnostic) — exact integer covariance " +
        "(one d^2-key partial-agg shuffle), 12 unrolled max-norm power " +
        "steps, Rayleigh eigenvalue; DuckDB replays the identical " +
        "unroll in HUGEINT so even the spectral method is hash-agreed",
      embeddingPca, Some(pcaSql)),
    GraftQuery("v68b_pca_source_drift",
      "V68b per-source drift along the dominant principal axis: each " +
        "vector's coordinate on the stored v68 direction (broadcast " +
        "1-row model, in-row integer dot), per-source mean/min/max — " +
        "the per-ingest-source companion of the anisotropy share",
      pcaSourceDrift, Some(driftSql)),
    GraftQuery("st20_streaming_pca_drift",
      "ST20 the PCA model served on a stream: arriving vectors scored " +
        "against the stored principal axis in-row (stateless), " +
        "per-source drift as an algebraic complete-mode rollup with " +
        "the exact mean derived read-side — finite stream == batch, " +
        "shares v68b's oracle",
      streamingPcaDrift, Some(driftSql)))
}
