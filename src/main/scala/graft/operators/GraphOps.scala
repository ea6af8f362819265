package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the service dependency graph (SURVEY §1.1's
  * third derived abstraction; edges per api/service.go:365-398): the
  * reference renders the edge list — an engine replacing it is next
  * asked "which service is structurally hottest?", i.e. PageRank over
  * the same edges.
  *
  * Determinism: ranks are SCALED LONGS (1e12 = mass 1.0) and every
  * division is integer floor division, so partition order cannot move a
  * single ulp and the 10-iteration fixpoint is bit-identical on both
  * engines — the oracle unrolls the same ten iterations as chained
  * CTEs. Mass at dangling nodes (no out-edges) leaks, the standard
  * simplification; ranks are reported raw plus integer-rounded to 6 dp.
  *
  * Scale: the heavy lift is the ONE edge-extraction self-join
  * ([[successorEdges]], shuffled on user_id), materialized once via
  * localCheckpoint; the iteration loop then touches only service-level
  * frames (bounded by #services², not event volume). For graphs whose
  * node count grows with the data (v2e's doc-cluster graphs), the
  * identical loop runs with a node-keyed shuffle per iteration and the
  * same checkpoint-per-iteration lineage cut v2e uses.
  */
object GraphOps extends QueryModule {

  /** Total rank mass: 1.0 ≡ 1e12 (room for 85× and ×1e6 in a Long). */
  private val Scale = 1000000000000L
  private val Iters = 10
  private val Minute: Long = 60L * 1000 * 1000 // µs

  /** Ceilings under which the power iteration runs on the driver over
    * the COLLECTED (node, edge) tables instead of as 10 chained Spark
    * jobs (round 12, guide §1.2 — the distributed algorithm first):
    * the service graph is bounded by the event-type enum (single-digit
    * nodes at every SF), so each iteration's join+agg+checkpoint was
    * pure scheduler/planning overhead — ~10 jobs to move a handful of
    * longs. Same bounded-collect class as the k-row centroid tables
    * (ClusterOps): 4096 nodes / 262144 grouped edges collect to a few
    * MB. Past the ceilings the original distributed loop runs
    * unchanged (v2e's doc-cluster graphs, where nodes grow with data). */
  private val MaxDriverNodes = 4096L
  private val MaxDriverEdges = 262144L

  /** V29's edges: events-successor pairs — a `signup`/`purchase` event
    * followed within 60 s by an event of another type for the same user
    * — counted per (parent_type, child_type). Both sides shuffle on
    * user_id once; a skewed user is handled by AQE skew-join
    * (t05b_dependencies_salted runs the same edges through the static
    * salted join). */
  def successorEdges(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val e1 = e.select(col("user_id").as("u1"),
      col("event_type").as("parent_type"), col("ts_us").as("t1"))
      .filter(col("parent_type").isin("signup", "purchase"))
    val e2 = e.select(col("user_id").as("u2"),
      col("event_type").as("child_type"), col("ts_us").as("t2"))
    e1.join(e2, col("u1") === col("u2") && col("t2") > col("t1") &&
        col("t2") <= col("t1") + lit(Minute) &&
        col("parent_type") =!= col("child_type"))
      .groupBy(col("parent_type"), col("child_type"))
      .agg(count(lit(1)).as("n_calls"))
      .orderBy(col("parent_type"), col("child_type"))
  }

  /** V29: weighted PageRank, damping 0.85, 10 fixed iterations.
    * rank' = (0.15/N)·S + 0.85·Σ_in (rank·wf ÷ 1e6) where wf is the
    * edge's out-weight fraction pre-quantized to 1e6 units — all in
    * scaled integer arithmetic (floor division). The quantization
    * bounds every product: rank·wf ≤ 1e12·1e6 < 2⁶³, whatever the raw
    * edge weights are (raw rank·w would silently wrap in Spark and
    * raise in DuckDB once a hub's count passes ~9.2e6 — the BM25
    * Long-overflow class); w·1e6 itself holds to ~9.2e12 calls per
    * source node. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = successorEdges(spark, dir)
      .select(col("parent_type").as("src"), col("child_type").as("dst"),
        col("n_calls").as("w"))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // one materialization of the event-volume join; the loop below
    // never re-reads events. wf = per-edge out-fraction in 1e6 units.
    val ew = edges.join(outw, Seq("src"))
      .withColumn("wf", Exact.intDiv(col("w") * 1000000L, col("ow")))
      .localCheckpoint()
    val nodes = Tables.events(spark, dir)
      .select(col("event_type").as("node")).distinct()
    val nodesN = nodes.crossJoin(broadcast(
      nodes.agg(count(lit(1)).as("n_nodes")))).localCheckpoint()
    val probe = nodesN.limit(1).collect()
    val nNodes = if (probe.isEmpty) 0L else probe(0).getLong(1)
    val nEdges = ew.count() // post-checkpoint: counts blocks, no recompute
    val ranks =
      if (nNodes > 0 && nNodes <= MaxDriverNodes && nEdges <= MaxDriverEdges)
        pageRankDriver(spark, nodesN, ew, nNodes)
      else pageRankDistributed(nodesN, ew)
    ranks
      .withColumn("rank_norm", Exact.ratio6(col("rank"), lit(Scale)))
      .orderBy(col("rank").desc, col("node"))
  }

  /** The bounded-graph fast path: identical scaled-integer arithmetic
    * (truncating division on non-negative longs ≡ [[Exact.intDiv]];
    * inflow is a sum of longs, associative, so accumulation order
    * cannot move a bit), run over arrays on the driver. GraphSpec pins
    * driver ≡ distributed bit-for-bit. */
  private[graft] def pageRankDriver(spark: SparkSession, nodesN: DataFrame,
      ew: DataFrame, nNodes: Long): DataFrame = {
    val n = nNodes
    val nodeArr = nodesN.select(col("node")).collect().map(_.getString(0))
    val idx = nodeArr.zipWithIndex.toMap
    // src/dst are event_types drawn from the same events scan as the
    // node list, so membership is structural today — but an edge whose
    // endpoint is missing must DROP (the distributed path's inner/left
    // joins do), not crash (round-13 ADVICE)
    val es = ew.select(col("src"), col("dst"), col("wf")).collect()
      .flatMap { r =>
        for (s <- idx.get(r.getString(0)); d <- idx.get(r.getString(1)))
          yield (s, d, r.getLong(2))
      }
    var rank = Array.fill(nodeArr.length)(Scale / n)
    var it = 0
    while (it < Iters) {
      val inflow = new Array[Long](nodeArr.length)
      es.foreach { case (s, d, wf) => inflow(d) += rank(s) * wf / 1000000L }
      rank = Array.tabulate(nodeArr.length)(i =>
        Scale * 15L / (n * 100L) + inflow(i) * 85L / 100L)
      it += 1
    }
    import spark.implicits._
    nodeArr.indices.map(i => (nodeArr(i), rank(i)))
      .toDF("node", "rank")
  }

  /** The original distributed loop — node-keyed shuffle per iteration,
    * checkpoint-per-iteration lineage cut (v2e's convention). */
  private[graft] def pageRankDistributed(nodesN: DataFrame,
      ew: DataFrame): DataFrame = {
    var ranks = nodesN.select(col("node"),
      Exact.intDiv(lit(Scale), col("n_nodes")).as("rank"))
    for (_ <- 1 to Iters) {
      val inflow = ew.join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          Exact.intDiv(col("rank") * col("wf"), lit(1000000L)).as("contrib"))
        .groupBy(col("node")).agg(sum(col("contrib")).as("inflow"))
      ranks = nodesN.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (Exact.intDiv(lit(Scale * 15L), col("n_nodes") * 100L) +
            Exact.intDiv(coalesce(col("inflow"), lit(0L)) * 85L, lit(100L)))
            .as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  /** The [[successorEdges]] subquery verbatim (same oracle text as
    * t05b_dependencies_salted) + ten unrolled power iterations. */
  private lazy val pageRankSql: String = {
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (
         | SELECT n.node,
         |  ($Scale * 15) // (nn.n_nodes * 100)
         |   + coalesce(f.inflow, 0) * 85 // 100 AS rank
         | FROM nodes n CROSS JOIN nn LEFT JOIN (
         |   SELECT e.dst AS node, sum(r.rank * (e.w * 1000000 // o.ow) // 1000000) AS inflow
         |   FROM edges e JOIN outw o ON e.src = o.src
         |   JOIN r${i - 1} r ON r.node = e.src
         |   GROUP BY 1) f ON n.node = f.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT e1.event_type AS src, e2.event_type AS dst,
       |   count(*) AS w
       |  FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
       |   AND epoch_us(e2.ts) > epoch_us(e1.ts)
       |   AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 60000000
       |  WHERE e1.event_type IN ('signup','purchase')
       |   AND e1.event_type <> e2.event_type
       |  GROUP BY 1, 2),
       | outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
       | nodes AS (SELECT DISTINCT event_type AS node FROM events),
       | nn AS (SELECT count(*) AS n_nodes FROM nodes),
       | r0 AS (SELECT node, $Scale // nn.n_nodes AS rank
       |        FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT node, CAST(rank AS BIGINT) AS rank,
       | ${OracleSql.ratio6("rank", Scale.toString)} AS rank_norm
       |FROM r$Iters ORDER BY rank DESC, node""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v29_pagerank",
      "V29 weighted PageRank over the service dependency graph: " +
        "scaled-integer power iteration (10 rounds, damping 0.85), " +
        "bit-identical across engines; oracle unrolls the iterations",
      pageRank, Some(pageRankSql)))
}
