package graft

import org.apache.spark.sql.functions._

import graft.sim.{ClusterOps, PqOps}

/** The round-10 adaptive-coarse-K seam (SCALING.md "Honest limits":
  * the PQ serving path's per-query candidate term is ncell/K of the
  * corpus — the production lever is growing K with the corpus, the
  * adaptiveNlist pattern). Pins:
  *  - the compiled top-n router (pq_assign_top) against the
  *    sort-all-and-take-n reference;
  *  - the two-level hierarchical micro-space assignment: EXACT
  *    equality with the flat path when every group is probed, ≥90%
  *    agreement at the deployment's 2 probes;
  *  - adaptiveCoarseK ≡ K=8 at every driver SF (so all 12 PQ-family
  *    oracles replay the K=8 Lloyd chain untouched);
  *  - the parameterized serve: each query's result against a
  *    coarseK≠8 index equals the per-query stored batch probe
  *    (ivfPqTopKStored) bit-for-bit. */
class CoarseSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  private def pts(dir: String) =
    ClusterOps.pointsOf(Tables.embeddings(spark, dir))

  test("pq_assign_top: top-n (d, cid) ascending with ties to the " +
    "lowest cid — equals sorting every candidate") {
    val cands = Seq(
      (0, 5L, Array(100L, 0L)), (0, 1L, Array(0L, 100L)),
      (0, 3L, Array(100L, 0L)), (0, 9L, Array(50L, 50L)),
      (0, 7L, Array(0L, 0L)))
    val bc = spark.sparkContext.broadcast(cands.toArray)
    val xs = Seq(Array(0L, 0L), Array(100L, 0L), Array(60L, 40L),
      Array(-20L, 130L))
    import spark.implicits._
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x.toSeq) }
      .toDF("id", "xm")
      .withColumn("top",
        graft.functions.PqFunctions.pq_assign_top(
          col("xm"), lit(0), bc, 1, 3))
      .withColumn("best",
        graft.functions.PqFunctions.pq_assign(col("xm"), lit(0), bc, 1))
    val rows = df.collect()
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    rows.foreach { r =>
      val x = xs(r.getAs[Long]("id").toInt)
      val want = cands.map(c => (sq(x, c._3), c._2)).sorted.take(3)
      val got = r.getSeq[org.apache.spark.sql.Row](
        r.fieldIndex("top")).map(s => (s.getLong(0), s.getLong(1)))
      assert(got === want, s"x=${x.toSeq}")
      // head of the top-n IS the single-best expression's answer
      val b = r.getStruct(r.fieldIndex("best"))
      assert((b.getLong(0), b.getLong(1)) === want.head)
    }
  }

  test("hierarchical assignment with EVERY group probed recovers the " +
    "flat exact assignment bit-for-bit (k=300 > threshold)") {
    val p = pts(sf001).localCheckpoint()
    val cents = p.orderBy(col("vec_id")).limit(300)
      .select(col("vec_id").as("cid"), col("xm").as("cm"))
      .localCheckpoint()
    val flat = ClusterOps.assignAt(p, cents, k = 8) // k<=256: flat path
      .select(col("vec_id"), col("cid"), col("d")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hierAll = ClusterOps.assignAt(p, cents, k = 300,
        probes = Int.MaxValue)
      .select(col("vec_id"), col("cid"), col("d")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hierAll === flat,
      "all-groups-probed hierarchy must equal the flat argmin exactly")
  }

  test("hierarchical assignment at the deployment's 2 probes: every " +
    "chosen distance >= the flat optimum, >=90% exact agreement on " +
    "clustered data (the ScaleSpec hierFixture convention)") {
    // deterministic clustered micro corpus: 1200 integer vectors
    // around 24 well-separated centers — the regime a Lloyd-refined
    // coarse table lives in (raw-vectors-as-centroids has no group
    // structure and agreement is meaningless there; the all-probes
    // test above covers exactness on the real table)
    val rnd = new scala.util.Random(42)
    val dims = 8
    val centers = Array.fill(24)(
      Array.fill(dims)((rnd.nextDouble() * 2e7 - 1e7).toLong))
    val rows = (0 until 1200).map { i =>
      val c = centers(i % 24)
      (i.toLong, c.map(x => x + (rnd.nextGaussian() * 5e4).toLong).toSeq)
    }
    import spark.implicits._
    val p = rows.toDF("vec_id", "xm").localCheckpoint()
    val cents = p.filter(col("vec_id") < 300)
      .select(col("vec_id").as("cid"), col("xm").as("cm"))
      .localCheckpoint()
    val flat = ClusterOps.assignAt(p, cents, k = 8)
      .select(col("vec_id"), col("cid"), col("d")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hier = ClusterOps.assignAt(p, cents, k = 300)
      .select(col("vec_id"), col("cid"), col("d")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hier.keySet === flat.keySet)
    var agree = 0
    hier.foreach { case (v, (cid, d)) =>
      val (fc, fd) = flat(v)
      assert(d >= fd, s"vec $v: hier d=$d below the flat optimum $fd")
      if (cid == fc) { assert(d === fd); agree += 1 }
    }
    assert(agree.toDouble / hier.size >= 0.9,
      s"2-probe agreement ${agree.toDouble / hier.size} below 0.9")
  }

  test("sampled group training + distributed final assignment " +
    "(forced cap): all-probes still equals flat exactly; 2-probe " +
    "agreement holds on clustered data") {
    // the round-11 scale path: above GroupTrainSampleMax the group
    // means train on a stride sample and the k-centroid -> group
    // assignment runs as one Spark job through PqAssign. The all-
    // probes pin is STRUCTURAL (probing every group argmins over all
    // centroids, whatever the group means are) — it must survive
    // sampling bit-for-bit; agreement at 2 probes stays the quality
    // band of the unsampled test above.
    val rnd = new scala.util.Random(42)
    val dims = 8
    val centers = Array.fill(24)(
      Array.fill(dims)((rnd.nextDouble() * 2e7 - 1e7).toLong))
    val rows = (0 until 1200).map { i =>
      val c = centers(i % 24)
      (i.toLong, c.map(x => x + (rnd.nextGaussian() * 5e4).toLong).toSeq)
    }
    import spark.implicits._
    val p = rows.toDF("vec_id", "xm").localCheckpoint()
    val cents = p.filter(col("vec_id") < 300)
      .select(col("vec_id").as("cid"), col("xm").as("cm"))
      .localCheckpoint()
    val flat = ClusterOps.assignAt(p, cents, k = 8)
      .select(col("vec_id"), col("cid"), col("d")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    ClusterOps.groupTrainMaxOverride = Some(64) // 300 cents -> stride 5
    try {
      val hierAll = ClusterOps.assignAt(p, cents, k = 300,
          probes = Int.MaxValue)
        .select(col("vec_id"), col("cid"), col("d")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(hierAll === flat,
        "all-groups-probed must equal flat even with sampled training")
      val hier2 = ClusterOps.assignAt(p, cents, k = 300)
        .select(col("vec_id"), col("cid"), col("d")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(hier2.keySet === flat.keySet,
        "no vector may vanish through the sampled routing")
      var agree = 0
      hier2.foreach { case (v, (cid, d)) =>
        val (fc, fd) = flat(v)
        assert(d >= fd, s"vec $v: hier d=$d below the flat optimum $fd")
        if (cid == fc) agree += 1
      }
      assert(agree.toDouble / hier2.size >= 0.9,
        s"sampled 2-probe agreement ${agree.toDouble / hier2.size}")
    } finally ClusterOps.groupTrainMaxOverride = None
  }

  test("adaptiveCoarseK == 8 at every driver SF — the PQ oracles " +
    "replay the K=8 chain untouched") {
    Seq(sf0001, sf001, "/root/testdata/sf0.1").foreach { d =>
      assert(PqOps.adaptiveCoarseK(spark, d) === ClusterOps.K, d)
    }
  }

  test("coarseAt at a non-default flat k: <=k non-empty cells, every " +
    "vector assigned exactly once") {
    val (fin, cents) = ClusterOps.coarseAt(spark, sf001, 40)
    val n = Tables.embeddings(spark, sf001).count()
    assert(fin.count() === n)
    assert(fin.select(col("vec_id")).distinct().count() === n)
    val cellCount = cents.count()
    assert(cellCount <= 40 && cellCount >= 2)
    // the assignment only uses cells that exist
    assert(fin.join(cents.withColumnRenamed("cid", "cid2"),
      fin("cid") === col("cid2"), "left_anti").count() === 0)
  }

  test("parameterized serve (coarseK=32): per query, identical rows " +
    "to the stored batch probe against the same index") {
    val served = PqOps.streamingAnnServeAgainst(spark, sf0001, sf0001,
        coarseK = 32)
      .collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Int]("rnk"))
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d")))
          .toSeq
      }
    assert(served.nonEmpty)
    val idx = graft.util.ArtifactCache.cached("ivfpq_index-ck32",
      sf0001)(PqOps.writeIvfPqIndex(spark, sf0001, _, 32))
    served.foreach { case (qid, rows) =>
      val qm = PqOps.microQueryVector(spark, sf0001, qid)
      val ref = PqOps.ivfPqTopKStored(spark, idx, qm,
          excludeVecId = qid).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d")))
        .toSeq
      assert(rows === ref, s"qid=$qid")
    }
  }
}
