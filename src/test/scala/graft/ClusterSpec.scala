package graft

import graft.sim.ClusterOps

/** ClusterOps (v47 exact k-means, v51 label affinity) against plain-
  * Scala reimplementations: the oracle proves Spark==DuckDB; these
  * prove both equal the intended algorithm computed with none of
  * either engine's machinery. */
class ClusterSpec extends SparkSpec {

  /** Independent micro-unit conversion: double → DECIMAL(18,6) half-up
    * → ×1e6 long (the [[graft.Exact]] cast chain, redone by hand). */
  private def micro(v: Double): Long =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(1000000)).toLongExact

  private def signedDivRound(num: Long, den: Long): Long =
    if (num < 0) -((-num + den / 2) / den) else (num + den / 2) / den

  private lazy val pts: Seq[(Long, Int, Array[Long])] =
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .collect().toSeq
      .map { r =>
        val id = r.getAs[Long]("vec_id")
        val lb = r.getAs[Int]("label")
        val xs = r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(f => micro(f.toDouble)).toArray
        (id, lb, xs)
      }.sortBy(_._1)

  private def d2(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum

  /** Plain-Scala Lloyd: same seed, same iteration count, same signed
    * half-up means, same (d, cid) tie-break. */
  private def referenceLloyd(points: Seq[(Long, Int, Array[Long])] = pts)
      : (Seq[(Long, Array[Long], Long, Long)], Seq[(Long, Array[Long])]) = {
    val pts = points
    var cents: Seq[(Long, Array[Long])] = pts.filter(_._1 < ClusterOps.K)
      .map(p => (p._1, p._3))
    def assign(): Seq[(Long, Array[Long], Long, Long)] =
      pts.map { case (id, _, xs) =>
        val (cid, d) = cents.map { case (c, cm) => (c, d2(xs, cm)) }
          .minBy { case (c, dd) => (dd, c) }
        (id, xs, cid, d)
      }
    for (_ <- 1 to ClusterOps.Iters) {
      val asg = assign()
      cents = asg.groupBy(_._3).toSeq.map { case (cid, members) =>
        val dims = members.head._2.length
        val cm = Array.tabulate(dims) { i =>
          signedDivRound(members.map(_._2(i)).sum, members.size.toLong)
        }
        (cid, cm)
      }.sortBy(_._1)
    }
    (assign(), cents)
  }

  private def referenceKmeans(points: Seq[(Long, Int, Array[Long])] = pts)
      : Map[Long, (Long, Long)] =
    referenceLloyd(points)._1.groupBy(_._3).map { case (cid, members) =>
      cid -> (members.size.toLong, members.map(_._4).sum)
    }

  test("v74 silhouette equals an engine-free replay, bounded in [-1,1]") {
    val (fin, cents) = referenceLloyd()
    val want = fin.map { case (id, xs, cid, a) =>
      val b = cents.filter(_._1 != cid).map(c => d2(xs, c._2)).min
      val sm = if (math.max(a, b) == 0L) 0L
        else {
          val num = (BigInt(b) - BigInt(a)) * 1000000
          val den = BigInt(math.max(a, b))
          (if (num < 0) -((-num + den / 2) / den)
           else (num + den / 2) / den).toLong
        }
      (id, cid, sm)
    }
    val wantBy = want.groupBy(_._2).map { case (cid, ms) =>
      cid -> (ms.size.toLong,
        signedDivRound(ms.map(_._3).sum, ms.size.toLong).toDouble / 1e6,
        ms.count(_._3 < 0L).toLong)
    }
    val got = ClusterOps.silhouette(spark, sf0001).collect()
    assert(got.length === wantBy.size)
    got.foreach { r =>
      val (n, ms, neg) = wantBy(r.getAs[Long]("cluster"))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Double]("mean_sil") === ms)
      assert(r.getAs[Long]("n_misassigned") === neg)
      assert(math.abs(r.getAs[Double]("mean_sil")) <= 1.0)
    }
  }

  test("v79 class balance recomputes locally (flag logic replayed " +
    "exactly) and the near-uniform fixture stays clean") {
    val rows = ClusterOps.classBalance(spark, sf0001).collect()
    val byLabel = pts.groupBy(_._2).map { case (l, xs) =>
      l.toLong -> xs.size.toLong
    }
    val total = pts.size.toLong
    val k = byLabel.size.toLong
    assert(rows.length === byLabel.size)
    assert(rows.map(_.getAs[Long]("n")).sum === total)
    rows.foreach { r =>
      val n = byLabel(r.getAs[Int]("label").toLong)
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Double]("share") ===
        ((n * 1000000L + total / 2) / total).toDouble / 1e6)
      assert(r.getAs[Double]("uniform_dev") ===
        ((math.abs(n * k - total) * 1000000L + total / 2) / total)
          .toDouble / 1e6)
      assert(r.getAs[Boolean]("imbalanced") ===
        (n * k > total * 2 || n * k * 2 < total), r.toString)
    }
    // the near-uniform fixture must not flag anything — and the flag
    // logic itself is pinned by the exact replay above
    assert(!rows.exists(_.getAs[Boolean]("imbalanced")))
    // st27: the streaming twin equals the batch audit row-for-row
    val stream = ClusterOps.streamingClassBalance(spark, sf0001).collect()
    assert(stream.map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
  }

  test("v47 k-means profile equals an engine-free Lloyd reimplementation") {
    val got = ClusterOps.kmeans(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("cluster"),
        (r.getAs[Long]("n"), r.getAs[Long]("inertia")))).toMap
    val want = referenceKmeans()
    assert(got.keySet === want.keySet)
    got.foreach { case (cid, (n, inertia)) =>
      assert((n, inertia) === want(cid), s"cluster $cid")
    }
    // the clusters partition the corpus
    assert(got.values.map(_._1).sum === pts.size.toLong)
  }

  test("v47 centroid witness matches the reimplemented final centroids") {
    var cents: Seq[(Long, Array[Long])] = pts.filter(_._1 < ClusterOps.K)
      .map(p => (p._1, p._3))
    for (_ <- 1 to ClusterOps.Iters) {
      val asg = pts.map { case (id, _, xs) =>
        val (c, _) = cents.map { case (c, cm) => (c, d2(xs, cm)) }
          .minBy { case (c, d) => (d, c) }
        (xs, c)
      }
      cents = asg.groupBy(_._2).toSeq.map { case (cid, members) =>
        val dims = members.head._1.length
        (cid, Array.tabulate(dims) { i =>
          signedDivRound(members.map(_._1(i)).sum, members.size.toLong)
        })
      }.sortBy(_._1)
    }
    val want = cents.map { case (c, cm) => c -> cm.sum }.toMap
    val got = ClusterOps.kmeans(spark, sf0001).collect()
      .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("c_sum")).toMap
    assert(got === want)
  }

  test("v47 empty-cluster edge: a duplicated seed's cluster drops out " +
    "and the run still equals the reference impl") {
    val dir = SparkSpec.tempDir("graft_kmeans_edge")
    import org.apache.spark.sql.functions.col
    val sess = spark
    import sess.implicits._
    // vec 7 duplicates vec 6: every point ties between centroids 6 and
    // 7, the (d, cid) tie-break sends all of them to 6, cluster 7
    // empties and must DROP (mirrored by the oracle's GROUP BY)
    val vecs = (0L until 12L).map { i =>
      val base = if (i == 7) 6L else i
      (i, Seq.tabulate(4)(d => (base * 10 + d).toFloat / 100f),
        (i % 3).toInt)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = ClusterOps.kmeans(spark, dir).collect()
      .map(r => (r.getAs[Long]("cluster"),
        (r.getAs[Long]("n"), r.getAs[Long]("inertia")))).toMap
    val ref = referenceKmeans(vecs.map { case (id, v, lb) =>
      (id, lb, v.map(f => micro(f.toDouble)).toArray)
    })
    assert(got === ref)
    assert(!got.keySet.contains(7L))
    assert(got.keySet.size < ClusterOps.K)
    assert(got.values.map(_._1).sum === 12L)
  }

  test("v51 affinity: full strict-upper-triangle, |cos| <= 1, and one " +
    "pair recomputed by hand") {
    val rows = ClusterOps.labelAffinity(spark, sf0001).collect()
    val labels = pts.map(_._2).distinct.sorted
    val nPairs = labels.size * (labels.size - 1) / 2
    assert(rows.length === nPairs)
    rows.foreach { r =>
      assert(r.getAs[Int]("label_a") < r.getAs[Int]("label_b"))
      assert(math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-9)
    }
    // hand recompute for the lexicographically first pair
    val (la, lb) = (labels(0), labels(1))
    def centroid(lab: Int): Array[Long] = {
      val members = pts.filter(_._2 == lab).map(_._3)
      Array.tabulate(members.head.length) { i =>
        signedDivRound(members.map(_(i)).sum, members.size.toLong)
      }
    }
    val (ca, cb) = (centroid(la), centroid(lb))
    val dab = ca.indices.map(i => ca(i) * cb(i)).sum.toDouble
    val want = BigDecimal(dab /
      (math.sqrt(ca.map(x => x * x).sum.toDouble) *
        math.sqrt(cb.map(x => x * x).sum.toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = rows.find(r => r.getAs[Int]("label_a") == la &&
      r.getAs[Int]("label_b") == lb).get.getAs[Double]("cos")
    assert(got === want)
  }

  test("q18 survivors all exceed the quantity bar and match a local " +
    "recompute") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Relational.largeOrders(spark, sf0001).collect()
    val qty = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy(col("l_orderkey"))
      .agg(round(Exact.sumExact(col("l_quantity")), 6).as("q"))
      .collect().map(r => r.getAs[Long]("l_orderkey") ->
        r.getAs[Double]("q")).toMap
    val expected = qty.filter(_._2 > 300.0).keySet
    assert(got.map(_.getAs[Long]("o_orderkey")).toSet === expected)
    got.foreach(r =>
      assert(r.getAs[Double]("total_qty") ===
        qty(r.getAs[Long]("o_orderkey"))))
    // descending price, orderkey tie-break
    val prices = got.map(r => (-r.getAs[Double]("o_totalprice"),
      r.getAs[Long]("o_orderkey")))
    assert(prices.sameElements(prices.sorted))
  }

  test("v53 coreset: per-cluster counts are min(quota, cluster size) " +
    "and the draw is the LCG-smallest members of each v47 cluster") {
    val sizes = ClusterOps.kmeans(spark, sf0001).collect()
      .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("n")).toMap
    val rows = ClusterOps.balancedCoreset(spark, sf0001).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    assert(byCluster.keySet === sizes.keySet.filter(sizes(_) > 0))
    byCluster.foreach { case (c, members) =>
      assert(members.length === math.min(ClusterOps.Quota, sizes(c)))
      // ranks are 1..m and ordered by the LCG score
      assert(members.map(_.getAs[Int]("rk")).sorted.toSeq ===
        (1 to members.length))
      val hs = members.sortBy(_.getAs[Int]("rk")).map { r =>
        val v = r.getAs[Long]("vec_id")
        ((v * 1103515245L + 12345L) % 2147483648L, v)
      }
      assert(hs.sameElements(hs.sortBy(identity)))
    }
  }

  test("v53 plans through the native TopKPerKeyExec (no sort below " +
    "the exchange, no rank column in flight)") {
    val p = ClusterOps.balancedCoreset(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyPartial"), p)
    assert(p.contains("TopKPerKeyFinal"), p)
  }

  test("v52 temperature mix: weights flatten the raw shares and the " +
    "allocation sums to the budget up to per-source rounding") {
    val rows = graft.nlp.MixOps.temperatureMix(spark, sf0001).collect()
    val nSources = rows.length
    val allocSum = rows.map(_.getAs[Long]("alloc")).sum
    assert(math.abs(allocSum - graft.nlp.MixOps.MixBudget) <= nSources)
    // α=0.5 flattening: the gain/loss crossover sits at the
    // sqrt-weighted mean of n, which is >= the plain mean and <= the
    // max — so every below-mean source gains weight and the largest
    // source never does (up to the 1e-6 rounding grain)
    val totN = rows.map(_.getAs[Long]("n_docs")).sum.toDouble
    val eps = 2e-6
    rows.foreach { r =>
      if (r.getAs[Long]("n_docs") < totN / nSources)
        assert(r.getAs[Double]("weight") >=
          r.getAs[Double]("raw_share") - eps, r.toString)
    }
    val big = rows.maxBy(_.getAs[Long]("n_docs"))
    assert(big.getAs[Double]("weight") <=
      big.getAs[Double]("raw_share") + eps)
    // monotone: more docs never means a smaller weight
    val byN = rows.sortBy(_.getAs[Long]("n_docs"))
      .map(_.getAs[Double]("weight"))
    assert(byN.zip(byN.tail).forall { case (a, b) => a <= b + eps })
  }

  test("st15 streaming seed-score equals the engine-free batch " +
    "assignment under the seed centroids") {
    val got = graft.streaming.StreamingOps
      .streamingClusterAssign(spark, sf0001).collect()
      .map(r => r.getAs[Long]("cluster") ->
        (r.getAs[Long]("n"), r.getAs[Long]("inertia"))).toMap
    // plain-Scala zero-iteration assignment (the st15 contract)
    val cents = pts.filter(_._1 < ClusterOps.K).map(p => (p._1, p._3))
    val want = pts.map { case (_, _, xs) =>
      cents.map { case (c, cm) => (c, d2(xs, cm)) }
        .minBy { case (c, dd) => (dd, c) }
    }.groupBy(_._1).map { case (c, ms) =>
      c -> (ms.size.toLong, ms.map(_._2).sum)
    }
    assert(got === want)
  }

  test("w21 classes partition customers; flag and probability are " +
    "exact functions of n") {
    val rows = graft.operators.QualityOps.kAnonymity(spark, sf0001).collect()
    val total = spark.read.parquet(s"$sf0001/customer.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum === total)
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Boolean]("at_risk") === (n < ClusterOpsSpecK))
      val want = ((1000000L + n / 2) / n).toDouble / 1000000.0
      assert(r.getAs[Double]("reident_p") === want)
    }
  }

  private def ClusterOpsSpecK = graft.operators.QualityOps.AnonymityK

  test("v68 PCA: the engine's unrolled power iteration equals a local " +
    "BigInt replay, and the Rayleigh value is a true spectral bound") {
    import org.apache.spark.sql.functions._
    val row = graft.sim.PcaOps.embeddingPca(spark, sf0001).collect().head
    val d = graft.sim.PcaOps.D
    // local replay in exact BigInt arithmetic
    val xs = Tables.embeddings(spark, sf0001)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(f =>
        BigDecimal(f.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(1000000)).toBigInt))
    val n = BigInt(xs.length)
    val sx = Array.tabulate(d)(i => xs.map(_(i)).sum)
    def halfUp(num: BigInt, den: BigInt): BigInt =
      if (num < 0) -((-num * 2 + den) / (den * 2))
      else (num * 2 + den) / (den * 2)
    val cm = Array.tabulate(d * d) { k =>
      val (i, j) = (k / d, k % d)
      val sxy = xs.map(x => x(i) * x(j)).sum
      halfUp(n * sxy - sx(i) * sx(j), n)
    }
    var v = Array.tabulate(d)(i => if (i == 0) BigInt(1000000) else BigInt(0))
    for (_ <- 1 to graft.sim.PcaOps.PowerIters) {
      val ys = Array.tabulate(d)(i =>
        (0 until d).map(j => cm(i * d + j) * v(j)).sum)
      val m = ys.map(_.abs).max.max(BigInt(1))
      v = ys.map(y => halfUp(y * 1000000, m))
    }
    assert(row.getAs[String]("v_csv") === v.mkString(","),
      "engine direction diverged from the local replay")
    val ys = Array.tabulate(d)(i =>
      (0 until d).map(j => cm(i * d + j) * v(j)).sum)
    val lambda = halfUp(
      (0 until d).map(i => v(i) * ys(i)).sum,
      (0 until d).map(i => v(i) * v(i)).sum)
    assert(row.getAs[Long]("lambda_c") === lambda.toLong)
    // spectral sanity: dominant component explains at least the
    // average share 1/d and at most everything
    val share = row.getAs[Double]("ev_share")
    assert(share >= 1.0 / d && share <= 1.0, share.toString)
    assert(row.getAs[Long]("lambda_c") <= row.getAs[Long]("trace_c"))
  }
}
