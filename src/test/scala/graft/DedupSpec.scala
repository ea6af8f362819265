package graft

import graft.dedup.DedupOps
import graft.sim.SimilarityOps
import org.apache.spark.sql.functions._

/** Approximate-vs-exact equivalence for the dedup/similarity suite. */
class DedupSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("V2a prefix-filtered variant returns exactly the count-join result") {
    // the SSJoin/PPJoin prefix lemma is an EXACT optimization: identical
    // pairs AND identical jaccard values to the all-occurrence join
    // (which of the two is faster depends on doc length/τ/df skew — see
    // the DedupOps scaladoc; the count join wins on this corpus)
    val prefix = DedupOps.ngramJaccardPrefix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val counted = DedupOps.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix === counted)
    assert(prefix.nonEmpty)
  }

  test("V2b MinHash+LSH finds exactly the exact-Jaccard pairs") {
    val exact = pairs(DedupOps.ngramJaccard(spark, sf))
    val approx = pairs(DedupOps.minhashLsh(spark, sf))
    // LSH candidates are verified with exact Jaccard, so no false
    // positives; with 32 perms / 8 bands, P(miss | jac>=0.9) < 1e-10.
    assert(approx === exact)
    assert(exact.nonEmpty)
  }

  test("V2c SimHash captures the planted near-dup pairs, no blowup") {
    val exact = pairs(DedupOps.ngramJaccard(spark, sf))
    val sim = DedupOps.simhashDedup(spark, sf)
    val simPairs = pairs(sim)
    val recall = exact.count(simPairs.contains).toDouble / exact.size
    assert(recall >= 0.6, s"simhash recall $recall")
    // candidate set stays small relative to all C(n,2) pairs
    assert(simPairs.size < 500, s"simhash pairs ${simPairs.size}")
  }

  test("V2d2 IVF-candidate near-dup: no false positives, recall pinned") {
    val exact = pairs(DedupOps.embeddingNearDup(spark, sf))
    val ivf = pairs(DedupOps.embeddingNearDupIvf(spark, sf))
    // exact verify on candidates => subset of the exact result
    assert(ivf.subsetOf(exact), s"false positives: ${ivf.diff(exact)}")
    // τ=0.4 sits inside a continuous cosine background (no planted
    // high-cos dups in this table), so celled recall is <1 by geometry;
    // measured ≈0.92 at sf0.01 with nlist=16, nprobe=4 — pin the floor.
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.85, s"ivf near-dup recall $recall")
    assert(exact.nonEmpty)
  }

  test("V18 int8 quantization: codes bounded, reconstruction tight, " +
      "quantized top-k recalls the exact top-k") {
    val q = SimilarityOps.quantize(spark, sf)
    // every vector survives (no zero vectors in the fixture) and the
    // L1 checksum bounds each |code| <= 127*n_dims
    val bad = q.filter(col("code_l1") > col("n_dims") * 127L).count()
    assert(bad === 0)
    assert(q.count() === Tables.embeddings(spark, sf).count())
    // quantization error per element is <= ma/254 + fp noise by
    // construction (half a code step); witness via a reconstruction
    val recon = SimilarityOps.quantized(spark, sf)
      .withColumn("err", aggregate(
        zip_with(col("v"), col("codes"),
          (x, c) => abs(x - c * col("ma") / lit(127.0))),
        lit(0.0), (a, e) => greatest(a, e)))
      .filter(col("err") > col("ma") / lit(254.0) * lit(1.0001))
    assert(recon.count() === 0)
    // recall@10 of the code-space cosine vs the exact v3a top-10
    val exact = SimilarityOps.cosineTopK(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val quant = SimilarityOps.cosineTopKQuantized(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(quant.contains).toDouble / exact.size
    assert(recall >= 0.8, s"quantized top-k recall $recall")
  }

  test("V3b IVF: k-means refinement improves the index, deterministic") {
    // Single-query recall is a coin flip on this clusterless fixture
    // (one query, 10 neighbours), so pin the quantities refinement
    // actually targets, measured over the whole corpus / 50 queries:
    //   - quantization: mean cosine of each vector to its centroid
    //     (the spherical k-means objective; 0.246 -> 0.323 measured)
    //   - mean recall@10 at nprobe=2 over 50 queries (0.476 -> 0.492)
    def dotd(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    def stats(iters: Int): (Double, Double) = {
      val (centsDf, assignedDf) = SimilarityOps.ivfIndex(spark, sf, 16, iters)
      val cents = centsDf.collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getDouble(2))))
        .toMap
      val assigned = assignedDf.collect().map(r =>
        (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getLong(3)))
      val meanAssignCos = assigned.map { case (_, v, nrm, c) =>
        val (cv, cn) = cents(c); dotd(v, cv) / (nrm * cn)
      }.sum / assigned.length
      val byId = assigned.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      val recalls = (0L until 50L).map { q =>
        val (qv, qn, _) = byId(q)
        val cos = byId.view.filterKeys(_ != q).mapValues { case (v, n, _) =>
          dotd(v, qv) / (n * qn) }.toMap
        val true10 = cos.toSeq.sortBy { case (id, c) => (-c, id) }
          .take(10).map(_._1).toSet
        val probed = cents.toSeq.map { case (cid, (cv, cn)) =>
          (cid, dotd(cv, qv) / (cn * qn)) }
          .sortBy { case (cid, c) => (-c, cid) }.take(2).map(_._1).toSet
        val got10 = cos.toSeq
          .filter { case (id, _) => probed.contains(byId(id)._3) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        true10.count(got10.contains).toDouble / 10
      }
      (meanAssignCos, recalls.sum / recalls.length)
    }
    val (q0, r0) = stats(0)
    val (q2, r2) = stats(2)
    assert(q2 > q0 + 0.02, s"quantization did not improve: $q0 -> $q2")
    assert(r2 >= r0 - 0.01, s"mean recall regressed: $r0 -> $r2")
    assert(r2 >= 0.4, s"mean recall floor: $r2")
    // decimal-exact centroid means: two runs agree bit-for-bit
    val a = SimilarityOps.ivfTopK(spark, sf).collect().toSeq
    val b = SimilarityOps.ivfTopK(spark, sf).collect().toSeq
    assert(a === b)
    // and the single-query default path keeps a sane floor
    val exact = SimilarityOps.cosineTopK(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val ivf = SimilarityOps.ivfTopK(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(exact.count(ivf.contains) >= 8, s"default recall ${
      exact.count(ivf.contains)}/10")
  }

  test("V3b stored IVF index: partition-pruned probe equals in-memory") {
    val idx = SparkSpec.tempDir("ivf-index")
    SimilarityOps.writeIvfIndex(spark, sf, idx)
    val stored = SimilarityOps.ivfTopKStored(spark, idx,
      SimilarityOps.queryVector(spark, sf, 0L), excludeVecId = 0L)
    // the probed scan must read only nprobe partitions — partition
    // pruning is the entire economics of a stored IVF index
    val plan = stored.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("cent_id"), plan)
    val a = stored.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = SimilarityOps.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b)
  }

  test("V3c skew guard: a single giant cell stays bounded, recall pinned") {
    // nlist=1 forces EVERY vector into one cell — the worst skew. With
    // maxCellSize=50 the 500-vector cell salts into 10 subcells, so the
    // pair product is ~10*50² instead of 500² (20x less work), bounded
    // per task no matter the distribution.
    val guarded = SimilarityOps.knnJoin(spark, sf, k = 3, nlist = 1,
      maxCellSize = 50).collect()
    assert(guarded.nonEmpty)
    val byI = guarded.groupBy(_.getLong(0))
    byI.values.foreach { rs =>
      assert(rs.length <= 3)
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length))
    }
    // recall vs the unguarded cell-local join: subcell salting misses
    // cross-subcell neighbours — rank-1 agreement stays above the floor
    val full = SimilarityOps.knnJoin(spark, sf, k = 3, nlist = 1)
      .collect().filter(_.getInt(3) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g1 = guarded.filter(_.getInt(3) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = full.count { case (i, j) => g1.get(i).contains(j) }
    val recall = agree.toDouble / full.size
    assert(recall >= 0.05, s"rank-1 recall under 10x salting: $recall")
  }

  test("V50 salt guard: one giant block stays bounded AND exact") {
    import spark.implicits._
    // all-one-label fixture: the worst semantic skew — every vector in
    // ONE block. Unsalted, the pair join would put all 500² pair evals
    // on a single task.
    val tmp = SparkSpec.tempDir("v50-salt")
    Tables.embeddings(spark, sf).withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val salted = DedupOps.semanticPrune(spark, tmp, maxBlockSize = 50)
      .collect().map(r => (r.getLong(0), Option(r.get(2)), r.getBoolean(3)))
    // EXACT under salting: the j side meets every lower-id i exactly
    // once, so the verdicts are bit-identical to the unsalted join
    val unsalted = DedupOps.semanticPrune(spark, tmp, maxBlockSize = 1 << 20)
      .collect().map(r => (r.getLong(0), Option(r.get(2)), r.getBoolean(3)))
    assert(salted === unsalted)
    assert(salted.length === 500)
    assert(salted.count(_._3) > 0, "fixture should prune something")
    // BOUNDED per task: with blk_n=500, maxBlockSize=50 ⇒ n_sub=10, the
    // j side of each (blk,sub) task is its hash slice — every task's
    // pair product is blk_n·|slice| ≈ blk_n·maxBlockSize, 10x under the
    // unsalted blk_n². Recompute the slice sizes the salt produces.
    val nSub = math.ceil(500.0 / 50).toInt
    val slices = Tables.embeddings(spark, tmp)
      .select(pmod(xxhash64(col("vec_id")), lit(nSub)).cast("int").as("sub"))
      .groupBy("sub").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(slices.size === nSub, s"expected $nSub subcells: $slices")
    // hash imbalance slack: no slice (hence no task's build side) may
    // exceed 2x the target subcell size
    assert(slices.values.max <= 100, s"oversized subcell: $slices")
  }

  test("V50b k-means SemDeDup: cells from v47, prune verdicts coherent") {
    val r = DedupOps.semanticPruneKmeans(spark, sf).collect()
    assert(r.length === 500)
    // clusters are the v47 cell ids (0..K-1 seeded); verdicts follow
    // the witness: pruned <=> max_prior_cos >= tau
    r.foreach { row =>
      val mpc = Option(row.get(2)).map(_.asInstanceOf[Double])
      val pruned = row.getBoolean(3)
      assert(pruned === mpc.exists(_ >= 0.35), row.toString)
    }
    // the unsupervised blocks differ from the label blocks, so the two
    // entries are genuinely distinct queries
    val byLabel = DedupOps.semanticPrune(spark, sf).collect()
      .map(r0 => r0.getLong(0) -> r0.getBoolean(3)).toMap
    val agree = r.count(row => byLabel(row.getLong(0)) == row.getBoolean(3))
    assert(agree < r.length, "k-means blocks identical to label blocks?")
  }

  test("V50c adaptive cells: shared-oracle precondition holds and the " +
      "forced-adaptive branch stays coherent") {
    // precondition for v50c sharing v50b's oracle: at every driver SF
    // the adaptive cell count collapses to the shared v47 K, so the
    // graded entry replays the shared Lloyd chain bit-for-bit
    assert(graft.sim.PqOps.adaptiveCoarseK(spark, sf) ===
      graft.sim.ClusterOps.K)
    val v50b = DedupOps.semanticPruneKmeans(spark, sf).collect()
    val v50c = DedupOps.semanticPruneKmeans(spark, sf,
      cellK = graft.sim.PqOps.adaptiveCoarseK(spark, sf)).collect()
    assert(v50b.map(_.toString).sorted === v50c.map(_.toString).sorted)
    // the deployment lever itself (cellK != K → coarseAt-trained
    // cells): full corpus covered, verdicts follow the witness rule,
    // and the finer partition prunes no MORE than the coarse one can
    // justify (every pruned row still carries a cos >= tau witness)
    val forced = DedupOps.semanticPruneKmeans(spark, sf, cellK = 16)
      .collect()
    assert(forced.length === v50b.length)
    forced.foreach { row =>
      val mpc = Option(row.get(2)).map(_.asInstanceOf[Double])
      assert(row.getBoolean(3) === mpc.exists(_ >= 0.35), row.toString)
    }
    // the lever genuinely changes the blocking: 16 independently
    // trained cells partition the corpus more finely than the shared
    // 8-cell run (populated cell count strictly up). Note 16-cells are
    // NOT nested in 8-cells (independent first-k seeding), so prune
    // counts may move either way — only the witness rule is invariant.
    val cells16 = graft.sim.ClusterOps.coarseAt(spark, sf, 16)._1
      .select("cid").distinct().count()
    assert(cells16 > graft.sim.ClusterOps.K.toLong,
      s"expected a finer populated partition, got $cells16 cells")
  }

  test("V2e cluster paths agree: local union-find == distributed labels") {
    import spark.implicits._
    // a chain, a triangle, an isolated pair — exercises transitivity
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("i", "j")
    val local = DedupOps.localComponents(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = DedupOps.distributedComponents(p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local === dist)
    assert(local === Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("V2e dupClusters leaves no persisted RDDs behind") {
    // the pair frame is cached for the count + component pass and must
    // be released before returning — library callers (and Verify) would
    // otherwise pin the pair blocks until session end
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DedupOps.dupClusters(spark, sf).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs leaked: $leaked")
  }

  test("V3c kNN join: cell-local neighbours are true neighbours") {
    val knn = SimilarityOps.knnJoin(spark, sf, k = 5)
    val rows = knn.collect()
    assert(rows.nonEmpty)
    // every vector appears with at most k neighbours, ranked 1..k
    val byI = rows.groupBy(_.getLong(0))
    byI.values.foreach { rs =>
      assert(rs.length <= 5)
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length))
    }
    // spot-check: the rank-1 neighbour of vec 0 within its cell has the
    // highest cosine among its cell-mates (consistency of the window)
    val v0 = rows.filter(_.getLong(0) == 0L)
    if (v0.nonEmpty) {
      val cosines = v0.map(_.getDouble(2))
      assert(cosines.sorted.reverse.toSeq === cosines.toSeq)
    }
  }

  test("V2e long-chain graph converges past the old iteration horizon") {
    import spark.implicits._
    // a 14-vertex chain has diameter 13: min-label propagation needs 13
    // rounds (>5), exercising the checkpoint/unpersist loop shape and the
    // convergence (not fixed-cap) termination; plus a disjoint triangle
    val chain = (1L until 14L).map(i => (i, i + 1))
    val p = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L)))
      .toDF("i", "j")
    val dist = DedupOps.distributedComponents(p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (1L to 14L).map(_ -> 1L).toSet ++
      Set(100L -> 100L, 101L -> 100L, 102L -> 100L)
    assert(dist === expected)
    // and the local path agrees on the same graph
    val local = DedupOps.localComponents(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local === expected)
  }

  test("scrub ledger size trigger: the v20b Bloom+join fallback is " +
    "bit-identical to the in-row broadcast probe, batch and streaming") {
    val dir = sf0001
    val df = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .localCheckpoint()
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "n_words", "n_removed", "clean_hash").collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    // default bound: the fixture ledger fits, dispatcher takes in-row
    assert(DedupOps.scrubLedgerFitsBroadcast(spark, dir))
    val inRow = asMap(DedupOps.scrubDispatch(spark, dir, df))
    assert(inRow.values.exists(_._2 > 0), "fixture must scrub something")
    val st19Bc = DedupOps.streamingSpanScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    val st25Bc = DedupOps.streamingIngestDag(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)),
        Option(r.get(3))))
    DedupOps.scrubLedgerMaxOverride = Some(0L)
    try {
      assert(!DedupOps.scrubLedgerFitsBroadcast(spark, dir))
      // the fallback shape directly…
      val viaJoin = asMap(DedupOps.scrubViaLedgerJoin(spark, dir, df))
      assert(viaJoin === inRow, "Bloom+join scrub diverged from in-row")
      // …and through the dispatcher
      assert(asMap(DedupOps.scrubDispatch(spark, dir, df)) === inRow)
      // st19 through the per-micro-batch foreachBatch fallback
      val st19Fb = DedupOps.streamingSpanScrub(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getString(3)))
      assert(st19Fb.toSeq === st19Bc.toSeq)
      // st25's whole ingest DAG through the fallback
      val st25Fb = DedupOps.streamingIngestDag(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)),
          Option(r.get(3))))
      assert(st25Fb.toSeq === st25Bc.toSeq)
    } finally DedupOps.scrubLedgerMaxOverride = None
  }

  test("Bloom build is NOT clamped by Spark's runtime-filter size caps " +
    "above 8M items, and the session confs are restored after") {
    // BloomFilterAggregate silently clamps to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (2^26) /
    // maxNumItems (4M) — past ~8.4M ledger windows a default-conf
    // sketch saturates and the fallback's screen degrades to a no-op
    // (round-10 review finding). BloomSketch raises the caps around
    // the build; size params are literals, so a tiny input frame
    // proves the sizing without a big fixture.
    import spark.implicits._
    val tiny = Seq("a", "b", "c").toDF("h")
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val before = spark.conf.getOption(bitsKey)
    val n = 16000000L // requested bits = 128M, default cap = 67.1M
    val bytes = graft.dedup.BloomSketch.bloomBytes(tiny, col("h"), n)
    assert(bytes.length.toLong * 8L >= n * 8L,
      s"sketch clamped: ${bytes.length} bytes for ${n * 8L} bits")
    assert(spark.conf.getOption(bitsKey) === before,
      "bloom build leaked its conf override")
  }

  test("V67 span scrub removes a planted repeated span from the later " +
    "doc only, and never touches unique docs") {
    val rows = DedupOps.spanScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getString(3)))
      .toMap
    // recompute locally: window hash -> (min doc, occurrences)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .filter(_.get(1) != null)
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ", -1)))
    val W = DedupOps.ScrubWindow
    val occ = docs.flatMap { case (id, w) =>
      (0 to w.length - W).map(s => (id, s, w.slice(s, s + W).mkString(" ")))
    }
    val byKey = occ.groupBy(_._3)
    val firsts = byKey.view.mapValues(os => (os.map(_._1).min, os.length))
    docs.foreach { case (id, w) =>
      val removedPos = occ.filter(o => o._1 == id && {
        val (keep, n) = firsts(o._3); n >= 2 && id > keep
      }).flatMap(o => o._2 until o._2 + W).toSet
      val expectClean = w.zipWithIndex
        .filterNot { case (_, i) => removedPos(i) }.map(_._1)
        .mkString(" ")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(expectClean.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val (nw, nRem, hash) = rows(id)
      assert(nw === w.length, s"doc $id")
      assert(nRem === removedPos.size.toLong, s"doc $id")
      assert(hash === md5, s"doc $id cleaned text diverged")
    }
    // the corpus actually exercises the operator: something is scrubbed
    assert(rows.values.exists(_._2 > 0), "no spans scrubbed at this SF?")
    // and keep-first holds: for every duplicated window, the min-doc
    // holder keeps its copy (its positions are not removed unless a
    // DIFFERENT duplicated window covers them from a later-doc rule) —
    // verified implicitly by the per-doc hash equality above
  }

  test("V69 benchmark scrub cuts exactly the benchmark-overlapping " +
    "windows from corpus docs and reports the untouched complement") {
    val rows = DedupOps.benchmarkScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getString(3)))
      .toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .filter(_.get(1) != null)
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ", -1)))
    val W = DedupOps.ScrubWindow
    def windows(w: Array[String]): Seq[(Int, String)] =
      (0 to w.length - W).map(s => (s, w.slice(s, s + W).mkString(" ")))
    val benchSet = docs.filter(_._1 % 7 == 0)
      .flatMap { case (_, w) => windows(w).map(_._2) }.toSet
    val corpus = docs.filter(_._1 % 7 != 0)
    // exactly the corpus docs appear in the report
    assert(rows.keySet === corpus.map(_._1).toSet)
    corpus.foreach { case (id, w) =>
      val removedPos = windows(w).filter(o => benchSet(o._2))
        .flatMap(o => o._1 until o._1 + W).toSet
      val expectClean = w.zipWithIndex
        .filterNot { case (_, i) => removedPos(i) }.map(_._1)
        .mkString(" ")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(expectClean.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val (nw, nRem, hash) = rows(id)
      assert(nw === w.length, s"doc $id")
      assert(nRem === removedPos.size.toLong, s"doc $id")
      assert(hash === md5, s"doc $id cleaned text diverged")
    }
    // the fixture exercises both branches: some doc is scrubbed, some not
    assert(rows.values.exists(_._2 > 0), "no benchmark overlap at this SF?")
    assert(rows.values.exists(_._2 == 0), "every doc scrubbed?")
  }

  test("V72 quality-aware keeper: one survivor per cluster, and it is " +
    "the argmax-quality member (ties to lower id), not necessarily " +
    "v2f's min-id one") {
    val clusters = DedupOps.dupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty)
    val q = graft.nlp.TextOps.qualityMicro(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expectedKeepers = clusters.groupBy(_._2).map { case (_, ms) =>
      ms.map(_._1).minBy(id => (-q(id), id))
    }.toSet
    val expectedDrops =
      clusters.map(_._1).toSet -- expectedKeepers
    val kept = DedupOps.qualityDedupApply(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val all = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept === all -- expectedDrops)
    // same survivor COUNT as v2f (one keeper per cluster), even where
    // the chosen ids differ
    val v2f = DedupOps.dedupApply(spark, sf).count()
    assert(kept.size.toLong === v2f)
  }

  test("V1 exact dedup keeps every distinct text once") {
    val docs = Tables.documents(spark, sf)
    val deduped = DedupOps.exactDedup(spark, sf)
    assert(deduped.count() ===
      docs.select("text").distinct().count())
  }

  test("v50 semantic prune: keep-first rule recomputes locally; the " +
      "first vector of every label is never pruned") {
    val out = DedupOps.semanticPrune(spark, sf).collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong, Option(r.get(2))
        .map(_.asInstanceOf[Double]), r.getBoolean(3)))
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.get(1).toString.toLong,
        r.getSeq[Float](2).map(_.toDouble).toArray))
      .sortBy(_._1)
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.foldLeft(0.0)((s, k) => s + a(k) * b(k))
      val na = math.sqrt(a.indices.foldLeft(0.0)((s, k) => s + a(k) * a(k)))
      val nb = math.sqrt(b.indices.foldLeft(0.0)((s, k) => s + b(k) * b(k)))
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = vecs.map(v => v._1 -> v).toMap
    out.foreach { case (id, label, mpc, pruned) =>
      val priors = vecs.filter(v => v._2 == label && v._1 < id)
      val want = priors.map(p => cos6(p._3, byId(id)._3))
        .sorted.lastOption
      assert(mpc === want, s"witness mismatch for vec $id")
      assert(pruned === want.exists(_ >= 0.35), s"decision for vec $id")
      if (priors.isEmpty) assert(!pruned, s"label-first $id pruned")
    }
    assert(out.count(_._4) > 0, "pruning must fire on this corpus")
  }

  test("V20c incremental near-dup: flags recompute from the symmetric " +
    "closure of the exact pair frame, and the probe finds a dup") {
    // ngramJaccard is the oracle-pinned exact pair frame; v20c must
    // equal its (incoming, ledger) restriction — same recall argument
    // as v2b, but across the split
    val pairs = DedupOps.ngramJaccard(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sym = pairs ++ pairs.map(p => (p._2, p._1, p._3))
    val cross = sym.filter(p => p._1 % 3 == 0 && p._2 % 3 != 0)
    val want = cross.groupBy(_._1).map { case (i, ms) =>
      val best = ms.minBy(_._2)
      i -> (best._2, best._3)
    }
    val rows = DedupOps.incrementalNearDup(spark, sf0001).collect()
    val incIds = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull && col("doc_id") % 3 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(rows.map(_.getLong(0)).toSeq === incIds.toSeq)
    rows.foreach { r =>
      val id = r.getLong(0)
      want.get(id) match {
        case Some((j, jac)) =>
          assert(r.getAs[Boolean]("is_dup"), s"doc $id must flag")
          assert(r.getAs[Long]("dup_of") === j)
          assert(r.getAs[Double]("jaccard") === jac)
        case None =>
          assert(!r.getAs[Boolean]("is_dup"), s"doc $id must not flag")
          assert(r.isNullAt(r.fieldIndex("dup_of")))
      }
    }
    assert(rows.count(_.getAs[Boolean]("is_dup")) > 0,
      "the fixture must contain cross-split near-dups")
  }

  test("V75 split leakage replays from the pair frame and an " +
    "independent md5 split assignment; cross-split pairs exist") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def splitOf(id: Long): String = {
      val b = Integer.parseInt(md5hex(s"split$id").substring(0, 2), 16)
      if (b < 205) "train" else if (b < 230) "val" else "test"
    }
    val pairs = DedupOps.ngramJaccard(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pairs.groupBy { p =>
      val (a, b) = (splitOf(p._1), splitOf(p._2))
      (if (a <= b) a else b, if (a <= b) b else a)
    }.map { case (k, ps) =>
      k -> (ps.length.toLong, ps.map(_._3).max)
    }
    val rows = DedupOps.splitLeakage(spark, sf0001).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      want.get(k) match {
        case Some((n, mx)) =>
          assert(r.getAs[Long]("n_pairs") === n, s"$k")
          assert(r.getAs[Double]("max_jaccard") === mx, s"$k")
        case None =>
          assert(r.getAs[Long]("n_pairs") === 0L, s"$k")
          assert(r.isNullAt(r.fieldIndex("max_jaccard")), s"$k")
      }
      assert(r.getAs[Boolean]("cross_split") === (k._1 != k._2))
    }
    assert(want.keys.exists(k => k._1 != k._2),
      "the fixture must contain cross-split near-dup pairs")
  }

  test("V76 split scrub quarantines exactly the train docs with an " +
    "eval near-dup, and no kept train doc still leaks") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def splitOf(id: Long): String = {
      val b = Integer.parseInt(md5hex(s"split$id").substring(0, 2), 16)
      if (b < 205) "train" else if (b < 230) "val" else "test"
    }
    val pairs = DedupOps.ngramJaccard(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = pairs ++ pairs.map(p => (p._2, p._1))
    val wantLeak = sym
      .filter(p => splitOf(p._1) == "train" && splitOf(p._2) != "train")
      .groupBy(_._1).map { case (i, ps) => i -> ps.map(_._2).min }
    val rows = DedupOps.splitScrub(spark, sf0001).collect()
    assert(rows.length ===
      Tables.documents(spark, sf0001).count().toInt)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === splitOf(id))
      wantLeak.get(id) match {
        case Some(to) =>
          assert(r.getString(2) === "quarantine", s"doc $id")
          assert(r.getAs[Long]("leak_to") === to)
        case None =>
          assert(r.getString(2) === "keep", s"doc $id")
          assert(r.isNullAt(r.fieldIndex("leak_to")))
      }
    }
    assert(wantLeak.nonEmpty, "the fixture must contain train leaks")
    // invariant: after the scrub, no kept train doc has an eval near-dup
    val kept = rows.filter(r => r.getString(1) == "train" &&
      r.getString(2) == "keep").map(_.getLong(0)).toSet
    assert(!sym.exists(p => kept(p._1) && splitOf(p._2) != "train"))
  }

  test("ST25 ingest DAG verdicts reconcile with the standalone gates, " +
    "and a planted exact dup trips the first gate") {
    import spark.implicits._
    val rows = DedupOps.streamingIngestDag(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r).toMap
    // near-dup target set from the pinned exact pair frame
    val pairs = DedupOps.ngramJaccard(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nearIds = (pairs ++ pairs.map(p => (p._2, p._1)))
      .filter(p => p._1 % 3 == 0 && p._2 % 3 != 0).map(_._1).toSet
    // exact gate: incoming norm-hashes present in the ledger
    val nh = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextCanon.normHash.as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ledgerH = nh.filter(_._1 % 3 != 0).map(_._2).toSet
    val exactIds = nh.filter(p => p._1 % 3 == 0 && ledgerH(p._2))
      .map(_._1).toSet
    // contamination gate from the standalone v16 result
    val contamIds = DedupOps.decontaminate(spark, sf0001)
      .collect().map(_.getLong(0)).filter(_ % 3 == 0).toSet
    // scrub report for kept docs from the standalone v67 result
    val scrub = DedupOps.spanScrub(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_removed"),
        r.getAs[String]("clean_hash"))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, r) =>
      val want =
        if (exactIds(id)) "exact_dup"
        else if (nearIds(id)) "near_dup"
        else if (id % 97 == 0) "benchmark"
        else if (contamIds(id)) "contaminated"
        else "kept"
      assert(r.getAs[String]("verdict") === want, s"doc $id")
      if (want == "kept") {
        assert(r.getAs[Long]("n_removed") === scrub(id)._1, s"doc $id")
        assert(r.getAs[String]("clean_hash") === scrub(id)._2, s"doc $id")
      } else assert(r.isNullAt(r.fieldIndex("clean_hash")), s"doc $id")
    }
    assert(Set("near_dup", "benchmark", "contaminated", "kept")
      .forall(v => rows.values.exists(_.getAs[String]("verdict") == v)))
    // the corpus has no cross-split exact dup — plant one: doc 3
    // copies ledger doc 1's text verbatim
    val tmp = SparkSpec.tempDir("st25_fixture")
    Tables.documents(spark, sf0001).limit(0).unionByName(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota",
            "en", "src0", 9L),
          (2L, "totally unrelated ledger text with its own words here ok",
            "en", "src1", 10L),
          (3L, "alpha beta gamma delta epsilon zeta eta theta iota",
            "en", "src0", 9L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/_w")
    // the streaming source's pathGlobFilter matches the FILE name
    // documents.parquet, so surface the part file under that name
    val part = new java.io.File(s"$tmp/_w").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tmp/documents.parquet"))
    val planted = DedupOps.streamingIngestDag(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("verdict")).toMap
    assert(planted(3L) === "exact_dup")
  }

  test("ST24 streaming near-dup gate emits exactly the cross-split " +
    "verified pairs (stream == the exact pair frame's restriction)") {
    val pairs = DedupOps.ngramJaccard(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = (pairs ++ pairs.map(p => (p._2, p._1, p._3)))
      .filter(p => p._1 % 3 == 0 && p._2 % 3 != 0)
      .sortBy(p => (p._1, p._2))
    val got = DedupOps.streamingNearDupGate(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty, "the fixture must contain cross-split pairs")
  }

  test("V73 threshold sweep replays from the pair frame and is " +
    "monotone non-increasing in tau") {
    val pairs = DedupOps.ngramJaccard(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nTotal = Tables.documents(spark, sf0001).count()
    val rows = DedupOps.thresholdSweep(spark, sf0001).collect()
    val taus = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    assert(rows.map(_.getAs[Double]("tau")).toSeq === taus)
    rows.foreach { r =>
      val tau = r.getAs[Double]("tau")
      val mine = pairs.filter(_._3 >= tau)
      val docs = mine.flatMap(p => Seq(p._1, p._2)).distinct
      assert(r.getAs[Long]("n_pairs") === mine.length.toLong, s"tau=$tau")
      assert(r.getAs[Long]("n_docs") === docs.length.toLong, s"tau=$tau")
      assert(r.getAs[Double]("docs_share") ===
        ((docs.length * 1000000L + nTotal / 2) / nTotal).toDouble / 1e6)
    }
    // tau=0.5 is the mined frame itself; counts never rise with tau
    assert(rows.head.getAs[Long]("n_pairs") === pairs.length.toLong)
    val np = rows.map(_.getAs[Long]("n_pairs")).toSeq
    assert(np === np.sorted.reverse, "pair counts must fall with tau")
  }

  test("V16c fixed-benchmark decontam: identical to v16 when every id " +
    "is under the ceiling, and treats over-ceiling %97 ids as corpus") {
    // sf0.001 has doc_ids 0..499 < FixedBenchCeil=500, so the fixed
    // slice IS v16's slice and the two entries must agree bit-for-bit
    val v16 = DedupOps.decontaminate(spark, sf0001).collect().toSeq
    val v16c = DedupOps.decontaminateFixedBench(spark, sf0001)
      .collect().toSeq
    assert(v16c === v16)
    assert(v16c.nonEmpty)
    // sf0.1 has doc_ids up to 4999: %97 ids >= 500 are CORPUS docs in
    // v16c (scannable, flaggable) while v16 excludes them entirely —
    // the deployment semantics of a closed external benchmark
    val sf01 = "/root/testdata/sf0.1"
    val over = DedupOps.decontaminateFixedBench(spark, sf01)
      .collect().map(_.getLong(0))
      .filter(id => id % 97 == 0 && id >= 500)
    assert(over.nonEmpty,
      "over-ceiling %97 docs must be contamination-scannable corpus")
    val v16Ids = DedupOps.decontaminate(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    assert(over.forall(!v16Ids.contains(_)))
  }

  test("V66b fixed-benchmark curation DAG == v66 when every id is " +
    "under the ceiling") {
    // same bit-identity argument at sf0.001: all three benchmark
    // predicates coincide, so the composed provenance rows must match
    val v66 = graft.nlp.CurationDagOps.curationDag(spark, sf0001)
      .collect().toSeq
    val v66b = graft.nlp.CurationDagOps
      .curationDag(spark, sf0001, fixedBench = true).collect().toSeq
    assert(v66b === v66)
    assert(v66b.nonEmpty)
  }
}
