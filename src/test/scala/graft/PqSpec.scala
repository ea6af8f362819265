package graft

import graft.sim.PqOps
import org.apache.spark.sql.functions._

/** Product-quantization invariants (v18d-g) beyond the oracle hashes:
  * code ranges, pack/unpack round-trip, ADC ordering, and the
  * inflation lower bound. */
class PqSpec extends SparkSpec {

  test("v18e codes: every vector carries M sub-codes in [0, Ksub) and " +
    "code_pack decodes back to code_sum") {
    val enc = PqOps.pqEncode(spark, sf0001).collect()
    assert(enc.length === 500)
    enc.foreach { r =>
      val pack = r.getAs[Long]("code_pack")
      val sum = r.getAs[Long]("code_sum")
      val codes = (0 until PqOps.M).map(s => (pack >> (6 * s)) & 0x3F)
      // every 6-bit field is a valid code and the fields reassemble
      // both checksums — pack and sum agree on the same code vector
      assert(codes.forall(c => c >= 0 && c < PqOps.Ksub), r.toString)
      assert(codes.sum === sum, s"pack/sum disagree: $r")
      assert(pack >>> (6 * PqOps.M) === 0L, s"stray high bits: $r")
    }
  }

  test("v18d training profile: M*Ksub cells at most, members sum to " +
    "n_vectors per subspace, inertia non-negative") {
    val prof = PqOps.pqTrain(spark, sf0001).collect()
    assert(prof.length <= PqOps.M * PqOps.Ksub)
    val bySub = prof.groupBy(_.getAs[Int]("sub"))
    assert(bySub.keySet === (0 until PqOps.M).toSet)
    bySub.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("n")).sum === 500L)
      rs.foreach(r => assert(r.getAs[Long]("inertia") >= 0L))
    }
  }

  test("v18f ADC top-10 is ascending with deterministic tie-break") {
    val rows = PqOps.pqAdcTopK(spark, sf0001).collect()
    assert(rows.length === 10)
    val ds = rows.map(_.getAs[Long]("adc_d"))
    assert(ds.sorted.toSeq === ds.toSeq)
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("v18h IVF-PQ: results come only from probed cells and are a " +
    "subset-consistent rerank of the full ADC scan") {
    val rows = PqOps.ivfPqTopK(spark, sf0001).collect()
    assert(rows.length === 10)
    val ds = rows.map(_.getAs[Long]("adc_d"))
    assert(ds.sorted.toSeq === ds.toSeq)
    // every result's full-scan ADC distance matches (the probe only
    // narrows the candidate set, never changes a score)
    val full = PqOps.pqAdcTopK(spark, sf0001, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("adc_d")).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(full.get(id).contains(r.getAs[Long]("adc_d")), s"vec $id")
    }
  }

  test("v18i stored IVF-PQ: partition-pruned probe equals in-memory") {
    val idx = SparkSpec.tempDir("ivfpq-index")
    PqOps.writeIvfPqIndex(spark, sf0001, idx)
    val stored = PqOps.ivfPqTopKStored(spark, idx,
      PqOps.microQueryVector(spark, sf0001, 0L), excludeVecId = 0L)
    // the probed code scan must read only NCell partitions — partition
    // pruning is the entire economics of a stored IVF-PQ index
    val plan = stored.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    // non-empty PartitionFilters naming `cell` — a bare contains is
    // vacuous (a partitioned scan always prints the key, possibly as
    // `PartitionFilters: []`)
    assert("PartitionFilters: \\[[^\\]]*cell".r
      .findFirstIn(plan).isDefined, plan)
    val a = stored.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d"))).toSeq
    val b = PqOps.ivfPqTopK(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d"))).toSeq
    assert(a === b)
  }

  test("v18j incrementally-maintained IVF-PQ equals the full index " +
    "probe (append with existing artifacts loses nothing)") {
    val idx = SparkSpec.tempDir("ivfpq-incr")
    PqOps.writeIvfPqIncremental(spark, sf0001, idx)
    val incr = PqOps.ivfPqTopKStored(spark, idx,
      PqOps.microQueryVector(spark, sf0001, 0L), excludeVecId = 0L)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d"))).toSeq
    val full = PqOps.ivfPqTopK(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d"))).toSeq
    assert(incr === full)
  }

  test("st21 streaming serve answers query 0 exactly as the batch " +
    "IVF-PQ probe, ranks every query fully, and stays ascending") {
    val rows = PqOps.streamingAnnServe(spark, sf0001).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    // the workload slice is every 89th vector
    assert(byQ.keySet.forall(_ % PqOps.ServeModulus == 0))
    assert(byQ.nonEmpty)
    byQ.values.foreach { qs =>
      val sorted = qs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === (1 to qs.length))
      val ds = sorted.map(_.getAs[Long]("adc_d")).toSeq
      assert(ds === ds.sorted)
      assert(qs.length === 10)
    }
    // query 0 is also v18h/v18i's query: the streaming answer must be
    // the batch probe's answer, bit for bit
    val served = byQ(0L).sortBy(_.getAs[Int]("rnk"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d"))).toSeq
    val batch = PqOps.ivfPqTopK(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d"))).toSeq
    assert(served === batch)
  }

  test("st21b pruned serving loop equals st21 row-for-row and its " +
    "per-batch code scan carries literal partition filters") {
    val pruned = PqOps.streamingAnnServePruned(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d"))).toSeq
    val full = PqOps.streamingAnnServe(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("adc_d"))).toSeq
    assert(pruned === full)
    // the serving loop's economics: the code read must partition-prune
    // to the batch's probed cells (the lastServePlan test seam). A bare
    // contains("PartitionFilters") is vacuous — a partitioned scan
    // always prints the key, possibly as `PartitionFilters: []` — so
    // require a NON-EMPTY filter list naming the cell column.
    assert("PartitionFilters: \\[[^\\]]*cell".r
      .findFirstIn(PqOps.lastServePlan).isDefined, PqOps.lastServePlan)
  }

  test("v18g: ADC picks can never beat the exact picks (inflation >= 1)") {
    val r = PqOps.pqRecall(spark, sf0001).collect().head
    assert(r.getAs[Long]("n_exact") === 10L)
    assert(r.getAs[Double]("dist_inflation") >= 1.0)
  }
}
