package graft

import graft.functions.ZOrder
import graft.operators.LayoutOps
import org.apache.spark.sql.functions._

/** Z-order layout: Morton-key correctness and the actual pruning payoff
  * — per-file min-max envelopes under the clustered layout admit a 2-D
  * box query into few files, where a random layout's envelopes admit it
  * into every file. */
class LayoutSpec extends SparkSpec {

  test("Morton interleave: bit positions, bounds, monotone locality") {
    assert(ZOrder.interleave(0, 0) === 0L)
    assert(ZOrder.interleave(1, 0) === 2L) // a-bit i -> position 2i+1
    assert(ZOrder.interleave(0, 1) === 1L) // b-bit i -> position 2i
    assert(ZOrder.interleave(2, 3) === 13L) // 0b1101
    // raw interleave is total on 32-bit inputs; as a SORT KEY the first
    // dim must be non-negative (bit 31 -> sign bit), which q16 guarantees
    assert(ZOrder.interleave(-1, -1) === -1L) // all 64 bits set
    assert(ZOrder.spread(0xFFFFFFFF) === 0x5555555555555555L)
    // quadrant property: top bits of both dims dominate the key, so all
    // keys in the (low,low) quadrant sort before any in (high,high)
    val lo = 0x3FFF; val hi = 0xC000
    assert(ZOrder.interleave(lo, lo) < ZOrder.interleave(hi, hi))
  }

  test("property: Morton key is dominance-monotone and bit-exact") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def checkProp(p: Prop): Unit = {
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(500), p)
      assert(res.passed, res.status.toString)
    }
    val code = Gen.chooseNum(0, 0xFFFF) // what q16 produces
    // dominance monotonicity — the property min-max pruning relies on:
    // a box's corner keys bound every key inside the box
    checkProp(Prop.forAll(code, code, code, code) { (x1, x2, y1, y2) =>
      val (aLo, aHi) = (x1 min x2, x1 max x2)
      val (bLo, bHi) = (y1 min y2, y1 max y2)
      ZOrder.interleave(aLo, bLo) <= ZOrder.interleave(aHi, bHi)
    })
    // bit-exact round trip: de-interleaving recovers both dimensions
    def unspread(z: Long): Int = {
      var v = z & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      ((v | (v >> 16)) & 0xFFFFFFFFL).toInt
    }
    checkProp(Prop.forAll(code, code) { (a, b) =>
      val z = ZOrder.interleave(a, b)
      unspread(z >>> 1) == a && unspread(z) == b
    })
  }

  test("z-ordered files prune a 2-D box; random layout cannot") {
    val tsLo = 1705104000L; val tsHi = 1705363200L // 3 of 30 days
    val uLo = 0L; val uHi = 4L // 5 of 15 users at sf0.001
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts_s"), col("user_id"), col("value"))
    val out = SparkSpec.tempDir("graft-layoutspec")
    LayoutOps.zOrderWrite(ev, col("ts_s"), (1704067200L, 1706659200L),
      col("user_id"), (0L, 14L), s"$out/z", 8)
    ev.repartition(8).write.mode("overwrite").parquet(s"$out/r")
    // single-column contrast: perfectly sorted for ts, blind to user
    ev.repartitionByRange(8, col("ts_s")).sortWithinPartitions(col("ts_s"))
      .write.mode("overwrite").parquet(s"$out/t")

    // files whose (min,max) envelope intersects a box on the given dims
    // — what parquet stats-based skipping admits to the scan
    def admitted(path: String, ts: Option[(Long, Long)],
        u: Option[(Long, Long)]): (Int, Int) = {
      val stats = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy(col("f"))
        .agg(min(col("ts_s")).as("tlo"), max(col("ts_s")).as("thi"),
          min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"))
        .collect()
      val hit = stats.count { r =>
        ts.forall { case (lo, hi) =>
          r.getAs[Long]("thi") >= lo && r.getAs[Long]("tlo") < hi } &&
        u.forall { case (lo, hi) =>
          r.getAs[Long]("uhi") >= lo && r.getAs[Long]("ulo") <= hi }
      }
      (hit, stats.length)
    }
    val box = (Some((tsLo, tsHi)), Some((uLo, uHi)))
    val (zHit, zTotal) = admitted(s"$out/z", box._1, box._2)
    val (rHit, rTotal) = admitted(s"$out/r", box._1, box._2)
    assert(zTotal === 8 && rTotal === 8)
    // random layout: every file's envelope spans the whole space
    assert(rHit === rTotal, s"random layout admitted $rHit of $rTotal")
    // z-order: the box lives in a fixed top-bit quadrant -> few files
    assert(zHit <= zTotal / 2, s"z layout admitted $zHit of $zTotal")

    // the single-column sort is ideal for its own dimension but admits
    // EVERY file for a user-only box; the z-layout still prunes — the
    // whole reason to interleave rather than sort
    val (tUser, _) = admitted(s"$out/t", None, Some((uLo, uHi)))
    val (zUser, _) = admitted(s"$out/z", None, Some((uLo, uHi)))
    assert(tUser === 8, s"ts-sorted layout admitted $tUser for user box")
    assert(zUser < 8, s"z layout admitted $zUser of 8 for user box")

    // the box predicate must reach the parquet scan of the clustered
    // copy (stats-based skipping acts on pushed filters)
    val boxScan = spark.read.parquet(s"$out/z")
      .filter(col("ts_s") >= tsLo && col("ts_s") < tsHi &&
        col("user_id").between(uLo, uHi))
    val p = boxScan.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    // (the printed PushedFilters list is truncated, so pin the leading
    // entries only — DataFilters above shows all four made it down)
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(ts_s,"), p)

    // and the registered query's result is layout-invariant
    val got = LayoutOps.zorderPrune(spark, sf0001).collect()(0)
    val want = ev.filter(col("ts_s") >= tsLo && col("ts_s") < tsHi &&
        col("user_id").between(uLo, uHi))
      .agg(count(lit(1)), countDistinct(col("user_id")),
        Exact.microSum(col("value"))).collect()(0)
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    assert(got.getLong(2) === want.getLong(2))
  }
}
