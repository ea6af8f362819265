package graft

import graft.operators.StatsOps
import org.apache.spark.sql.functions._

/** Monitoring-stats block: v35 drift, v36 MAD outliers, w11 trend,
  * w12 gap-fill. The driver oracle pins each entry's end-to-end result;
  * these tests pin the semantics the oracle can't see — brute-force
  * recomputation of the integer-space math from the raw rows, and the
  * structural invariants (dense grids, label partitions, neighbor
  * bounds) that a hash match alone wouldn't localize.
  */
class StatsOpsSpec extends SparkSpec {

  private val Start = EventWindow.StartS
  private val Mid = Start + 15 * 86400L

  /** Raw (ts_s, event_type, value) rows at sf0.001. */
  private lazy val raw: Array[(Long, String, Double)] =
    Tables.events(spark, sf0001)
      .select(col("ts_s"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  test("v35 drift: TVD and max jump recompute from raw rows in " +
    "integer micro space") {
    val rows = StatsOps.drift(spark, sf0001).collect()
    assert(rows.map(_.getAs[String]("event_type")).distinct.length ===
      rows.length)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val mine = raw.filter(_._2 == t)
      val early = mine.filter(_._1 < Mid)
      val late = mine.filter(_._1 >= Mid)
      assert(r.getAs[Long]("n_early") === early.length.toLong)
      assert(r.getAs[Long]("n_late") === late.length.toLong)
      val bins = mine.map(x => math.floor(x._3 / 25.0).toInt).distinct
      assert(r.getAs[Long]("n_bins") === bins.length.toLong)
      def shareMicro(xs: Array[(Long, String, Double)], bin: Int,
          tot: Long): Long =
        (xs.count(x => math.floor(x._3 / 25.0).toInt == bin) * 1000000L +
          tot / 2) / tot
      val ds = bins.map { b =>
        b -> math.abs(shareMicro(early, b, early.length) -
          shareMicro(late, b, late.length))
      }
      assert(r.getAs[Double]("tvd") ===
        ds.map(_._2).sum.toDouble / 2000000.0)
      val key = ds.map { case (b, d) => d * 100 + b }.max
      assert(r.getAs[Double]("max_jump") === (key / 100).toDouble / 1e6)
      assert(r.getAs[Int]("jump_bin") === (key % 100).toInt)
      assert(r.getAs[Double]("tvd") <= 1.0)
      assert(r.getAs[Double]("max_jump") <= 2 * r.getAs[Double]("tvd") + 1e-9)
    }
  }

  test("st12 streaming drift: per-day TVD vs the reference recomputes " +
    "from raw rows (streaming histogram = batch histogram on finite " +
    "input)") {
    val rows = graft.streaming.StreamingOps.streamingDrift(spark, sf0001)
      .collect()
    def binOf(v: Double) = math.floor(v / 25.0).toInt
    def shareMicro(n: Long, tot: Long): Long = (n * 1000000L + tot / 2) / tot
    // observed (day, type) pairs only, each with the exact integer TVD
    val expect = raw.groupBy(e => ((e._1 - Start) / 86400, e._2)).map {
      case ((day, t), mine) =>
        val refAll = raw.filter(_._2 == t)
        val bins = refAll.map(e => binOf(e._3)).distinct
        val d = bins.map { b =>
          math.abs(
            shareMicro(mine.count(e => binOf(e._3) == b), mine.length) -
              shareMicro(refAll.count(e => binOf(e._3) == b), refAll.length))
        }.sum
        (Start + day * 86400, t) -> (mine.length.toLong,
          d.toDouble / 2000000.0)
    }
    assert(rows.length === expect.size)
    rows.foreach { r =>
      val k = (r.getAs[Long]("day_s"), r.getAs[String]("event_type"))
      val (n, tvd) = expect(k)
      assert(r.getAs[Long]("n_day") === n, s"n_day at $k")
      assert(r.getAs[Double]("tvd") === tvd, s"tvd at $k")
    }
  }

  test("v36 MAD outliers: median/MAD fences recompute from sorted raw " +
    "values (interpolated percentile, half-up 6dp)") {
    def pct50(xs: Array[Double]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.length - 1)
      val (lo, g) = (pos.toInt, pos - pos.toInt)
      val v = s(lo) * (1 - g) + (if (g > 0) s(lo + 1) * g else 0.0)
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = StatsOps.madOutliers(spark, sf0001).collect()
    assert(rows.length === raw.map(_._2).distinct.length)
    rows.foreach { r =>
      val vals = raw.filter(_._2 == r.getAs[String]("event_type")).map(_._3)
      val med = pct50(vals)
      assert(r.getAs[Double]("med") === med)
      val d = vals.map(v => math.abs(v - med))
      val mad = pct50(d)
      assert(r.getAs[Double]("mad") === mad)
      assert(r.getAs[Long]("n") === vals.length.toLong)
      assert(r.getAs[Long]("n_out") === d.count(_ > 5 * mad).toLong)
      assert(r.getAs[Long]("n_out") <= vals.length / 10,
        "a robust fence should flag a small minority")
    }
  }

  test("v36b histogram MAD agrees with the exact v36 within one " +
    "bucket of resolution") {
    val exact = StatsOps.madOutliers(spark, sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("med"), r.getAs[Double]("mad"))).toMap
    val rows = StatsOps.madOutliersHistogram(spark, sf0001).collect()
    assert(rows.length === exact.size)
    rows.foreach { r =>
      val (med, mad) = exact(r.getAs[String]("event_type"))
      // the bucket median brackets the interpolated one
      assert(math.abs(r.getAs[Long]("med_b") - med) <= 1.0, r.toString)
      assert(math.abs(r.getAs[Long]("mad_b") - mad) <= 1.0, r.toString)
      assert(r.getAs[Long]("n_out") <= r.getAs[Long]("n") / 10)
    }
  }

  test("w11 trend: slopes recompute from exact rational least squares " +
    "over the zero-filled day frame") {
    val rows = StatsOps.trend(spark, sf0001).collect()
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val days = (0L until 30L).map { x =>
        val mine = raw.filter(e => e._2 == t && (e._1 - Start) / 86400 == x)
        val yv = mine.map(e => BigDecimal(e._3).setScale(6,
          BigDecimal.RoundingMode.HALF_UP) * 1000000).map(_.toLongExact).sum
        (x, mine.length.toLong, yv)
      }
      val n = days.length.toLong
      val sx = days.map(_._1).sum
      val sxx = days.map(x => x._1 * x._1).sum
      val syn = days.map(_._2).sum
      val sxyn = days.map(x => x._1 * x._2).sum
      val syv = days.map(_._3).sum
      val sxyv = days.map(x => x._1 * x._3).sum
      val den = n * sxx - sx * sx
      def sdiv(num: Long, d: Long): Long =
        if (num < 0) -((-num + d / 2) / d) else (num + d / 2) / d
      assert(r.getAs[Long]("n_days") === n)
      assert(r.getAs[Long]("total_n") === syn)
      assert(r.getAs[Double]("slope_n") ===
        sdiv((n * sxyn - sx * syn) * 1000000L, den).toDouble / 1e6)
      assert(r.getAs[Double]("intercept_n") ===
        sdiv((syn * sxx - sx * sxyn) * 1000000L, den).toDouble / 1e6)
      assert(r.getAs[Double]("slope_value") ===
        sdiv(n * sxyv - sx * syv, den).toDouble / 1e6)
    }
  }

  test("w13 cube: every grouping set reconciles with the leaf level") {
    val rows = graft.operators.OlapOps.cubeAgg(spark, sf0001).collect()
    val byGid = rows.groupBy(_.getAs[Int]("gid"))
    assert(byGid.keySet === Set(0, 1, 2, 3))
    val leaf = byGid(0)
    val total = byGid(3)
    assert(total.length === 1)
    assert(total.head.getAs[Long]("n") === leaf.map(_.getAs[Long]("n")).sum)
    assert(total.head.getAs[Long]("n") === raw.length.toLong)
    // per-type subtotals (gid=1: day grouped out) re-aggregate the leaf
    byGid(1).foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.get(rows.head.fieldIndex("day")) == null)
      assert(r.getAs[Long]("n") ===
        leaf.filter(_.getAs[String]("event_type") == t)
          .map(_.getAs[Long]("n")).sum)
    }
    // per-day subtotals (gid=2: type grouped out) likewise
    byGid(2).foreach { r =>
      val d = r.getAs[Long]("day")
      assert(r.getAs[String]("event_type") == null)
      assert(r.getAs[Long]("n") ===
        leaf.filter(_.getAs[Long]("day") == d).map(_.getAs[Long]("n")).sum)
    }
  }

  test("v39 embedding drift: centroid cosine and L1 shift recompute " +
    "from raw vectors in integer micro space") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getAs[Number]("vec_id").longValue,
        r.getAs[Number]("label").longValue,
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def microMean(xs: Array[Double]): Long = {
      val s = xs.map(x => (BigDecimal(x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact).sum
      (s + xs.length / 2) / xs.length
    }
    val rows = graft.sim.SimilarityOps.embeddingDrift(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val l = r.getAs[Number]("label").longValue
      val a = vecs.filter(v => v._2 == l && v._1 % 2 == 0)
      val b = vecs.filter(v => v._2 == l && v._1 % 2 == 1)
      assert(r.getAs[Long]("n_a") === a.length.toLong)
      assert(r.getAs[Long]("n_b") === b.length.toLong)
      val dims = a.head._3.indices
      val am = dims.map(d => microMean(a.map(_._3(d)))).toArray
      val bm = dims.map(d => microMean(b.map(_._3(d)))).toArray
      val l1 = dims.map(d => math.abs(am(d) - bm(d))).sum
      assert(r.getAs[Double]("l1_shift") === l1.toDouble / 1e6)
      val dab = dims.map(d => am(d) * bm(d)).sum
      val daa = dims.map(d => am(d) * am(d)).sum
      val dbb = dims.map(d => bm(d) * bm(d)).sum
      val cos = BigDecimal(dab.toDouble /
        (math.sqrt(daa.toDouble) * math.sqrt(dbb.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("centroid_cos") === cos)
      assert(math.abs(r.getAs[Double]("centroid_cos")) <= 1.000001)
    }
  }

  test("w17 outage windows recompute from a raw empty-hour walk with " +
    "earliest-wins tie-break") {
    val rows = StatsOps.outageWindows(spark, sf0001).collect()
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val occupied = raw.filter(_._2 == t)
        .map(e => (e._1 - Start) / 3600).toSet
      val empties = (0L until 720L).filterNot(occupied)
      assert(r.getAs[Long]("n_empty_hours") === empties.length.toLong)
      // walk the runs
      var runs = List.empty[(Long, Long)] // (start, len)
      empties.foreach { h =>
        runs = runs match {
          case (s, l) :: rest if s + l == h => (s, l + 1) :: rest
          case _ => (h, 1L) :: runs
        }
      }
      assert(r.getAs[Long]("n_gaps") === runs.length.toLong)
      if (runs.nonEmpty) {
        val maxLen = runs.map(_._2).max
        val start = runs.filter(_._2 == maxLen).map(_._1).min
        assert(r.getAs[Long]("max_gap_hours") === maxLen)
        assert(r.getAs[Long]("max_gap_start_s") === Start + start * 3600)
      } else {
        assert(r.getAs[Long]("max_gap_hours") === 0L)
        assert(r.getAs[Long]("max_gap_start_s") === -1L)
      }
    }
    // sf0.001 is sparse enough that real gaps exist
    assert(rows.exists(_.getAs[Long]("max_gap_hours") >= 2))
  }

  test("u8 concentration: deciles partition all users, shares sum to " +
    "1, and the cumulative share is monotone from the top") {
    val rows = StatsOps.concentration(spark, sf0001).collect()
      .sortBy(_.getAs[Int]("decile"))
    val byUser = Tables.events(spark, sf0001)
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_.getAs[Long]("n_users")).sum === byUser.length.toLong)
    assert(rows.map(_.getAs[Long]("n_events")).sum ===
      byUser.map(_._2).sum)
    val shares = rows.map(_.getAs[Double]("event_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-5)
    // per-user event counts are non-decreasing across deciles
    // (fence assignment orders buckets by activity)
    val avg = rows.map(r => r.getAs[Long]("n_events").toDouble /
      r.getAs[Long]("n_users"))
    avg.sliding(2).foreach { case Array(a, b) => assert(a <= b + 1e-9)
      case _ => }
    // top-down cumulative share: decreasing decile -> increasing cum,
    // ending at 1 for decile 0's row
    assert(rows.head.getAs[Double]("top_cum_share") === 1.0)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Double]("top_cum_share") >=
        hi.getAs[Double]("top_cum_share"))
      case _ => }
  }

  test("w16 weekday profile recomputes from raw rows with integer " +
    "calendar arithmetic (day 0 = Monday) and shares sum to ~1") {
    val rows = StatsOps.weekdayProfile(spark, sf0001).collect()
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val dow = r.getAs[Long]("dow")
      val mine = raw.filter(e =>
        e._2 == t && ((e._1 - Start) / 86400) % 7 == dow)
      val all = raw.count(_._2 == t).toLong
      assert(r.getAs[Long]("n") === mine.length.toLong, s"$t dow $dow")
      val microSum = mine.map(e => (BigDecimal(e._3).setScale(6,
        BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact).sum
      val n = mine.length.toLong
      assert(r.getAs[Double]("avg_v") ===
        ((microSum + n / 2) / n).toDouble / 1e6)
      assert(r.getAs[Double]("week_share") ===
        ((n * 1000000L + all / 2) / all).toDouble / 1e6)
    }
    // per type, seven weekday rows whose shares sum to 1 +- rounding
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (t, rs) =>
      assert(rs.length === 7, t)
      val s = rs.map(_.getAs[Double]("week_share")).sum
      assert(math.abs(s - 1.0) < 1e-5, s"$t shares sum to $s")
    }
  }

  test("w14 EMA recomputes from the raw daily series with the exact " +
    "floor recurrence") {
    val rows = StatsOps.emaSeries(spark, sf0001).collect()
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val days = (0L until 30L).map(x =>
        raw.count(e => e._2 == t && (e._1 - Start) / 86400 == x).toLong)
      val ema = days.foldLeft(0L)((acc, y) => (acc * 3 + y * 1000000L) / 4)
      assert(r.getAs[Long]("total_n") === days.sum)
      assert(r.getAs[Long]("last_n") === days.last)
      assert(r.getAs[Double]("ema") === ema.toDouble / 1e6)
      // EMA is a convex-ish combination of history: bounded by the max
      assert(r.getAs[Double]("ema") <= days.max.toDouble)
    }
  }

  test("w12 gap-fill: dense grid, labels partition the series, and " +
    "every interpolated value sits between its neighbors") {
    val rows = StatsOps.gapFill(spark, sf0001).collect()
    val types = raw.map(_._2).distinct
    assert(rows.length === types.length * 720)
    types.foreach { t =>
      val series = rows.filter(_.getAs[String]("event_type") == t)
        .sortBy(_.getAs[Long]("bucket_s"))
      // dense hourly grid over the month
      assert(series.length === 720)
      assert(series.head.getAs[Long]("bucket_s") === Start)
      assert(series.map(_.getAs[Long]("bucket_s")).toSeq ===
        (0 until 720).map(Start + _ * 3600L))
      series.foreach { r =>
        val src = r.getAs[String]("src")
        if (r.getAs[Long]("n") > 0) assert(src === "obs")
        else assert(src != "obs")
      }
      // bfill rows are exactly the prefix before the first observation,
      // ffill rows the suffix after the last
      val firstObs = series.indexWhere(_.getAs[String]("src") == "obs")
      val lastObs = series.lastIndexWhere(_.getAs[String]("src") == "obs")
      assert(firstObs >= 0)
      series.zipWithIndex.foreach { case (r, i) =>
        val src = r.getAs[String]("src")
        if (i < firstObs) assert(src === "bfill")
        else if (i > lastObs) assert(src === "ffill")
        else if (r.getAs[Long]("n") == 0) assert(src === "interp" ||
          src === "ffill", s"mid-series gap at $i labeled $src")
      }
      // every gap value lies within [min, max] of its two neighbors
      val obsIdx = series.zipWithIndex
        .filter(_._1.getAs[String]("src") == "obs").map(_._2)
      series.zipWithIndex.foreach { case (r, i) =>
        if (r.getAs[String]("src") == "interp") {
          val prev = obsIdx.filter(_ < i).max
          val next = obsIdx.filter(_ > i).min
          val (pv, nv) = (series(prev).getAs[Double]("value6"),
            series(next).getAs[Double]("value6"))
          val v = r.getAs[Double]("value6")
          assert(v >= math.min(pv, nv) - 1e-6 &&
            v <= math.max(pv, nv) + 1e-6, s"interp out of bounds at $i")
        }
      }
      // edge carries: bfill equals first observed value, ffill the last
      if (firstObs > 0)
        assert(series(0).getAs[Double]("value6") ===
          series(firstObs).getAs[Double]("value6"))
      if (lastObs < 719)
        assert(series(719).getAs[Double]("value6") ===
          series(lastObs).getAs[Double]("value6"))
    }
  }

  test("w20 A/B: stats recompute from a local walk, and a PLANTED arm " +
      "effect flips significance while random assignment stays null") {
    import spark.implicits._
    // arm assignment replicated locally (md5 parity, v28 convention)
    def arm(uid: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab$uid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 2), 16) % 2 == 0) "A" else "B"
    }
    // planted effect: B users' values shifted +50 -> t must cross 1.96
    val tmp = SparkSpec.tempDir("graft-ab")
    val ts0 = java.time.LocalDateTime.ofEpochSecond(
      EventWindow.StartS + 3600, 0, java.time.ZoneOffset.UTC)
    val rows = (1L to 400L).flatMap { uid =>
      val base = (uid % 7).toDouble
      val eff = if (arm(uid) == "B") 50.0 else 0.0
      Seq.tabulate(5)(i => (uid * 10 + i, ts0.plusMinutes(uid), uid,
        "view", base + eff + i, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = StatsOps.abTest(spark, tmp).collect()(0)
    assert(planted.getAs[Boolean]("significant"),
      s"planted +50 shift must be significant: $planted")
    assert(planted.getAs[Double]("mean_b") - planted.getAs[Double]("mean_a")
      > 40.0, "B mean carries the planted effect")
    // real fixture: random split, no effect -> not significant; and the
    // per-arm stats equal a local recompute in the same integer space
    val r = StatsOps.abTest(spark, sf0001).collect()(0)
    assert(!r.getAs[Boolean]("significant"))
    val perUser = Tables.events(spark, sf0001)
      .select(col("user_id"), col("value")).collect()
      .map(x => (x.getLong(0), x.getDouble(1)))
      .groupBy(_._1).toSeq.map { case (uid, xs) =>
        (arm(uid),
          xs.map(v => BigDecimal(v._2).setScale(6,
            BigDecimal.RoundingMode.HALF_UP) * 1000000).map(_.toLong).sum)
      }.toSeq
    def stats(a: String): (Long, Long, Long) = {
      val xs = perUser.filter(_._1 == a).map(_._2)
      val n = BigInt(xs.length)
      val sx = xs.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * BigInt(x)).sum
      val mean6 = ((sx * 2 + n) / (n * 2)).toLong
      val num = n * sxx - sx * sx
      val den = n * (n - 1) * 1000000
      val var6 = ((num * 2 + den) / (den * 2)).toLong
      (n.toLong, mean6, var6)
    }
    val (na, ma6, va6) = stats("A"); val (nb, mb6, vb6) = stats("B")
    assert(r.getAs[Long]("n_a") === na && r.getAs[Long]("n_b") === nb)
    assert(r.getAs[Double]("mean_a") === ma6.toDouble / 1e6)
    assert(r.getAs[Double]("mean_b") === mb6.toDouble / 1e6)
    assert(r.getAs[Double]("var_a") === va6.toDouble / 1e6)
    assert(r.getAs[Double]("var_b") === vb6.toDouble / 1e6)
  }

  test("w24 group-sequential: look 6 IS w20's fixed-horizon readout, " +
    "enrollment is monotone, and a planted late-onset effect crosses " +
    "late looks only") {
    import spark.implicits._
    val rows = StatsOps.groupSequential(spark, sf0001).collect()
      .sortBy(_.getAs[Int]("look"))
    assert(rows.map(_.getAs[Int]("look")).toSeq === (1 to 6))
    val na = rows.map(_.getAs[Long]("n_a"))
    val nb = rows.map(_.getAs[Long]("n_b"))
    assert(na.toSeq === na.sorted.toSeq, "A enrollment must be monotone")
    assert(nb.toSeq === nb.sorted.toSeq, "B enrollment must be monotone")
    // the final look covers the whole window: its z and arm sizes must
    // equal the fixed-horizon w20 readout bit for bit
    val w20r = StatsOps.abTest(spark, sf0001).collect()(0)
    val last = rows.last
    assert(last.getAs[Long]("n_a") === w20r.getAs[Long]("n_a"))
    assert(last.getAs[Long]("n_b") === w20r.getAs[Long]("n_b"))
    assert(last.getAs[Double]("welch_z") === w20r.getAs[Double]("welch_t"))
    assert(math.abs(last.getAs[Double]("diff") -
      (w20r.getAs[Double]("mean_a") - w20r.getAs[Double]("mean_b")))
      < 1e-6, "look-6 diff must be w20's mean gap at micro resolution")
    // planted late-onset effect: B's events gain +200 only from day 15
    // on; looks 1-3 (days 5/10/15) see none of it, the final look must
    // cross the Pocock boundary
    def arm(uid: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab$uid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 2), 16) % 2 == 0) "A" else "B"
    }
    val tmp = SparkSpec.tempDir("graft-gs")
    val days = Seq(3L, 9L, 16L, 21L, 27L)
    val evRows = (1L to 400L).flatMap { uid =>
      days.zipWithIndex.map { case (day, i) =>
        val ts = java.time.LocalDateTime.ofEpochSecond(
          EventWindow.StartS + day * 86400L + uid, 0,
          java.time.ZoneOffset.UTC)
        val eff = if (arm(uid) == "B" && day >= 15) 200.0 else 0.0
        (uid * 10 + i, ts, uid, "view", (uid % 7).toDouble + eff + i, "{}")
      }
    }
    evRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = StatsOps.groupSequential(spark, tmp).collect()
      .sortBy(_.getAs[Int]("look"))
    assert(!planted(0).getAs[Boolean]("crossed"), planted.mkString(", "))
    assert(!planted(1).getAs[Boolean]("crossed"), planted.mkString(", "))
    assert(!planted(2).getAs[Boolean]("crossed"), planted.mkString(", "))
    assert(planted(5).getAs[Boolean]("crossed"), planted.mkString(", "))
  }

  test("st22 streaming group-sequential equals the batch w24 readout " +
    "row-for-row (finite stream == batch per-user statistics)") {
    val streamed = StatsOps.streamingGroupSequential(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val batch = StatsOps.groupSequential(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("w23 Mann-Whitney: every column recomputes from a local " +
    "tie-group walk, and a planted shift flips significance with CLES " +
    "near zero while the random split stays null") {
    import spark.implicits._
    def arm(uid: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab$uid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 2), 16) % 2 == 0) "A" else "B"
    }
    // local replay of the doubled tie-group rank-sum in BigInt
    def local(rows: Seq[(Long, Double)]): (Long, Long, Double, Double, Boolean) = {
      val perUser = rows.groupBy(_._1).toSeq.map { case (uid, xs) =>
        (arm(uid),
          xs.map(v => (BigDecimal(v._2).setScale(6,
            BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong).sum)
      }
      val byVal = perUser.groupBy(_._2).toSeq.sortBy(_._1).map {
        case (xm, g) =>
          (xm, g.count(_._1 == "A").toLong, g.count(_._1 == "B").toLong)
      }
      var c = BigInt(0); var r2a = BigInt(0); var tu = BigInt(0)
      byVal.foreach { case (_, na, nb) =>
        val t = BigInt(na + nb)
        r2a += BigInt(na) * (2 * c + t + 1)
        tu += t * t * t - t
        c += t
      }
      val nA = perUser.count(_._1 == "A").toLong
      val nB = perUser.count(_._1 == "B").toLong
      val u2a = r2a - BigInt(nA) * BigInt(nA + 1)
      val den = BigInt(nA) * BigInt(nB) * 2
      val cles = ((u2a * 2000000 + den) / (den * 2)).toDouble / 1e6
      val nD = (nA + nB).toDouble
      val z = (u2a.toDouble - nA.toDouble * nB.toDouble) /
        (2.0 * math.sqrt(nA.toDouble * nB.toDouble / 12.0 *
          ((nD + 1.0) - tu.toDouble / (nD * (nD - 1.0)))))
      (nA, nB, cles, z, math.abs(z) > 1.96)
    }
    // planted: B users' masses shifted far above A's -> significant,
    // CLES (P[A beats B]) collapses toward 0; heavy ties by design
    // (base = uid % 7) exercise the tie-correction path
    val tmp = SparkSpec.tempDir("graft-mw")
    val ts0 = java.time.LocalDateTime.ofEpochSecond(
      EventWindow.StartS + 3600, 0, java.time.ZoneOffset.UTC)
    val rows = (1L to 400L).flatMap { uid =>
      val base = (uid % 7).toDouble
      val eff = if (arm(uid) == "B") 50.0 else 0.0
      Seq.tabulate(5)(i => (uid * 10 + i, ts0.plusMinutes(uid), uid,
        "view", base + eff + i, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = StatsOps.mannWhitney(spark, tmp).collect()(0)
    assert(planted.getAs[Boolean]("significant"), s"planted: $planted")
    assert(planted.getAs[Double]("cles") < 0.1, s"planted: $planted")
    val (pna, pnb, pcles, pz, psig) =
      local(rows.map(r => (r._3, r._5)))
    assert(planted.getAs[Long]("n_a") === pna)
    assert(planted.getAs[Long]("n_b") === pnb)
    assert(planted.getAs[Double]("cles") === pcles)
    assert(planted.getAs[Double]("mw_z") ===
      BigDecimal(pz).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(planted.getAs[Boolean]("significant") === psig)
    // real fixture: random split -> null result, and exact agreement
    // with the local walk
    val r = StatsOps.mannWhitney(spark, sf0001).collect()(0)
    assert(!r.getAs[Boolean]("significant"))
    val fixture = Tables.events(spark, sf0001)
      .select(col("user_id"), col("value")).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val (na, nb, cles, z, sig) = local(fixture)
    assert(r.getAs[Long]("n_a") === na && r.getAs[Long]("n_b") === nb)
    assert(r.getAs[Double]("cles") === cles)
    assert(r.getAs[Double]("mw_z") ===
      BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Boolean]("significant") === sig)
  }

  test("w22 CUPED: every column recomputes from a local BigInt walk, " +
    "and a planted pre/post correlation yields high variance reduction") {
    import spark.implicits._
    def arm(uid: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab$uid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 2), 16) % 2 == 0) "A" else "B"
    }
    val cut = EventWindow.StartS + 15L * 86400L
    // local recompute on the fixture
    val perUser = Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts_s"), col("value")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .groupBy(_._1).toSeq.map { case (uid, xs) =>
        def mass(f: Long => Boolean): Long = xs.filter(e => f(e._2))
          .map(v => (BigDecimal(v._3).setScale(6,
            BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong).sum
        (arm(uid), mass(_ < cut), mass(_ >= cut))
      }
    val n = BigInt(perUser.size)
    val sc = perUser.map(u => BigInt(u._2)).sum
    val sx = perUser.map(u => BigInt(u._3)).sum
    val scc = perUser.map(u => BigInt(u._2) * BigInt(u._2)).sum
    val scx = perUser.map(u => BigInt(u._2) * BigInt(u._3)).sum
    val sxx = perUser.map(u => BigInt(u._3) * BigInt(u._3)).sum
    val covN = n * scx - sc * sx
    val varcN = n * scc - sc * sc
    val varxN = n * sxx - sx * sx
    def sdr(num: BigInt, den: BigInt): BigInt =
      if (num < 0) -((-num + den / 2) / den) else (num + den / 2) / den
    val theta = sdr(covN * 1000000, varcN)
    def ddr(num: BigInt, den: BigInt): BigInt = (num * 2 + den) / (den * 2)
    val mcAll = ddr(sc, n)
    def armStats(a: String): (BigInt, BigInt, BigInt) = {
      val us = perUser.filter(_._1 == a)
      (BigInt(us.size), us.map(u => BigInt(u._2)).sum,
        us.map(u => BigInt(u._3)).sum)
    }
    val (na, scaA, sxaA) = armStats("A")
    val (nb, scbB, sxbB) = armStats("B")
    def adjusted(nA: BigInt, scA: BigInt, sxA: BigInt): BigInt =
      ddr(sxA, nA) - sdr(theta * (ddr(scA, nA) - mcAll), BigInt(1000000))
    val r = StatsOps.cupedAbTest(spark, sf0001).collect()(0)
    assert(r.getLong(0) === na.toLong && r.getLong(1) === nb.toLong)
    assert(r.getDouble(2) === theta.toDouble / 1e6, "theta")
    assert(r.getDouble(3) ===
      (ddr(sxaA, na) - ddr(sxbB, nb)).toDouble / 1e6, "diff_raw")
    assert(r.getDouble(4) ===
      (adjusted(na, scaA, sxaA) - adjusted(nb, scbB, sxbB)).toDouble / 1e6,
      "diff_cuped")
    val rho2 = BigDecimal((covN.toDouble / varcN.toDouble) *
      (covN.toDouble / varxN.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) === rho2, "var_reduction")
    // planted correlation: post ~ pre per user => CUPED removes most
    // outcome variance
    val tmp = SparkSpec.tempDir("graft-cuped")
    val pre0 = java.time.LocalDateTime.ofEpochSecond(
      EventWindow.StartS + 3600, 0, java.time.ZoneOffset.UTC)
    val post0 = java.time.LocalDateTime.ofEpochSecond(
      cut + 3600, 0, java.time.ZoneOffset.UTC)
    val rows = (1L to 300L).flatMap { uid =>
      val base = (uid % 50).toDouble * 10
      val noise = (uid % 7).toDouble
      Seq((uid * 10, pre0.plusMinutes(uid), uid, "view", base, "{}"),
        (uid * 10 + 1, post0.plusMinutes(uid), uid, "view",
          base + noise, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = StatsOps.cupedAbTest(spark, tmp).collect()(0)
    assert(planted.getDouble(5) > 0.8,
      s"planted correlation must yield high variance reduction: $planted")
  }

  test("w27 power analysis reconciles with w20's published moments") {
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ab = StatsOps.abTest(spark, sf0001).collect()(0)
    val (na, nb) = (ab.getAs[Long]("n_a"), ab.getAs[Long]("n_b"))
    val (ma, va, vb) = (ab.getAs[Double]("mean_a"),
      ab.getAs[Double]("var_a"), ab.getAs[Double]("var_b"))
    val se = math.sqrt(va / na + vb / nb)
    val r = StatsOps.powerAnalysis(spark, sf0001).collect()(0)
    assert(r.getAs[Long]("n_a") === na)
    assert(r.getAs[Long]("n_b") === nb)
    assert(r.getAs[Double]("se") === r6(se))
    assert(r.getAs[Double]("mde_abs") === r6(2.8 * se))
    assert(r.getAs[Double]("mde_rel") === r6(2.8 * se / ma))
    assert(r.getAs[Long]("n_per_arm_5pct") ===
      math.ceil(2.8 * 2.8 * (va + vb) / ((0.05 * ma) * (0.05 * ma)))
        .toLong)
    assert(r.getAs[Double]("se") > 0.0)
    assert(r.getAs[Long]("n_per_arm_5pct") > 0L)
  }

  test("st26 streaming CUSUM equals the batch monitor row-for-row") {
    val stream = StatsOps.streamingCusum(spark, sf0001).collect()
    val batch = StatsOps.cusumMonitor(spark, sf0001).collect()
    assert(stream.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    assert(stream.nonEmpty)
  }

  test("w26 CUSUM: every row replays the recursive definition locally, " +
    "and a planted level shift alarms while a stable feed never does") {
    import spark.implicits._
    // local recursive replay on the real feed
    val raw = Tables.events(spark, sf0001)
      .select(col("event_type"),
        Exact.intDiv(col("ts_s") - EventWindow.StartS,
          lit(86400L)).as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val types = raw.map(_._1).distinct.sorted
    val rows = StatsOps.cusumMonitor(spark, sf0001).collect()
    assert(rows.length === types.length * 9)
    types.foreach { t =>
      val s21 = raw.count(e => e._1 == t && e._2 < 21).toLong
      var cUp = 0L
      var cDn = 0L
      (21L to 29L).foreach { d =>
        val x = raw.count(e => e._1 == t && e._2 == d).toLong
        cUp = math.max(0L, cUp + x * 84L - s21 * 5L)
        cDn = math.max(0L, cDn + s21 * 3L - x * 84L)
        val r = rows.find(r =>
          r.getString(0) == t && r.getLong(1) == d).get
        assert(r.getAs[Long]("c_up") === cUp, s"$t day $d")
        assert(r.getAs[Long]("c_dn") === cDn, s"$t day $d")
        assert(r.getAs[Boolean]("alarm_up") ===
          (cUp >= s21 * 8L && cUp > 0L))
        assert(r.getAs[Boolean]("alarm_dn") ===
          (cDn >= s21 * 8L && cDn > 0L))
      }
    }
    // detection: a +100% shift from day 25 must alarm up; the stable
    // twin must stay silent both directions; a type with NO baseline
    // alarms up from its first observation onward, never before, and
    // never down (the s21=0 threshold-0 edge — review finding)
    val plantedE =
      (0L until 30L).flatMap(d => Seq.fill(100)(("stable", d))) ++
      (0L until 25L).flatMap(d => Seq.fill(100)(("shifted", d))) ++
      (25L until 30L).flatMap(d => Seq.fill(200)(("shifted", d))) ++
      (26L until 30L).flatMap(d => Seq.fill(50)(("newfeed", d)))
    val out = StatsOps.cusumOf(spark,
      plantedE.toDF("event_type", "day")).collect()
    assert(out.filter(_.getString(0) == "shifted")
      .exists(_.getAs[Boolean]("alarm_up")))
    out.filter(_.getString(0) == "stable").foreach { r =>
      assert(!r.getAs[Boolean]("alarm_up") &&
        !r.getAs[Boolean]("alarm_dn"), r.toString)
    }
    out.filter(_.getString(0) == "newfeed").foreach { r =>
      assert(r.getAs[Boolean]("alarm_up") === (r.getLong(1) >= 26L),
        r.toString)
      assert(!r.getAs[Boolean]("alarm_dn"), r.toString)
    }
  }
}
