package graft

import graft.operators.{EventOps, GraphOps, SeriesOps, SessionOps, SpanNativeOps}
import graft.nlp.{MixOps, TextOps}
import graft.spans.TraceService
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The second round-4 extension block: t21 spike detection, v26
  * winsorization, v27 rare-bigram gate, v28 hash split, v29 PageRank,
  * u5 critical path. The driver oracle pins each entry's end-to-end
  * result; these tests pin the semantics the oracle can't see —
  * invariants, handcrafted-tree geometry, and the cycle guard.
  */
class AnalyticsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("t21 trailing stats recompute row-for-row from the series " +
    "itself, on CALENDAR windows") {
    val rows = SeriesOps.anomalySeries(spark, sf0001)
      .select("day_s", "n", "trail_n", "trail_sum", "is_spike").collect()
    val series = rows.map(r => r.getLong(0) -> r.getLong(1))
    rows.foreach { r =>
      val d = r.getLong(0)
      // the six calendar days before d — NOT the six preceding rows
      val win = series.filter { case (dd, _) =>
        dd >= d - 6 * 86400 && dd <= d - 86400
      }.map(_._2)
      assert(r.getLong(2) === win.length, s"trail_n at $d")
      assert(r.getLong(3) === win.sum, s"trail_sum at $d")
      val expect = win.nonEmpty && r.getLong(1) * win.length > 2 * win.sum
      assert(r.getInt(4) === (if (expect) 1 else 0), s"is_spike at $d")
    }
    assert(rows.head.getInt(4) === 0) // no history -> never a spike
  }

  test("v26 winsorized mean sits inside the fences and clip counts " +
    "stay near the 5% tails") {
    val rows = EventOps.winsorize(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
      val n = r.getAs[Long]("n")
      assert(lo <= hi)
      val avg = r.getAs[Double]("avg_wins")
      assert(avg >= lo && avg <= hi, s"mean outside fences: $r")
      // exact p05/p95 fences clip at most ~5% (+1 for interpolation)
      assert(r.getAs[Long]("n_low") <= n / 20 + 1, s"n_low: $r")
      assert(r.getAs[Long]("n_high") <= n / 20 + 1, s"n_high: $r")
    }
  }

  test("v28 split covers every document once with ~80/10/10 shares") {
    val rows = MixOps.hashSplit(spark, sf0001).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(total === nDocs) // disjoint + exhaustive
    val byName = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val train = byName("train").toDouble / nDocs
    assert(train > 0.7 && train < 0.9, s"train share $train")
    assert(byName.keySet === Set("train", "val", "test"))
  }

  test("v28 assignment is per-document stable under corpus subsetting") {
    // the split of doc_id d depends only on d: recompute on a halved
    // corpus and the common groups' min/max doc ids cannot move in a
    // way that crosses splits — verify via the raw bucket expression
    val b = (id: Long) => Integer.parseInt(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("split" + id)
        .substring(0, 2), 16)
    val full = MixOps.hashSplit(spark, sf0001)
      .select("split", "min_doc").collect()
    full.foreach { r =>
      val expect = b(r.getAs[Long]("min_doc")) match {
        case x if x < 205 => "train"
        case x if x < 230 => "val"
        case _            => "test"
      }
      assert(r.getAs[String]("split") === expect)
    }
  }

  test("v27 rare counts are bounded by bigram counts and match a " +
    "locally recomputed document") {
    val df = TextOps.rareBigrams(spark, sf0001)
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rare") <= r.getAs[Long]("n_bigrams"), r)
    }
    // recompute one doc by hand: its bigram count = words - 1
    val one = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull).orderBy("doc_id").limit(1)
      .select("doc_id", "text").collect().head
    val words = one.getAs[String]("text").toLowerCase.split(" ", -1)
    val got = rows.find(_.getAs[Long]("doc_id") == one.getAs[Long]("doc_id"))
    assert(got.exists(_.getAs[Long]("n_bigrams") == words.length - 1))
  }

  test("v29 pagerank conserves bounded mass and rewards inflow") {
    val rows = GraphOps.pageRank(spark, sf0001).collect()
    val types = Tables.events(spark, sf0001)
      .select("event_type").distinct().count()
    assert(rows.length === types)
    val scale = 1000000000000L
    val total = rows.map(_.getAs[Long]("rank")).sum
    assert(total <= scale) // floor division + dangling leakage only shrink
    // teleport replenishes 0.15 each round, so at least that survives
    // (dangling sinks legitimately leak the rest of their mass)
    assert(total >= scale * 15 / 100)
    val base = scale * 15 / (rows.length * 100)
    rows.foreach { r =>
      assert(r.getAs[Long]("rank") >= base, s"below teleport floor: $r")
    }
    // every child_type of the successor edges receives inflow -> above floor
    val dsts = GraphOps.successorEdges(spark, sf0001)
      .select("child_type").distinct().as[String].collect().toSet
    rows.filter(r => dsts(r.getAs[String]("node"))).foreach { r =>
      assert(r.getAs[Long]("rank") > base, s"no inflow credited: $r")
    }
  }

  test("v29 pagerank driver fast path is bit-identical to the " +
    "distributed loop (round-12 dispatch)") {
    // rebuild the shared inputs exactly as pageRank does
    val edges = GraphOps.successorEdges(spark, sf0001)
      .select(col("parent_type").as("src"), col("child_type").as("dst"),
        col("n_calls").as("w"))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val ew = edges.join(outw, Seq("src"))
      .withColumn("wf", Exact.intDiv(col("w") * 1000000L, col("ow")))
      .localCheckpoint()
    val nodes = Tables.events(spark, sf0001)
      .select(col("event_type").as("node")).distinct()
    val nodesN = nodes.crossJoin(broadcast(
      nodes.agg(count(lit(1)).as("n_nodes")))).localCheckpoint()
    val n = nodesN.limit(1).collect()(0).getLong(1)
    def ranksOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.orderBy("node").collect()
        .map(r => (r.getAs[String]("node"), r.getAs[Long]("rank"))).toSeq
    val fast = ranksOf(GraphOps.pageRankDriver(spark, nodesN, ew, n))
    val dist = ranksOf(GraphOps.pageRankDistributed(nodesN, ew))
    assert(fast === dist)
    assert(fast.nonEmpty)
  }

  test("w10 burn windows recompute on calendar hours and the alert " +
    "implies both thresholds") {
    val rows = SeriesOps.sloBurn(spark, sf0001).collect()
    val series = rows.map(r => r.getLong(0) ->
      ((r.getAs[Long]("n"), r.getAs[Long]("err")))).toMap
    rows.foreach { r =>
      val h = r.getLong(0)
      val win = (0 to 5).flatMap(i => series.get(h - i * 3600))
      assert(r.getAs[Long]("n6") === win.map(_._1).sum, s"n6 at $h")
      assert(r.getAs[Long]("err6") === win.map(_._2).sum, s"err6 at $h")
      val fast = r.getAs[Long]("err") * 1000 > r.getAs[Long]("n") * 144 &&
        r.getAs[Long]("err6") * 100 > r.getAs[Long]("n6") * 6
      assert(r.getAs[Int]("fast_burn") === (if (fast) 1 else 0))
    }
  }

  test("u6 lag stats are ordered and cohorts reconcile with the u3 " +
    "funnel's converted counts") {
    import graft.operators.SessionOps
    val lag = SessionOps.conversionLag(spark, sf0001).collect()
    lag.foreach { r =>
      val (mn, mx) = (r.getAs[Long]("min_lag_s"), r.getAs[Long]("max_lag_s"))
      assert(mn >= 0 && mn <= mx)
      assert(r.getAs[Double]("p50_lag_s") >= mn &&
        r.getAs[Double]("p50_lag_s") <= r.getAs[Double]("p90_lag_s") &&
        r.getAs[Double]("p90_lag_s") <= mx)
      val avg = r.getAs[Long]("avg_lag_s")
      assert(avg >= mn && avg <= mx)
    }
    val funnelConv = SessionOps.funnel(spark, sf0001).collect()
      .map(r => r.getAs[Long]("cohort_day") -> r.getAs[Long]("n_converted"))
      .filter(_._2 > 0).toMap
    val lagConv = lag.map(r =>
      r.getAs[Long]("cohort_day") -> r.getAs[Long]("n_converted")).toMap
    assert(lagConv === funnelConv) // same users, same cohorts
  }

  test("v30 CDF is monotone per type and ends at exactly 1.0") {
    val rows = EventOps.quantileNorm(spark, sf0001).collect()
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("bucket"))
      assert(sorted.last.getAs[Double]("cdf") === 1.0)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("cdf") <= b.getAs[Double]("cdf"))
          assert(a.getAs[Long]("cum") + b.getAs[Long]("n") ===
            b.getAs[Long]("cum"))
        case _ =>
      }
    }
  }

  test("v31 diff classes recompute from the derivation rules") {
    import graft.operators.CdcOps
    val got = CdcOps.snapshotDiff(spark, sf0001).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    val ids = Tables.documents(spark, sf0001)
      .select("doc_id").as[Long].collect()
    assert(got("added") === ids.count(_ % 17 == 0).toLong)
    assert(got("removed") === ids.count(_ % 13 == 0).toLong)
    // changed = uppercase rule fired AND the row survived the delete AND
    // upper() actually changed the text (all-lowercase corpus => it does,
    // unless the text is NULL)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
    val changed = docs.count { r =>
      val id = r.getAs[Long]("doc_id")
      id % 13 != 0 && id % 7 == 0 && r.getAs[String]("text") != null &&
        r.getAs[String]("text").exists(_.isLetter)
    }
    assert(got("changed") === changed.toLong)
    // |old ∪ new|: every old id survives as a row (removed or not), the
    // added ids are fresh negatives
    assert(got.values.sum === ids.length + ids.count(_ % 17 == 0).toLong)
  }

  test("g1 set algebra holds: |A∩B| + |A∖B| = |A| and inclusion-" +
    "exclusion for the union") {
    val e = Tables.events(spark, sf0001)
    def n(t: String) = e.filter(col("event_type") === t)
      .select("user_id").distinct().count()
    val got = EventOps.setOps(spark, sf0001).collect()
      .map(r => r.getAs[String]("set_op") -> r.getAs[Long]("n_users")).toMap
    assert(got("intersect") + got("except") === n("view"))
    assert(got("union") ===
      n("view") + n("purchase") - got("intersect"))
  }

  test("v32 skew profile is internally consistent") {
    val r = EventOps.skewProfile(spark, sf0001).collect().head
    assert(r.getAs[Long]("n_rows") === Tables.events(spark, sf0001).count())
    assert(r.getAs[Long]("max_c") >= r.getAs[Double]("p50_c"))
    val (ms, ts) = (r.getAs[Double]("max_share"), r.getAs[Double]("top10_share"))
    assert(ms > 0 && ms <= ts && ts <= 1.0)
  }

  test("w8 sharded sweep equals the naive single-window running sum") {
    import graft.operators.SessionOps
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sf0001)
    val pts = e.select(col("event_type"), col("ts_us").as("t"),
        lit(1).as("d"), col("event_id"))
      .unionAll(e.select(col("event_type"),
        (col("ts_us") + floor(col("value") * 1000000).cast("long")).as("t"),
        lit(-1).as("d"), col("event_id")))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t"), col("d"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = pts.withColumn("run", sum(col("d")).over(w))
      .groupBy(col("event_type")).agg(max(col("run")).as("m"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("m")).toMap
    val counts = e.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    SessionOps.maxConcurrency(spark, sf0001).collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("max_concurrency") === naive(t), t)
      assert(r.getAs[Long]("n_intervals") === counts(t), t)
    }
  }

  test("v33 chunk geometry: count = ceil(len/stride), full coverage " +
    "with 8-word overlaps, word counts add up") {
    val byDoc = TextOps.chunk(spark, sf0001)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_words").as("tot"),
        max("n_words").as("max_w"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    Tables.documents(spark, sf0001).filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("len"))
      .collect().foreach { d =>
        val (id, len) = (d.getAs[Long]("doc_id"), d.getAs[Int]("len"))
        val r = byDoc(id)
        val expChunks = (len + TextOps.ChunkStride - 1) / TextOps.ChunkStride
        assert(r.getAs[Long]("n_chunks") === expChunks.toLong, s"doc $id")
        assert(r.getAs[Int]("max_w") <= TextOps.ChunkWords)
        // each non-final chunk re-reads the 8-word overlap of its
        // successor's start: total chunk words = len + 8*(full overlaps)
        val overlaps = (0 until expChunks).map { i =>
          val s = i * TextOps.ChunkStride + 1
          math.min(TextOps.ChunkWords, len - s + 1)
        }.sum
        assert(r.getAs[Long]("tot") === overlaps.toLong, s"doc $id")
      }
  }

  test("v34 acceptance tracks the weight: share ≈ mean(value)/512 " +
    "and kept mass is a strict subset") {
    import graft.nlp.MixOps
    val rows = MixOps.importanceSample(spark, sf0001).collect()
    val means = Tables.events(spark, sf0001).groupBy("event_type")
      .agg(avg("value").as("m"), sum("value").as("s"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("m"), r.getAs[Double]("s")))).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val share = r.getAs[Double]("kept_share")
      val expect = means(t)._1 / 512.0
      // ~400 trials per type at sf0.001: allow generous sampling noise
      assert(math.abs(share - expect) < 0.08, s"$t share=$share exp=$expect")
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_total"))
      assert(r.getAs[Double]("kept_mass") <= means(t)._2 + 1e-6)
    }
  }

  test("w9 trigram counts recompute from a local per-user walk") {
    import graft.operators.SessionOps
    val gap = 30L * 60 * 1000 * 1000
    val local = Tables.events(spark, sf0001)
      .select("user_id", "event_type", "ts_us", "event_id").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .flatMap { case (_, rs) =>
        val seq = rs.sortBy(r =>
          (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")))
        seq.sliding(3).collect {
          case Array(a, b, c)
            if b.getAs[Long]("ts_us") - a.getAs[Long]("ts_us") <= gap &&
              c.getAs[Long]("ts_us") - b.getAs[Long]("ts_us") <= gap =>
            Seq(a, b, c).map(_.getAs[String]("event_type")).mkString(">")
        }
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    SessionOps.pathNgrams(spark, sf0001).collect().foreach { r =>
      assert(local(r.getAs[String]("path")) === r.getAs[Long]("n"),
        r.getAs[String]("path"))
    }
  }

  test("u5 BFS depth/critical-path on a handcrafted tree, orphans " +
    "excluded") {
    //      root(10)
    //      /      \
    //   a(5)      b(20)
    //    |
    //   c(100)        orphan(999, parent missing)
    val spans = Seq(
      ("t1", "root", "", 10L), ("t1", "a", "root", 5L),
      ("t1", "b", "root", 20L), ("t1", "c", "a", 100L),
      ("t1", "orphan", "ghost", 999L),
      ("t2", "solo", "", 7L))
      .toDF("trace_id", "span_id", "parent_span_id", "duration_ns")
    val got = new TraceService(spans).spanDepths().collect()
      .map(r => r.getAs[String]("trace_id") ->
        ((r.getAs[Int]("max_depth"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("critical_path_ns")))).toMap
    assert(got("t1") === ((3, 4L, 115L))) // root+a+c, orphan unreached
    assert(got("t2") === ((1, 1L, 7L)))
  }

  test("u5 BFS frontier memory discipline: levels are materialized " +
    "checkpoints, the probe cache is released (v2e discipline)") {
    // deep traces must not accumulate lineage or cache: (1) the result
    // plan reads ONLY materialized level checkpoints — no Join survives,
    // so a replan can never re-execute the BFS; (2) the only storage
    // still pinned after the call is those (depth-bounded) local
    // checkpoints — the per-level probe cache (base.persist) must be
    // unpersisted on exit, success or failure
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LeafNode, LogicalPlan}
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (1 until 24).map(i => ("t1", s"s$i", s"s${i - 1}", 1L))
    val df = new TraceService(
      (("t1", "s0", "", 1L) +: chain)
        .toDF("trace_id", "span_id", "parent_span_id", "duration_ns"))
      .spanDepths()
    val lp: LogicalPlan = df
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    assert(lp.collect { case j: Join => j }.isEmpty,
      s"BFS joins leaked into the final plan:\n$lp")
    val leaves = lp.collect { case l: LeafNode => l }
    assert(leaves.nonEmpty &&
      leaves.forall(_.getClass.getSimpleName == "LogicalRDD"),
      s"expected only checkpointed leaves, got ${leaves.map(_.nodeName)}")
    assert(df.collect().head.getAs[Int]("max_depth") === 24)
    // every rdd newly pinned by the call must BE a local checkpoint —
    // the base cache (plain MEMORY_AND_DISK, not checkpointed) is gone
    def locallyCheckpointed(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
      rdd.getClass.getMethod("isLocallyCheckpointed").invoke(rdd)
        .asInstanceOf[Boolean] // private[spark] in Scala, public in bytecode
    val leaked = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) =>
        !before.contains(id) && !locallyCheckpointed(rdd) }
    assert(leaked.isEmpty,
      s"non-checkpoint storage retained: ${leaked.values.map(_.name)}")
  }

  test("u5 raises on a parent-link cycle instead of spinning") {
    // a 2-cycle DISCONNECTED from any root is simply unreachable:
    // BFS terminates without counting it, no spin
    val disc = new TraceService(Seq(
      ("t1", "root", "", 1L), ("t1", "a", "root", 2L),
      ("t1", "x", "y", 1L), ("t1", "y", "x", 1L))
      .toDF("trace_id", "span_id", "parent_span_id", "duration_ns"))
      .spanDepths().collect()
    assert(disc.head.getAs[Long]("n_spans") === 2L)
    // no root at all -> empty result, no spin
    val noRoot = Seq(("t1", "loop", "root", 1L), ("t1", "root", "loop", 1L))
      .toDF("trace_id", "span_id", "parent_span_id", "duration_ns")
    assert(new TraceService(noRoot).spanDepths().collect().isEmpty)
    // a DUPLICATED span id whose second row parents below itself makes
    // the walk re-reach the root forever — the ceiling must raise
    intercept[IllegalStateException] {
      new TraceService(
        Seq(("t1", "root", "", 1L), ("t1", "a", "root", 1L),
          ("t1", "root", "a", 1L)) // root appears again, under a
          .toDF("trace_id", "span_id", "parent_span_id", "duration_ns"))
        .spanDepths(maxLevels = 4).collect()
    }
    // …but a legitimate acyclic chain of depth EXACTLY maxLevels
    // completes (the ceiling only fires on content beyond it)
    val chain = Seq(("t1", "a", "", 1L), ("t1", "b", "a", 1L),
      ("t1", "c", "b", 1L))
      .toDF("trace_id", "span_id", "parent_span_id", "duration_ns")
    val r = new TraceService(chain).spanDepths(maxLevels = 3).collect()
    assert(r.head.getAs[Int]("max_depth") === 3)
  }

  test("u5 grouped walk ≡ BFS: fixture tree, orphans, duplicate ids, " +
    "null durations, cycle ceiling, auto dispatch") {
    def cmp(svc: TraceService): Unit = {
      val a = svc.spanDepths().collect().map(_.toSeq).toSeq
      val b = svc.spanDepthsGrouped().collect().map(_.toSeq).toSeq
      assert(a === b)
    }
    // the real u5 construction: the synthesized heap tree at sf0.001
    cmp(new TraceService(
      graft.operators.SpanNativeOps.eventsAsTreeSpans(spark, sf0001)))
    // orphans + a second trace
    cmp(new TraceService(Seq(
      ("t1", "root", "", 10L), ("t1", "a", "root", 5L),
      ("t1", "b", "root", 20L), ("t1", "c", "a", 100L),
      ("t1", "orphan", "ghost", 999L), ("t2", "solo", "", 7L))
      .toDF("trace_id", "span_id", "parent_span_id", "duration_ns")))
    // DUPLICATE span id off the root: the BFS join reaches the shared
    // child once per duplicate parent row, with two path sums — the
    // grouped walk must replay that multiplicity (n_spans counts both)
    cmp(new TraceService(Seq(
      ("t1", "root", "", 1L), ("t1", "dup", "root", 2L),
      ("t1", "dup", "root", 30L), ("t1", "leaf", "dup", 400L))
      .toDF("trace_id", "span_id", "parent_span_id", "duration_ns")))
    // null durations null the path sum downstream of them, max skips
    // nulls — both engines
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("trace_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("span_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("parent_span_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("duration_ns",
        org.apache.spark.sql.types.LongType)))
    val withNulls = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("t1", "root", "", null), Row("t1", "a", "root", 5L),
        Row("t2", "r2", "", 3L), Row("t2", "x", "r2", null),
        Row("t2", "y", "x", 8L)),
      schema)
    cmp(new TraceService(withNulls))
    // reachable cycle raises the same ceiling error; unreachable
    // cycles and rootless traces stay silent/empty
    intercept[org.apache.spark.SparkException] {
      new TraceService(
        Seq(("t1", "root", "", 1L), ("t1", "a", "root", 1L),
          ("t1", "root", "a", 1L))
          .toDF("trace_id", "span_id", "parent_span_id", "duration_ns"))
        .spanDepthsGrouped(maxLevels = 4).collect()
    }
    assert(new TraceService(
      Seq(("t1", "loop", "root", 1L), ("t1", "root", "loop", 1L))
        .toDF("trace_id", "span_id", "parent_span_id", "duration_ns"))
      .spanDepthsGrouped().collect().isEmpty)
    // auto dispatch picks the grouped plan (no Join at trace width 1)
    val auto = new TraceService(Seq(("t1", "r", "", 1L))
      .toDF("trace_id", "span_id", "parent_span_id", "duration_ns"))
      .spanDepthsAuto()
    import org.apache.spark.sql.catalyst.plans.logical.Join
    assert(auto.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty)
    assert(auto.collect().head.getAs[Int]("max_depth") === 1)
  }

  test("v42 vocabulary growth recomputes from raw docs and the " +
    "running vocab reconciles") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .filter(_.get(1) != null)
      .map(r => (r.getLong(0), r.getString(1)))
    val words = docs.flatMap { case (id, t) =>
      t.toLowerCase.replaceAll("\\s+", " ").trim
        .split(" ").filter(_.nonEmpty).map(w => (id / 50, w))
    }
    val firstSeen = words.groupBy(_._2).view.mapValues(_.map(_._1).min)
    val rows = graft.nlp.TextOps.vocabGrowth(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("batch")).toSeq ===
      words.map(_._1).distinct.sorted.toSeq)
    var cum = 0L
    rows.foreach { r =>
      val b = r.getAs[Long]("batch")
      val mine = words.filter(_._1 == b)
      assert(r.getAs[Long]("n_tokens") === mine.length.toLong)
      assert(r.getAs[Long]("n_distinct") ===
        mine.map(_._2).distinct.length.toLong)
      val nNew = firstSeen.count(_._2 == b).toLong
      assert(r.getAs[Long]("n_new") === nNew)
      cum += nNew
      assert(r.getAs[Long]("vocab_cum") === cum)
    }
    // the full vocabulary is exactly the last running total
    assert(cum === words.map(_._2).distinct.length.toLong)
  }

  test("v44 OOV rate recomputes from the raw corpus under the " +
    "independently rebuilt top-20 vocab") {
    val docs = Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .filter(_.get(1) != null)
      .map(r => (r.getString(0), r.getString(1)))
    val toks = docs.flatMap { case (s, t) =>
      t.toLowerCase.split(" ", -1).map(s -> _)
    }
    val vocab = toks.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (tok, f) => (-f, tok) }.take(20).map(_._1).toSet
    val rows = graft.nlp.TextOps.oovRate(spark, sf0001).collect()
    assert(rows.length === docs.map(_._1).distinct.length)
    rows.foreach { r =>
      val mine = toks.filter(_._1 == r.getAs[String]("source"))
      val oov = mine.count(t => !vocab.contains(t._2)).toLong
      assert(r.getAs[Long]("n_tokens") === mine.length.toLong)
      assert(r.getAs[Long]("n_oov") === oov)
    }
    // the 50-word vocab genuinely leaves some mass uncovered
    assert(rows.exists(_.getAs[Long]("n_oov") > 0))
  }

  test("w15 stickiness: DAU/WAU recompute from raw (user, day) pairs " +
    "and WAU is never a sum of DAUs") {
    val pairs = Tables.events(spark, sf0001)
      .select(col("user_id"),
        ((expr("ts div 1000000000") - EventWindow.StartS) / 86400)
          .cast("long").as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = SeriesOps.stickiness(spark, sf0001).collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      val d = (r.getAs[Long]("day_s") - EventWindow.StartS) / 86400
      val dau = pairs.count(_._2 == d).toLong
      val wau = pairs.filter(p => p._2 >= d - 6 && p._2 <= d)
        .map(_._1).distinct.length.toLong
      assert(r.getAs[Long]("n_dau") === dau, s"dau at $d")
      assert(r.getAs[Long]("n_wau") === wau, s"wau at $d")
      if (wau > 0)
        assert(r.getAs[Double]("stickiness") ===
          ((dau * 1000000L + wau / 2) / wau).toDouble / 1e6)
      // distincts don't sum: the trailing week has repeat actives
      val dauSum = (d - 6 to d).map(x => pairs.count(_._2 == x)).sum
      if (d >= 6) assert(wau <= dauSum)
    }
    // the corpus genuinely has repeat users (wau < sum of daus somewhere)
    assert(rows.exists { r =>
      val d = (r.getAs[Long]("day_s") - EventWindow.StartS) / 86400
      d >= 6 && r.getAs[Long]("n_wau") <
        (d - 6 to d).map(x => pairs.count(_._2 == x).toLong).sum
    })
  }

  test("u7 attribution recomputes from a per-user session walk") {
    val events = Tables.events(spark, sf0001)
      .select("user_id", "event_id", "event_type", "ts_us", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    val gap = 30L * 60 * 1000 * 1000
    val expect = scala.collection.mutable.Map
      .empty[(String, String), (Long, BigDecimal)]
    events.groupBy(_._1).foreach { case (_, es) =>
      val sorted = es.sortBy(e => (e._4, e._2))
      var entry = ""
      var prev: Option[String] = None
      var lastTs = Long.MinValue
      sorted.foreach { e =>
        if (lastTs == Long.MinValue || e._4 - lastTs > gap) {
          entry = e._3; prev = None
        }
        if (e._3 == "purchase") {
          val k = (entry, prev.getOrElse("direct"))
          val (n, m) = expect.getOrElse(k, (0L, BigDecimal(0)))
          expect(k) = (n + 1, m + BigDecimal(e._5).setScale(6,
            BigDecimal.RoundingMode.HALF_UP))
        }
        prev = Some(e._3)
        lastTs = e._4
      }
    }
    val rows = SessionOps.attribution(spark, sf0001).collect()
    assert(rows.length === expect.size)
    rows.foreach { r =>
      val k = (r.getAs[String]("entry_type"), r.getAs[String]("prev_type"))
      val (n, m) = expect(k)
      assert(r.getAs[Long]("n_purchases") === n, k.toString)
      assert(r.getAs[Double]("purchase_mass") ===
        m.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, k.toString)
    }
    // session-opening purchases exist and are credited to themselves
    assert(expect.keys.exists(_._2 == "direct"))
  }

  test("st14 streaming bigram ledger recomputes from raw docs: " +
    "first-seen batches, occurrence mass, running vocab") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .filter(_.get(1) != null)
      .map(r => (r.getLong(0), r.getString(1)))
    val bigrams = docs.flatMap { case (id, t) =>
      val w = t.toLowerCase.split(" ", -1)
      if (w.length < 2) Nil
      else w.sliding(2).map(p => (id / 50, p(0) + " " + p(1))).toSeq
    }
    val fs = bigrams.groupBy(_._2).view
      .mapValues(os => (os.map(_._1).min, os.length)).toMap
    val rows = graft.streaming.StreamingOps
      .streamingVocabLedger(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("batch")).toSeq ===
      fs.values.map(_._1).toSeq.distinct.sorted)
    var cum = 0L
    rows.foreach { r =>
      val b = r.getAs[Long]("batch")
      val mine = fs.values.filter(_._1 == b)
      assert(r.getAs[Long]("n_new") === mine.size.toLong)
      assert(r.getAs[Long]("occ_new") === mine.map(_._2.toLong).sum)
      cum += mine.size
      assert(r.getAs[Long]("vocab_cum") === cum)
    }
    assert(cum === fs.size.toLong)
    // the curve is genuinely multi-batch on this corpus
    assert(rows.length > 1)
  }

  test("u10 transition probabilities: each from-type's row sums to ~1 " +
    "and counts reconcile with a local per-user walk") {
    val rows = graft.operators.SessionOps.markovTransitions(spark, sf0001)
      .collect()
    // row-normalization: per from_type, p sums to 1 within rounding
    rows.groupBy(_.getString(0)).foreach { case (ft, rs) =>
      val s = rs.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) < 1e-4, s"$ft sums to $s")
    }
    // local reconstruction of the pair counts
    val local = graft.Tables.events(spark, sf0001)
      .select("user_id", "ts_us", "event_id", "event_type").collect()
      .groupBy(_.getLong(0)).values.flatMap { es =>
        val types = es.sortBy(r => (r.getLong(1), r.getLong(2)))
          .map(_.getString(3))
        types.zip(types.drop(1))
      }.toSeq.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      assert(r.getLong(2) ===
        local((r.getString(0), r.getString(1))), r.toString) }
    assert(rows.map(_.getLong(2)).sum === local.values.sum)
  }

  test("u11 cohort matrix: offset-0 cells equal the cohort size and " +
    "no cell exceeds it") {
    val rows = graft.operators.SessionOps.cohortMatrix(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (off, nA, nC) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nA <= nC, r.toString)
      if (off == 0L) assert(nA === nC, s"cohort week incomplete: $r")
    }
    // every cohort has its offset-0 cell (first-activity week is active)
    val cohorts = rows.map(_.getLong(0)).distinct
    val zeroes = rows.filter(_.getLong(1) == 0L).map(_.getLong(0))
    assert(cohorts.sorted.toSeq === zeroes.sorted.toSeq)
  }

  test("u12 bot detection: stats recompute from a local gap walk, a " +
    "planted metronome flags, and a bursty twin does not") {
    val rows = graft.operators.SessionOps.botDetection(spark, sf0001)
      .collect()
    val raw = Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts_us"), col("ts_s"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = raw.groupBy(_._1)
    val want = byUser.flatMap { case (u, es) =>
      val ts = es.sortBy(e => (e._2, e._4)).map(_._3)
      val gaps = ts.sliding(2).map(p => p(1) - p(0)).toSeq
      val (n, sg) = (gaps.length.toLong, gaps.sum)
      if (n >= 5 && sg > 0) {
        val sg2 = gaps.map(g => BigInt(g) * g).sum
        val num = BigInt(n) * sg2 - BigInt(sg) * sg
        val den = BigInt(sg) * sg
        Some(u -> (n, (sg * 1000000L + n / 2) / n,
          ((num * 2000000 + den) / (den * 2)).toLong,
          num * graft.operators.SessionOps.BotCv2Den < den))
      } else None
    }
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (n, mg, cv2m, bot) = want(r.getLong(0))
      assert(r.getAs[Long]("n_gaps") === n)
      assert(r.getAs[Double]("mean_gap_s") === mg.toDouble / 1e6)
      assert(r.getAs[Double]("cv2") === cv2m.toDouble / 1e6)
      assert(r.getAs[Boolean]("is_bot") === bot, s"user ${r.getLong(0)}")
    }
    // detection on a planted frame: user 1 ticks every 30 s exactly
    // (a scheduler), user 2 is bursty
    val burstyGaps = Seq(1L, 50L, 3L, 200L, 7L, 120L, 2L, 400L)
    def tsOf(gaps: Seq[Long]): Seq[Long] = gaps.scanLeft(1000L)(_ + _)
    val planted =
      tsOf(Seq.fill(8)(30L)).zipWithIndex.map { case (t, i) =>
        (i.toLong, t * 1000000L, t, 1L, "click", 0.0, "{}") } ++
      tsOf(burstyGaps).zipWithIndex.map { case (t, i) =>
        (100L + i, t * 1000000L, t, 2L, "click", 0.0, "{}") }
    val pdf = planted.toDF("event_id", "ts_us", "ts_s", "user_id",
      "event_type", "value", "props")
    val out = graft.operators.SessionOps.botDetectionOf(pdf).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("is_bot")).toMap
    assert(out(1L), "the metronome user must flag")
    assert(!out(2L), "the bursty user must not flag")
  }
}
