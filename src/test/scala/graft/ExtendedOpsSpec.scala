package graft

import graft.dedup.DedupOps
import graft.nlp.RankOps
import graft.operators.{CdcOps, OlapOps}
import org.apache.spark.sql.functions._

/** The round-4 extension block: V20 incremental dedup (exact + Bloom
  * runtime-filter twin), V19 BM25 retrieval, V21 repetition gate, W3
  * CDC merge, W4/W5 grouping-sets + pivot. The driver oracle pins each
  * entry's end-to-end result; these tests pin the semantics the oracle
  * can't see — the Bloom candidate path under forced false positives,
  * plan shape, and internal consistency invariants.
  */
class ExtendedOpsSpec extends SparkSpec {
  import spark.implicits._

  private def corpusFrames = {
    // 40 incoming / 60 existing with 15 genuine hash collisions across
    // the split — unlike the testdata (no cross-split dups at test SF),
    // this actually exercises the anti-join removal and, with a starved
    // sketch, the false-positive verify path.
    val ex = (1 to 60).map(i => (i.toLong, "ex", s"h${i % 45}"))
      .toDF("doc_id", "source", "norm_hash")
    val inc = (101 to 140).map { i =>
      val h = if (i <= 115) s"h${i - 101}" else s"new$i" // 15 dups
      (i.toLong, "inc", h)
    }.toDF("doc_id", "source", "norm_hash")
    (inc, ex)
  }

  test("v20b bloom path equals the exact anti-join, including under a " +
    "deliberately starved sketch (high fpp)") {
    val (inc, ex) = corpusFrames
    val exact = DedupOps.newDocsExact(inc, ex).collect().toSeq
    assert(exact.length === 25) // 40 incoming - 15 dups
    val bloom = DedupOps.newDocsBloom(inc, ex).collect().toSeq
    assert(bloom === exact)
    // 8 bits total for 60 keys: nearly every probe is a false positive,
    // so nearly all rows ride the verify join — result must not change.
    val starved = DedupOps.newDocsBloom(inc, ex, expectedItems = 1L)
      .collect().toSeq
    assert(starved === exact)
    // empty ledger (the first-batch case): the aggregate evals to null;
    // everything incoming is new — must not vanish behind a null filter
    val emptyLedger = DedupOps.newDocsBloom(inc, ex.limit(0)).collect()
    assert(emptyLedger.length === 40)
  }

  test("v20b plan probes the bloom filter (might_contain, no UDF)") {
    // the parquet-backed registry entry: a local-relation fixture would
    // be folded away by ConvertToLocalRelation before the plan is cut
    val plan = DedupOps.incrementalDedupBloom(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(2000))
    assert(!plan.toLowerCase.contains("batchevalpython"))
  }

  test("v19 bm25 ranks by descending score with matched-term counts " +
    "bounded by the query size") {
    val rows = RankOps.bm25(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted.reverse))
    assert(rows.forall { r =>
      val n = r.getAs[Long]("n_terms")
      n >= 1 && n <= RankOps.QueryTerms.length
    })
    // every returned doc really contains at least one query term
    val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
    val texts = Tables.documents(spark, sf0001)
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
    assert(texts.forall(r => RankOps.QueryTerms.exists(t =>
      r.getAs[String]("t").split(" ").contains(t))))
  }

  test("v19b stored-index bm25 equals the in-memory form and its probe " +
    "prunes to the query-term hash buckets") {
    val a = RankOps.bm25(spark, sf0001).collect().toSeq
    val b = RankOps.bm25Stored(spark, sf0001).collect().toSeq
    assert(b === a)
    // pruning is the economics of the stored index: the bucket filter
    // must sit INSIDE the scan's PartitionFilters list — a partitioned
    // scan always prints "PartitionFilters: [...]" (even empty), and a
    // non-pushed filter would still mention "bucket" in a Filter node,
    // so assert the list itself is non-empty on bucket
    val plan = RankOps.bm25Stored(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("v19c incrementally-maintained index equals the full rebuild " +
    "and never rebuilds on re-probe") {
    val a = RankOps.bm25(spark, sf0001).collect().toSeq
    val b = RankOps.bm25Incremental(spark, sf0001).collect().toSeq
    assert(b === a)
    // re-probing must reuse the built generations (the build itself
    // require()s that the delta append left base files untouched)
    val path = RankOps.writeIncrementalIndex(spark, sf0001)
    def listing() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/postings"))
        .map(f => (f.getPath, f.length(), f.lastModified())).toSet
    }
    val before = listing()
    val c = RankOps.bm25Incremental(spark, sf0001).collect().toSeq
    assert(c === a)
    assert(listing() === before, "re-probe modified the stored index")
  }

  test("v22b winnowed pairs are a subset of the exact stride-1 pairs " +
    "on the testdata") {
    // holds because no window's doc-count straddles the boilerplate
    // ceiling here (max 4 docs/window, ceiling 100); at the ceiling
    // boundary the paths may legitimately disagree — see the
    // substringDupsWinnowed scaladoc
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val exact = pairSet(DedupOps.substringDups(spark, sf0001, minShared = 1))
    val winnowed = pairSet(
      DedupOps.substringDupsWinnowed(spark, sf0001, minShared = 1))
    assert(winnowed.nonEmpty)
    assert(winnowed.subsetOf(exact),
      s"winnowed-only pairs: ${winnowed.diff(exact).take(5)}")
  }

  test("v22b finds a planted shared span of k+b-1 chars (the winnowing " +
    "guarantee) and selects deterministically") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_winnow_fixture")
    // two docs sharing one 200-char span embedded in distinct noise;
    // a third unrelated doc must not pair with them
    val span = (1 to 40).map(i => s"tok${i % 13}x$i").mkString(" ").take(200)
    def noise(seed: Int) = (1 to 60)
      .map(i => s"n${seed}w${(i * 31 + seed) % 97}").mkString(" ")
    Seq((1L, "s0", s"${noise(1)} $span ${noise(2)}"),
        (2L, "s1", s"${noise(3)} $span ${noise(4)}"),
        (3L, "s2", noise(5)))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = DedupOps.substringDupsWinnowed(spark, dir, minShared = 1)
      .collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(got === Set((1L, 2L)))
    // deterministic: a FRESH plan execution (not the PlanMemo read the
    // registered entry returns) selects the identical fingerprints —
    // this also pins memoized == recomputed
    val again = DedupOps
      .substringDupsWinnowedPlan(spark, dir, minShared = 1)
      .collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(again === got)
  }

  test("v21 repetition metrics stay in their documented ranges and both " +
    "classes are populated on the testdata") {
    val rows = RankOps.repetitionFilter(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val d = r.getAs[Double]("dup_word_ratio")
      val b = r.getAs[Double]("top_bigram_ratio")
      // bigram mass counts words the top bigram TOUCHES: overlapping
      // runs legitimately exceed 1, bounded by 2(nw-1)/nw < 2
      d >= 0.0 && d <= 1.0 && b >= 0.0 && b < 2.0
    })
    val flags = rows.map(_.getAs[Boolean]("repetitive")).toSet
    assert(flags === Set(true, false))
  }

  test("w3 merge applies update/delete/insert with sequence precedence") {
    val out = CdcOps.mergeUpsert(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    val keys = o.select(col("o_orderkey").cast("long")).as[Long].collect().toSet
    val got = out.collect().map(r => r.getAs[Long]("o_orderkey") -> r).toMap
    // deletes: no surviving row for key%17==0 originals
    assert(keys.filter(_ % 17 == 0).forall(k => !got.contains(k)))
    // updates survive (unless deleted) with the update payload
    keys.filter(k => k % 10 == 0 && k % 17 != 0).foreach { k =>
      assert(got(k).getAs[String]("op") === "update")
      assert(got(k).getAs[String]("status") === "U")
    }
    // inserts appear at -key-1 (negative: collision-free against any
    // base keyspace) regardless of the original key's fate
    keys.filter(_ % 23 == 0).foreach { k =>
      assert(got(-k - 1L).getAs[String]("op") === "insert")
    }
    // untouched keys pass through as base rows
    keys.filter(k => k % 10 != 0 && k % 17 != 0).take(50).foreach { k =>
      assert(got(k).getAs[String]("op") === "base")
    }
  }

  test("w6 SCD2 current versions agree with the w3 merge result") {
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("o_orderkey"), col("op"), col("status"))
      .collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[String]("op"),
        r.getAs[String]("status"))).toSet
    val current = keyed(CdcOps.scd2History(spark, sf0001)
      .filter(col("is_current")))
    val merged = keyed(CdcOps.mergeUpsert(spark, sf0001))
    assert(current === merged)
    // deleted keys: history retained, but nothing current
    val hist = CdcOps.scd2History(spark, sf0001).collect()
    val deletedKeys = hist.filter(_.getAs[String]("op") == "delete")
      .map(_.getAs[Long]("o_orderkey")).toSet
    assert(deletedKeys.nonEmpty)
    assert(!hist.exists(r => deletedKeys(r.getAs[Long]("o_orderkey")) &&
      r.getAs[Boolean]("is_current")))
  }

  test("v25 compaction actually reduces the file count to the target") {
    val (frag, compact) =
      graft.operators.LayoutOps.compactionFileCounts(spark, sf0001)
    assert(frag === graft.operators.LayoutOps.FragFiles.toLong)
    assert(compact === graft.operators.LayoutOps.CompactFiles.toLong)
  }

  test("w4 rollup levels are internally consistent") {
    val rows = OlapOps.rollupAgg(spark, sf0001).collect()
    val byGid = rows.groupBy(_.getAs[Int]("gid"))
    assert(byGid.keySet === Set(0, 1, 3))
    val total = byGid(3).map(_.getAs[Long]("n")).sum
    assert(byGid(1).map(_.getAs[Long]("n")).sum === total)
    assert(byGid(0).map(_.getAs[Long]("n")).sum === total)
    assert(total === Tables.lineitem(spark, sf0001).count())
  }

  test("w5 pivot row sums equal the per-day event counts") {
    val rows = OlapOps.pivotCounts(spark, sf0001).collect()
    val want = Tables.events(spark, sf0001)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("n")).toMap
    assert(rows.nonEmpty && rows.length === want.size)
    rows.foreach { r =>
      val sumTypes = OlapOps.EventTypes.map(t => r.getAs[Long](t)).sum
      assert(sumTypes === want(r.getAs[Long]("day")))
    }
  }

  test("w19 incremental agg: equals the full recompute, the boundary " +
      "day merges base+delta contributions, and the delta read carries " +
      "a pushed ts filter (no history rescan)") {
    val dir = "/root/testdata/sf0.001"
    val inc = graft.operators.CdcOps.incrementalAgg(spark, dir)
    val full = graft.Tables.events(spark, dir)
      .groupBy(graft.Exact.intDiv(col("ts_s") - graft.EventWindow.StartS,
        lit(86400L)).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Exact.microSum(col("value")).as("value_micro"))
      .orderBy(col("day"), col("event_type"))
    assert(inc.collect().toSeq === full.collect().toSeq,
      "incremental merge == full recompute")
    // the mid-day cutoff (day 23 relative) must draw from BOTH sides
    val boundaryBase = spark.read.parquet(
      graft.operators.CdcOps.writeBaseAgg(spark, dir))
      .filter(col("day") === 23).agg(sum("n")).collect()(0).getLong(0)
    val boundaryFull = full.filter(col("day") === 23)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(boundaryBase > 0 && boundaryFull > boundaryBase,
      s"day 23 must merge: base=$boundaryBase full=$boundaryFull")
    // the delta scan prunes at the reader: physical-column ts predicate
    val deltaPlan = graft.Tables.eventsFrom(spark, dir,
      graft.operators.CdcOps.IncAggCutoffS)
      .queryExecution.executedPlan.toString
    assert(deltaPlan.contains("PushedFilters: [IsNotNull(ts), " +
      "GreaterThanOrEqual(ts,"), deltaPlan)
  }

  test("v70 erasure downdate: equals the surviving-user recompute, the " +
      "delete set is non-empty, and erased groups vanish rather than " +
      "linger at zero") {
    val dir = "/root/testdata/sf0.001"
    val down = graft.operators.CdcOps.erasureDowndate(spark, dir)
      .collect().toSeq
    val m = graft.operators.CdcOps.EraseModulus
    val surviving = graft.Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(m)) =!= 0)
      .groupBy(graft.Exact.intDiv(col("ts_s") - graft.EventWindow.StartS,
        lit(86400L)).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Exact.microSum(col("value")).as("value_micro"))
      .orderBy(col("day"), col("event_type"))
      .collect().toSeq
    assert(down === surviving, "downdate == surviving-user recompute")
    // the fixture actually erases something: the downdate must differ
    // from the full (nobody-erased) rollup
    val erasedRows = graft.Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(m)) === 0).count()
    assert(erasedRows > 0, "fixture has no erasure candidates?")
    val fullN = graft.Tables.events(spark, dir).count()
    assert(down.map(_.getAs[Long]("n")).sum === fullN - erasedRows)
    // and no zero-count group lingers
    assert(down.forall(_.getAs[Long]("n") > 0))
  }

  test("v49 BPE training: greedy L2R merge application (aaaa + (a,a) " +
      "-> two aa, no triple-count) and merges feed later rounds") {
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-bpe")
    // 'aaaa' x3: round-1 pair counts see (a,a) 3x3=9; after merging,
    // each word is [aa, aa] -> round 2 must see (aa,aa), NOT (a,a).
    // 'bcbc' x2 gives (b,c) 4, (c,b) 2 -> (a,a) wins round 1.
    val rows = Seq.fill(3)((1L, "aaaa")) ++ Seq.fill(2)((2L, "bcbc"))
    rows.zipWithIndex.map { case ((_, t), i) => (i.toLong, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val m = graft.nlp.RankOps.bpeTrain(spark, tmp, nMerges = 3).collect()
      .map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    // round 1: (a,a) appears 3 times per 'aaaa' (9 total) > (b,c) 4
    assert(m(0) === ((1, "aa", 9L)), m.mkString(","))
    // round 2: words are now {aa aa}x3 and bcbc intact; (aa,aa)=3,
    // (b,c)=4 -> (b,c) wins with 4 (greedy L2R left only ONE (aa,aa)
    // pair per word, not two overlapping ones)
    assert(m(1) === ((2, "bc", 4L)), m.mkString(","))
    // round 3: {aa aa} pairs (aa,aa)=3 beat (bc,bc)=2
    assert(m(2) === ((3, "aaaa", 3L)), m.mkString(","))
  }

  test("v63 LM fluency recomputes from a local bigram model and the " +
    "implied LM is row-stochastic") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getString(1))
    val pairs = docs.toSeq.flatMap { case (id, t) =>
      val w = t.toLowerCase.split(" ", -1)
      w.zip(w.drop(1)).map(p => (id, p._1 + " " + p._2))
    }
    val c = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val u = c.toSeq.groupBy(_._1.split(" ")(0)).view
      .mapValues(_.map(_._2).sum).toMap
    // row-stochastic: per prefix the probabilities sum to ~1 by
    // construction (U is the prefix total)
    val pm = c.map { case (bg, n) =>
      val den = u(bg.split(" ")(0))
      bg -> (n * 1000000L + den / 2) / den
    }
    val expect = pairs.groupBy(_._1).map { case (id, ps) =>
      val micros = ps.map(p => pm(p._2))
      val n = micros.size.toLong
      id -> (n, (micros.sum + n / 2) / n)
    }
    val got = graft.nlp.RankOps.lmScore(spark, sf0001).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (n, sc) = expect(r.getLong(0))
      assert(r.getLong(1) === n, s"doc ${r.getLong(0)} n")
      assert(r.getDouble(2) === sc.toDouble / 1e6, s"doc ${r.getLong(0)}")
    }
    // the score separates: not all docs identical
    assert(got.map(_.getDouble(2)).distinct.length > 10)
  }

  test("v71 contrastive selection: a planted in-domain clone outranks " +
    "gibberish, unseen transitions floor at zero, and both LMs score " +
    "exactly the general corpus") {
    val tmp = SparkSpec.tempDir("graft-ml")
    val seed = "the quick brown fox jumps over the lazy dog again and again"
    // sources: src0 = in-domain seed corpus; general corpus holds a
    // clone of the seed text, a half-overlap doc, and pure gibberish
    // (bigrams unseen in-domain)
    val rows = Seq(
      (1L, seed, "en", graft.nlp.RankOps.InDomainSource, 60L),
      (2L, seed + " quick brown fox jumps", "en",
        graft.nlp.RankOps.InDomainSource, 80L),
      (10L, seed, "en", "srcX", 60L),
      (11L, "the quick brown fox sat on zz yy xx ww vv uu", "en",
        "srcX", 45L),
      (12L, "qq rr ss tt uu vv ww xx yy zz aa bb", "en", "srcX", 36L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.nlp.RankOps.contrastiveSelect(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // only the three general docs are scored
    assert(got.keySet === Set(10L, 11L, 12L))
    // the clone reads exactly like the seed corpus: every transition
    // seen in-domain, so it must be selected with the top ml_score
    assert(got(10L).getAs[Boolean]("selected"), got(10L).toString)
    assert(got(10L).getAs[Double]("ml_score") >
      got(11L).getAs[Double]("ml_score"))
    assert(got(11L).getAs[Double]("ml_score") >
      got(12L).getAs[Double]("ml_score"))
    // pure gibberish shares no transition with the seed corpus: the
    // OOV floor makes its in-domain fit exactly zero, and scoring
    // under the general LM (which contains it) keeps gen_score > 0
    assert(got(12L).getAs[Double]("in_score") === 0.0)
    assert(got(12L).getAs[Double]("gen_score") > 0.0)
    assert(!got(12L).getAs[Boolean]("selected"))
  }

  test("v4j decode round-trip: every doc reconstructs, and n_ids " +
    "reconciles with a local in-vocab word count") {
    val rows = graft.nlp.RankOps.decodeRoundTrip(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Boolean]("round_trip_ok"),
      s"doc ${r.getLong(0)} failed the round-trip"))
    // vocabulary + per-doc in-vocab counts replayed locally
    val words = Tables.documents(spark, sf0001)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val freq = words.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => t -> xs.length }
    val vocab = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(50)
      .map(_._1).toSet
    val wantIds = words.map { case (id, ws) =>
      id -> ws.count(vocab.contains)
    }.filter(_._2 > 0).toMap
    assert(rows.length === wantIds.size)
    rows.foreach(r => assert(
      r.getAs[Long]("n_ids") === wantIds(r.getLong(0)).toLong))
  }
}
