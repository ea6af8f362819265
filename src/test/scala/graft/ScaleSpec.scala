package graft

import graft.dsl.SearchDsl
import graft.operators.{Relational, Skew}
import graft.util.TimeRanges
import org.apache.spark.sql.functions._

/** Scale-path semantics: approx percentiles vs exact, salted join
  * equivalence, compat search binder divergence, time-range helpers. */
class ScaleSpec extends SparkSpec {

  test("percentile_approx flagship within 1% of exact at sf0.001") {
    val exact = Relational.endpointLatencies(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    Relational.endpointLatenciesApprox(spark, sf0001).collect().foreach { r =>
      val e = exact((r.getString(0), r.getString(1)))
      val a = r.getAs[Double]("p50_price")
      assert(math.abs(a - e) / e < 0.01, s"approx $a vs exact $e")
    }
  }

  test("property: ratio6 equals BigDecimal HALF_UP rounding") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val gen = for {
      num <- Gen.chooseNum(0L, 1000000L)
      den <- Gen.chooseNum(1L, 1000000L)
    } yield (num, den)
    // sample-based check through the actual Column implementation
    val samples = Gen.listOfN(300, gen).sample.get
    val df = samples.toDF("num", "den")
      .select(col("num"), col("den"),
        Exact.ratio6(col("num"), col("den")).as("r"))
    df.collect().foreach { row =>
      val (num, den, r) = (row.getLong(0), row.getLong(1), row.getDouble(2))
      val expected = BigDecimal(num)./(BigDecimal(den))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r === expected, s"$num/$den")
    }
  }

  test("SQL view surface answers the flagship via spark.sql") {
    GraftCatalog.registerViews(spark, sf0001)
    val n = spark.sql(
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1")
      .count()
    assert(n > 0)
    assert(spark.sql("SELECT max(ts_us) FROM events_ts").collect()
      .head.getLong(0) > 0)
  }

  test("HLL cardinalities within 5% of exact") {
    val exact = Relational.cardinality(spark, sf0001).collect().head
    val approx = Relational.cardinalityApprox(spark, sf0001).collect().head
    (0 until 3).foreach { i =>
      val (e, a) = (exact.getLong(i).toDouble, approx.getLong(i).toDouble)
      assert(math.abs(a - e) / e < 0.05, s"col $i: hll $a vs exact $e")
    }
  }

  test("v9b approx profile: HLL distincts within 5%, other stats exact, " +
    "no Expand in the plan") {
    val exact = Relational.profile(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = Relational.profileApprox(spark, sf0001).collect()
    assert(approx.length === exact.size)
    approx.foreach { r =>
      val e = exact(r.getString(0))
      // count / nulls / min / max are exact in both forms
      assert(r.getLong(1) === e.getLong(1), s"${r.getString(0)} n")
      assert(r.getLong(2) === e.getLong(2), s"${r.getString(0)} n_null")
      assert(r.getDouble(3) === e.getDouble(3), s"${r.getString(0)} min")
      assert(r.getDouble(4) === e.getDouble(4), s"${r.getString(0)} max")
      val (ed, ad) = (e.getLong(5).toDouble, r.getLong(5).toDouble)
      assert(math.abs(ad - ed) / ed < 0.05,
        s"${r.getString(0)}: hll $ad vs exact $ed")
    }
    // the whole point of the twin: exact countDistinct compiles to an
    // Expand x5 of the scan; the HLL form must not
    // assert on the PLAN bodies: the registered entries are PlanMemo
    // wrappers whose read side is a parquet scan either way
    val plan = Relational.profileApproxPlan(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "v9b plan still contains Expand")
    assert(Relational.profilePlan(spark, sf0001)
      .queryExecution.executedPlan.toString.contains("Expand"),
      "expected the exact profile to carry the Expand this twin removes")
  }

  test("T20b HLL distinct-users series within 5% of exact per bucket") {
    val exact = graft.operators.SeriesOps.uniqueUsersSeries(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = graft.operators.SeriesOps
      .uniqueUsersSeriesApprox(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Pin the bucket grid independently of the shared zeroFill frame:
    // the reference's range/15 stepping over [Start, End].
    val start = 1704067200L; val end = 1706659200L
    val step = (end - start) / 15
    val grid = ((start - start % step) to end by step).toSet
    assert(approx.keySet === grid)
    assert(exact.keySet === grid)
    exact.foreach { case (b, u) =>
      val a = approx(b)
      assert(math.abs(a - u) <= math.max(1L, (u * 0.05).toLong),
        s"bucket $b: exact $u approx $a")
    }
  }

  test("V4 text ops: NULL text classifies 'und' with NULL metrics") {
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-nulldocs")
    Seq(
      (1L, Option("the cat and the hat"), "en", "s1", 19L),
      (2L, Option.empty[String], "xx", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val lang = graft.nlp.TextOps.langId(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lang.get("und").contains(1L), s"null text must be 'und': $lang")
    assert(!lang.contains("fr")) // NULL no longer falls through the CASE
    val q = graft.nlp.TextOps.qualityScore(spark, tmp)
      .filter(col("doc_id") === 2L).collect()(0)
    Seq("n_words", "n_distinct", "stop_ratio", "ttr", "score")
      .foreach(c => assert(q.isNullAt(q.fieldIndex(c)), s"$c not NULL"))
    val t = graft.nlp.TextOps.tokenCount(spark, tmp)
      .filter(col("doc_id") === 2L).collect()(0)
    Seq("ws_tokens", "subword_tokens", "n_chars")
      .foreach(c => assert(t.isNullAt(t.fieldIndex(c)), s"$c not NULL"))
    val f = graft.nlp.TextOps.fingerprint(spark, tmp)
      .filter(col("doc_id") === 2L).collect()(0)
    assert(f.isNullAt(f.fieldIndex("fingerprint")))
  }

  test("V13 curation pipeline: every gate fires (dedup, lang, quality, cap)") {
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-curate")
    val good = "the cat and the dog is a good friend of the family and it is nice"
    val rows =
      Seq((1L, good, "en", "s1", 0L), // kept
        (2L, good, "en", "s1", 0L), // exact dup of 1 -> dropped
        (3L, "der hund und die katze ist das haus", "de", "s1", 0L), // lang gate
        // detected en but low quality: nw=10, sm=10, nd=1 -> score 0.37
        (4L, Seq.fill(10)("the").mkString(" "), "en", "s1", 0L)) ++
        // 15 distinct good docs in one source -> capped to 10
        (10L to 24L).map(i => (i, s"$good token$i", "en", "big", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.nlp.TextOps.curate(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val ids = out.map(_._1).toSet
    assert(ids.contains(1L) && !ids.contains(2L), "dedup keeps lowest id")
    assert(!ids.contains(3L), "language gate drops non-en")
    assert(!ids.contains(4L), "quality gate drops low score")
    assert(out.count(_._2 == "big") === 10, "per-source cap")
    assert(ids === Set(1L) ++ (10L to 19L), out.mkString(","))
  }

  test("V13b explain: every gate verdict fires on the planted fixture " +
      "and agrees with v13's kept set") {
    import spark.implicits._
    val tmp = SparkSpec.tempDir("graft-explain")
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "the fox runs away with many other words here"
    val rows =
      Seq((1L, Option(good), "en", "s1", 0L),
        (2L, Option(good), "en", "s1", 0L), // exact dup of 1
        (3L, Option("der hund und die katze ist das haus"), "de", "s1", 0L),
        (4L, Option(Seq.fill(10)("the").mkString(" ")), "en", "s1", 0L),
        (5L, Option.empty[String], "xx", "s1", 0L)) ++ // null text
        (10L to 24L).map(i => (i, Option(s"$good token$i"), "en", "big", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val verdicts = graft.nlp.TextOps.curateExplain(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(verdicts(1L) === "kept")
    assert(verdicts(2L) === "duplicate", "first gate wins for the dup")
    assert(verdicts(3L) === "language")
    assert(verdicts(4L) === "quality")
    assert(verdicts(5L) === "null_text")
    assert((10L to 19L).forall(verdicts(_) == "kept"))
    assert((20L to 24L).forall(verdicts(_) == "cap"))
    // explain's kept set IS v13's output set
    val kept = verdicts.filter(_._2 == "kept").keySet
    val v13 = graft.nlp.TextOps.curate(spark, tmp).collect()
      .map(_.getLong(0)).toSet
    assert(kept === v13)
  }

  test("V7 media ops: real PNG round-trip; NULL payloads skipped; frame " +
      "count is ceil(rasterBytes/frameBytes)") {
    import spark.implicits._
    import graft.mm.MultimodalOps.{MediaSynth, ImageCodec}
    // codec round-trip is REAL: ImageIO.read of the ImageIO.write output
    // reproduces the synthesized dimensions and two-band pixel pattern
    val png = MediaSynth.pngBytes(5L, 200)
    assert(png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 'P'.toInt,
      'N'.toInt, 'G'.toInt), "payload is a genuine PNG container")
    val (w, h, raster) = ImageCodec.decode(png)
    assert((w, h) === MediaSynth.dims(200))
    val (g1, g2) = MediaSynth.grays(5L)
    assert(raster.take(w * (h / 2)).forall(b => (b & 0xff) == g1))
    assert(raster.drop(w * (h / 2)).forall(b => (b & 0xff) == g2))

    val tmp = SparkSpec.tempDir("graft-mmdocs")
    Seq(
      (1L, Option("x" * 200), "en", "s1", 200L), // 16x16 -> 256B raster
      (2L, Option("y" * 250), "en", "s1", 250L), // 66x30 -> 1980B raster
      (3L, Option.empty[String], "xx", "s1", 0L)) // no payload: no rows
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val feats = graft.mm.MultimodalOps.extractFeatures(spark, tmp)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(feats.keySet === Set(1L, 2L))
    assert(feats(1L) === MediaSynth.dims(200))
    assert(feats(2L) === MediaSynth.dims(250))
    val frames = graft.mm.MultimodalOps.sampleFrames(spark, tmp)
      .select("doc_id", "frame_idx").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    // doc1 raster 16*16=256 -> ceil(256/100)=3 frames, stride 2 -> {0,2}
    assert(frames(1L) === Set(0, 2))
    // doc2 raster 66*30=1980 -> 20 frames -> {0,2,...,18}
    assert(frames(2L) === (0 until 20 by 2).toSet)
    assert(!frames.contains(3L))
  }

  test("V7d perceptual hash: dHash is brightness-invariant (same content" +
      ", different doc_id -> hamming 0, different PNG bytes and raster " +
      "md5); the pigeonhole join surfaces exactly those planted pairs") {
    import spark.implicits._
    import graft.mm.MultimodalOps
    // brightness invariance at the codec level: same content hash hex,
    // doc_ids 27 apart in brightness (1 % 27 = 1, 55 % 27 = 1 -> SAME a;
    // use 1 vs 2 for different a)
    val hex = "0123456789abcdef0123456789abcdef"
    val png1 = MultimodalOps.PhashSynth.pngBytes(hex, 1L)
    val png2 = MultimodalOps.PhashSynth.pngBytes(hex, 2L)
    assert(!java.util.Arrays.equals(png1, png2),
      "different brightness -> different PNG bytes")
    val (w1, h1, r1) = MultimodalOps.ImageCodec.decode(png1)
    val (w2, h2, r2) = MultimodalOps.ImageCodec.decode(png2)
    assert((w1, h1) === (w2, h2))
    assert(!java.util.Arrays.equals(r1, r2), "rasters differ (brightness)")
    assert(MultimodalOps.dhash64(w1, h1, r1) ===
      MultimodalOps.dhash64(w2, h2, r2),
      "gradient hash cancels the uniform brightness shift")

    val tmp = SparkSpec.tempDir("graft-phash")
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "completely different content with its own gradient pattern"
    Seq((1L, textA, "en", "s1", 0L),
      (2L, textA.toUpperCase, "en", "s2", 0L), // same canon, new brightness
      (9L, textB, "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = MultimodalOps.imagePhashDedup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0 && !p._4),
      s"planted same-content pair found at hamming 0 with unequal " +
        s"rasters; got ${pairs.mkString(",")}")
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val probe = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d"))
      .toDF("k", "payload")
    val build = Seq((1, "x"), (2, "y")).toDF("k", "dim")
    val plain = probe.join(build, Seq("k"))
      .select("k", "payload", "dim").collect().toSet
    val salted = Skew.saltedJoin(probe, build, "k", col("payload"))
      .select("k", "payload", "dim").collect().toSet
    assert(salted === plain)
    assert(salted.size === 3)
  }

  test("compat binder reproduces the reference's pair-unaligned match") {
    val spans = SpanFixtures.spans(spark)
      .withColumn("span_attributes",
        map(lit("a"), lit("1"), lit("b"), lit("2")))
    // query a=2: key 'a' exists, value '2' exists (under b) => compat
    // matches, correct map semantics does not (SURVEY §7 hard-part 3)
    val compat = spans.filter(
      SearchDsl.predicate("a=2", SearchDsl.SpanBinderCompat)).count()
    val correct = spans.filter(
      SearchDsl.predicate("a=2", SearchDsl.SpanBinder)).count()
    assert(compat === spans.count())
    assert(correct === 0)
  }

  test("property: zero-fill grid invariants for any range (SURVEY §5.3)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      start <- Gen.chooseNum(1L, 4000000000L)
      span <- Gen.chooseNum(1L, 400000000L)
    } yield (start, start + span)
    val prop = Prop.forAll(gen) { case (start, end) =>
      val step = TimeRanges.bucketSeconds(end - start)
      val aligned = TimeRanges.align(start, step)
      val nBuckets = (end - aligned) / step + 1
      val last = aligned + (nBuckets - 1) * step
      aligned % step == 0 && aligned <= start && start - aligned < step &&
        last <= end && end - last < step &&
        // grid never coarser than 15 buckets once the range allows it
        // (sub-15s ranges clamp to 1s steps)
        (end - start < TimeRanges.NumBuckets ||
          nBuckets >= TimeRanges.NumBuckets)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- measured scale laws (round-9: the 100 TB claims as numbers) --
  //
  // Wall-clock ratios are host-noise-bound, so the SPEC pins the
  // noise-free structural twin: the ROW COUNT through each operator's
  // expensive stage at 1x vs FACTORx of a salted blow-up
  // (graft.util.ScaleData — copies are mutually dissimilar, so dup /
  // ANN densities stay constant and linear designs must produce
  // linear work). Wall-clock at sf0.1 x10 is recorded in SCALING.md
  // by graft.ScaleBench.
  private lazy val scaleFactor = 8
  private lazy val blownDir: String = {
    val out = SparkSpec.tempDir("graft_scalespec")
    graft.util.ScaleData.blowUp(spark, "/root/testdata/sf0.01", out,
      scaleFactor)
    out
  }
  private val baseDir = "/root/testdata/sf0.01"

  test("blow-up synthesizer: schemas unchanged, hot tables exactly " +
    "xfactor rows, salted copies mutually distinct") {
    Seq("documents", "embeddings", "events").foreach { t =>
      val b = Tables.table(spark, baseDir, t)
      val x = Tables.table(spark, blownDir, t)
      assert(x.schema.map(f => (f.name, f.dataType)) ===
        b.schema.map(f => (f.name, f.dataType)), t)
      assert(x.count() === scaleFactor * b.count(), t)
    }
    // no text collides across copies (the whole point of the salt)
    val d = Tables.documents(spark, blownDir)
    assert(d.filter(col("text").isNotNull).count() ===
      d.filter(col("text").isNotNull).select(col("text")).distinct()
        .count() + Tables.documents(spark, baseDir)
        .filter(col("text").isNotNull).groupBy(col("text")).count()
        .filter(col("count") > 1)
        .agg(coalesce(sum(col("count") - 1), lit(0L))).first().getLong(0)
        * scaleFactor)
  }

  test("exact dedup and span scrub scale EXACTLY linearly: salted " +
    "copies reproduce the base structure, nothing crosses copies") {
    val q = SparkEntry.queries
    assert(q("v1_dedup_exact")(spark, blownDir).count() ===
      scaleFactor * q("v1_dedup_exact")(spark, baseDir).count())
    val scrubB = q("v67_span_scrub")(spark, baseDir)
      .agg(count(lit(1)), coalesce(sum(col("n_removed")), lit(0L)))
      .first()
    val scrubX = q("v67_span_scrub")(spark, blownDir)
      .agg(count(lit(1)), coalesce(sum(col("n_removed")), lit(0L)))
      .first()
    assert(scrubX.getLong(0) === scaleFactor * scrubB.getLong(0))
    assert(scrubX.getLong(1) === scaleFactor * scrubB.getLong(1))
    assert(q("v6_sessionization")(spark, blownDir).count() ===
      scaleFactor * q("v6_sessionization")(spark, baseDir).count())
  }

  test("LSH candidate work scales ~linearly (quadratic would be " +
    s"~${8 * 8}x at x8; band rejects anything past 3x linear)") {
    import graft.dedup.DedupOps
    val base = DedupOps.lshCandidates(DedupOps.signatures(
      Tables.documents(spark, baseDir))).count()
    val blown = DedupOps.lshCandidates(DedupOps.signatures(
      Tables.documents(spark, blownDir))).count()
    assert(base > 0, "base corpus must have LSH candidates")
    assert(blown <= 3L * scaleFactor * base,
      s"super-linear candidate blow-up: $base -> $blown at x$scaleFactor")
    assert(blown >= base,
      s"candidates should not shrink with scale: $base -> $blown")
  }

  test("IVF candidate work: nlist scaled with the corpus (the FAISS " +
    "practice the deployment uses) keeps candidates ~linear") {
    import graft.sim.SimilarityOps
    def cands(dir: String, nlist: Int): Long = {
      val (e, cents, _) = SimilarityOps.ivfBuild(spark, dir, nlist, 1)
      val probed = SimilarityOps.multiProbeAssign(e, cents, 4, nlist)
      val x = probed.select(col("cent_id"), col("vec_id").as("i"))
      val y = probed.select(col("cent_id"), col("vec_id").as("j"))
      x.join(y, Seq("cent_id")).filter(col("i") < col("j"))
        .select(col("i"), col("j")).distinct().count()
    }
    val base = cands(baseDir, 16)
    val scaled = cands(blownDir, 16 * scaleFactor)
    assert(base > 0)
    assert(scaled <= 4L * scaleFactor * base,
      s"scaled-nlist candidates super-linear: $base -> $scaled " +
        s"at x$scaleFactor")
  }

  test("planted near-dup continuum: true pairs grow EXACTLY linearly " +
    "in factor; IVF candidates+verify at tau=0.9 finds them with " +
    "recall >= 0.9 and zero false positives at both scales") {
    import graft.util.ScaleData
    def plantedDir(f: Int): String = {
      val pd = s"${sys.props("java.io.tmpdir")}/graft_planted_spec_" +
        s"${f}x_${ProcessHandle.current().pid()}"
      if (!new java.io.File(s"$pd/embeddings.parquet").exists())
        ScaleData.plantedBlowUp(spark, baseDir,
          graft.util.TempArtifacts.register(pd), f)
      pd
    }
    def found(f: Int): Array[(Long, Long)] =
      graft.dedup.DedupOps.embeddingNearDupIvf(spark, plantedDir(f),
          nlist = 16 * f, nprobe = 4, tau = ScaleData.PlantTau)
        .select(col("i"), col("j")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val nBase = Tables.embeddings(spark, baseDir).count()
    def planted(f: Int): Long = f * (nBase / ScaleData.PlantEvery)
    Seq(1, scaleFactor).foreach { f =>
      val pairs = found(f)
      // zero false positives: every found pair IS a planted twin
      pairs.foreach { case (i, j) =>
        assert(j === i + 1 && i % ScaleData.PlantEvery === 0,
          s"non-planted pair ($i,$j) above tau=${ScaleData.PlantTau} " +
            "— the controlled continuum leaked")
      }
      val recall = pairs.length.toDouble / planted(f)
      assert(recall >= 0.9 && recall <= 1.0,
        s"x$f planted recall $recall (${pairs.length}/${planted(f)})")
    }
  }

  // ---- hierarchical coarse quantizer (round 10: the two-level
  // assignment that closes the O(n*nlist) flat-assign boundary) ----

  /** Deterministic clustered synthetic corpus: `n` vectors in `dims`
    * dims around `nClusters` well-separated centers (seeded Random —
    * reproducible), plus a centroid frame of the first `nlist` vectors
    * (the refineCentroids seeding convention). */
  private def hierFixture(n: Int, nlist: Int, dims: Int = 8,
      nClusters: Int = 24): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(nClusters)(
      Array.fill(dims)(rnd.nextDouble() * 20.0 - 10.0))
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => x + rnd.nextGaussian() * 0.05).toSeq)
    }
    import spark.implicits._
    val e = rows.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(graft.sim.SimilarityOps.dot(
        col("v"), col("v"))))
    val cents = e.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cent_id"), col("v").as("c_v"),
        col("nrm").as("c_nrm"))
    (e.localCheckpoint(), cents.localCheckpoint())
  }

  test("hierarchical coarse assign: candidate work is ~2*sqrt(nlist) " +
    "per vector, not nlist — the group-probe work-count band") {
    import graft.sim.SimilarityOps
    val nlist = 512 // > HierNlistThreshold → two-level path
    val (e, cents) = hierFixture(n = 1200, nlist = nlist)
    assert(nlist > SimilarityOps.HierNlistThreshold)
    val cands = SimilarityOps.hierCandidates(e, cents, nlist,
      SimilarityOps.GroupsProbed)
    val nCands = cands.count()
    val g = math.ceil(math.sqrt(nlist.toDouble)).toLong // 23 groups
    // expected: gp * nlist/g centroids per vector (~45); band allows
    // 3x group-size skew but must sit FAR below the flat path's
    // n*nlist = 614k pairs
    val flatPairs = 1200L * nlist
    val band = 1200L * SimilarityOps.GroupsProbed * 3L * (nlist / g)
    assert(nCands >= 1200L, s"every vector needs >=1 candidate: $nCands")
    assert(nCands <= band, s"group-probe work $nCands above band $band")
    assert(nCands * 4 <= flatPairs,
      s"hier path must cut evaluated pairs >=4x: $nCands vs $flatPairs")
  }

  test("hierarchical coarse assign agrees with exact flat assignment " +
    "on clustered data (boundary misses only)") {
    import graft.sim.SimilarityOps
    val nlist = 512
    val (e, cents) = hierFixture(n = 1200, nlist = nlist)
    // exact flat assignment computed inline (the pre-round-10 shape)
    val flat = e.crossJoin(broadcast(cents))
      .withColumn("c_cos", SimilarityOps.dot(col("v"), col("c_v")) /
        (col("nrm") * col("c_nrm")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
        struct(col("c_cos"), (-col("cent_id")).as("neg_id")))
        .as("cent_flat"))
    val hier = SimilarityOps.assignTo(e, cents, nlist)
      .select(col("vec_id"), col("cent_id").as("cent_hier"))
    assert(hier.count() === 1200L, "every vector must be assigned once")
    val agree = flat.join(hier, Seq("vec_id"))
      .filter(col("cent_flat") === col("cent_hier")).count()
    assert(agree >= (1200 * 0.9).toLong,
      s"two-level assignment agreement too low: $agree/1200")
  }

  test("flat path still taken at driver SFs: adaptiveNlist(sf0.01) " +
    "is far below the hierarchical threshold") {
    import graft.sim.SimilarityOps
    assert(SimilarityOps.adaptiveNlist(spark, baseDir) <=
      SimilarityOps.HierNlistThreshold,
      "driver SFs must stay on the bit-identical flat path")
  }

  test("H15-H17 time-range helpers mirror the reference parsers") {
    assert(TimeRanges.parseInterval("5 minutes") === Some(300L))
    assert(TimeRanges.parseInterval("1 day") === Some(86400L))
    assert(TimeRanges.parseInterval("nope") === None)
    assert(TimeRanges.parseInterval("-3 hour") === None)
    assert(TimeRanges.parseRelative("5m") === Some(300L))
    assert(TimeRanges.parseRelative("24h") === Some(86400L))
    assert(TimeRanges.parseRelative("7d") === Some(604800L))
    assert(TimeRanges.parseRelative("x") === None)
    assert(TimeRanges.bucketSeconds(2592000) === 172800L)
    assert(TimeRanges.bucketSeconds(10) === 1L)
    assert(TimeRanges.align(1704067200L, 172800L) === 1703980800L)
  }
}
