package graft

import graft.nlp.MixOps

/** V14/V15 on a deliberately skewed fixture (two big sources + one
  * 5-doc source): the distributed forms (bucketed order-statistic
  * select, sharded prefix-sum) must equal the naive single-window
  * formulations row for row — same semantics, scale-safe plan. */
class MixSpec extends SparkSpec {

  /** 2005 docs over 3 sources: src0 (m=0, frac 1) and src1 (m=1,
    * frac 1/2) split ~1000 each, src3 (m=3, frac 1/8) gets 5 docs —
    * 200:1 skew. Sized to span many doc_id-range shards (2005/128 ≈ 16)
    * and to hit the boundary-bucket ranking path in every source. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = SparkSpec.tempDir("graft_mix_fixture")
    val rows = (1 to 2005).map { i =>
      val src =
        if (i <= 5) "src3" else if (i % 2 == 0) "src0" else "src1"
      val words = (1 to (i % 37 + 1))
        .map(j => s"w${(i * 31 + j) % 97}").mkString(" ")
      (i.toLong, src, if (i % 503 == 0) null else words)
    }
    rows.toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    d
  }

  test("v14 bucketed order-statistic select equals the single-window " +
    "form on a skewed fixture") {
    Tables.documents(spark, dir).createOrReplaceTempView("mix_docs")
    val want = spark.sql(
      """WITH s AS (
        | SELECT doc_id, source,
        |  CAST(substring(source, 4) AS INT) % 4 AS m,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(concat('mix', CAST(doc_id AS STRING))), doc_id)
        |    AS rk,
        |  count(*) OVER (PARTITION BY source) AS n_g
        | FROM mix_docs)
        |SELECT doc_id, source FROM s
        |WHERE rk <= ceil(n_g * power(2.0, -m))
        |ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = MixOps.sampleMix(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === want)
    // per-source take: ceil(n_g * 2^-m) — all of src0, half of src1,
    // 1 of src3's 5
    val bySrc = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc("src0") === 1000)
    assert(bySrc("src1") === 500)
    assert(bySrc("src3") === 1)
  }

  test("v15 sharded prefix-sum equals the single-window form on a " +
    "skewed fixture") {
    Tables.documents(spark, dir).createOrReplaceTempView("mix_docs")
    val want = spark.sql(
      s"""WITH d AS (
         | SELECT source, doc_id,
         |  CAST(CASE WHEN text IS NOT NULL
         |    THEN size(split(lower(text), ' ')) ELSE 0 END AS BIGINT)
         |    AS toks
         | FROM mix_docs),
         |c AS (
         | SELECT source, doc_id, toks,
         |  coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         | FROM d)
         |SELECT source,
         | CAST(floor(cum / ${MixOps.PackTokens}.0) AS BIGINT) AS pack_id,
         | count(*) AS n_docs, sum(toks) AS pack_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY source, pack_id
         |ORDER BY source, pack_id""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val got = MixOps.tokenPacking(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === want)
    // the fixture genuinely spans shards: ids 1..2005 over width-128
    // ranges; a single-shard run would not test the offset join
    assert(2005 / MixOps.ShardWidth >= 10)
  }

  test("v40 closed-form water-filling equals the iterative fixed-point " +
    "on the skewed fixture, budget spent up to floor loss") {
    // independent reference: repeatedly saturate every source whose
    // capacity is at or below its weight-fair share of the remaining
    // budget, then split what's left by weight (exact rationals)
    def reference(caps: Seq[(String, Long, Long)],
        budget: Long): Map[String, Long] = {
      var sat = Map.empty[String, Long]
      var active = caps
      var changed = true
      while (changed && active.nonEmpty) {
        val rem = budget - sat.values.sum
        val wsum = active.map(_._3).sum
        val hit = active.filter { case (_, c, w) =>
          BigInt(c) * wsum <= BigInt(rem) * w
        }
        changed = hit.nonEmpty
        sat ++= hit.map(t => t._1 -> t._2)
        active = active.filterNot(hit.contains)
      }
      val rem = budget - sat.values.sum
      val wsum = active.map(_._3).sum
      sat ++ active.map { case (s, _, w) =>
        s -> (BigInt(rem) * w / wsum).toLong
      }
    }
    Seq(dir, sf0001).foreach { d =>
      val rows = MixOps.tokenBudget(spark, d).collect()
      val caps = rows.map(r => (r.getAs[String]("source"),
        r.getAs[Long]("capacity"), r.getAs[Long]("w"))).toSeq
      val budget = caps.map(_._2).sum * 7 / 10
      val want = reference(caps, budget)
      rows.foreach { r =>
        val s = r.getAs[String]("source")
        assert(r.getAs[Long]("allocated") === want(s), s"alloc at $s ($d)")
        if (r.getAs[Int]("saturated") == 1)
          assert(r.getAs[Long]("allocated") === r.getAs[Long]("capacity"))
        assert(r.getAs[Long]("allocated") <= r.getAs[Long]("capacity"))
      }
      val spent = rows.map(_.getAs[Long]("allocated")).sum
      val unsat = rows.count(_.getAs[Int]("saturated") == 0)
      assert(spent <= budget)
      assert(budget - spent <= math.max(unsat, 1).toLong,
        s"floor loss too large: $budget vs $spent ($d)")
      // the skewed fixture exercises BOTH branches
      if (d == dir) {
        assert(rows.exists(_.getAs[Int]("saturated") == 1))
        assert(unsat > 0)
      }
    }
  }

  test("v43 cross-source matrix detects planted cross and within " +
    "duplicates and zero-fills the clean pairs") {
    import spark.implicits._
    val d = SparkSpec.tempDir("graft_xsrc_fixture")
    // src0∩src1 share 2 contents; src0 has 1 within-dup (docs 5,6);
    // src2 is clean; doc 9's null text is excluded
    Seq(
      (1L, "src0", "alpha beta"), (2L, "src1", "Alpha  beta"),
      (3L, "src0", "gamma"), (4L, "src1", "gamma"),
      (5L, "src0", "delta"), (6L, "src0", "delta"),
      (7L, "src1", "epsilon"), (8L, "src2", "zeta"),
      (9L, "src2", null))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = MixOps.crossSourceDup(spark, d).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("n_shared")).toMap
    // full upper-triangle frame incl. diagonal over 3 sources
    assert(rows.size === 6)
    assert(rows(("src0", "src1")) === 2L) // normalization folds case/ws
    assert(rows(("src0", "src0")) === 1L) // within-source dup
    assert(rows(("src0", "src2")) === 0L)
    assert(rows(("src1", "src1")) === 0L)
    assert(rows(("src1", "src2")) === 0L)
    assert(rows(("src2", "src2")) === 0L)
  }

  test("v41 duplicate-discounted sample recomputes from raw docs: " +
    "uniques always kept, keeps decided by u*n_copies in integer space") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text").collect()
      .filter(_.get(2) != null)
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def norm(t: String): String =
      t.toLowerCase.replaceAll("\\s+", " ").trim
    val copies = docs.groupBy(d => md5hex(norm(d._3)))
      .view.mapValues(_.length).toMap
    val expect = docs.groupBy(_._2).map { case (src, mine) =>
      val kept = mine.count { d =>
        val u = java.lang.Long.parseLong(
          md5hex("dw" + d._1.toString).take(6), 16)
        u * copies(md5hex(norm(d._3))) < 16777216L
      }
      src -> (mine.length.toLong,
        mine.count(d => copies(md5hex(norm(d._3))) > 1).toLong, kept.toLong)
    }
    val rowsDw = MixOps.dedupWeightedSample(spark, sf0001).collect()
    checkDedupWeighted(rowsDw, expect)
  }

  private def checkDedupWeighted(
      rows: Array[org.apache.spark.sql.Row],
      expect: Map[String, (Long, Long, Long)]): Unit = {
    assert(rows.length === expect.size)
    rows.foreach { r =>
      val (n, dup, kept) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === n, r.toString)
      assert(r.getAs[Long]("n_dup_docs") === dup, r.toString)
      assert(r.getAs[Long]("n_kept") === kept, r.toString)
      // every unique doc is kept (u*1 < 2^24 always)
      assert(kept >= n - dup)
    }
  }

  test("v65 written shards verify against the manifest: counts, " +
    "tokens and content checksum recompute from the files") {
    import org.apache.spark.sql.functions._
    val out = SparkSpec.tempDir("graft_shards")
    MixOps.exportShards(spark, sf0001, out)
    // recompute the manifest FROM THE WRITTEN FILES — the trainer's
    // verification pass: any doc dropped/duplicated/altered by the
    // write would break a checksum
    val back = spark.read.parquet(s"$out/docs")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("shard_tokens"),
        sum(col("sig")).as("content_sum"))
      .collect()
      .map(r => r.getAs[Long]("shard_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"),
          r.getAs[Long]("content_sum"))).toMap
    val manifest = spark.read.parquet(s"$out/manifest").collect()
      .map(r => r.getAs[Long]("shard_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"),
          r.getAs[Long]("content_sum"))).toMap
    assert(manifest.size > 1, "budget should yield multiple shards")
    assert(back === manifest)
    // stream fill never splits a doc, so a shard can overrun the
    // budget only by its last straddler: tokens < budget + max doc
    val maxDocToks = spark.read.parquet(s"$out/docs")
      .agg(max(col("toks"))).collect().head.getLong(0)
    back.values.foreach { case (_, toks, _) =>
      assert(toks < MixOps.ShardBudget + maxDocToks,
        s"shard overran the stream-fill bound: $toks")
    }
  }

  test("v65c jsonl export round-trips: the gunzip+parse manifest " +
    "equals the v65 manifest, and the files are real gzip jsonl") {
    val viaFiles = MixOps.jsonlShardExport(spark, sf0001).collect()
    val direct = MixOps.shardManifest(spark, sf0001).collect()
    assert(viaFiles.toSeq === direct.toSeq)
    assert(viaFiles.length > 1, "budget should yield multiple shards")
    // the written artifact is genuinely gzip-framed jsonl: pick one
    // part file and decode it outside Spark
    val root = graft.util.ArtifactCache.cached(
      "v65c_jsonl", sf0001)(_ =>
      fail("v65c artifact must already exist after the entry ran"))
    val part = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).find(_.getName.endsWith(".txt.gz"))
        .getOrElse(fail("no .txt.gz part written"))
    }
    val in = new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(part))
    val first = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, "UTF-8")).readLine()
    in.close()
    assert(first != null && first.startsWith("{\"doc_id\":"),
      s"not a jsonl line: $first")
  }

  test("v65b incremental export conserves the corpus: generations are " +
    "disjoint, totals equal the one-shot export, ids never collide") {
    import org.apache.spark.sql.functions._
    val incr = MixOps.shardManifestIncremental(spark, sf0001).collect()
    val full = MixOps.shardManifest(spark, sf0001).collect()
    def totals(rows: Array[org.apache.spark.sql.Row]) = (
      rows.map(_.getAs[Long]("n_docs")).sum,
      rows.map(_.getAs[Long]("shard_tokens")).sum,
      rows.map(_.getAs[Long]("content_sum")).sum)
    // the checksum is an order-independent SUM of per-doc signatures,
    // so conservation across any re-sharding is exact equality
    assert(totals(incr) === totals(full))
    // generation shard ids never collide (base ids < every delta id)
    val base = incr.filter(_.getAs[Int]("gen") == 0)
      .map(_.getAs[Long]("shard_id"))
    val delta = incr.filter(_.getAs[Int]("gen") == 1)
      .map(_.getAs[Long]("shard_id"))
    assert(base.nonEmpty && delta.nonEmpty)
    assert(base.max < delta.min)
  }
}
