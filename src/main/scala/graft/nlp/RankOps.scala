package graft.nlp

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus retrieval + repetition-quality operators over `documents`
  * (north-star family, SURVEY §2.V): BM25 full-text ranking — the
  * lexical-retrieval half of a training-data search stack next to the
  * embedding ANN in graft.sim — and Gopher-style repetition metrics
  * (duplicate-word fraction, top-bigram fraction), the classic
  * quality gates a pre-training corpus is filtered by.
  *
  * Cross-engine exactness: BM25's `ln` idf differs by ulps across
  * libms (the same reason v4g dropped it), so the idf factor is the
  * RATIONAL rarity (2N-2df+1)/(2df+1) — monotone in df, so per-term
  * doc ordering is preserved — and the whole per-term score is ONE
  * integer-space ratio ([[Exact.ratio6]]): with k1=1.2, b=0.75 and
  * T = Σdl, tf_norm = tf(k1+1)/(tf + k1(1-b+b·dl/avgdl)) scaled by
  * 10T gives 22·tf·T / (10·tf·T + 3T + 9·dl·N) — all-integer numerator
  * and denominator, folded with the rarity ratio into a single ratio6.
  * Per-doc summation then rides the decimal micro-unit sum
  * ([[Exact.sumExact]]) so partition order cannot move the hash.
  */
object RankOps extends QueryModule {

  /** Default query terms (all present in the corpus vocabulary). */
  val QueryTerms: Seq[String] = Seq("spark", "merge", "window")

  private def withWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))

  /** The per-(doc,term) BM25 score as one integer-space ratio over
    * columns (tf, dl, df, n_docs, total_dl) — see the object doc.
    * The products are formed in DECIMAL(38,0), not Long: the numerator
    * carries tf·total_dl·n_docs·10⁶, which passes Long.MaxValue one
    * corpus-scale step above the test fixtures (~6.5e19 at a 5e4-doc /
    * 2.7e6-token corpus) — ANSI mode would abort the query right where
    * the "100 TB layout" claim matters. The DuckDB oracle needs no
    * change: sum(dl) is already HUGEINT there, promoting every product.
    * The quotient (score·10⁶ ≤ ~2.2e7) still fits the Long the
    * IntegralDivide returns. Rounding goes through [[Exact.ratio6Dec]]
    * (the doubled form, no `den div 2` intermediate): the previous
    * spelling materialized den/2 through an IntegralDivide whose LONG
    * result wraps once den passes 2⁶⁴ — the exact wrap class
    * ratio6Dec was built for, reachable at the corpus sizes this
    * module's own scale claim targets (round-10 review). Identical
    * output wherever the old form didn't wrap, so the oracle is
    * untouched. */
  private def bm25ScoreT: Column = {
    import org.apache.spark.sql.types.DecimalType
    def d(c: Column): Column = c.cast(DecimalType(38, 0))
    val num = d(lit(22L)) * d(col("tf")) * d(col("total_dl")) *
      (d(lit(2L)) * d(col("n_docs")) - d(lit(2L)) * d(col("df")) + d(lit(1L)))
    val den = (d(lit(10L)) * d(col("tf")) * d(col("total_dl")) +
      d(lit(3L)) * d(col("total_dl")) +
      d(lit(9L)) * d(col("dl")) * d(col("n_docs"))) *
      (d(lit(2L)) * d(col("df")) + d(lit(1L)))
    Exact.ratio6Dec(num, den)
  }

  /** Shared scoring tail: per-term df (tiny, broadcast) + 1-row totals
    * (broadcast) over a (doc_id, dl, term, tf) posting frame, summed
    * per doc in decimal micro-units, top-k. */
  private def scoreTopK(tf: DataFrame, totals: DataFrame,
      k: Int): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(totals))
      .withColumn("score_t", bm25ScoreT)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        Exact.sumExact(col("score_t")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** V19: BM25 top-k — scale shape: one explode pruned to the query
    * terms AT THE SCAN (the isin filter pushes into the generate
    * stage), a (doc,term) partial-agg shuffle, the tiny per-term df
    * and the 1-row corpus totals BROADCAST, and TakeOrderedAndProject
    * for the top-k. Linear in corpus size; no full-term inverted index
    * is materialized for a 3-term query. */
  def bm25(spark: SparkSession, dir: String,
      terms: Seq[String] = QueryTerms, k: Int = 10): DataFrame = {
    val docs = withWords(spark, dir).withColumn("dl", size(col("w")))
    val totals = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("total_dl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    scoreTopK(tf, totals, k)
  }

  /** Posting-list hash buckets of the stored index — the partition key
    * a probe prunes on. */
  val IndexBuckets = 64

  // index builds go through graft.util.ArtifactCache: once per
  // (process, dir) — writing per query would both repeat ingest-time
  // work and swap part-file names under already-planned readers (the
  // round-3 fixture-clobber bug class)

  /** Build the stored inverted index: one posting row per (term,
    * doc_id) carrying tf and the doc length, parquet-partitioned by
    * the term's hash bucket (every posting of a term lands in exactly
    * one bucket, so per-term df stays computable from the probed
    * partitions alone), plus the 1-row corpus totals. This is
    * ingest-time work at 100 TB — the same explode + (term,doc)
    * aggregate v19 runs per query, paid once. Returns the index path. */
  def writeInvertedIndex(spark: SparkSession, dir: String): String =
    // built once per process and read-only after (the incremental twin
    // maintains its OWN incr_index copy)
    graft.util.ArtifactCache.cached("inv_index", dir) { path =>
      val docs = withWords(spark, dir).withColumn("dl", size(col("w")))
      docs.select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(IndexBuckets)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings")
      docs.agg(count(lit(1)).as("n_docs"),
          sum(col("dl").cast("long")).as("total_dl"))
        .write.mode("overwrite").parquet(s"$path/totals")
    }

  /** ONE spelling of the stored-index probe (shared by v19b and
    * v19c): engine-hash bucket ids for the query terms, then the
    * postings read pruned to those bucket partitions and filtered to
    * the terms — a pruning fix applied here reaches both entries
    * (round-10 review; the two blocks had drifted into copies). */
  private def probePostings(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val bucketIds = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(IndexBuckets)))
      .distinct().collect().map(_.getLong(0)).toSeq
    spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(bucketIds: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
  }

  /** V19b: BM25 answered FROM the stored index — the literal 100 TB
    * retrieval layout (v3b2's analog for text): the probe reads ONLY
    * the query terms' hash-bucket partitions (PartitionFilters,
    * pinned in ExtendedOpsSpec), touching ≤ |terms|/IndexBuckets of
    * the postings however large the corpus; scoring is EXACT — same
    * oracle as v19 — because nothing was approximated, only laid out.
    * The per-query cost no longer contains the corpus scan at all. */
  def bm25Stored(spark: SparkSession, dir: String,
      terms: Seq[String] = QueryTerms, k: Int = 10): DataFrame = {
    val path = writeInvertedIndex(spark, dir)
    val tf = probePostings(spark, path, terms)
    val totals = spark.read.parquet(s"$path/totals")
    scoreTopK(tf, totals, k)
  }

  // ---- V19c: incremental index maintenance (append, don't rebuild) --

  /** Build the inverted index INCREMENTALLY: the base generation (the
    * 90% `doc_id % 10 != 0` slice — standing in for yesterday's
    * corpus) is written first; the delta generation (today's 10%
    * append) is then added as NEW part files into the same bucket
    * partitioning via append mode — no base posting file is rewritten
    * (asserted at build time), which is the whole point: at 100 TB an
    * index refresh that rewrites the index is a rebuild. Totals are
    * stored per generation and summed at probe time. BM25 carries no
    * trained artifact, so the merged probe equals the full rebuild
    * EXACTLY — v19's oracle applies unchanged. */
  def writeIncrementalIndex(spark: SparkSession, dir: String): String =
    graft.util.ArtifactCache.cached("incr_index", dir) { path =>
      val docs = withWords(spark, dir).withColumn("dl", size(col("w")))
      def postings(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("bucket",
          pmod(xxhash64(col("term")), lit(IndexBuckets)))
      def totals(d: org.apache.spark.sql.DataFrame, gen: Int) = d
        .agg(count(lit(1)).as("n_docs"),
          sum(col("dl").cast("long")).as("total_dl"))
        .withColumn("gen", lit(gen))
      val base = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      postings(base).write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings")
      totals(base, 0).write.mode("overwrite").parquet(s"$path/totals")
      val baseFiles =
        graft.util.ArtifactCache.parquetListing(s"$path/postings")
      postings(delta).write.mode("append").partitionBy("bucket")
        .parquet(s"$path/postings")
      totals(delta, 1).write.mode("append").parquet(s"$path/totals")
      // the append contract, self-checked: every base file survives
      // the delta write byte-identical in place
      val after =
        graft.util.ArtifactCache.parquetListing(s"$path/postings")
      require(baseFiles.forall { case (f, len) =>
        after.get(f).contains(len) },
        "delta append rewrote base posting files")
    }

  /** V19c: BM25 answered from the INCREMENTALLY-maintained index —
    * bucket-pruned probe over base+delta postings (one merged read:
    * the generations are disjoint by doc_id, so union is concat),
    * corpus totals summed across generations. Exactly v19's numbers
    * (nothing trained, nothing approximated), so the full-rebuild
    * oracle pins that the append lost and duplicated nothing. */
  def bm25Incremental(spark: SparkSession, dir: String,
      terms: Seq[String] = QueryTerms, k: Int = 10): DataFrame = {
    val path = writeIncrementalIndex(spark, dir)
    val tf = probePostings(spark, path, terms)
    val totals = spark.read.parquet(s"$path/totals")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_dl")).as("total_dl"))
    scoreTopK(tf, totals, k)
  }

  /** The BM25 scoring chain as a CTE LIST (no WITH), ending in
    * `bmscores(doc_id, n_terms, score)` — spliced whole into v55's
    * hybrid-fusion oracle so both entries score from ONE spelling. */
  private[graft] val bm25Ctes: String = {
    val inList = QueryTerms.map(t => s"'$t'").mkString(",")
    s"""d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |      FROM documents WHERE text IS NOT NULL),
       | dd AS (SELECT doc_id, len(w) AS dl, w FROM d),
       | tot AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dd),
       | tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |        FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd)
       |        WHERE term IN ($inList) GROUP BY 1,2,3),
       | dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       | s AS (SELECT tf.doc_id,
       |        ${OracleSql.ratio6(
                  "22*tf.tf*total_dl*(2*n_docs - 2*df + 1)",
                  "(10*tf.tf*total_dl + 3*total_dl + 9*tf.dl*n_docs)*(2*df + 1)")} AS score_t
       |       FROM tf JOIN dfq USING (term) CROSS JOIN tot),
       | bmscores AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |   ${OracleSql.sumExact("score_t")} AS score
       |  FROM s GROUP BY 1)""".stripMargin
  }

  private val bm25Sql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, n_terms, score FROM bmscores
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** Adjacent-word bigram list built IN-ROW — the COMPILED pass
    * ([[graft.functions.Bigrams]], the v27/st14 swap of commit
    * round 10 applied to this module's four corpus-scale consumers:
    * v4h, v63, v71, v21): the previous zip_with-of-two-slices spelling
    * is a CodegenFallback higher-order function that evaluates an
    * interpreted lambda per word per row. Bit-identical under the
    * `size(w) >= 2` filter every call site applies (FunctionsSpec
    * pins it), so all four oracles are untouched. */
  private def bigramsCol: Column =
    graft.functions.BigramFunctions.bigrams(col("w"))

  /** V4h: adjacent-pair counts — the counting step of one BPE training
    * iteration (count all adjacent symbol pairs, merge the top pair);
    * run over words rather than byte tokens, same dataflow. One in-row
    * bigram build + explode + one pair-keyed partial-agg shuffle, then
    * top-k — linear, exactly v4e's shape over pairs. */
  def bpePairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    withWords(spark, dir)
      .filter(size(col("w")) >= 2)
      .select(explode(bigramsCol).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(k)

  /** V63: corpus bigram-LM fluency scoring — the KenLM-filter role of
    * a curation pipeline (score each document by how predictable its
    * word transitions are under a language model trained on the corpus
    * itself) with the log-likelihood replaced by an EXACT statistic:
    * the mean transition probability. For each adjacent pair (w1,w2),
    * P(w2|w1) = C(w1,w2)/U(w1) with U the prefix total (so every LM row
    * is exactly row-stochastic), each probability an integer micro-unit
    * ratio, and the per-doc score the half-up mean over its pairs —
    * monotone in the geometric-mean likelihood's arithmetic cousin and
    * reproducible bit-for-bit in DuckDB where a libm `log` is not.
    * Gibberish (rare transitions) scores low; template/boilerplate
    * (deterministic transitions) scores high — the two tails a fluency
    * gate cuts.
    *
    * Scale shape: one in-row bigram build + explode (linear), one
    * bigram-keyed partial-agg shuffle for C, a vocab-bounded prefix
    * aggregate for U, one bigram-keyed join back to the doc pairs, one
    * doc-keyed mean. No broadcast of the LM table (corpus-sized at
    * 100 TB) — both big joins are key-partitioned. Self-inclusion (a
    * doc scores under a model containing itself) is the standard
    * corpus-stats regime, documented. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docPairs = withWords(spark, dir)
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(bigramsCol).as("bg"))
    val probs = bigramLm(docPairs, "p_micro")
    docPairs.join(probs, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_micro")).as("sp"))
      .select(col("doc_id"), col("n_bigrams"),
        (Exact.intDiv(col("sp") + shiftright(col("n_bigrams"), 1),
          col("n_bigrams")).cast("double") / 1000000.0).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM transition probabilities P(w2|w1) = C(w1,w2)/U(w1) as
    * integer micro-units over any frame with a `bg` ("w1 w2") column —
    * THE v63 statistic's model build, ONE spelling shared by v63 and
    * v71 (review finding, round 8: two independent spellings would let
    * a smoothing/rounding fix drift one while the docs claim they are
    * the same statistic). Row-stochastic by construction (U is the
    * prefix total). */
  private def bigramLm(pairs: DataFrame, out: String): DataFrame = {
    val counts = pairs.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    val prefix = counts
      .select(substring_index(col("bg"), " ", 1).as("w1"), col("c"))
      .groupBy(col("w1")).agg(sum(col("c")).as("u"))
    counts.withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(prefix, Seq("w1"))
      .select(col("bg"), Exact.intDiv(
        col("c") * 1000000L + shiftright(col("u"), 1), col("u")).as(out))
  }

  /** In-domain slice for [[contrastiveSelect]] — one source (5% of the
    * corpus) stands in for the curated seed corpus a domain-adaptation
    * run holds. */
  val InDomainSource = "src0"

  /** V71: contrastive data selection (Moore & Lewis 2010) — the
    * domain-adaptation selector a targeted training run uses: score
    * every general-corpus document by the DIFFERENCE of its fit under
    * an in-domain LM and under the general LM, keep what the in-domain
    * model likes MORE than its own corpus does. v13 gates on surface
    * quality and v34 importance-samples a global score; neither can
    * say "reads like the seed corpus". Log cross-entropies are
    * replaced by v63's engine-agreed statistic — the exact mean
    * transition probability under each bigram LM — so the contrast
    * ml = mean_in − mean_gen is a signed micro integer both engines
    * agree on (half-away rounding, [[Exact.signedDivRound]]);
    * in-domain-unseen transitions contribute 0 (the OOV floor of a
    * backoff-free LM).
    *
    * Scale shape: two v63 dataflows sharing one corpus bigram explode
    * — the in-domain LM table is seed-corpus-sized, the general LM
    * corpus-sized, BOTH joined bigram-keyed (no broadcast of an LM at
    * 100 TB), one doc-keyed mean. Self-inclusion on the general side
    * is v63's documented corpus-stats regime. */
  def contrastiveSelect(spark: SparkSession, dir: String): DataFrame = {
    // ONE materialization of the corpus bigram explode: its three
    // consumers (in-domain LM build, general LM build, probe side)
    // filter differently, so ReuseExchange cannot unify them and the
    // dominant linear explode would execute three times (round-10
    // review — the v49 localCheckpoint discipline; the scaladoc's
    // "share one corpus bigram explode" is now literally true)
    val pairs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"), explode(bigramsCol).as("bg"))
      .localCheckpoint()
    val inLm = bigramLm(
      pairs.filter(col("source") === InDomainSource), "pi")
    val genPairs = pairs.filter(col("source") =!= InDomainSource)
    val genLm = bigramLm(genPairs, "pg")
    val ml = Exact.signedDivRound(col("si") - col("sg"), col("n_bigrams"))
    genPairs
      .join(genLm, Seq("bg"))
      .join(inLm, Seq("bg"), "left")
      .na.fill(0L, Seq("pi"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("pi")).as("si"), sum(col("pg")).as("sg"))
      .select(col("doc_id"), col("n_bigrams"),
        (Exact.intDiv(col("si") + shiftright(col("n_bigrams"), 1),
          col("n_bigrams")).cast("double") / 1000000.0).as("in_score"),
        (Exact.intDiv(col("sg") + shiftright(col("n_bigrams"), 1),
          col("n_bigrams")).cast("double") / 1000000.0).as("gen_score"),
        (ml.cast("double") / 1000000.0).as("ml_score"),
        (ml > 0).as("selected"))
      .orderBy(col("doc_id"))
  }

  private val contrastiveSql: String = {
    val sdr = graft.OracleSql.signedDivRound("si - sg", "n")
    s"""WITH d AS (SELECT doc_id, source,
       |   string_split(lower(text), ' ') AS w
       |  FROM documents WHERE text IS NOT NULL),
       | bp AS (SELECT doc_id, source,
       |   unnest([w[i] || ' ' || w[i+1]
       |     for i in generate_series(1, len(w)-1)]) AS bg
       |  FROM d WHERE len(w) >= 2),
       | ic AS (SELECT bg, count(*) AS c FROM bp
       |        WHERE source = '$InDomainSource' GROUP BY 1),
       | iu AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c) AS u
       |        FROM ic GROUP BY 1),
       | ip AS (SELECT ic.bg, (ic.c * 1000000 + iu.u // 2) // iu.u AS pi
       |  FROM ic JOIN iu ON iu.w1 = split_part(ic.bg, ' ', 1)),
       | gc AS (SELECT bg, count(*) AS c FROM bp
       |        WHERE source <> '$InDomainSource' GROUP BY 1),
       | gu AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c) AS u
       |        FROM gc GROUP BY 1),
       | gp AS (SELECT gc.bg, (gc.c * 1000000 + gu.u // 2) // gu.u AS pg
       |  FROM gc JOIN gu ON gu.w1 = split_part(gc.bg, ' ', 1)),
       | s AS (SELECT bp.doc_id, count(*) AS n,
       |        sum(coalesce(ip.pi, 0)) AS si, sum(gp.pg) AS sg
       |  FROM bp JOIN gp USING (bg) LEFT JOIN ip USING (bg)
       |  WHERE bp.source <> '$InDomainSource' GROUP BY 1)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
       | CAST((si + n // 2) // n AS DOUBLE) / 1000000.0 AS in_score,
       | CAST((sg + n // 2) // n AS DOUBLE) / 1000000.0 AS gen_score,
       | CAST($sdr AS DOUBLE) / 1000000.0 AS ml_score,
       | ($sdr > 0) AS selected
       |FROM s ORDER BY doc_id""".stripMargin
  }

  private val lmScoreSql: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
      |           FROM documents WHERE text IS NOT NULL),
      | bp AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
      |          for i in generate_series(1, len(w)-1)]) AS bg
      |        FROM d WHERE len(w) >= 2),
      | c AS (SELECT bg, count(*) AS c FROM bp GROUP BY 1),
      | u AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c) AS u FROM c
      |       GROUP BY 1),
      | pr AS (SELECT c.bg,
      |   (c.c * 1000000 + u.u // 2) // u.u AS p_micro
      |  FROM c JOIN u ON u.w1 = split_part(c.bg, ' ', 1)),
      | s AS (SELECT bp.doc_id, count(*) AS n_bigrams,
      |        sum(pr.p_micro) AS sp
      |       FROM bp JOIN pr USING (bg) GROUP BY 1)
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      | CAST((sp + n_bigrams // 2) // n_bigrams AS DOUBLE) / 1000000.0
      |   AS lm_score
      |FROM s ORDER BY doc_id""".stripMargin

  private val bpePairsSql: String =
    """WITH d AS (SELECT string_split(lower(text), ' ') AS w
      |           FROM documents WHERE text IS NOT NULL),
      | bg AS (SELECT unnest([w[i] || ' ' || w[i+1]
      |          for i in generate_series(1, len(w)-1)]) AS pair
      |        FROM d WHERE len(w) >= 2)
      |SELECT pair, CAST(count(*) AS BIGINT) AS freq
      |FROM bg GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""".stripMargin

  /** Symbol delimiter for the BPE working representation — U+001F (unit
    * separator), a control char that cannot appear in whitespace-split
    * words. Each symbol is wrapped INDIVIDUALLY (`␟c␟␟a␟␟t␟`): a merge
    * is then one string `replace` of `␟l␟␟r␟` → `␟lr␟`, and because a
    * match never consumes the NEXT symbol's own leading delimiter, the
    * scan-resume point preserves exact greedy left-to-right
    * non-overlapping semantics (`aaaa` + (a,a) → `[aa][aa]`; a SHARED
    * single delimiter would hand the consumed boundary to the first
    * match and mis-produce `[aa][a][a]` — pinned in ExtendedOpsSpec). */
  private val BpeSep = "\u001f"

  /** V49: BPE merge TRAINING — the iteration v4h only counts. The
    * corpus collapses to the (word, count) frequency table in ONE
    * linear pass (the classic BPE trick: training never rescans the
    * corpus, it re-weights the vocabulary), materialized once
    * (localCheckpoint, v29's discipline). Each of the `nMerges` rounds
    * then (a) explodes adjacent symbol pairs of the VOCAB-bounded
    * frame, weighted by word count, (b) takes the top pair
    * (deterministic tie-break: count desc, then both symbols asc — the
    * one-row collect is the u5/v29 bounded-driver-action class), and
    * (c) applies the merge as a literal delimited-string replace. At
    * 100 TB the per-round cost is O(vocabulary), not O(corpus); the
    * rounds are inherently sequential (each merge changes the next
    * round's pair statistics) in ANY implementation of BPE. */
  /** Learn `nMerges` merges; returns them plus the post-merge word
    * frame (word, repr, c) for downstream application (v49b). */
  private[graft] def learnMerges(spark: SparkSession, dir: String,
      nMerges: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val wordFreq = withWords(spark, dir)
      .select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .select(col("word"),
        regexp_replace(col("word"), "(.)", BpeSep + "$1" + BpeSep)
          .as("repr"), col("c"))
      .localCheckpoint()
    var words = wordFreq
    val merges = scala.collection.mutable.Buffer[(Int, String, String, Long)]()
    for (k <- 1 to nMerges) {
      // strip the outer wrappers, then split on the DOUBLE delimiter
      // between adjacent wrapped symbols -> the clean symbol array
      val syms = split(trim(col("repr"), BpeSep), BpeSep + BpeSep)
      val n = size(syms)
      // pairs are (s[i], s[i+1]) for i in 1..n-1 (1-based). Guard
      // n >= 2: Spark's sequence() DESCENDS for start > stop instead
      // of returning empty.
      val pairCol = when(n >= 2, transform(sequence(lit(1), n - 1),
        i => struct(element_at(syms, i).as("l"),
          element_at(syms, i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      val best = words.select(col("c"), explode(pairCol).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      require(best.nonEmpty, s"corpus exhausted before merge $k")
      val (l, r, pc) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((k, l, r, pc))
      words = words.select(col("word"),
        call_function("replace", col("repr"),
          lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep),
          lit(BpeSep + l + r + BpeSep)).as("repr"),
        col("c"))
    }
    (merges.toSeq, words)
  }

  /** Memoized 6-round training per (process, dir): v49 and v49b both
    * need the identical derivation, and the rounds are sequential
    * driver-paced jobs — pay them once. The post-merge word frame is
    * materialized to a [[graft.util.Memo.path]], NOT kept as a
    * checkpointed frame, so Bench's between-entry block release cannot
    * invalidate it. */
  private def learnMergesCached(spark: SparkSession,
      dir: String): (Seq[(Int, String, String, Long)], String) =
    graft.util.Memo(None, "bpe", dir) {
      val (merges, words) = learnMerges(spark, dir, 6)
      val path = graft.util.Memo.path("graft_bpe")
      words.write.mode("overwrite").parquet(path)
      (merges, path)
    }

  def bpeTrain(spark: SparkSession, dir: String, nMerges: Int = 6): DataFrame = {
    import spark.implicits._
    (if (nMerges == 6) learnMergesCached(spark, dir)._1
     else learnMerges(spark, dir, nMerges)._1)
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      .select(col("merge_rank"), col("left_sym"), col("right_sym"),
        concat(col("left_sym"), col("right_sym")).as("merged"),
        col("pair_count"))
      .orderBy(col("merge_rank"))
  }

  /** The unrolled-iteration oracle (v29's convention): 6 rounds of
    * pair-count → top-1 → replace as chained CTEs, with the same
    * delimited representation (chr(31)) and tie-break. */
  /** V49b: apply the learned merges back to the corpus — the tokenizer
    * FERTILITY report per source (tokens/word, chars/token): the number
    * every tokenizer change is judged by, and the per-source coverage
    * view beside v44's OOV rate. The merge application runs on the
    * vocab-bounded word frame (it already did, inside training); the
    * corpus-scale side only joins the broadcast word→token-count map
    * onto per-(source, word) counts — one linear pass. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val words = spark.read.parquet(learnMergesCached(spark, dir)._2)
    val tokensPerWord = words.select(col("word"),
      size(split(trim(col("repr"), BpeSep), BpeSep + BpeSep)).as("syms"),
      length(col("word")).as("chars"))
    val bySourceWord = withWords(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        col("source")), Seq("doc_id"))
      .select(col("source"), explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    bySourceWord.join(broadcast(tokensPerWord), Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("syms")).as("n_tokens"),
        sum(col("c") * col("chars")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"), col("n_chars"),
        // corpus-total numerators (tokens/chars × 1e6 wrap Long past
        // ~9.2e12) — decimal form, identical below the wrap point
        Exact.ratio6Dec(col("n_tokens"), col("n_words")).as("fertility"),
        Exact.ratio6Dec(col("n_chars"), col("n_tokens"))
          .as("chars_per_token"))
      .orderBy(col("source"))
  }

  private lazy val bpeApplySql: String = bpeDerivationSql +
    s""",
       | wsrc AS (SELECT d.source,
       |    unnest(string_split(lower(d.text), ' ')) AS word
       |   FROM documents d WHERE d.text IS NOT NULL),
       | wc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
       |   FROM wsrc WHERE word <> '' GROUP BY 1, 2),
       | va AS (SELECT word,
       |    len(string_split(trim(repr, chr(31)), chr(31) || chr(31)))
       |      AS syms, length(word) AS chars FROM r6),
       | g AS (SELECT source, sum(wc.c) AS n_words,
       |    sum(wc.c * va.syms) AS n_tokens,
       |    sum(wc.c * va.chars) AS n_chars
       |   FROM wc JOIN va USING (word) GROUP BY 1)
       |SELECT source, CAST(n_words AS BIGINT) AS n_words,
       | CAST(n_tokens AS BIGINT) AS n_tokens,
       | CAST(n_chars AS BIGINT) AS n_chars,
       | ${OracleSql.ratio6("n_tokens", "n_words")} AS fertility,
       | ${OracleSql.ratio6("n_chars", "n_tokens")} AS chars_per_token
       |FROM g ORDER BY source""".stripMargin

  private val bpeTrainSql: String = bpeDerivationSql + bpeTrainFinalSql

  private lazy val bpeDerivationSql: String = {
    val prelude =
      """WITH d AS (SELECT string_split(lower(text), ' ') AS w
        |           FROM documents WHERE text IS NOT NULL),
        | wf AS (SELECT word, CAST(count(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(w) AS word FROM d)
        |        WHERE word <> '' GROUP BY 1),
        | r0 AS (SELECT word,
        |     regexp_replace(word, '(.)', chr(31) || '\1' || chr(31), 'g')
        |       AS repr, c FROM wf)""".stripMargin
    val rounds = (1 to 6).map { k =>
      s""" s$k AS (SELECT string_split(trim(repr, chr(31)),
         |                 chr(31) || chr(31)) AS s, c FROM r${k - 1}),
         | p$k AS (SELECT
         |   unnest([s[i] for i in generate_series(1, len(s)-1)]) AS l,
         |   unnest([s[i+1] for i in generate_series(1, len(s)-1)]) AS r,
         |   c FROM s$k),
         | b$k AS (SELECT l, r, sum(c) AS pc FROM p$k GROUP BY 1, 2
         |         ORDER BY pc DESC, l, r LIMIT 1),
         | r$k AS (SELECT word, replace(repr,
         |     chr(31) || b$k.l || chr(31) || chr(31) || b$k.r || chr(31),
         |     chr(31) || b$k.l || b$k.r || chr(31)) AS repr, c
         |   FROM r${k - 1}, b$k)""".stripMargin
    }.mkString(",\n", ",\n", "")
    prelude + rounds
  }

  private lazy val bpeTrainFinalSql: String = (1 to 6).map { k =>
    s"SELECT $k AS merge_rank, l AS left_sym, r AS right_sym, " +
      s"l || r AS merged, CAST(pc AS BIGINT) AS pair_count FROM b$k"
  }.mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_rank")

  /** The learned (token, id) vocabulary v4i encodes under and v4j
    * decodes with — id = 1-based rank by (freq desc, token asc) over
    * the corpus's top-50 tokens. One spelling for both directions,
    * MEMOIZED ([[graft.util.PlanMemo]]): v4i and v4j's two consumers
    * (decode + reference subsequence) would otherwise each re-run the
    * corpus-wide frequency aggregate (review finding, r8). */
  private def vocab50(spark: SparkSession, dir: String): DataFrame =
    graft.util.PlanMemo.memo(spark, "v4i_vocab50", dir) {
      import org.apache.spark.sql.expressions.Window
      withWords(spark, dir)
        .select(explode(col("w")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(50)
        .withColumn("id",
          row_number().over(Window.orderBy(col("freq").desc, col("token"))))
        .select(col("token"), col("id"))
    }

  /** The 50-entry vocab as a driver-side pair list — a BOUNDED collect
    * of the memoized [[vocab50]] (LIMIT 50 by construction: the v29
    * bounded-collect class), memoized per (session, dir) so the three
    * consumers (v4i, v4j's decode + reference arms) pay the collect
    * once. In-row literal-map lookups replace the old posexplode +
    * broadcast join + collect_list re-assembly per consumer: the
    * corpus never explodes or shuffles at all (round 13, guide §1.2
    * step 1 — same values, the join was only a 50-row dictionary). */
  private def vocabPairs(spark: SparkSession,
      dir: String): Seq[(String, Int)] =
    graft.util.Memo(Some(spark), "vocab_pairs", dir) {
      vocab50(spark, dir).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
    }

  /** V4i: vocabulary ENCODING — the sequel to v4e's vocabulary build:
    * map each doc's words to token ids under the learned top-50 vocab
    * (id = 1-based rank by freq desc, token asc; out-of-vocab words
    * drop, the minimal tokenizer-application semantics). Scale: the
    * 50-row vocab is an in-row literal map (element_at lookup per
    * word), so encoding is ONE narrow scan — no explode, no shuffle;
    * `transform` preserves word order, which is exactly what the old
    * posexplode + (pos, id) re-assembly reconstructed. Output is the
    * id sequence as CSV — the driver's hash compare sorts COLUMNS, and
    * list columns don't sort; same convention as v18's checksums. */
  def encode(spark: SparkSession, dir: String): DataFrame = {
    val tok2id = typedLit(vocabPairs(spark, dir).toMap)
    withWords(spark, dir)
      .select(col("doc_id"),
        filter(transform(col("w"), t => element_at(tok2id, t)),
          x => x.isNotNull).as("ids"))
      // the old inner join dropped docs with zero in-vocab words from
      // the groupBy — keep that exact output set
      .filter(size(col("ids")) > 0)
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        concat_ws(",", transform(col("ids"), i => i.cast("string")))
          .as("ids_csv"))
      .orderBy(col("doc_id"))
  }

  private val encodeSql: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
      |           FROM documents WHERE text IS NOT NULL),
      | vf AS (SELECT token, count(*) AS freq FROM (
      |          SELECT unnest(w) AS token FROM d) GROUP BY 1
      |        ORDER BY freq DESC, token LIMIT 50),
      | v AS (SELECT token, CAST(row_number() OVER (
      |         ORDER BY freq DESC, token) AS INT) AS id FROM vf),
      | wp AS (SELECT doc_id, unnest(w) AS token,
      |         unnest(range(len(w))) AS pos FROM d),
      | j AS (SELECT wp.doc_id, wp.pos, v.id FROM wp JOIN v USING (token))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ids,
      | array_to_string(list(id ORDER BY pos), ',') AS ids_csv
      |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** V4j: decode round-trip — the tokenizer-correctness witness the
    * encode-only family lacks: rebuild each document from NOTHING BUT
    * its serialized id sequence and the (token, id) vocabulary (the
    * two stored artifacts a trainer's data loader actually receives),
    * and prove the result equals the document's in-vocab word
    * subsequence. A hash-green run certifies the id assignment is
    * collision-free and order survives serialization — the invariant
    * that silently breaks when a vocab is rebuilt with a different
    * tie order than the one the shards were encoded under. Scale:
    * decode is an in-row literal-map lookup over the SERIALIZED id
    * string (split → element_at per id — it still consumes nothing
    * but ids_csv + the stored vocab), the reference subsequence an
    * in-row membership filter over the original words; `transform`/
    * `filter` preserve order, so both arms reproduce the old
    * posexplode + (pos, token) re-assembly exactly with ZERO corpus
    * shuffles (round 13) — one doc-keyed join compares them. */
  def decodeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val pairs = vocabPairs(spark, dir)
    val tok2id = typedLit(pairs.toMap)
    val id2tok = typedLit(pairs.map(p => (p._2, p._1)).toMap)
    val decodedAsm = encode(spark, dir)
      .select(col("doc_id"), col("n_ids"),
        concat_ws(" ", transform(split(col("ids_csv"), ","),
          s => element_at(id2tok, s.cast("int")))).as("decoded"))
    val target = withWords(spark, dir)
      .select(col("doc_id"),
        concat_ws(" ", filter(col("w"),
          t => element_at(tok2id, t).isNotNull)).as("orig_inv"))
    decodedAsm
      .join(target, Seq("doc_id"))
      .select(col("doc_id"), col("n_ids"),
        md5(col("decoded").cast("binary")).as("decoded_md5"),
        (col("decoded") === col("orig_inv")).as("round_trip_ok"))
      .orderBy(col("doc_id"))
  }

  private lazy val decodeRoundTripSql: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
      |           FROM documents WHERE text IS NOT NULL),
      | vf AS (SELECT token, count(*) AS freq FROM (
      |          SELECT unnest(w) AS token FROM d) GROUP BY 1
      |        ORDER BY freq DESC, token LIMIT 50),
      | v AS (SELECT token, CAST(row_number() OVER (
      |         ORDER BY freq DESC, token) AS INT) AS id FROM vf),
      | wp AS (SELECT doc_id, unnest(w) AS token,
      |         unnest(range(len(w))) AS pos FROM d),
      | j AS (SELECT wp.doc_id, wp.pos, wp.token, v.id
      |       FROM wp JOIN v USING (token)),
      | e AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ids,
      |        array_to_string(list(id ORDER BY pos), ',') AS ids_csv
      |       FROM j GROUP BY 1),
      | ex AS (SELECT doc_id, n_ids,
      |         unnest(string_split(ids_csv, ',')) AS id_s,
      |         unnest(range(len(string_split(ids_csv, ',')))) AS pos
      |        FROM e),
      | dec AS (SELECT ex.doc_id, ex.n_ids,
      |          string_agg(v.token, ' ' ORDER BY ex.pos) AS decoded
      |         FROM ex JOIN v ON v.id = CAST(ex.id_s AS INT)
      |         GROUP BY 1, 2),
      | tgt AS (SELECT doc_id,
      |          string_agg(token, ' ' ORDER BY pos) AS orig_inv
      |         FROM j GROUP BY 1)
      |SELECT dec.doc_id, dec.n_ids, md5(dec.decoded) AS decoded_md5,
      | dec.decoded = tgt.orig_inv AS round_trip_ok
      |FROM dec JOIN tgt USING (doc_id) ORDER BY dec.doc_id""".stripMargin

  /** Repetition-flag thresholds (Gopher-style gates, tuned so both
    * classes are populated on the testdata). */
  val DupWordMax = 0.82
  val TopBigramMax = 0.08

  /** V21: repetition metrics — duplicate-word fraction (1 - nd/nw, in
    * [0,1]) and most-frequent-bigram mass (2·top/nw — counts every
    * word the top bigram TOUCHES, so overlapping runs like "a a a"
    * exceed 1, approaching 2·(nw-1)/nw for a pure single-word run:
    * deliberately, the most repetitive docs score highest), flagging
    * docs past either gate. Scale shape: the bigram list is built INSIDE the row
    * (zip_with of two slices — no self-join, no positional explode
    * pairing), then one explode + (doc,bigram) partial-agg shuffle and
    * a (doc) max — both keyed by high-cardinality doc_id. Linear. */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = withWords(spark, dir)
      .withColumn("nw", size(col("w")))
      .withColumn("nd", size(array_distinct(col("w"))))
    val topBigram = docs
      .filter(col("nw") >= 2)
      .select(col("doc_id"), explode(bigramsCol).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bg"))
    docs.join(topBigram, Seq("doc_id"), "left")
      .withColumn("top_bg", coalesce(col("top_bg"), lit(0L)))
      .withColumn("dup_word_ratio",
        Exact.ratio6(col("nw") - col("nd"), col("nw")))
      .withColumn("top_bigram_ratio",
        Exact.ratio6(col("top_bg") * 2, col("nw")))
      .select(col("doc_id"), col("nw").as("n_words"),
        col("dup_word_ratio"), col("top_bigram_ratio"),
        (col("dup_word_ratio") > DupWordMax ||
          col("top_bigram_ratio") > TopBigramMax).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  private val repetitionSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |           FROM documents WHERE text IS NOT NULL),
       | b AS (SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS nd, w
       |       FROM d),
       | bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
       |          for i in generate_series(1, len(w)-1)]) AS bg
       |        FROM b WHERE len(w) >= 2),
       | top AS (SELECT doc_id, max(c) AS top_bg FROM (
       |          SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1,2)
       |         GROUP BY 1),
       | m AS (SELECT b.doc_id, CAST(nw AS INT) AS n_words,
       |        ${OracleSql.ratio6("(nw - nd)", "nw")} AS dup_word_ratio,
       |        ${OracleSql.ratio6("coalesce(top_bg, 0)*2", "nw")} AS top_bigram_ratio
       |       FROM b LEFT JOIN top ON b.doc_id = top.doc_id)
       |SELECT doc_id, n_words, dup_word_ratio, top_bigram_ratio,
       | (dup_word_ratio > $DupWordMax OR top_bigram_ratio > $TopBigramMax)
       |   AS repetitive
       |FROM m ORDER BY doc_id""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v63_lm_fluency",
      "V63 corpus bigram-LM fluency scoring (the KenLM-filter role): " +
        "per-doc mean transition probability P(w2|w1)=C/U in integer " +
        "micro-units — row-stochastic by construction, no libm log, " +
        "key-partitioned joins only (no LM broadcast)",
      (s, d) => lmScore(s, d), Some(lmScoreSql)),
    GraftQuery("v71_contrastive_select",
      "V71 Moore-Lewis contrastive data selection: general-corpus " +
        "docs scored by in-domain-LM fit MINUS general-LM fit (v63's " +
        "exact mean-transition-probability statistic under two bigram " +
        "LMs, signed micro contrast, OOV floor 0) — the domain-" +
        "adaptation selector; two key-partitioned LM joins sharing " +
        "one bigram explode, no LM broadcast",
      contrastiveSelect, Some(contrastiveSql)),
    GraftQuery("v19_bm25_search",
      "V19 BM25 top-k lexical retrieval: integer-exact rational-idf " +
        "scoring, term-pruned explode + broadcast df/totals + " +
        "TakeOrderedAndProject (the keyword half of corpus search)",
      (s, d) => bm25(s, d), Some(bm25Sql)),
    GraftQuery("v19c_bm25_incremental",
      "V19c BM25 from the INCREMENTALLY-maintained stored index: the " +
        "10% delta generation appended as new posting files into the " +
        "same bucket partitioning (base files provably untouched), " +
        "totals summed across generations at probe time — equals the " +
        "full rebuild exactly, same oracle as v19",
      (s, d) => bm25Incremental(s, d), Some(bm25Sql)),
    GraftQuery("v19b_bm25_stored_index",
      "V19b BM25 from the STORED hash-bucketed inverted index: probe " +
        "reads only the query terms' partitions (pruning pinned in " +
        "ExtendedOpsSpec) — exact, same oracle as v19; the per-query " +
        "cost drops the corpus scan entirely",
      (s, d) => bm25Stored(s, d), Some(bm25Sql)),
    GraftQuery("v4h_bpe_pair_counts",
      "V4h BPE pair counting: top-20 adjacent-word pairs (the count " +
        "half of a BPE merge iteration; in-row bigrams, one pair-keyed " +
        "shuffle)",
      (s, d) => bpePairs(s, d), Some(bpePairsSql)),
    GraftQuery("v49_bpe_train",
      "V49 BPE merge training: 6 merge rounds learned from the corpus " +
        "via the (word,count) reduction — one linear corpus pass, then " +
        "vocab-bounded pair-count/top-1/replace iterations (greedy L2R " +
        "merge as a delimited-string replace); oracle unrolls the same " +
        "6 rounds as chained CTEs",
      (s, d) => bpeTrain(s, d), Some(bpeTrainSql)),
    GraftQuery("v49b_bpe_fertility",
      "V49b tokenizer fertility under the learned merges: per-source " +
        "tokens/word and chars/token (merge application on the vocab-" +
        "bounded frame; corpus side is one broadcast-join pass)",
      bpeApply, Some(bpeApplySql)),
    GraftQuery("v4i_encode",
      "V4i vocabulary encoding: docs mapped to token-id sequences " +
        "under the v4e-learned top-50 vocab (in-row literal-map " +
        "lookup, order preserved by transform; OOV drops) — one " +
        "narrow scan, zero shuffles",
      encode, Some(encodeSql)),
    GraftQuery("v4j_decode_roundtrip",
      "V4j decode round-trip witness: each doc rebuilt from only its " +
        "serialized id sequence + the stored vocab, proven equal to " +
        "its in-vocab word subsequence — certifies collision-free ids " +
        "and order-preserving serialization; in-row 50-entry map " +
        "lookups both arms, one doc-keyed join",
      decodeRoundTrip, Some(decodeRoundTripSql)),
    GraftQuery("v21_repetition_filter",
      "V21 Gopher-style repetition gate: duplicate-word + top-bigram " +
        "mass per doc (in-row bigram build, doc-keyed shuffles only)",
      repetitionFilter, Some(repetitionSql)))
}
