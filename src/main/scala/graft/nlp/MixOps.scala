package graft.nlp

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data assembly operators over the `documents` table: the two
  * steps that sit between a curated corpus (V13) and a training run —
  * choosing HOW MUCH of each source to take (V14, the mix) and laying
  * the chosen documents out into context-window-sized units (V15,
  * packing). Neither exists in the reference (its pipeline ends at
  * queries); both are standard large-corpus pipeline stages.
  *
  * Scale design: a corpus has FEW sources (here 5), so any plan whose
  * window partitions by `source` alone funnels an entire source —
  * terabytes at the stated target — through ONE task for its sort.
  * Neither operator here does that anymore:
  *
  *  - V14 selects the k smallest hash keys per source WITHOUT a
  *    per-source sort: a histogram over a fixed 4096-bucket key-prefix
  *    grid locates the boundary bucket containing the k-th key, buckets
  *    strictly below it pass wholesale, and only the boundary bucket
  *    (≈ n_g/4096 rows) is ranked — in a window partitioned by
  *    (source, bucket), so every window partition is a 1/4096 slice
  *    regardless of corpus size. The histogram itself is bounded by
  *    construction (≤4096 rows per source however large the data), so
  *    its own cumulative window is over a fixed-size frame.
  *
  *  - V15's running sum is a distributed prefix-sum: documents shard by
  *    doc_id range (order-preserving), each shard cumsums locally in a
  *    (source, shard) window of ≤[[ShardWidth]] rows, per-shard totals
  *    (n/width rows) get exclusive offsets in a tiny window, and
  *    offset + local cumsum is joined back ON THE SAME (source, shard)
  *    key the local window already partitioned by — AQE broadcasts the
  *    small offsets side. At 100 TB, width scales to ~1M docs/shard so
  *    the offsets frame stays a single small task.
  *
  * No driver-side state, no collect, no UDFs — and both operators keep
  * the EXACT semantics of their single-window formulations, so the
  * DuckDB oracle recomputes them with plain window SQL.
  */
object MixOps extends QueryModule {

  /** THE whitespace token count of a document — v15 packs, v40
    * budgets and v65 shard manifests all claim to count "v15's
    * whitespace tokens", so there is exactly ONE spelling (Spark
    * here, SQL in [[toksSql]]); a tokenizer tweak applied to one copy
    * would silently desynchronize packs from budgets from manifests
    * (round-10 review — the armCol/CupedCutS discipline). */
  private def toksCol: Column = when(col("text").isNotNull,
    size(split(lower(col("text")), " "))).otherwise(0)

  /** [[toksCol]]'s DuckDB spelling (BIGINT). */
  private def toksSql: String =
    "CAST(coalesce(len(string_split(lower(text), ' ')), 0) AS BIGINT)"

  // ---- V14: deterministic stratified sample mix ----

  /** Per-source sampling fraction: source srcN takes weight 2^-(N mod 4)
    * — i.e. 1, 1/2, 1/4, 1/8 — standing in for the "mix weights" table
    * a real training-data pipeline attaches to its sources. */
  private def mixExp: Column =
    pmod(expr("CAST(substring(source, 4) AS INT)"), lit(4))

  /** V14: deterministic stratified mix — take ceil(frac_g · n_g) docs
    * from each source, chosen in a pseudorandom-but-engine-agnostic
    * order (md5 of a salted doc id, tie-broken by doc_id). The usual
    * `sample()`/`sampleBy()` draw is seeded RNG — irreproducible across
    * engines and unstable under repartitioning; hash-order selection
    * gives the same sample on ANY engine at ANY parallelism, which is
    * what makes a training mix auditable.
    *
    * Selection is the exact k-th order statistic per source, found
    * distributively (see the object scaladoc): md5 is lowercase hex of
    * fixed length, so ordering by the integer value of its first 3 hex
    * chars (12 bits → 4096 buckets) is consistent with ordering by the
    * full key string — buckets below the boundary pass wholesale, only
    * the boundary bucket is ranked, in (source, bucket) partitions. */
  def sampleMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), mixExp.as("m"),
        md5(concat(lit("mix"), col("doc_id").cast("string"))).as("k"))
      .withColumn("bucket",
        conv(substring(col("k"), 1, 3), 16, 10).cast("int"))
    // histogram: ≤4096 rows per source BY CONSTRUCTION (bucket grid is
    // fixed), so the cumulative window below runs over a bounded frame
    // at any data size
    val hist = docs.groupBy(col("source"), col("m"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val perSrc = Window.partitionBy(col("source"))
    val cum = hist
      .withColumn("cum_before", coalesce(sum(col("c")).over(
        perSrc.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_g", sum(col("c")).over(perSrc))
      .withColumn("k_g",
        ceil(col("n_g") * pow(lit(2.0), -col("m"))).cast("long"))
    // exactly one row per source: the bucket holding the k_g-th key,
    // and the rank still needed inside it
    val boundary = cum
      .filter(col("cum_before") < col("k_g") &&
        col("cum_before") + col("c") >= col("k_g"))
      .select(col("source"), col("bucket").as("b_g"),
        (col("k_g") - col("cum_before")).as("r_g"))
    // rank ONLY within (source, bucket) — every partition is a ~1/4096
    // slice of its source; sub-boundary buckets pass without using it
    val wBucket = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("k"), col("doc_id"))
    docs.join(broadcast(boundary), Seq("source"))
      .filter(col("bucket") <= col("b_g"))
      .withColumn("rk", row_number().over(wBucket))
      .filter(col("bucket") < col("b_g") || col("rk") <= col("r_g"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val sampleMixSql: String =
    """WITH s AS (
      | SELECT doc_id, source,
      |  CAST(substr(source, 4) AS INT) % 4 AS m,
      |  row_number() OVER (PARTITION BY source
      |    ORDER BY md5('mix' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
      |  count(*) OVER (PARTITION BY source) AS n_g
      | FROM documents)
      |SELECT doc_id, source FROM s
      |WHERE rk <= ceil(n_g * power(2.0, -m))
      |ORDER BY doc_id""".stripMargin

  // ---- V15: context-window token packing ----

  /** Tokens per pack — the "context window" the packer fills. */
  val PackTokens = 256

  /** Documents per prefix-sum shard (doc_id range width). Each local
    * cumsum window partition holds at most this many rows; the offsets
    * frame is n/width rows. 128 exercises multiple shards at test SF;
    * a 100 TB run sizes it ~1M so the offsets frame is a single small
    * task (or recurses one more level — offsets are themselves a
    * prefix-sum). */
  val ShardWidth = 128

  /** V15: sequence packing — lay each source's documents end-to-end in
    * doc_id order and cut packs every [[PackTokens]] whitespace tokens:
    * a document belongs to the pack its FIRST token falls in (streaming
    * fill — a straddling document is not split, so a pack can overrun
    * by less than one document; the bin-packing variant that reorders
    * documents for tighter fill is not reproducible incrementally,
    * which is why production packers stream-fill too). Null text packs
    * as 0 tokens.
    *
    * The running sum is a distributed prefix-sum (see object scaladoc):
    * order-preserving doc_id-range shards cumsum locally, exclusive
    * shard offsets come from the tiny per-shard-totals frame, and the
    * global cumulative count is offset + local — identical, row for
    * row, to the single-window form the oracle SQL states. */
  def tokenPacking(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksCol
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toks.cast("long").as("toks"))
      .withColumn("shard",
        floor(col("doc_id") / lit(ShardWidth)).cast("long"))
    // local exclusive cumsum: partitions bounded by ShardWidth rows
    val wLocal = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = d.withColumn("local_cum",
      coalesce(sum(col("toks")).over(wLocal), lit(0L)))
    // per-shard totals (n/ShardWidth rows) → exclusive offsets; shard
    // ids are doc_id ranges, so ordering by shard preserves doc order
    val offsets = d.groupBy(col("source"), col("shard"))
      .agg(sum(col("toks")).as("shard_toks"))
      .withColumn("offset", coalesce(sum(col("shard_toks")).over(
        Window.partitionBy(col("source")).orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("shard"), col("offset"))
    // same key the local window partitioned by — the big side is
    // already exchanged on (source, shard); AQE broadcasts the small
    // offsets side
    local.join(offsets, Seq("source", "shard"))
      .withColumn("cum", col("offset") + col("local_cum"))
      .withColumn("pack_id",
        floor(col("cum") / lit(PackTokens.toDouble)).cast("long"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("pack_id"))
  }

  private val tokenPackingSql: String =
    s"""WITH d AS (
       | SELECT source, doc_id,
       |  $toksSql
       |    AS toks
       | FROM documents),
       |c AS (
       | SELECT source, doc_id, toks,
       |  CAST(coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum
       | FROM d)
       |SELECT source, CAST(floor(cum / ${PackTokens}.0) AS BIGINT) AS pack_id,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(toks) AS BIGINT) AS pack_tokens,
       | min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY source, pack_id
       |ORDER BY source, pack_id""".stripMargin

  // ---- V65: training-shard export (the pipeline's last mile) ----

  /** Tokens per training shard. Test-SF sized (≈13 shards at sf0.01);
    * a production run sets this to the trainer's shard size (e.g.
    * ~100M tokens) — the dataflow is budget-agnostic. */
  val ShardBudget = 2048L

  /** Radix of the shuffle-key prefix used to shard the global
    * prefix-sum: 2 hex chars = 256 ordered buckets, each ≈ n/256 rows
    * (md5 is uniform). A 100 TB run widens the prefix (4 hex chars =
    * 65536 buckets) — same plan, smaller window partitions. */
  private val ShufflePrefixHex = 2

  /** Per-document export row: content-free md5 shuffle key (the v28
    * growth-stable spelling — a doc's position never depends on its
    * neighbors), whitespace token count (v15's), and an
    * order-independent 32-bit content signature for the manifest
    * checksum. */
  private def exportRows(spark: SparkSession, dir: String): DataFrame =
    withExportCols(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")))

  /** The sk/toks/sig derivations over any (doc_id, source, text) frame
    * — ONE spelling shared by the export assignment and the v65c
    * read-back verification, so the jsonl round-trip witness recomputes
    * the manifest ingredients from the FILE BYTES through exactly the
    * expressions the assignment used. */
  private def withExportCols(d: DataFrame): DataFrame =
    d.select(col("*"),
      md5(concat(lit("shard"), col("doc_id").cast("string"))).as("sk"),
      toksCol.cast("long").as("toks"),
      conv(substring(md5(concat(lit("sig"),
        col("doc_id").cast("string"), lit("|"),
        coalesce(TextCanon.normalized, lit("")))), 1, 8), 16, 10)
        .cast("long").as("sig"))

  /** Shard assignment: deterministic global shuffle order = (sk,
    * doc_id); a doc belongs to the shard its FIRST token falls in
    * (v15's stream fill) under a [[ShardBudget]]-token budget. The
    * running sum is the v15 distributed prefix-sum transposed to hash
    * order: bucket = the shuffle key's leading hex prefix (buckets are
    * ORDERED — bucket order is key-prefix order), local exclusive
    * cumsum inside each ≈n/256-row bucket, exclusive offsets from the
    * 256-row bucket-totals frame. No global sort ever runs: shard
    * identity needs only the prefix-sum, and within-shard file order
    * is irrelevant because every manifest column is
    * order-independent. */
  private def withShards(spark: SparkSession, dir: String): DataFrame =
    withShardsOf(exportRows(spark, dir))

  private def withShardsOf(rows: DataFrame): DataFrame = {
    val d = rows
      .withColumn("bkt",
        conv(substring(col("sk"), 1, ShufflePrefixHex), 16, 10)
          .cast("int"))
    val wLocal = Window.partitionBy(col("bkt"))
      .orderBy(col("sk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = d.withColumn("local_cum",
      coalesce(sum(col("toks")).over(wLocal), lit(0L)))
    val offsets = d.groupBy(col("bkt"))
      .agg(sum(col("toks")).as("bkt_toks"))
      .withColumn("offset", coalesce(sum(col("bkt_toks")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("offset"))
    local.join(offsets, Seq("bkt"))
      .withColumn("cum", col("offset") + col("local_cum"))
      .withColumn("shard_id", expr(s"cum div $ShardBudget"))
  }

  /** V65: the shard MANIFEST — per shard: doc count, token count, an
    * order-independent content checksum (sum of per-doc 32-bit
    * signatures over doc_id + normalized text — any dropped, duplicated
    * or altered document changes it), and the shard's shuffle-key
    * range. This is the contract a trainer verifies before reading a
    * shard; fully oracle-checkable, so the driver hash-agrees the
    * checksums themselves. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    manifestOf(withShards(spark, dir)).orderBy(col("shard_id"))

  private def manifestOf(sharded: DataFrame): DataFrame =
    sharded.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("shard_tokens"),
        sum(col("sig")).as("content_sum"),
        min(col("sk")).as("first_key"),
        max(col("sk")).as("last_key"))

  /** V65b: INCREMENTAL shard export — the v19c/v18j maintenance
    * convention for the pipeline's last mile: shard sets are IMMUTABLE
    * per generation. The base snapshot (the 90% `doc_id % 10 != 0`
    * slice) shards as v65 does; the 10% delta exports as its OWN
    * generation of NEW shards numbered after the base maximum (base
    * shards are never rewritten — an export refresh that reshuffles
    * history invalidates every trainer checkpoint downstream). The
    * manifest is the union, generation-tagged; conservation (every doc
    * in exactly one (gen, shard); checksum totals equal the one-shot
    * export's) is pinned in MixSpec. */
  def shardManifestIncremental(spark: SparkSession,
      dir: String): DataFrame = {
    // The narrow per-doc export columns were consumed SIX times in the
    // old plan (base/delta branch × the prefix-sum's two passes, plus
    // the whole base branch again under the numbering offset) — six
    // documents scans each re-deriving the md5 shuffle key and content
    // signature. Materialize them ONCE with text projected away
    // (round 13, guide §7.2 duplicated subtrees / §2.3 project early);
    // the base manifest is checkpointed too (bounded: one row per
    // shard) so the offset aggregate and the union share one branch
    // execution.
    // LAZY checkpoints: the first consuming job materializes each
    // frame in place (an eager job per checkpoint measured as pure
    // added latency at bench scale); later consumers read the blocks.
    val rows = exportRows(spark, dir)
      .select(col("doc_id"), col("sk"), col("toks"), col("sig"))
      .localCheckpoint(eager = false)
    val baseM = manifestOf(
      withShardsOf(rows.filter(pmod(col("doc_id"), lit(10)) =!= 0)))
      .withColumn("gen", lit(0))
      .localCheckpoint(eager = false)
    val offset = baseM
      .agg(coalesce(max(col("shard_id")) + 1L, lit(0L)).as("off"))
    val deltaM = manifestOf(
      withShardsOf(rows.filter(pmod(col("doc_id"), lit(10)) === 0)))
      .crossJoin(broadcast(offset))
      .select((col("shard_id") + col("off")).as("shard_id"),
        col("n_docs"), col("shard_tokens"), col("content_sum"),
        col("first_key"), col("last_key"))
      .withColumn("gen", lit(1))
    baseM.unionByName(deltaM)
      .select(col("gen"), col("shard_id"), col("n_docs"),
        col("shard_tokens"), col("content_sum"), col("first_key"),
        col("last_key"))
      .orderBy(col("gen"), col("shard_id"))
  }

  /** The export itself: writes `docs/` parquet partitioned by shard_id
    * (one file per shard via the shard-keyed repartition) plus the
    * `manifest/` parquet next to it; returns the manifest path pair
    * root. Library surface — the registered entry is [[shardManifest]]
    * (the write is a side effect the correctness gate can't hash). */
  def exportShards(spark: SparkSession, dir: String, out: String): String = {
    withShards(spark, dir)
      .select(col("shard_id"), col("doc_id"), col("source"), col("text"),
        col("toks"), col("sig"))
      .repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id")
      .parquet(s"$out/docs")
    shardManifest(spark, dir)
      .write.mode("overwrite").parquet(s"$out/manifest")
    out
  }

  /** V65c: the gzip-JSONL hand-off twin of [[exportShards]] — the
    * format real training loaders read (one gzip-framed jsonl file per
    * shard, one `{"doc_id":…,"source":…,"text":…}` object per line).
    * The registered entry is a ROUND-TRIP witness, not a manifest
    * recomputed from the source table: the shard files are written
    * once per process (ArtifactCache), then read BACK (gunzip + JSON
    * parse), and every manifest ingredient — token counts, the
    * order-independent content checksum, the shuffle-key range — is
    * recomputed from the parsed file contents through the same
    * [[withExportCols]] expressions the assignment used, grouped by
    * the shard_id each line was FOUND under. Hash-agreeing with the
    * v65 oracle therefore proves every document landed in exactly the
    * assigned shard file with byte-intact text, through the actual
    * gzip jsonl bytes a trainer would consume. Scale: the write is
    * one shard-keyed repartition (no global sort — line order within
    * a shard is irrelevant to every manifest column); the read-back
    * is a linear scan of the written files. */
  def jsonlShardExport(spark: SparkSession, dir: String): DataFrame =
    manifestOf(withExportCols(readJsonlShards(spark, dir)))
      .orderBy(col("shard_id"))

  /** The written v65c shard tree (one gzip jsonl file per shard),
    * built once per process and dir as an [[graft.util.ArtifactCache]]
    * artifact; both v65c (manifest witness) and v65d (corpus loader)
    * read from here. */
  private def jsonlRoot(spark: SparkSession, dir: String): String =
    graft.util.ArtifactCache.cached("v65c_jsonl", dir) { p =>
      withShards(spark, dir)
        .select(col("shard_id"),
          to_json(struct(col("doc_id"), col("source"), col("text")))
            .as("value"))
        .repartition(col("shard_id"))
        .write.mode("overwrite").partitionBy("shard_id")
        .option("compression", "gzip").text(p)
    }

  /** The LOADER half of the jsonl hand-off: gunzip + parse the written
    * shard files back to (shard_id, doc_id, source, text) rows — what
    * a training loader does with the export. */
  private def readJsonlShards(spark: SparkSession, dir: String): DataFrame = {
    val lineSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    spark.read.text(jsonlRoot(spark, dir))
      .select(col("shard_id").cast("long").as("shard_id"),
        from_json(col("value"), lineSchema).as("j"))
      .select(col("shard_id"), col("j.doc_id").as("doc_id"),
        col("j.source").as("source"), col("j.text").as("text"))
  }

  /** V65d: corpus RECONSTRUCTION from the jsonl shards — the loader's
    * integrity check stated at document grain: every (doc_id, source,
    * text) from the gunzipped shard files must equal the source table
    * byte-for-byte. v65c's manifest witnesses per-shard AGGREGATES
    * (counts, checksum sums); this entry is the stronger row-level
    * claim — the DuckDB oracle recomputes (doc_id, source, md5(text))
    * from the ORIGINAL table, so a single altered byte, lost doc or
    * duplicated line in any shard file hash-mismatches. Linear scan of
    * the written files; no joins. */
  def jsonlRoundTrip(spark: SparkSession, dir: String): DataFrame =
    readJsonlShards(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("text_hash"))
      .orderBy(col("doc_id"))

  private lazy val jsonlRoundTripSql: String =
    """SELECT doc_id, source, md5(text) AS text_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The shard chain as a CTE LIST: `${p}d` export rows (under `pred`),
    * `${p}c` the prefix-summed rows, `${p}m` the manifest. */
  private def shardCtes(p: String, pred: String): String = {
    val norm = OracleSql.normalizedText
    s"""${p}d AS (
       | SELECT doc_id,
       |  md5('shard' || CAST(doc_id AS VARCHAR)) AS sk,
       |  $toksSql
       |    AS toks,
       |  ('0x' || substr(md5('sig' || CAST(doc_id AS VARCHAR) || '|' ||
       |     coalesce($norm, '')), 1, 8))::BIGINT AS sig
       | FROM documents $pred),
       |${p}c AS (
       | SELECT *, coalesce(sum(toks) OVER (ORDER BY sk, doc_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       | FROM ${p}d),
       |${p}m AS (
       | SELECT CAST(cum // $ShardBudget AS BIGINT) AS shard_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS shard_tokens,
       |  CAST(sum(sig) AS BIGINT) AS content_sum,
       |  min(sk) AS first_key, max(sk) AS last_key
       | FROM ${p}c GROUP BY 1)""".stripMargin
  }

  private lazy val shardManifestSql: String =
    s"""WITH ${shardCtes("", "")}
       |SELECT shard_id, n_docs, shard_tokens, content_sum,
       | first_key, last_key
       |FROM m ORDER BY shard_id""".stripMargin

  private lazy val shardIncrementalSql: String =
    s"""WITH ${shardCtes("b", "WHERE doc_id % 10 <> 0")},
       | ${shardCtes("x", "WHERE doc_id % 10 = 0")},
       | off AS (SELECT coalesce(max(shard_id) + 1, 0) AS off FROM bm)
       |SELECT CAST(gen AS INT) AS gen, shard_id, n_docs, shard_tokens,
       | content_sum, first_key, last_key
       |FROM (
       | SELECT 0 AS gen, shard_id, n_docs, shard_tokens, content_sum,
       |  first_key, last_key FROM bm
       | UNION ALL
       | SELECT 1 AS gen, xm.shard_id + off.off AS shard_id, n_docs,
       |  shard_tokens, content_sum, first_key, last_key
       | FROM xm CROSS JOIN off)
       |ORDER BY gen, shard_id""".stripMargin

  // ---- V28: deterministic train/val/test hash split ----

  /** The v28 bucket → split assignment as a column over doc_id — ONE
    * spelling shared with the v75/v76 leakage audit and repair (a
    * re-spelled bucket boundary would silently audit a different
    * split than the one shipped). Content-free hash, so the split
    * stays stable as the corpus grows (a doc never migrates between
    * splits when neighbors are added or removed, unlike
    * fraction-of-sorted-order splits). Bucket = first two hex chars
    * of md5('split' ∥ doc_id) read as an integer (256 buckets):
    * < 205 train (~80.1%), < 230 val (~9.8%), else test (~10.2%). */
  private[graft] def splitAssign: Column = {
    val b = conv(substring(
      md5(concat(lit("split"), col("doc_id").cast("string"))), 1, 2),
      16, 10).cast("int")
    when(b < 205, "train").when(b < 230, "val").otherwise("test")
  }

  /** DuckDB spelling of [[splitAssign]]. */
  private[graft] val splitAssignSql: String = {
    val b = "('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR))" +
      ", 1, 2))::INT"
    s"CASE WHEN $b < 205 THEN 'train' WHEN $b < 230 THEN 'val' " +
      "ELSE 'test' END"
  }

  /** V28: every document assigned to train/val/test by
    * [[splitAssign]]'s content-free hash, rolled up per (source,
    * split). Pure per-row map + one aggregate with map-side partial
    * combine — no window, no join, embarrassingly parallel at any
    * scale. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", splitAssign)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"), col("split"))

  private val hashSplitSql: String =
    """WITH s AS (
      | SELECT source, doc_id,
      |  ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 2))::INT AS b
      | FROM documents)
      |SELECT source,
      | CASE WHEN b < 205 THEN 'train' WHEN b < 230 THEN 'val'
      |      ELSE 'test' END AS split,
      | CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(min(doc_id) AS BIGINT) AS min_doc,
      | CAST(max(doc_id) AS BIGINT) AS max_doc
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- V48: stratified fixed-size sampling ----

  /** Per-stratum sample size for V48 (10 docs × 20 sources = 200 rows
    * at every SF — the strata are the source DOMAIN, so output is
    * corpus-size-independent). */
  val StratumSampleN = 10

  /** V48: stratified fixed-size sampling — exactly [[StratumSampleN]]
    * documents per source, chosen by a content-free md5 order (the
    * deterministic "random" every engine reproduces): the eval-set /
    * human-review draw where each stratum must contribute a fixed
    * count, not a fixed fraction (v14 is the fraction form).
    *
    * Scale: the per-source "n smallest hash" selection runs on the
    * native [[graft.plans.TopKPerKey]] heap operator (third registered
    * user) — one unsorted O(n log k) pass per partition, one hash
    * exchange carrying ≤ k·sources·partitions rows, no whole-source
    * sort anywhere; the rank window afterwards only ever sees the
    * k·sources survivors. Growth-stable like v28: adding documents
    * can only displace, never reshuffle, a stratum's sample order. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(spark, dir)
      .withColumn("skey", conv(substring(
        md5(concat(lit("strat"), col("doc_id").cast("string"))), 1, 14),
        16, 10).cast("long"))
      .select(col("source"), col("doc_id"), col("skey"), col("n_chars"))
    graft.plans.TopKPerKey.topK(keyed,
        Seq("source"), Seq("skey", "doc_id"), StratumSampleN)
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("skey"), col("doc_id"))))
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rk"))
  }

  private val stratifiedSampleSql: String =
    s"""WITH k AS (
       | SELECT source, doc_id, n_chars,
       |  ('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 14))
       |    ::BIGINT AS skey
       | FROM documents),
       | r AS (SELECT source, doc_id, n_chars,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY skey, doc_id) AS rk
       |       FROM k)
       |SELECT source, CAST(rk AS INT) AS rk, doc_id, n_chars
       |FROM r WHERE rk <= $StratumSampleN
       |ORDER BY source, rk""".stripMargin

  // ---- V34: deterministic importance sampling ----

  /** V34: importance sampling — keep each event with probability
    * proportional to its weight (value/512 here, standing in for a
    * quality/importance score), decided by the same content-free
    * md5-uniform that v28 splits on: u·51200 < ⌊value·100⌋·2²⁴ in
    * exact integer space (u = first 24 hash bits), so acceptance is
    * reproducible row-for-row across engines and stable as the corpus
    * grows — the weighted counterpart of v14's uniform per-source
    * fractions. Pure map + one aggregate; the kept-mass sum goes
    * through decimal-exact summation. */
  def importanceSample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("u", conv(substring(
        md5(concat(lit("w"), col("event_id").cast("string"))), 1, 6),
        16, 10).cast("long"))
      .withColumn("keep",
        col("u") * 51200L <
          floor(col("value") * 100).cast("long") * 16777216L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
        round(Exact.sumExact(when(col("keep"), col("value"))
          .otherwise(lit(0.0))), 6).as("kept_mass"))
      .withColumn("kept_share", Exact.ratio6(col("n_kept"), col("n_total")))
      .orderBy(col("event_type"))

  private val importanceSql: String =
    s"""WITH s AS (
      | SELECT event_type, value,
      |  ('0x' || substr(md5('w' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
      |    * 51200 < CAST(floor(value * 100) AS BIGINT) * 16777216 AS keep
      | FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
      | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | round(${OracleSql.sumExact("CASE WHEN keep THEN value ELSE 0.0 END")}, 6)
      |   AS kept_mass,
      | ${OracleSql.ratio6("sum(CASE WHEN keep THEN 1 ELSE 0 END)",
         "count(*)")} AS kept_share
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- V40: token-budget allocation (water-filling) ----

  /** V40: budget allocation across weighted sources — the planning step
    * BEFORE v14's mix draw: given per-source token capacities c_g, mix
    * weights w_g, and a token budget B (70% of the corpus here), find
    * the water-filling allocation a_g = min(c_g, ⌊λ·w_g⌋) with λ set so
    * the budget is spent: sources whose capacity sits below their fair
    * share saturate, the rest split what remains in weight proportion.
    * EXACT in integer space: sources sort by the integer ratio c·8/w
    * (w ∈ {1,2,4,8} divides 8), saturation is the cross-multiplied
    * compare c·Σw_rest ≤ (B−prefC)·w over prefix sums — the saturated
    * set is provably a PREFIX of that order, which is what makes the
    * closed form correct — and the final division floors, so Σa ≤ B
    * with both engines agreeing bit-for-bit.
    *
    * Scale: one scan reduces the corpus to a SOURCES-sized frame (per-
    * source token sums, map-side combined); every window after runs on
    * that domain-bounded frame. Two logical uses of the frame (flags +
    * totals) recompute it — two scans, v26's two-pass precedent. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksCol
    val caps = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(toks.cast("long")).as("c"))
      .withColumn("w",
        expr("8L div shiftleft(1L, CAST(substring(source, 4) AS INT) % 4)"))
    val tots = caps.agg(sum(col("c")).as("totc"), sum(col("w")).as("totw"))
    val ord = Window.orderBy(Exact.intDiv(col("c") * 8L, col("w")),
      col("source"))
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val upto = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = caps.crossJoin(tots)
      .withColumn("b", Exact.intDiv(col("totc") * 7L, lit(10L)))
      .withColumn("cumw", coalesce(sum(col("w")).over(before), lit(0L)))
      .withColumn("prefc", coalesce(sum(col("c")).over(before), lit(0L)))
      .withColumn("sat", when(col("c") * (col("totw") - col("cumw")) <=
        (col("b") - col("prefc")) * col("w"), 1).otherwise(0))
      .withColumn("satall", min(col("sat")).over(upto))
    val parts = flagged.agg(
      sum(when(col("satall") === 1, col("c")).otherwise(0L)).as("satc"),
      sum(when(col("satall") === 0, col("w")).otherwise(0L)).as("unsatw"))
    flagged.crossJoin(parts)
      .withColumn("allocated", when(col("satall") === 1, col("c"))
        .otherwise(Exact.intDiv(
          (col("b") - col("satc")) * col("w"), col("unsatw"))))
      .select(col("source"), col("w"), col("c").as("capacity"),
        col("allocated"), col("satall").cast("int").as("saturated"),
        Exact.ratio6(col("allocated"), col("b")).as("budget_share"))
      .orderBy(col("source"))
  }

  private lazy val tokenBudgetSql: String =
    s"""WITH caps AS (
       | SELECT source,
       |  sum($toksSql) AS c,
       |  8 // (1 << (CAST(substr(source, 4) AS INT) % 4)) AS w
       | FROM documents GROUP BY source),
       |t AS (SELECT sum(c) AS totc, sum(w) AS totw FROM caps),
       |o AS (
       | SELECT caps.source, caps.c, caps.w, t.totw,
       |  (t.totc * 7) // 10 AS b,
       |  coalesce(sum(w) OVER (ORDER BY c*8//w, source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw,
       |  coalesce(sum(c) OVER (ORDER BY c*8//w, source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefc
       | FROM caps CROSS JOIN t),
       |s AS (
       | SELECT *, CASE WHEN c * (totw - cumw) <= (b - prefc) * w
       |   THEN 1 ELSE 0 END AS sat FROM o),
       |s2 AS (
       | SELECT *, min(sat) OVER (ORDER BY c*8//w, source
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS satall
       | FROM s),
       |g AS (
       | SELECT sum(CASE WHEN satall = 1 THEN c ELSE 0 END) AS satc,
       |  sum(CASE WHEN satall = 0 THEN w ELSE 0 END) AS unsatw FROM s2),
       |a AS (
       | SELECT s2.source, s2.w, s2.c, s2.b, s2.satall,
       |  CASE WHEN s2.satall = 1 THEN s2.c
       |       ELSE ((s2.b - g.satc) * s2.w) // g.unsatw END AS allocated
       | FROM s2 CROSS JOIN g)
       |SELECT source, CAST(w AS BIGINT) AS w, CAST(c AS BIGINT) AS capacity,
       | CAST(allocated AS BIGINT) AS allocated,
       | CAST(satall AS INT) AS saturated,
       | ${OracleSql.ratio6("allocated", "b")} AS budget_share
       |FROM a ORDER BY source""".stripMargin

  // ---- V41: duplicate-discounted sampling ----

  /** V41: dedup-aware sampling — each document kept with probability
    * 1/n_copies of its normalized content ([[TextCanon]] hash), so
    * every DISTINCT content contributes the same expected mass to the
    * sample no matter how many times it was crawled: the sampling-side
    * answer to duplicate skew (the alternative to hard dedup when copy
    * count itself is signal). The keep decision is v34's md5-uniform in
    * EXACT integer space — u₂₄·n_copies < 2²⁴ — so uniques are always
    * kept and the draw is reproducible at any parallelism on any
    * engine. One hash-keyed aggregate + one keyed join + one per-source
    * aggregate: linear, no windows. Null-text docs are excluded
    * explicitly (a null hash would silently drop from the join). */
  def dedupWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), TextCanon.normHash.as("h"))
    val copies = docs.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    docs.join(copies, Seq("h"))
      .withColumn("u", conv(substring(
        md5(concat(lit("dw"), col("doc_id").cast("string"))), 1, 6),
        16, 10).cast("long"))
      .withColumn("keep", col("u") * col("n_copies") < lit(16777216L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1).otherwise(0)).cast("long")
          .as("n_dup_docs"),
        sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"))
      .withColumn("kept_share", Exact.ratio6(col("n_kept"), col("n_docs")))
      .orderBy(col("source"))
  }

  private lazy val dedupWeightedSql: String =
    s"""WITH d AS (
       | SELECT doc_id, source, ${OracleSql.normHashText} AS h
       | FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT h, count(*) AS n_copies FROM d GROUP BY 1),
       |k AS (
       | SELECT d.source, c.n_copies,
       |  ('0x' || substr(md5('dw' || CAST(d.doc_id AS VARCHAR)), 1, 6))
       |    ::BIGINT * c.n_copies < 16777216 AS keep
       | FROM d JOIN c USING (h))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_dup_docs,
       | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       | ${OracleSql.ratio6("sum(CASE WHEN keep THEN 1 ELSE 0 END)",
          "count(*)")} AS kept_share
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- V43: cross-source duplication matrix ----

  /** V43: which crawls duplicate each other — the full source×source
    * duplication matrix over DISTINCT normalized contents: off-diagonal
    * (a<b) counts contents present in both feeds, the diagonal counts
    * contents duplicated WITHIN a feed — the dedup ANALYTICS view (v1
    * counts copies, v2e clusters them; this attributes duplication to
    * its feed pairs, which is what decides who gets re-crawled less).
    * Zero-filled over the bounded source-pair frame so a clean corpus
    * reports explicit zeros (and the entry stays non-empty at every
    * SF). One (hash, source, n) aggregate; the cross-pair self-join
    * keys on the hash with per-hash fan-out bounded by the SOURCE
    * domain; the output is the ≤ C(sources,2)+sources frame. Null
    * texts excluded as in v41. */
  def crossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    val hs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(TextCanon.normHash.as("h"), col("source"))
    val hsrc = hs.groupBy(col("h"), col("source"))
      .agg(count(lit(1)).as("n"))
    val cross = hsrc.as("a").join(hsrc.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val within = hsrc.filter(col("n") >= 2)
      .groupBy(col("source").as("source_a"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("source_b", col("source_a"))
    val srcs = Tables.documents(spark, dir).select(col("source")).distinct()
    val frame = srcs.as("x").join(srcs.as("y"),
        col("x.source") <= col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
    frame.join(cross.unionByName(within.select(col("source_a"),
        col("source_b"), col("n_shared"))),
        Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .orderBy(col("source_a"), col("source_b"))
  }

  private lazy val crossSourceDupSql: String =
    s"""WITH hs AS (
       | SELECT ${OracleSql.normHashText} AS h, source, count(*) AS n
       | FROM documents WHERE text IS NOT NULL GROUP BY 1, 2),
       |cr AS (
       | SELECT a.source AS source_a, b.source AS source_b,
       |  count(*) AS n_shared
       | FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
       | GROUP BY 1, 2),
       |wi AS (
       | SELECT source AS source_a, source AS source_b,
       |  count(*) AS n_shared
       | FROM hs WHERE n >= 2 GROUP BY 1, 2),
       |u AS (SELECT * FROM cr UNION ALL SELECT * FROM wi),
       |f AS (
       | SELECT x.source AS source_a, y.source AS source_b
       | FROM (SELECT DISTINCT source FROM documents) x
       | JOIN (SELECT DISTINCT source FROM documents) y
       |   ON x.source <= y.source)
       |SELECT f.source_a, f.source_b,
       | CAST(coalesce(u.n_shared, 0) AS BIGINT) AS n_shared
       |FROM f LEFT JOIN u USING (source_a, source_b)
       |ORDER BY 1, 2""".stripMargin

  /** V52 sampling temperature exponent (α = 1/2) and the document
    * budget the weights allocate. α < 1 flattens the source
    * distribution — the multilingual/multi-corpus rebalancing rule
    * (sample ∝ n^α) that keeps head sources from drowning the tail. */
  val MixBudget = 100000L

  /** V52: temperature-scaled source mixing — per source, the raw share,
    * the α=0.5 flattened weight, and its integer allocation of
    * [[MixBudget]]. Exactness: n^0.5 is one IEEE-correctly-rounded
    * sqrt on an integer (identical doubles in both engines), frozen to
    * micro-units with the same floor(x*1e6+0.5) both sides; every
    * share/allocation after that is integer ratio arithmetic
    * ([[Exact.ratio6]] / integer div), so largest-source-last rounding
    * cannot drift. Scale: ONE partial-agg count shuffle onto the
    * bounded source frame; the totals ride a broadcast 1-row
    * aggregate. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("s_micro",
        floor(sqrt(col("n_docs").cast("double")) * 1000000.0 + 0.5)
          .cast("long"))
    val totals = perSrc.agg(sum(col("n_docs")).as("tot_n"),
      sum(col("s_micro")).as("tot_s"))
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        Exact.ratio6(col("n_docs"), col("tot_n")).as("raw_share"),
        Exact.ratio6(col("s_micro"), col("tot_s")).as("weight"),
        Exact.intDiv(lit(MixBudget) * col("s_micro") +
          shiftright(col("tot_s"), 1), col("tot_s")).as("alloc"))
      .orderBy(col("source"))
  }

  private lazy val temperatureMixSql: String =
    s"""WITH p AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |   CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5)
       |     AS BIGINT) AS s_micro
       |  FROM documents GROUP BY 1),
       | t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_n,
       |              CAST(sum(s_micro) AS BIGINT) AS tot_s FROM p)
       |SELECT source, n_docs,
       | ${OracleSql.ratio6("n_docs", "tot_n")} AS raw_share,
       | ${OracleSql.ratio6("s_micro", "tot_s")} AS weight,
       | ($MixBudget * s_micro + tot_s // 2) // tot_s AS alloc
       |FROM p CROSS JOIN t ORDER BY source""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v52_temperature_mix",
      "V52 temperature-scaled source mixing (sample ∝ n^0.5): raw " +
        "share vs flattened weight and the integer budget allocation " +
        "per source — one keyed count shuffle + broadcast totals, " +
        "IEEE-sqrt/integer-exact both engines",
      temperatureMix, Some(temperatureMixSql)),
    GraftQuery("v43_cross_source_dup",
      "V43 cross-source duplication matrix: distinct shared contents " +
        "per source pair (hash-keyed self-join of the distinct " +
        "(hash, source) set; fan-out bounded by the source domain)",
      crossSourceDup, Some(crossSourceDupSql)),
    GraftQuery("v41_dedup_weighted_sample",
      "V41 duplicate-discounted sampling: keep probability 1/n_copies " +
        "of the normalized content (md5-uniform vs copy count in exact " +
        "integer space — uniques always kept, distinct contents get " +
        "equal expected mass)",
      dedupWeightedSample, Some(dedupWeightedSql)),
    GraftQuery("v40_token_budget",
      "V40 water-filling token-budget allocation across weighted " +
        "sources (saturate-below-fair-share, split the rest by weight; " +
        "exact prefix-sum closed form in integer space)",
      tokenBudget, Some(tokenBudgetSql)),
    GraftQuery("v34_importance_sample",
      "V34 deterministic importance sampling: keep probability " +
        "proportional to row weight, decided by md5-uniform in exact " +
        "integer space (pure map + one aggregate)",
      importanceSample, Some(importanceSql)),
    GraftQuery("v48_stratified_sample",
      "V48 stratified fixed-size sampling: exactly n docs per source " +
        "by content-free md5 order on the native TopKPerKey heap " +
        "operator — no whole-source sort, rank window sees only the " +
        "k*sources survivors; growth-stable like v28",
      stratifiedSample, Some(stratifiedSampleSql)),
    GraftQuery("v28_hash_split",
      "V28 deterministic train/val/test split by md5 bucket (stable " +
        "under corpus growth; pure map + one aggregate)",
      hashSplit, Some(hashSplitSql)),
    GraftQuery("v14_sample_mix",
      "V14 deterministic stratified mix: per-source fraction 2^-(N%4), " +
        "hash-order selection via bucketed exact order statistic (no " +
        "per-source sort; boundary bucket ranked in 1/4096 slices)",
      sampleMix, Some(sampleMixSql)),
    GraftQuery("v15_token_packing",
      s"V15 sequence packing: stream-fill docs into $PackTokens-token " +
        "packs per source (distributed prefix-sum over doc_id-range " +
        "shards; straddlers stay whole)",
      tokenPacking, Some(tokenPackingSql)),
    GraftQuery("v65_shard_manifest",
      s"V65 training-shard export manifest: deterministic md5 global " +
        s"shuffle + $ShardBudget-token stream-fill shard assignment " +
        "(hash-ordered distributed prefix-sum, no global sort) with " +
        "per-shard doc/token counts and an order-independent content " +
        "checksum — the contract a trainer verifies per shard",
      shardManifest, Some(shardManifestSql)),
    GraftQuery("v65b_shard_incremental",
      "V65b incremental shard export (the v19c/v18j maintenance " +
        "convention at the last mile): shard sets are immutable per " +
        "generation — the 10% delta exports as NEW shards numbered " +
        "after the base maximum, base shards never rewritten; " +
        "generation-tagged manifest union",
      shardManifestIncremental, Some(shardIncrementalSql)),
    GraftQuery("v65c_jsonl_export",
      "V65c gzip-JSONL shard export (the trainer hand-off format): " +
        "one jsonl.gz file per v65 shard, written once then read BACK " +
        "— manifest ingredients recomputed from the gunzipped parsed " +
        "lines and grouped by the shard each line was found under, so " +
        "the v65 oracle hash-agreeing proves placement + byte-intact " +
        "round-trip through the actual files a loader would read",
      jsonlShardExport, Some(shardManifestSql)),
    GraftQuery("v65d_jsonl_roundtrip",
      "V65d jsonl loader round-trip: the corpus RECONSTRUCTED from the " +
        "gunzipped v65c shard files, row-for-row — (doc_id, source, " +
        "md5(text)) vs the original table's own hashes; one altered " +
        "byte, lost doc or duplicated line in any shard file breaks " +
        "the oracle hash",
      jsonlRoundTrip, Some(jsonlRoundTripSql)))
}
