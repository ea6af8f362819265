package graft.operators

import graft._
import graft.functions.ZOrderFunctions.z_value
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout (SURVEY §2.V north-star, the storage
  * side of corpus curation): Z-order clustering of a table on two
  * dimensions so parquet min-max statistics prune box queries on EITHER
  * dimension — the Delta/Iceberg `OPTIMIZE ZORDER` capability, built
  * from Spark primitives.
  *
  * Mechanics: quantize each dimension to a 16-bit code over its bounds,
  * interleave the codes into a Morton key ([[graft.functions.ZValue]],
  * codegen'd), `repartitionByRange` on the key (one shuffle, contiguous
  * key ranges per file) and sort within partitions before writing. Rows
  * close in both dimensions land in the same few files, so every file's
  * (min,max) envelope on BOTH columns is tight: the scan's ordinary
  * predicate pushdown then skips most files/row-groups — no index
  * structure, no read-path changes. A single-column sort gives the same
  * effect for one dimension and destroys it for the other; the Z-curve
  * splits the benefit across both (LayoutSpec measures exactly this).
  *
  * At 100 TB this is the difference between a box query scanning ~TBs
  * and ~GBs: layout is the only "index" a data lake has. The write is
  * one range-shuffle of the data — the same cost class as any compaction
  * pass, amortized over every subsequent scan. Dimension bounds come
  * from table stats (here: the published series window for time, one
  * cheap min/max agg for the id dimension — what OPTIMIZE reads from
  * table metadata).
  */
object LayoutOps extends QueryModule {

  // The testdata event window ([[graft.EventWindow]], the same range the
  // reference's series endpoints bucket over) — reused as the
  // time-dimension bounds and the query box anchor.
  private val Start = EventWindow.StartS
  private val End = EventWindow.EndS
  private val Day = 86400L
  // 3-day x 5-user box for the registered pruning query
  private val TsLo = Start + 12 * Day
  private val TsHi = Start + 15 * Day
  private val UserLo = 0L
  private val UserHi = 4L

  /** Quantize a long column to a 16-bit code over [lo, hi], clamped;
    * NULL stays NULL (so the Morton key is NULL and those rows sort
    * together, matching [[graft.functions.ZValue]]'s NULL contract —
    * Spark's greatest/least would otherwise silently absorb the NULL
    * into code 0 and pollute the origin file's min-max envelope).
    *
    * The clamp happens BEFORE the scale so the product stays within
    * 65535*(hi-lo): scaling first would let an out-of-range value
    * overflow Long and wrap to code 0 instead of 65535. Requires
    * hi-lo < Long.MaxValue/65535 (~1.4e14 — e.g. 4.4M years in
    * seconds), which every physical dimension satisfies. */
  def q16(c: Column, lo: Long, hi: Long): Column = {
    require(hi - lo < Long.MaxValue / 65535L,
      s"q16 span $lo..$hi too wide for 16-bit Long-space quantization")
    val span = math.max(hi - lo, 1L)
    val clamped = least(greatest(c, lit(lo)), lit(hi))
    when(c.isNotNull, (clamped - lo) * 65535L / span).cast("int")
  }

  /** Z-order `df` by two quantized long dimensions and write `nFiles`
    * range-partitioned, internally sorted parquet files at `out`. */
  def zOrderWrite(df: DataFrame, d1: Column, b1: (Long, Long),
      d2: Column, b2: (Long, Long), out: String, nFiles: Int): Unit =
    df.withColumn("_z",
        z_value(q16(d1, b1._1, b1._2), q16(d2, b2._1, b2._2)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(out)

  /** V12: re-cluster events by (ts, user) and answer a 2-D box query
    * from the clustered copy. The result is layout-invariant (the oracle
    * computes it from the original table); the pruning effect of the
    * layout is pinned in LayoutSpec via per-file min-max envelopes. */
  private def boxAgg(df: DataFrame): DataFrame =
    df.filter(col("ts_s") >= TsLo && col("ts_s") < TsHi &&
        col("user_id").between(UserLo, UserHi))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.microSum(col("value")).as("sum_value_micro"))

  def zorderPrune(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts_s"), col("user_id"), col("value"))
    val ub = ev.agg(min(col("user_id")), max(col("user_id"))).head()
    // empty table / all-NULL ids: nothing to cluster — answer the box
    // query directly (same layout-invariant result, no crash)
    if (ub.isNullAt(0)) return boxAgg(ev)
    val out = graft.util.Memo.path("graft_zorder")
    val path = s"$out/events_z"
    // materialize the 1-row aggregate eagerly so the per-run clustered
    // copy can be deleted before returning (same convention as the
    // per-run Derby database in graft.sinks)
    try {
      zOrderWrite(ev, col("ts_s"), (Start, End),
        col("user_id"), (ub.getLong(0), ub.getLong(1)), path, 16)
      val agg = boxAgg(spark.read.parquet(path))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  // ---- V17: bucketed co-located fact-fact join ----

  /** Bucket count for the co-located join. 8 exercises multi-bucket
    * reads at test SF; a 100 TB deployment sizes this to ~2-4x the
    * cluster's total cores (buckets are the unit of join parallelism
    * AND the per-file size knob: corpus_size / buckets ≈ target file
    * size x files per bucket). */
  val NumBuckets = 8

  /** Write orders and lineitem as BUCKETED, bucket-SORTED tables
    * co-partitioned on the join key — the storage layout that deletes
    * the shuffle (and the sort) from every subsequent fact-fact join
    * on that key. Z-order (v12) is the layout for SCANS; bucketing is
    * the layout for JOINS: at 100 TB a lineitem⋈orders shuffle moves
    * the whole corpus across the network every query, while bucketed
    * tables pay one layout write and then every join is a per-bucket
    * zipper merge with ZERO exchanges on either fact side (PlanSpec
    * pins exactly that). One write per process (same memo convention
    * as the ingest fixture — re-writing would break planned readers);
    * `repartition` on the bucket key before the write yields exactly
    * one file per bucket, which is what lets Spark skip the SMJ sort. */
  private def ensureBucketTables(spark: SparkSession, dir: String): Unit =
    graft.util.Memo.once("bucket_tables", dir) {
      val root = graft.util.Memo.path("graft_buckets")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
        .repartition(NumBuckets, col("l_orderkey"))
        .write.format("parquet")
        .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$root/lineitem_b")
        .mode("overwrite").saveAsTable("graft_lineitem_b")
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(NumBuckets, col("o_orderkey"))
        .write.format("parquet")
        .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$root/orders_b")
        .mode("overwrite").saveAsTable("graft_orders_b")
    }

  /** V25 compaction targets: the fragmented copy's file count and the
    * range-partition count of the compacted rewrite. */
  val FragFiles = 64
  val CompactFiles = 4

  /** V25: small-file compaction — the OPTIMIZE maintenance op every
    * streaming-ingested table needs: micro-batch appends leave
    * thousands of KB-sized files whose per-file open/footer cost comes
    * to dominate scans. Deterministically fragment events into
    * [[FragFiles]] pieces, then compact: repartitionByRange on
    * event_id + sortWithinPartitions — size-targeted, RANGE-clustered
    * files (so the rewrite also buys min-max pruning on the sort key,
    * v12's point). Registry surface is the content summary computed
    * FROM the compacted copy — the oracle computes the same numbers
    * from the original parquet, proving the rewrite preserved content
    * exactly; file counts before/after are pinned in ExtendedOpsSpec.
    * At 100 TB this is a per-partition background rewrite where only
    * the fragmented partitions are touched. */
  /** The frag→compact pipeline shared by the registry op and the
    * spec's file-count probe — ONE definition, so the 64→4 pin in
    * ExtendedOpsSpec always tests the shipped rewrite. Returns the
    * compacted path. */
  private def writeFragAndCompact(spark: SparkSession, df: DataFrame,
      root: String): String = {
    df.repartition(FragFiles).write.mode("overwrite")
      .parquet(s"$root/frag")
    spark.read.parquet(s"$root/frag")
      .repartitionByRange(CompactFiles, col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .write.mode("overwrite").parquet(s"$root/compact")
    s"$root/compact"
  }

  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Memo.path("graft_compact")
    try {
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      val compacted = writeFragAndCompact(spark, ev, root)
      val summary = spark.read.parquet(compacted).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_ids"),
        sum(col("event_id")).as("id_sum"),
        round(Exact.sumExact(col("value")), 6).as("value_sum"),
        min(col("ts_us")).as("min_ts"), max(col("ts_us")).as("max_ts"))
      // materialize before the finally-cleanup deletes the files
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(summary.collect().toSeq.asJava, summary.schema)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively(): Unit
    }
  }

  /** Parquet file counts of the fragmented and compacted copies —
    * spec-reachable form of the v25 rewrite (ExtendedOpsSpec pins
    * frag=[[FragFiles]], compact=[[CompactFiles]], content equal). */
  private[graft] def compactionFileCounts(spark: SparkSession,
      dir: String): (Long, Long) = {
    val root = graft.util.Memo.path("graft_compact_spec")
    try {
      val ev = Tables.events(spark, dir).select(col("event_id"))
      writeFragAndCompact(spark, ev, root)
      def nFiles(p: String): Long = new java.io.File(p).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      (nFiles(s"$root/frag"), nFiles(s"$root/compact"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively(): Unit
    }
  }

  /** V17: revenue by order priority over the bucketed tables — the
    * join itself carries no exchange on either side (both scans are
    * bucket-reads on the join key); the only shuffle in the plan is
    * the final 5-group aggregate. Results are layout-invariant, so the
    * oracle computes the same numbers from the plain parquet. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    ensureBucketTables(spark, dir)
    spark.table("graft_lineitem_b")
      .join(spark.table("graft_orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(Exact.sumExact(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 6).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v17_bucketed_join",
      "V17 bucketed co-located fact-fact join: orders+lineitem stored " +
        "bucket-sorted on the join key; the join runs with zero " +
        "exchanges on either side (PlanSpec-pinned)",
      bucketedJoin,
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
              | round(${OracleSql.sumExact("l_extendedprice*(1.0-l_discount)")},6) AS revenue
              |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),
    GraftQuery("v25_compaction",
      "V25 small-file compaction (OPTIMIZE): 64 fragments rewritten " +
        "into 4 range-clustered files; oracle proves content " +
        "preserved exactly, file counts pinned in ExtendedOpsSpec",
      compaction,
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
              | CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
              | CAST(sum(event_id) AS BIGINT) AS id_sum,
              | round(${OracleSql.sumExact("value")},6) AS value_sum,
              | min(epoch_us(ts)) AS min_ts, max(epoch_us(ts)) AS max_ts
              |FROM events""".stripMargin)),
    GraftQuery("v12_zorder_prune",
      "V12 Z-order layout: re-cluster events on (ts, user), box query " +
        "answered from the clustered copy (pruning pinned in LayoutSpec)",
      zorderPrune,
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n,
              | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
              | CAST(${OracleSql.microSum("value")} AS BIGINT) AS sum_value_micro
              |FROM events
              |WHERE epoch_us(ts)//1000000 >= $TsLo
              |  AND epoch_us(ts)//1000000 < $TsHi
              |  AND user_id BETWEEN $UserLo AND $UserHi""".stripMargin)))
}
