package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** The ONE Bloom build/probe used by every runtime-filter shape in the
  * dedup family (v20b new-docs screen, the over-the-bound scrub-ledger
  * fallback): Catalyst's BloomFilterAggregate sized at 8 bits/item
  * (~2% fpp at capacity), XxHash64 keys, probed in-row by
  * BloomFilterMightContain.
  *
  * The subtlety this helper exists for (round-10 review finding):
  * BloomFilterAggregate silently CLAMPS its size to
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default 2²⁶ =
  * 67,108,864 bits) and `.maxNumItems` (default 4M) — verified against
  * the Spark 4.1.2 bytecode. The scrub fallback only engages above 1M
  * ledger windows, so with the defaults the sketch would saturate past
  * ~8M windows and `might_contain` would degrade to ~always-true,
  * silently re-exposing every window to the exact join the screen
  * exists to avoid. The build therefore raises both confs to the
  * requested size around the (eager) aggregation and restores them
  * after — the aggregate reads SQLConf at build time, and the
  * session-conf snapshot propagates to the executors with the job. */
private[graft] object BloomSketch {

  private[graft] def hashOf(c: Column) =
    ColumnBridge.column(new XxHash64(Seq(ColumnBridge.expression(c))))

  /** Aggregate `df`'s `c` into Bloom bytes sized for `expectedItems`;
    * null when `df` is empty (the aggregate's own empty-input value —
    * callers branch to their exact no-ledger answer). */
  private[graft] def bloomBytes(df: DataFrame, c: Column,
      expectedItems: Long): Array[Byte] = {
    // Per-session build monitor: the conf set/restore pair below is
    // read-modify-write on SESSION state, so two concurrent builds on
    // one session could clamp each other (the sketch silently
    // saturates — perf-only, the exact join keeps correctness) or
    // restore the other's raised value out of order, leaving the caps
    // permanently raised. Builds on one session serialize here; the
    // aggregation is a sub-second single job, so the monitor costs
    // nothing, and distinct sessions never contend. The lock object is
    // a (not counted) Memo entry, so it is swept with its session.
    val lock = graft.util.Memo(Some(df.sparkSession), "bloom_lock", "",
      counted = false)(new Object)
    lock.synchronized { bloomBytesLocked(df, c, expectedItems) }
  }

  private def bloomBytesLocked(df: DataFrame, c: Column,
      expectedItems: Long): Array[Byte] = {
    val spark = df.sparkSession
    val n = math.max(1L, expectedItems)
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val prevBits = spark.conf.getOption(bitsKey)
    val prevItems = spark.conf.getOption(itemsKey)
    def restore(key: String, prev: Option[String]): Unit = prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    try {
      spark.conf.set(bitsKey, math.max(67108864L, n * 8L).toString)
      spark.conf.set(itemsKey, math.max(4000000L, n).toString)
      df.select(ColumnBridge.column(
          new BloomFilterAggregate(
            ColumnBridge.expression(hashOf(c)),
            Literal(n), Literal(n * 8L))
            .toAggregateExpression()).as("bf"))
        .head.getAs[Array[Byte]](0)
    } finally {
      restore(bitsKey, prevBits)
      restore(itemsKey, prevItems)
    }
  }

  /** In-row probe of a built sketch. */
  private[graft] def mightContain(bfBytes: Array[Byte],
      c: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bfBytes, BinaryType),
      ColumnBridge.expression(hashOf(c))))
}
