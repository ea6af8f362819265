package graft.util

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan spreading for heavy per-row pipelines.
  *
  * The driver testdata ships each table as ONE single-row-group parquet
  * file, so a scan plans exactly one task and everything fused into the
  * scan stage (the v7 family's PNG synth+decode `mapPartitions`, v68's
  * in-row covariance products) runs on one core of however many the
  * session has (guide §2.5: input skew from an unsplittable file —
  * "repartition immediately after the read"). [[toCores]] inserts that
  * repartition ONLY when the planned scan has fewer tasks than the
  * session's default parallelism, so at deployment scale — where the
  * input is thousands of row groups and the scan already spreads — it
  * is a no-op and no extra exchange is paid. The round-robin exchange
  * carries the projection before the heavy work (ids + lengths for the
  * media tables, the micro-unit vector for the embeddings), never the
  * synthesized payloads; rows-to-partitions assignment is deterministic
  * (sort-before-repartition, Spark's default) and every downstream
  * per-row output is order-independent, so results are unchanged.
  */
object Spread {
  /** Repartition `df` round-robin to the session's default parallelism
    * iff its planned execution has fewer partitions than that — i.e.
    * iff the input cannot spread on its own.
    *
    * Precondition: `df` is a static table read (a filter/projection
    * over a table that does not change for the life of the session) —
    * every caller (MultimodalOps' media tables, PcaOps' embeddings)
    * meets it. The partition
    * probe (df.rdd) compiles a separate physical plan per invocation,
    * and the callers construct the SAME frame many times per process,
    * so the probed count is a [[Memo]] entry per (session, semantically
    * equal logical plan): swept with its session, and valid for as long
    * as the input's file layout is, which the precondition makes the
    * session's lifetime. The probe reflects the pre-AQE scan split by
    * design: it asks "can this INPUT spread on its own", a property of
    * the file layout, not of AQE coalescing. */
  def toCores(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val planned = Memo(Some(spark), "spread",
      df.queryExecution.logical.semanticHash().toString) {
      df.rdd.getNumPartitions
    }
    if (planned < target) df.repartition(target) else df
  }
}
