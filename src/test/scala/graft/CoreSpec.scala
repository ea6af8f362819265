package graft

import org.apache.spark.sql.functions._

/** Smoke-level correctness for the first operator slice; the deep
  * end-to-end check is the driver's DuckDB oracle (tools/check.py locally).
  */
class CoreSpec extends SparkSpec {

  test("flagship endpoint latencies: groups and schema") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(df.columns.toSeq == Seq("l_returnflag", "l_linestatus",
      "avg_price", "min_price", "max_price", "p50_price", "p90_price",
      "p99_price", "n"))
    // groups are unique and sorted
    val keys = rows.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(keys == keys.sorted && keys.distinct == keys)
  }

  test("query ids are unique and every oracle key has a query") {
    val ids = SparkEntry.all.map(_.id)
    assert(ids.distinct.length == ids.length)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("zero-filled count series covers the dense grid with no gaps") {
    val df = SparkEntry.queries("t10_trace_counts")(spark, sf0001)
    val buckets = df.select("bucket_s").collect().map(_.getLong(0))
    assert(buckets.length == 16)
    assert(buckets.sliding(2).forall(p => p(1) - p(0) == 172800L))
    // root spans in window == sum of series: the tree mapping roots
    // each trace (user) at its earliest event
    val total = df.agg(sum("n")).collect().head.getLong(0)
    val expected = Tables.events(spark, sf0001)
      .groupBy("user_id").agg(min("ts_s").as("root_s"))
      .filter(col("root_s").between(1704067200L, 1706659200L)).count()
    assert(total == expected)
  }

  test("trace list issues: value > 2*group-avg counted per trace") {
    val df = SparkEntry.queries("t08_trace_list")(spark, sf0001)
    // the tree mapping: trace = user, duration = floor(value ms × 1e6)
    // ns; TraceService averages durations on a µs basis
    val ev = Tables.events(spark, sf0001)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1000000).toLong))
    val byUser = ev.groupBy(_._1)
    val expected = byUser.map { case (u, ds) =>
      val avgNs = ds.map(_._2 / 1000).sum.toDouble / ds.length * 1000
      s"trace-$u" -> ds.count(_._2 > 2 * avgNs).toLong
    }
    val got = df.collect().map(r => r.getString(0) -> r.getLong(4)).toSeq
    assert(got.sortBy(_._1) == expected.toSeq.sortBy(_._1))
  }
}
