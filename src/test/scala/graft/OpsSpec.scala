package graft

import graft.spans.{OtlpIngest, SearchRequest, SpanStore, TraceService}
import org.apache.spark.sql.functions._

/** Operational surface: compaction, retention, query timeout, search
  * page metadata. */
class OpsSpec extends SparkSpec {

  private def freshStore(): String = {
    val dir = SparkSpec.tempDir("graft-ops")
    val spans = SpanFixtures.spans(spark)
    // three appends -> several small files in the same date partition
    OtlpIngest.writeSpans(spans, dir)
    OtlpIngest.writeSpans(spans, dir)
    OtlpIngest.writeSpans(spans, dir)
    dir
  }

  test("compaction rewrites a date partition to one file, same rows") {
    val dir = freshStore()
    val before = SpanStore.partitionFileCounts(spark, dir)("2024-01-01")
    assert(before >= 3)
    val rows = OtlpIngest.readSpans(spark, dir).count()
    SpanStore.compactPartition(spark, dir, "2024-01-01")
    assert(SpanStore.partitionFileCounts(spark, dir)("2024-01-01") === 1)
    assert(OtlpIngest.readSpans(spark, dir).count() === rows)
  }

  test("retention drops partitions older than the keep window") {
    val dir = SparkSpec.tempDir("graft-ttl")
    val spans = SpanFixtures.spans(spark)
    val yearNs = 31536000000000000L
    OtlpIngest.writeSpans(spans, dir) // 2024-01-01
    OtlpIngest.writeSpans(spans
      .withColumn("start_time_unix_nano",
        col("start_time_unix_nano") + lit(yearNs))
      .withColumn("end_time_unix_nano",
        col("end_time_unix_nano") + lit(yearNs)), dir) // 2024-12-31
    val dropped = SpanStore.expire(spark, dir, keepDays = 30)
    assert(dropped === Seq("2024-01-01"))
    val left = OtlpIngest.readSpans(spark, dir)
      .select("date").distinct().collect().map(_.get(0).toString)
    assert(left.toSeq === Seq("2024-12-31"))
  }

  test("runWithTimeout cancels a long job and passes a fast one") {
    import spark.implicits._
    val fast = GraftSession.runWithTimeout(spark, 60, "fast-q") {
      spark.range(1000).count()
    }
    assert(fast === Some(1000L))
    // a deliberately huge cartesian count that cannot finish in 2s
    val slow = GraftSession.runWithTimeout(spark, 2, "slow-q") {
      val big = spark.range(2000000).toDF("a")
      big.crossJoin(big.select(col("a").as("b")))
        .filter(col("a") + col("b") === -1).count()
    }
    assert(slow === None)
  }

  test("searchWithTotal returns page plus exact total") {
    val svc = new TraceService(SpanFixtures.spans(spark))
    val (page, total) = svc.searchWithTotal(
      SearchRequest(rootOnly = false, pageSize = 2,
        sortField = "start_time_unix_nano"))
    assert(total === 3) // all child spans
    assert(page.count() === 2) // first page capped at pageSize
  }
}
