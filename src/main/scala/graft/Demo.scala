package graft

import graft.spans.{OtlpExamples, OtlpIngest, TraceService}

/** Runnable quickstart — the end-to-end path a reference (nabatshy) user
  * follows after switching: ingest OTLP (both JSON generations), persist
  * the date-partitioned span store, and run the analytics surface.
  *   sbt "runMain graft.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft-demo")
    import spark.implicits._

    // 1. ingest: OTLP/JSON documents -> denormalized span rows
    val spans = OtlpIngest.fromJson(spark.createDataset(OtlpExamples.all))
    println(s"ingested ${spans.count()} spans")

    // 2. persist: date-partitioned parquet store
    val store = graft.util.Memo.path("demo_store")
    OtlpIngest.writeSpans(spans, store)

    // 3. analytics over the store
    val svc = new TraceService(OtlpIngest.readSpans(spark, store))
    println("-- endpoint latencies --")
    svc.endpointLatencies().show(truncate = false)
    println("-- services --")
    svc.services().show(truncate = false)
    println("-- error spans (exception details) --")
    svc.errorSpans().show(truncate = false)
    println("-- search: db.statement=SELECT 1, span mode --")
    svc.search(graft.spans.SearchRequest(query = "db.statement=SELECT 1",
      rootOnly = false)).select("span_id", "name", "duration_ns")
      .show(truncate = false)
    spark.stop()
  }
}
