package perfbench

import java.io.File
import java.nio.file.Files

import graft.spans.{OtlpIngest, TraceService}
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** A traced run's span file is a span store the library's own trace
  * analytics can read, and its phases account for every timed entry. */
class TracedRunSpec extends AnyFunSuite with SparkFixture {
  test("traced entries read back through TraceService and their phases add up") {
    val base = Files.createTempDirectory("perfbench-trace").toFile
    try {
      val tracer = new Tracer(spark, traced = true)
      val dir = new File(root, RegistryWorkload.DataDir).getPath
      val ref = RegistryWorkload.reference(root)
      val entries = Seq("v7d_image_phash_dedup" -> "mm", "w2_range_join" -> "operators")
      val recs = entries.map { case (id, layer) =>
        val (rec, hash) = RegistryWorkload.runEntry(spark, tracer, dir, id, layer, "cold")
        assert(rec.ok, rec.error)
        assert(ref(id) == (rec.rowsOut -> hash))
        rec
      }
      val traced = tracer.spans("registry_batch", Map("seed" -> "0"))
      tracer.close()
      val path = new File(base, "spans").getPath
      Store.write(spark, traced, path, 1)
      val spans = OtlpIngest.readSpans(spark, path)
      val svc = new TraceService(spans)

      // one root per entry plus the run root, grouped by (name, layer)
      val lat = svc.endpointLatencies().collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("scope_name")) -> r.getAs[Long]("n")).toMap
      entries.foreach { case (id, layer) => assert(lat((id, layer)) == 1L) }
      assert(lat(("run", "perfbench")) == 1L)

      // entry -> phase -> job -> stage: every entry trace is at least 3 deep
      val roots = spans.filter(col("parent_span_id") === "")
      val entryTraces = roots.filter(col("name").isin(entries.map(_._1): _*))
        .select("trace_id", "name").collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val depths = svc.spanDepths().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      entryTraces.keys.foreach(t => assert(depths(t) >= 3, s"trace $t depth ${depths(t)}"))

      // construct + plan + exec tile the entry exactly
      entryTraces.foreach { case (t, name) =>
        val inTrace = spans.filter(col("trace_id") === t)
        val rootDur = inTrace.filter(col("parent_span_id") === "")
          .select("duration_ns").head().getLong(0)
        val phases = inTrace.filter(col("name").isin("construct", "plan", "exec"))
          .agg(sum("duration_ns")).head().getLong(0)
        val rec = recs.find(_.name == name).get
        assert(phases == rootDur)
        assert(rootDur == rec.t3 - rec.t0)
      }
    } finally Store.rmrf(base)
  }
}
