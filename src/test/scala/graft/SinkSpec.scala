package graft

import graft.sinks.{JdbcSpanSink, ParquetSpanSink, SpanSinks}
import graft.spans.{OtlpExamples, OtlpIngest}
import java.nio.file.Files
import java.util.Properties
import org.apache.spark.sql.functions._

/** The sink seam: JDBC (embedded Derby as the in-sandbox stand-in for the
  * reference's ClickHouse batch insert) and parquet, batch and streaming. */
class SinkSpec extends SparkSpec {

  /** Run `body` against a fresh embedded Derby db, then shut it down and
    * delete it — Derby keeps every booted database open (page cache +
    * tmp disk) until shutdown, so leaking one per test accumulates in a
    * long-lived JVM (same lifecycle IngestOps.jdbcSinkRoundTrip uses). */
  private def withDerby(body: (String, Properties) => Unit): Unit = {
    val db = s"${sys.props("java.io.tmpdir")}/sinkspec_${System.nanoTime()}"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    try body(s"jdbc:derby:$db;create=true", props)
    finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
      catch {
        case e: java.sql.SQLException if e.getSQLState == "08006" =>
          () // single-database shutdown succeeded (always thrown)
      }
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(db))
    }
  }

  private def fixtureSpans = {
    import spark.implicits._
    OtlpIngest.fromJson(spark.createDataset(OtlpExamples.all))
  }

  test("JDBC batch write round-trips values through Derby") {
   withDerby { (url, props) =>
    new JdbcSpanSink(url, "denormalized_span", props)
      .writeBatch(fixtureSpans, 0L)
    val back = JdbcSpanSink.readBack(spark, url, "denormalized_span", props)
    assert(back.count() === 3)
    val r = back.filter(col("name") === "GET /users").collect().head
    assert(r.getAs[String]("trace_id") === "CgsMDQ==")
    assert(r.getAs[Long]("duration_ns") === 100000000L)
    // complex columns survive as JSON text
    assert(get_json_object(lit(r.getAs[String]("resource_attributes")),
      "$['service.name']") != null)
    val svc = back.select(get_json_object(col("resource_attributes"),
      "$['service.name']").as("svc"))
      .filter(col("svc") === "gateway")
    assert(svc.count() === 2)
    // events list survives with its nested attrs
    val ev = back.filter(col("name") === "GET /users")
      .select(col("events")).collect().head.getString(0)
    assert(ev.contains("exception") && ev.contains("IOException"))
   }
  }

  test("JDBC appends accumulate across batches (streaming micro-batch shape)") {
   withDerby { (url, props) =>
    val sink = new JdbcSpanSink(url, "denormalized_span", props)
    sink.writeBatch(fixtureSpans, 0L)
    sink.writeBatch(fixtureSpans, 1L)
    assert(JdbcSpanSink.readBack(spark, url, "denormalized_span", props)
      .count() === 6)
   }
  }

  test("streaming OTLP -> foreachBatch -> JDBC sink end-to-end") {
    val in = SparkSpec.tempDir("otlp-jdbc-in")
    val ckpt = SparkSpec.tempDir("jdbc-ckpt")
    Files.writeString(java.nio.file.Paths.get(s"$in/req1.json"),
      OtlpExamples.current + "\n" + OtlpExamples.legacy + "\n")
    withDerby { (url, props) =>
      val stream = graft.streaming.StreamingOps.streamOtlpJson(spark, in)
      val q = SpanSinks.streamTo(stream,
        new JdbcSpanSink(url, "denormalized_span", props), ckpt)
      q.awaitTermination(60000)
      val back = JdbcSpanSink.readBack(spark, url, "denormalized_span", props)
      assert(back.count() === 3)
      assert(back.filter(col("scope_name") === "legacy-lib").count() === 1)
      // derived ids made it through the stream + JDBC projection
      assert(back.filter(length(col("scope_id")) === 36).count() === 3)
    }
  }

  test("idempotent JDBC sink: replayed micro-batch converges to exactly-once") {
    withDerby { (url, props) =>
      val sink = new JdbcSpanSink(url, "denormalized_span", props)
      sink.writeBatch(fixtureSpans, 0L)
      sink.writeBatch(fixtureSpans, 0L) // replay after a simulated failure
      val back = JdbcSpanSink.readBack(spark, url, "denormalized_span", props)
      assert(back.count() === 3, "replayed batch must not duplicate rows")
      sink.writeBatch(fixtureSpans, 1L) // a NEW batch still appends
      val after = JdbcSpanSink.readBack(spark, url, "denormalized_span", props)
      assert(after.count() === 6)
      assert(after.select("batch_id").distinct().collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L))
    }
  }

  test("parquet sink behind the same seam") {
    val store = SparkSpec.tempDir("seam-store")
    new ParquetSpanSink(store).writeBatch(fixtureSpans, 0L)
    assert(OtlpIngest.readSpans(spark, store).count() === 3)
  }
}
