package graft.sinks

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Span sinks behind one seam (SURVEY §1.5/§2.A A4). The reference's only
  * sink is the ClickHouse batch insert (utils/utils.go:160-244 over the
  * connection from db/clickhouse.go:13-27); the stated Spark-first
  * architecture is Structured Streaming → foreachBatch → bulk write. The
  * trait isolates exactly that decision: the streaming plumbing
  * ([[SpanSinks.streamTo]]) is sink-agnostic, and a deployment picks
  * parquet (data-lake store), JDBC (warehouse/ClickHouse-over-JDBC), or
  * both, without touching the pipeline.
  *
  * Scale notes: `foreachBatch` gives at-least-once delivery per
  * micro-batch with checkpointed offsets; the JDBC writer keeps Spark's
  * per-partition write parallelism (one connection per partition, batched
  * inserts) — the distributed equivalent of the reference's single-node
  * PrepareBatch/Send loop. Exactly-once needs an idempotent target:
  * batchId is passed through so [[JdbcSpanSink]] can replace a replayed
  * batch's rows instead of appending them twice; [[ParquetSpanSink]]
  * appends.
  */
trait SpanSink {
  def writeBatch(batch: DataFrame, batchId: Long): Unit
}

/** Date-partitioned parquet store (the default analytics sink). */
final class ParquetSpanSink(path: String) extends SpanSink {
  override def writeBatch(batch: DataFrame, batchId: Long): Unit =
    graft.spans.OtlpIngest.writeSpans(batch, path)
}

/** JDBC bulk-append sink — the ClickHouse-insert seam
  * (utils/utils.go:169-240). Complex columns (attr maps, events) are
  * serialized to JSON text so the row shape is portable across JDBC
  * dialects (Derby/Postgres/ClickHouse-JDBC); a ClickHouse target with
  * native Map columns would need its own projection in place of
  * [[JdbcSpanSink.relationalProjection]].
  * Tested against embedded Derby (the JDBC engine available in-sandbox).
  *
  * Exactly-once under replay: every row is stamped with its micro-batch
  * id, and a batch write first deletes any rows a previous attempt of
  * the SAME batch landed. foreachBatch is at-least-once (offsets
  * checkpoint only after the batch function returns), so a crash
  * mid-write replays the whole batch — delete-then-insert makes each
  * replay CONVERGE to exactly-once table contents without needing a
  * cross-partition transaction. This is the portable-JDBC analog of
  * ClickHouse-side dedup (ReplacingMergeTree keyed on a batch column).
  * At warehouse scale the target should be indexed/partitioned on
  * batch_id so the replay delete is a partition drop, not a full scan.
  * `properties` carries the connection's driver and credentials.
  */
final class JdbcSpanSink(url: String, table: String,
    properties: Properties = new Properties()) extends SpanSink {

  override def writeBatch(batch: DataFrame, batchId: Long): Unit = {
    deletePriorAttempt(batchId)
    JdbcSpanSink.relationalProjection(batch)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append")
      .option("batchsize", JdbcSpanSink.BatchSize.toString)
      .option("createTableColumnTypes", JdbcSpanSink.ColumnTypes)
      .jdbc(url, table, properties)
  }

  /** Remove rows a failed earlier attempt of this micro-batch wrote.
    * A missing table (first batch against a fresh target) is fine;
    * anything else propagates. */
  private def deletePriorAttempt(batchId: Long): Unit = {
    Option(properties.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, properties)
    try {
      val st = conn.createStatement()
      // Spark's JDBC writer quotes column identifiers on CREATE through
      // the target's dialect — quote the same way here (ANSI quotes are
      // a string LITERAL on default-mode MySQL, which would make this
      // delete match everything for batchId 0 and nothing otherwise)
      val bid = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
        .quoteIdentifier("batch_id")
      try st.executeUpdate(s"DELETE FROM $table WHERE $bid = $batchId")
      catch {
        case e: java.sql.SQLException
            if JdbcSpanSink.MissingTableStates(e.getSQLState) =>
          () // Derby 42X05 / Postgres 42P01 / generic 42S02
      } finally st.close()
    } finally conn.close()
  }
}

object JdbcSpanSink {
  private val MissingTableStates = Set("42X05", "42P01", "42S02")
  /** Rows per JDBC insert batch. */
  private val BatchSize = 10000
  /** Explicit SQL types for the string columns: without them Spark's
    * Derby dialect creates CLOBs, which cannot be compared/filtered
    * (and CLOB-per-id would be pathological on any warehouse). JSON
    * payload columns get the widest portable VARCHAR. */
  private val ColumnTypes: String = Seq(
    "trace_id VARCHAR(128)", "span_id VARCHAR(128)",
    "parent_span_id VARCHAR(128)", "name VARCHAR(1024)",
    "scope_id VARCHAR(36)", "scope_name VARCHAR(512)",
    "resource_id VARCHAR(36)", "resource_schema_url VARCHAR(1024)",
    "resource_attributes VARCHAR(32000)",
    "span_attributes VARCHAR(32000)", "events VARCHAR(32000)")
    .mkString(", ")
  /** DDL width per clamped column — one spelling for both the CREATE
    * types above and the projection's truncation guard below. */
  private val ClampWidths: Map[String, Int] = Map(
    "name" -> 1024, "scope_name" -> 512,
    "resource_schema_url" -> 1024,
    "resource_attributes" -> 32000, "span_attributes" -> 32000,
    "events" -> 32000)

  /** Span rows with JDBC-portable types: maps/arrays → JSON text,
    * free-text columns CLAMPED to their DDL widths. Without the clamp
    * one span whose attributes serialize past the VARCHAR cap (OTLP
    * values are unbounded) turns into a poison row: the INSERT throws
    * a truncation error, the micro-batch fails, and foreachBatch's
    * at-least-once replay retries the identical batch forever — the
    * pipeline halts on one row (round-10 review). A clamped JSON
    * payload may be un-parseable past the cap; that bounds the damage
    * to one mangled VALUE instead of a wedged stream, and a target
    * with wider/native types overrides this projection. */
  def relationalProjection(spans: DataFrame): DataFrame =
    spans.select(graft.spans.SpanSchema.columns.map {
      case c @ ("resource_attributes" | "span_attributes" | "events") =>
        substring(to_json(col(c)), 1, ClampWidths(c)).as(c)
      case c if ClampWidths.contains(c) =>
        substring(col(c), 1, ClampWidths(c)).as(c)
      case c => col(c)
    }: _*)

  /** Read the sink table back as a DataFrame (inverse of the write
    * projection minus the JSON decode — verification/round-trip helper). */
  def readBack(spark: SparkSession, url: String, table: String,
      properties: Properties = new Properties()): DataFrame =
    spark.read.jdbc(url, table, properties)
}

object SpanSinks {
  /** Stream span rows into a sink via foreachBatch — the one place the
    * streaming machinery meets the storage decision. Sink-agnostic
    * means COLUMN-agnostic: rows arrive at the sink as handed in —
    * a producer that added helper columns (the streaming layer's
    * `start_ts` watermark column) drops them BEFORE calling (the
    * previous in-seam drop("start_ts") reached up-stack for a column
    * only one producer adds, and a renamed watermark column would
    * have leaked into every sink silently — round-10 review). */
  def streamTo(spans: DataFrame, sink: SpanSink,
      checkpoint: String): StreamingQuery =
    spans.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink.writeBatch(batch, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
