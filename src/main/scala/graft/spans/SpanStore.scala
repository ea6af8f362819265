package graft.spans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Upkeep of the span store, the date-partitioned parquet that
  * [[OtlpIngest.writeSpans]] appends (the one span layout; partition
  * pruning and row-group stats stand in for the reference's MergeTree
  * time clustering): compaction of the small files streaming appends
  * leave, and retention by whole date partitions.
  */
object SpanStore {
  /** Compact one date partition of the plain-files store: streaming
    * micro-batch appends leave many small files per partition (one per
    * foreachBatch x writer task); periodic compaction rewrites the
    * partition into `targetFiles` files. Partition-scoped so the rewrite
    * touches one date at a time — the only safe granularity while ingest
    * keeps appending to newer dates. */
  def compactPartition(spark: SparkSession, path: String, date: String,
      targetFiles: Int = 1): Unit = {
    val partDir = s"$path/date=$date"
    val tmp = s"$path/.compact-$date"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(partDir).coalesce(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    fs.delete(new Path(partDir), true)
    fs.rename(new Path(tmp), new Path(partDir))
  }

  /** Retention: drop whole date partitions older than `keepDays` relative
    * to the newest partition — the analog of a ClickHouse TTL, done at
    * directory granularity so expiry is O(partitions), not a data
    * rewrite. Returns the dropped dates. */
  def expire(spark: SparkSession, path: String, keepDays: Int): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(path))
      .filter(_.getPath.getName.startsWith("date="))
      .map(_.getPath.getName.stripPrefix("date=")).sorted
    if (parts.isEmpty) return Seq.empty
    val newest = java.time.LocalDate.parse(parts.last)
    val dropped = parts.filter(d =>
      java.time.LocalDate.parse(d).isBefore(newest.minusDays(keepDays.toLong)))
    dropped.foreach(d => fs.delete(new Path(s"$path/date=$d"), true))
    dropped.toSeq
  }

  /** Files per date partition (compaction-health introspection). */
  def partitionFileCounts(spark: SparkSession, path: String): Map[String, Int] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path))
      .filter(_.getPath.getName.startsWith("date="))
      .map { p =>
        p.getPath.getName.stripPrefix("date=") ->
          fs.listStatus(p.getPath).count(_.getPath.getName.endsWith(".parquet"))
      }.toMap
  }
}
