package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

object RegistryWorkload {
  /** The curation batch: registry entries with the module (layer) each
    * belongs to, run in this order on every pass. */
  val Entries: Seq[(String, String)] = Seq(
    "w2_range_join" -> "operators",
    "v2d2b_ivf_recall" -> "dedup",
    "v4i_encode" -> "nlp",
    "v7d_image_phash_dedup" -> "mm",
    "st2_streaming_sessions" -> "streaming")
  val Tables = Seq("events", "documents", "embeddings")
  val SetupRepeats = 3
  val MinWarmPasses = 3
  val DataDir = "perfbench/data/sf0.01"
  val ReferenceFile = "perfbench/registry_reference.tsv"

  /** Rows and an order-insensitive content hash (sum of per-row
    * xxhash64 over the UnsafeRow bytes), from one full drain of the
    * unmodified plan — the same action as `graft.util.Force.rows`. */
  def drain(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val r = proj(it.next())
        h += XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** Write each table's rows in a seed-determined order as one parquet
    * file `<table>.parquet` under `dst` (the layout the library's
    * table readers and streaming drives expect). */
  def permute(spark: SparkSession, src: String, dst: File, seed: Long): Unit = {
    dst.mkdirs()
    Tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val rows = new java.util.ArrayList[Row](java.util.Arrays.asList(df.collect(): _*))
      java.util.Collections.shuffle(rows, new java.util.Random(seed * 1000003L + t.hashCode))
      val tmp = new File(dst, s".$t.tmp")
      spark.createDataFrame(rows, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(dst, s"$t.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      Store.rmrf(tmp)
    }
  }

  def reference(root: File): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(new File(root, ReferenceFile))
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).map {
      case Array(id, n, h) => id -> (n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
    }.toMap finally src.close()
  }

  private[perfbench] def runEntry(spark: SparkSession, tracer: Tracer, dir: String,
      id: String, layer: String, pass: String): (OpRec, Long) = {
    val q = graft.SparkEntry.queries(id)
    var hash = 0L
    val rec = tracer.op(id, layer, pass)(q(spark, dir)) { df =>
      val (n, h) = drain(df); hash = h; n
    }
    spark.catalog.clearCache()
    (rec, hash)
  }

  def run(spark: SparkSession, cfg: Config, tracer: Tracer): Outcome = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val src = new File(cfg.root, DataDir).getPath
    val ref = reference(cfg.root)
    val setups = (1 to SetupRepeats).map { i =>
      val dst = new File(tmp, s"tables$i")
      val t0 = System.nanoTime()
      permute(spark, src, dst, cfg.seed)
      (System.nanoTime() - t0) / 1e9 -> dst
    }
    val dir = setups.last._2.getPath
    setups.init.foreach(s => Store.rmrf(s._2))
    // session warm-up outside every pass: file listing, parquet footers
    Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())

    final case class Pass(name: String, recs: Seq[OpRec], hashes: Seq[Long],
        wallS: Double, cpuS: Double, cpuEndS: Double, jitS: Double, builds: Int, batches: Int)
    def pass(name: String): Pass = {
      tracer.drain()
      val b0 = graft.util.BuildCounters.snapshot.values.sum
      val p0 = tracer.streamBatches.get
      val c0 = Host.cpuS()
      val j0 = Host.jitCpuNs()
      val t0 = System.nanoTime()
      val out = Entries.map { case (id, layer) => runEntry(spark, tracer, dir, id, layer, name) }
      val wall = (System.nanoTime() - t0) / 1e9
      val c1 = Host.cpuS()
      val cpu = c1 - c0
      val jit = (Host.jitCpuNs() - j0) / 1e9
      tracer.drain()
      println(f"  pass $name%-6s $wall%8.3f s $cpu%8.3f cpu-s $jit%8.3f jit-s  " + Entries.indices.map(i =>
        f"${Entries(i)._1}=${out(i)._1.wallMs / 1000}%.3f").mkString(" "))
      Pass(name, out.map(_._1), out.map(_._2), wall, cpu, c1, jit,
        graft.util.BuildCounters.snapshot.values.sum - b0, (tracer.streamBatches.get - p0).toInt)
    }
    val cold = pass("cold")
    val warm = scala.collection.mutable.ArrayBuffer[Pass]()
    val warmStart = System.nanoTime()
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (warm.size < MinWarmPasses || elapsed + warm.last.wallS <= cfg.seconds)
      warm += pass("warm")

    val passes = cold +: warm.toSeq
    val fixed = passes.take(1 + MinWarmPasses)
    val failures = passes.flatMap { p =>
      p.recs.zip(p.hashes).flatMap { case (r, h) =>
        if (!r.ok) Some(s"${p.name} ${r.name}: ${r.error}")
        else ref.get(r.name) match {
          case Some((n, rh)) if n == r.rowsOut && rh == h => None
          case Some((n, rh)) => Some(f"${p.name} ${r.name}: rows ${r.rowsOut} hash $h%016x, " +
            f"reference rows $n hash $rh%016x")
          case None => Some(s"${p.name} ${r.name}: no reference")
        }
      }
    }
    val warmMs = warm.toSeq.flatMap(_.recs.map(_.wallMs))
    // a warm batch: each entry at its median over the timed passes, so
    // one slow entry in one pass does not move the total
    val warmS = Entries.indices.map(i => Stats.median(warm.toSeq.map(_.recs(i).wallMs))).sum / 1000
    val base = Map(
      "setup_s" -> Metric(Stats.median(setups.map(_._1)), "s", setups.size),
      "batch_cold_s" -> Metric(cold.wallS, "s", 1),
      "batch_cold_cpu_s" -> Metric(cold.cpuS, "s", 1),
      "batch_warm_cpu_s" -> Metric(Stats.median(warm.toSeq.map(_.cpuS)), "s", warm.size),
      "batch_warm_s" -> Metric(warmS, "s", warm.size),
      "first_pass_s" -> Metric(cold.wallS, "s", 1),
      "entry_warm_p50_ms" -> Metric(Stats.median(warmMs), "ms", warmMs.size),
      "entry_warm_p90_ms" -> Metric(Stats.q(warmMs, 0.9), "ms", warmMs.size),
      "entries_per_s" -> Metric(Entries.size / warmS, "1/s", warm.size),
      // over all warm passes, JIT included: the compiler still works
      // through them at a pace the scheduler sets, but the sum of its work
      // and the code's over a fixed set of passes varies much less
      "entry_warm_cpu_ms" -> Metric(
        1000 * warm.map(_.cpuS).sum / (warm.size * Entries.size), "ms", warm.size),
      // the CPU totals stop after MinWarmPasses, so they always cover the
      // same work
      "work_cpu_s" -> Metric(fixed.map(_.cpuS).sum, "s", fixed.size),
      "run_cpu_s" -> Metric(fixed.last.cpuEndS, "s", 1),
      "entry_warm_jit_ms" -> Metric(
        1000 * warm.map(_.jitS).sum / (warm.size * Entries.size), "ms", warm.size))
    val aliases = Map("p50_ms" -> "entry_warm_p50_ms",
      "p90_ms" -> "entry_warm_p90_ms", "work_per_s" -> "entries_per_s",
      "cpu_ms_per_op" -> "entry_warm_cpu_ms", "first_pass_cpu_s" -> "batch_cold_cpu_s")
    val layers = if (!cfg.traced) Map.empty[String, Metric] else {
      val aggs = tracer.aggregates()
      def passMetrics(name: String, ps: Seq[Pass]): Map[String, Metric] = {
        def m(f: Pass => Double, unit: String) = Metric(Stats.median(ps.map(f)), unit, ps.size)
        def sumAgg(p: Pass, f: OpAgg => Double) = p.recs.flatMap(r => aggs.get(r.id)).map(f).sum
        Map(
          s"batch.$name.construct_s" -> m(_.recs.map(_.constructMs).sum / 1000, "s"),
          s"batch.$name.plan_s" -> m(_.recs.map(_.planMs).sum / 1000, "s"),
          s"batch.$name.exec_s" -> m(_.recs.map(_.execMs).sum / 1000, "s"),
          s"batch.$name.jobs" -> m(sumAgg(_, _.jobs.toDouble), "count"),
          s"batch.$name.task_cpu_s" -> m(sumAgg(_, _.cpuMs) / 1000, "s"),
          s"batch.$name.shuffle_write_mb" -> m(sumAgg(_, _.shuffleWrite.toDouble) / 1e6, "MB"),
          s"batch.$name.spill_mb" -> m(sumAgg(_, _.spill.toDouble) / 1e6, "MB"),
          s"batch.$name.gc_s" -> m(sumAgg(_, _.gcMs) / 1000, "s"),
          s"batch.$name.stream_batches" -> m(_.batches.toDouble, "count"),
          s"batch.$name.artifact_builds" -> m(_.builds.toDouble, "count")) ++
          Entries.map { case (id, _) =>
            s"batch.$name.${id}_s" -> m(_.recs.find(_.name == id).map(_.wallMs / 1000).getOrElse(Double.NaN), "s")
          }
      }
      passMetrics("cold", Seq(cold)) ++ passMetrics("warm", warm.toSeq) ++
        Layers.common(passes.flatMap(_.recs), aggs)
    }
    val all = passes.flatMap(_.recs)
    Outcome(Layers.withAliases(base ++ layers, aliases), all.size.toLong,
      failures.size.toLong, failures)
  }
}

/** Writes the reference rows and hashes of every entry on the
  * unpermuted tables: `RegistryReference <repo root> <output tsv>`. */
object RegistryReference {
  def main(args: Array[String]): Unit = {
    val root = new File(args(0))
    val spark = Session.create(Runtime.getRuntime.availableProcessors)
    val tracer = new Tracer(spark, traced = false)
    val dir = new File(root, RegistryWorkload.DataDir).getPath
    val lines = RegistryWorkload.Entries.map { case (id, _) =>
      val (n, h) = RegistryWorkload.drain(graft.SparkEntry.queries(id)(spark, dir))
      spark.catalog.clearCache()
      f"$id\t$n\t$h%016x"
    }
    Files.write(new File(args(1)).toPath,
      (("# entry\trows\txxhash64 row-sum (unpermuted sf0.01 tables)" +: lines)
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    tracer.close()
    spark.stop()
  }
}
