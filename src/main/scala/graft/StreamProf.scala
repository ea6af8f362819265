package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic main: drives the named st* registry entries twice and
  * prints every micro-batch's durationMs breakdown (triggerExecution,
  * queryPlanning, addBatch, walCommit, stateStore commit, ...) from the
  * engine's own progress events — the instrument for deciding whether a
  * streaming entry's cost is data, state machinery, or query start/stop
  * fixed overhead. Not a registry entry; never run by the driver. */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val events =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        events.add((e.name, s"started at ${e.timestamp}"))
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add((e.progress.name,
          s"batch ${e.progress.batchId} rows=${e.progress.numInputRows} " +
            s"durationMs=${e.progress.durationMs}"))
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val names = if (args.nonEmpty) args.toSeq else Seq("st25", "st1")
    names.foreach { n =>
      // exact name or '<prefix>_' — bare startsWith("st1") would hit
      // the first of st10..st19 in registry order
      val q = SparkEntry.all.find(q => q.id == n || q.id.startsWith(n + "_"))
        .orElse(SparkEntry.all.find(_.id.startsWith(n)))
        .getOrElse(sys.error(s"no entry $n"))
      (1 to 2).foreach { run =>
        val r = Drive.run(spark, q.run(_, sfDir))
        println(f"== ${q.id} run $run: construct ${r.constructNs / 1e9}%.2f s" +
          f", execute ${r.executeNs / 1e9}%.2f s" +
          r.problem.map(p => s", failed: $p").getOrElse(""))
      }
    }
    Thread.sleep(500) // listener bus drain
    events.forEach { case (n, s) => println(s"  [$n] $s") }
    spark.stop()
  }
}
