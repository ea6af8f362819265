package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed operation: an API request or a registry entry. `t0..t3` are epoch ns: construct is [t0,t1], plan [t1,t2],
  * execute [t2,t3]; the three phases tile the operation exactly. */
final case class OpRec(id: Long, name: String, layer: String, cls: String,
    t0: Long, t1: Long, t2: Long, t3: Long, rowsOut: Long, ok: Boolean,
    error: String) {
  def wallMs: Double = (t3 - t0) / 1e6
  def constructMs: Double = (t1 - t0) / 1e6
  def planMs: Double = (t2 - t1) / 1e6
  def execMs: Double = (t3 - t2) / 1e6
}

/** Task totals of one stage, summed from `SparkListenerTaskEnd`. */
final class StageAgg {
  var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
  var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L
  var start = 0L; var end = 0L
}

final case class JobRec(jobId: Int, op: Long, phase: String, start: Long,
    stages: Seq[Int], var end: Long = 0L)

/** Per-operation totals joined from the listener records. */
final case class OpAgg(jobs: Int, tasks: Long, cpuMs: Double,
    gcMs: Double, schedMs: Double, shuffleWrite: Long, spill: Long,
    recordsRead: Long)

/** Times operations always; in traced mode it also listens on Spark's
  * public `SparkListener` and `StreamingQueryListener` buses and turns
  * the records into a span tree: run -> workload -> operation -> phase
  * -> job -> stage. Jobs are tied to an operation through two local
  * properties set on the calling thread (streaming threads inherit
  * them when a query starts there). */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val seq = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** Streaming micro-batches reported by `StreamingQueryListener`. */
  val streamBatches = new AtomicLong(0)
  private val runStart = Clock.epochNs()

  private def stage(id: Int): StageAgg = stages.computeIfAbsent(id, _ => new StageAgg)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(Tracer.OpKey)))
        .map(_.toLong).getOrElse(-1L)
      val phase = p.flatMap(x => Option(x.getProperty(Tracer.PhaseKey)))
        .getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, op, phase, e.time * 1000000L,
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId)
      s.synchronized {
        s.start = e.stageInfo.submissionTime.getOrElse(0L) * 1000000L
        s.end = e.stageInfo.completionTime.getOrElse(0L) * 1000000L
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId)
        val info = e.taskInfo
        val overhead = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime
        s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
          s.gcMs += m.jvmGCTime
          s.schedMs += math.max(0L, overhead)
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamBatches.incrementAndGet(): Unit
  }

  if (traced) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Run one operation: `construct` builds the result (eager jobs it
    * runs count as construction), the plan is forced, then `execute`
    * materialises it and returns the row count. A thrown error is
    * recorded as a failed operation, not rethrown. */
  def op(name: String, layer: String, cls: String)(construct: => DataFrame)(
      execute: DataFrame => Long): OpRec = {
    val id = seq.incrementAndGet()
    sc.setLocalProperty(Tracer.OpKey, id.toString)
    val t0 = Clock.epochNs()
    var t1 = t0; var t2 = t0
    val rec =
      try {
        sc.setLocalProperty(Tracer.PhaseKey, "construct")
        val df = construct
        t1 = Clock.epochNs()
        sc.setLocalProperty(Tracer.PhaseKey, "plan")
        df.queryExecution.executedPlan
        t2 = Clock.epochNs()
        sc.setLocalProperty(Tracer.PhaseKey, "exec")
        val n = execute(df)
        OpRec(id, name, layer, cls, t0, t1, t2, Clock.epochNs(), n, ok = true, "")
      } catch {
        case e: Exception =>
          val t = Clock.epochNs()
          OpRec(id, name, layer, cls, t0, math.max(t0, t1), math.max(t1, t2), t,
            0L, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally {
        sc.setLocalProperty(Tracer.OpKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
    ops.add(rec)
    rec
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = if (traced) org.apache.spark.ListenerBusAccess.drain(sc)

  /** Wait for the listener bus, then sum task metrics per operation. */
  def aggregates(): Map[Long, OpAgg] = {
    if (!traced) return Map.empty
    drain()
    jobs.values.asScala.toSeq.filter(_.op >= 0).groupBy(_.op).map {
      case (op, js) =>
        val ss = js.flatMap(_.stages).distinct.flatMap(i => Option(stages.get(i)))
        op -> OpAgg(js.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum / 1e6,
          ss.map(_.gcMs).sum.toDouble, ss.map(_.schedMs).sum.toDouble,
          ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum,
          ss.map(_.recordsRead).sum)
    }
  }

  /** The span tree, stored like any other span store
    * ([[Store.write]]): one trace for the run and workload, one trace per
    * operation holding its phases, jobs and stages. */
  def spans(workload: String, attrs: Map[String, String]): Seq[GSpan] = {
    val aggs = aggregates()
    val out = Seq.newBuilder[GSpan]
    def add(trace: Array[Byte], id: Array[Byte], parent: Array[Byte],
        name: String, layer: String, start: Long, end: Long,
        as: Map[String, String]): Unit =
      out += GSpan(trace, id, parent, layer, "perfbench", name, start,
        math.max(start, end), as.toVector.sortBy(_._1), error = false)
    val runEnd = Clock.epochNs()
    val runTrace = Tracer.newId(16)
    val runSpan = Tracer.newId(8)
    val wlSpan = Tracer.newId(8)
    add(runTrace, runSpan, Array.emptyByteArray, "run", "perfbench", runStart, runEnd, attrs)
    add(runTrace, wlSpan, runSpan, workload, "perfbench", runStart, runEnd, Map.empty)
    val jobsByOp = jobs.values.asScala.toSeq.groupBy(_.op)
    ops.asScala.foreach { o =>
      val tid = Tracer.newId(16)
      val root = Tracer.newId(8)
      add(tid, root, Array.emptyByteArray, o.name, o.layer, o.t0, o.t3,
        Map("class" -> o.cls, "ok" -> o.ok.toString,
          "rows_out" -> o.rowsOut.toString,
          "workload_span" -> Ids.stored(wlSpan)) ++
          aggs.get(o.id).map(x => Map("jobs" -> x.jobs.toString,
            "tasks" -> x.tasks.toString, "task_cpu_ms" -> f"${x.cpuMs}%.3f",
            "shuffle_write_bytes" -> x.shuffleWrite.toString,
            "records_read" -> x.recordsRead.toString)).getOrElse(Map.empty))
      val phases = Seq(("construct", o.t0, o.t1), ("plan", o.t1, o.t2),
        ("exec", o.t2, o.t3)).map { case (p, s, e) =>
        val pid = Tracer.newId(8)
        add(tid, pid, root, p, "perfbench", s, e, Map.empty)
        p -> pid
      }.toMap
      jobsByOp.getOrElse(o.id, Nil).sortBy(_.jobId).foreach { j =>
        val jid = Tracer.newId(8)
        add(tid, jid, phases.getOrElse(j.phase, root), s"job ${j.jobId}", "spark",
          j.start, j.end, Map.empty)
        j.stages.flatMap(i => Option(stages.get(i)).map(i -> _))
          .filter(_._2.end > 0).foreach { case (i, s) =>
            add(tid, Tracer.newId(8), jid, s"stage $i", "spark", s.start, s.end,
              Map("tasks" -> s.tasks.toString,
                "task_cpu_ms" -> f"${s.cpuNs / 1e6}%.3f",
                "shuffle_write_bytes" -> s.shuffleWrite.toString))
          }
      }
    }
    out.result()
  }

  def close(): Unit = if (traced) {
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  private val rnd = new java.security.SecureRandom()
  def newId(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
}

/** Epoch nanoseconds from the monotonic clock, anchored once. */
object Clock {
  private val anchorEpoch = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def epochNs(): Long = anchorEpoch + (System.nanoTime() - anchorNano)
}
