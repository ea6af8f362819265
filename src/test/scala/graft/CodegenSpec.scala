package graft

import graft.streaming.StreamingOps
import org.apache.spark.metrics.source.CodegenMetrics

/** Each generated class compiles once per process: tasks run on the
  * process class loader (no per-session loader keying fresh copies of
  * every class) and the codegen cache holds the working set. Pins the
  * two codegen settings in [[GraftSession.requiredConfs]]. */
class CodegenSpec extends SparkSpec {
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesDuring(body: => Unit): Long = {
    val before = compiles
    body
    compiles - before
  }

  test("tasks see no per-session ExecutorClassLoader") {
    import spark.implicits._
    val chains = spark.range(0, 4, 1, 2).mapPartitions { _ =>
      Iterator(Iterator.iterate(Thread.currentThread.getContextClassLoader)(
        _.getParent).takeWhile(_ != null).map(_.getClass.getName)
        .mkString(" <- "))
    }.collect()
    assert(chains.nonEmpty)
    chains.foreach(c => assert(!c.contains(
      "org.apache.spark.executor.ExecutorClassLoader"), c))
  }

  test("150 distinct plans later, the first re-runs without compiling") {
    // the literals are inlined into the generated code, so every i is a
    // distinct class on the driver and again in the tasks
    def run(i: Int): Unit =
      spark.range(0, 8, 1, 1).selectExpr(s"id * $i + ${i + 7} AS x")
        .collect()
    run(0)
    (1 to 150).foreach(run)
    assert(compilesDuring(run(0)) === 0)
  }

  test("a second run of one finite streaming drive compiles no new class") {
    val drive = () => StreamingOps.streamingCounts(spark, sf0001).collect()
    val first = drive()
    assert(compilesDuring(assert(drive() sameElements first)) === 0)
  }
}
