package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.util.{BuildCounters, Memo, PlanMemo}

/** PlanMemo contract: builds run exactly once per key under
  * concurrency, nested memo calls (a build that calls memo for a
  * DIFFERENT key — the codes→codebooks shape) neither deadlock nor
  * throw ConcurrentHashMap's 'recursive update', and every caller
  * reads the same materialized rows. The once-per-process dump guard
  * ([[Memo.once]]) keeps the same rules and fails a second data dir. */
class PlanMemoSpec extends SparkSpec {

  /** A two-part dump file written with a pause between the parts, so a
    * caller that returned before the write finished would read half. */
  private def slowDump(): String = {
    val p = Memo.path("graft_pmspec_once")
    Files.createDirectories(Paths.get(p))
    val f = Paths.get(p, "dump.txt")
    Files.write(f, "first|".getBytes(UTF_8))
    Thread.sleep(100)
    Files.write(f, "second".getBytes(UTF_8), StandardOpenOption.APPEND)
    p
  }
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p, "dump.txt")), UTF_8)

  test("concurrent callers build once and all read the same rows") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            PlanMemo.memo(spark, "pmspec_conc", "k1") {
              built.incrementAndGet()
              spark.range(100).toDF("v")
            }.count()
        })
      }
      tasks.foreach(t => assert(t.get(
        60, java.util.concurrent.TimeUnit.SECONDS) === 100L))
      assert(built.get() === 1, s"build ran ${built.get()} times")
    } finally pool.shutdownNow()
  }

  test("nested memo (build lambda calling memo for another key) " +
    "completes under concurrency — no bin-lock deadlock") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            // half the threads race the inner key directly while the
            // other half reach it through an outer build lambda
            if (i % 2 == 0)
              PlanMemo.memo(spark, "pmspec_inner", "k2")(
                spark.range(7).toDF("v")).count()
            else
              PlanMemo.memo(spark, "pmspec_outer", "k2") {
                val inner = PlanMemo.memo(spark, "pmspec_inner", "k2")(
                  spark.range(7).toDF("v"))
                inner.selectExpr("v * 2 AS v")
              }.count()
          }
        })
      }
      tasks.foreach(t => assert(t.get(
        60, java.util.concurrent.TimeUnit.SECONDS) === 7L))
    } finally pool.shutdownNow()
  }

  test("distinct dirs memoize separately; same dir re-reads the file") {
    val a = PlanMemo.memo(spark, "pmspec_dir", "dirA")(
      spark.range(3).toDF("v"))
    val b = PlanMemo.memo(spark, "pmspec_dir", "dirB")(
      spark.range(5).toDF("v"))
    assert(a.count() === 3 && b.count() === 5)
    // a second call must serve the stored result, not rebuild
    val a2 = PlanMemo.memo(spark, "pmspec_dir", "dirA")(
      sys.error("rebuild attempted"))
    assert(a2.count() === 3)
  }

  test("Memo values: concurrent callers share one build of the identical " +
    "instance; a failed build surfaces its own exception, then rebuilds") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val tasks = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Object] {
          override def call(): Object = {
            start.await()
            graft.util.Memo(Some(spark), "pmspec_value", "k3") {
              builds.incrementAndGet()
              Thread.sleep(50)
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = tasks.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get() === 1, s"build ran ${builds.get()} times")
      assert(values.forall(_ eq values.head), "callers saw distinct instances")
    } finally pool.shutdownNow()

    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    def call(fail: Boolean): String =
      graft.util.Memo(Some(spark), "pmspec_value_fail", "k3") {
        attempts.incrementAndGet()
        if (fail) throw new IllegalStateException("value boom")
        "built"
      }
    val e = intercept[IllegalStateException] { call(fail = true) }
    assert(e.getMessage === "value boom")
    assert(call(fail = false) === "built")
    assert(attempts.get() === 2)
    assert(call(fail = true) === "built") // the success is now memoized
    assert(attempts.get() === 2)
  }

  test("Memo.once: 16 callers released together run one write, and " +
    "each returns only after the complete dump is on disk") {
    val name = s"pmspec_once_${System.nanoTime()}"
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val tasks = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            start.await()
            read(Memo.once(name, "dirA") {
              writes.incrementAndGet()
              slowDump()
            })
          }
        })
      }
      start.countDown()
      val seen = tasks.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(writes.get() === 1, s"write ran ${writes.get()} times")
      assert(seen.forall(_ == "first|second"), seen.distinct)
      assert(BuildCounters.count(s"once:$name:dirA") === 1)
    } finally pool.shutdownNow()
  }

  test("Memo.once: a second dir fails naming both dirs and leaves the " +
    "first dump untouched") {
    val name = s"pmspec_once_dir_${System.nanoTime()}"
    val p = Memo.once(name, "dirA")(slowDump())
    def listing = new java.io.File(p).listFiles()
      .map(f => f.getName -> (f.length, f.lastModified)).toMap
    val before = listing
    val e = intercept[IllegalArgumentException] {
      Memo.once(name, "dirB") {
        Files.write(Paths.get(p, "dump.txt"), "dirB".getBytes(UTF_8))
        p
      }
    }
    assert(e.getMessage.contains(s"$name is per-process: written from " +
      "dirA, now asked for dirB"), e.getMessage)
    assert(read(p) === "first|second")
    assert(listing === before)
    assert(Memo.once[String](name, "dirA")(sys.error("rewrite attempted")) === p)
  }

  test("Memo.once: a throwing write surfaces its own exception and the " +
    "next caller writes") {
    val name = s"pmspec_once_fail_${System.nanoTime()}"
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Memo.once(name, "dirA") {
        attempts.incrementAndGet()
        throw new IllegalStateException("dump boom")
      }
    }
    assert(e.getMessage === "dump boom")
    val p = Memo.once(name, "dirA") {
      attempts.incrementAndGet()
      slowDump()
    }
    assert(attempts.get() === 2)
    assert(read(p) === "first|second")
    assert(Memo.once[String](name, "dirA")(sys.error("rewrite attempted")) === p)
    assert(attempts.get() === 2)
  }
}
